"""CDC-equivalent incremental index maintenance.

Reference parity (SURVEY.md §2.2-2.3, §3.2): the Go river tails the
binlog and turns RowsEvents into ES bulk index/update/delete requests
(river/converter.go:25-53, K2-K4). Here a *change batch* — a DataFrame
``(action ∈ insert|update|delete, doc_id, url, warc_ts, lang, text)``
— is applied as:

- delete / update  → segment-scoped tombstones for the old version
  (bulk_delete_request.go:19 analogue; Lucene-style: no in-place block
  rewrite, SURVEY §7 hard-part (d))
- insert / update  → ONE new segment built from the new docs
  (bulk_index_request.go:17 upsert analogue: last writer wins because
  the new segment outranks the tombstone)

The build is chosen by burst size ("To Share, or not to Share",
SIGMOD 2021, picks its plan the same way). A batch of at most
``DRIVER_BUILD_MAX_EVENTS`` events is collected once as raw events and
collapsed on the driver; its surviving docs are tokenized and hashed by
Spark's own expressions over a local relation and written with pyarrow
(``build_segment_local``): one tokenize feeds the docstore, the
postings and the term dictionary, and a local-relation batch runs no
Spark job. A larger batch collapses with a window and takes the
distributed ``build_segment``.

Collection stats (N, avgdl, df) keep counting tombstoned postings until
``compact()`` rewrites the index from its live docs — the same
smeared-stats behavior ES/Lucene exhibit between merges; compaction
restores exactness (tested invariant: compacted == fresh build over the
final doc set). ``compact`` and ``merge_segments`` both rewrite live
docs through ``_rebuild_live``, which picks the plan by size the same
way: sources of at most ``DRIVER_MERGE_MAX_TOKENS`` tokens are merged on
the driver (``merge_segments_local``: their live postings are decoded,
the dead versions dropped and the rest re-packed by the same driver
writer as ``build_segment_local``, with no re-analysis and no Spark
job); larger ones are re-tokenized from the live docstore by the Spark
build.

The streaming variant wires the same ``apply_changes`` into Structured
Streaming ``foreachBatch`` with a checkpointLocation — the binlog
position file (canal/master.go:16-90) becomes Spark's offset log, and
the idle-flush/rotate semantics (canal/sync.go:27-53) become trigger
scheduling.
"""

from __future__ import annotations

import os
import uuid

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructType,
    TimestampType,
)

from ..analyzer import tokens_col
from ..index.build import (
    GEN_POINTER,
    build_segment,
    build_segment_local,
    gen_root,
    merge_segments_local,
    merged_docs_schema,
    segment_dir,
    write_parquet_file,
    write_settings,
)
from ..index.reader import IndexReader, read_tombstones

DOC_COLS = ["doc_id", "url", "warc_ts", "lang", "text"]


def _next_segment_id(index_dir: str) -> int:
    import glob
    import json

    ids = []
    for mp in glob.glob(os.path.join(gen_root(index_dir), "segments", "seg=*", "manifest.json")):
        with open(mp) as f:
            ids.append(int(json.load(f)["segment_id"]))
    return (max(ids) + 1) if ids else 0


# A change batch of at most this many events is built on the driver
# (``build_segment_local``: a raw collect, a tokenize over a local
# relation, pyarrow writes, no Spark job on a local relation); a larger
# one takes the Spark build. Measured on 4 CPUs over perfbench change
# batches against a 20,000-doc index (apply_changes, median of 3): the
# driver build takes 0.80 / 1.85 / 3.7 / 5.3 s at 1,500 / 5,000 /
# 10,000 / 15,000 events, the Spark build 2.9 / 3.3 / 3.8 / 4.6 s; they
# meet near 10,000. A batch over the cap first pays the raw collect
# (about 0.1 s at 5,000 events, 0.2-0.4 s at 10,000), so the cap sits at
# half the meeting point, where the driver build still gains 1.4 s.
DRIVER_BUILD_MAX_EVENTS = 5_000

# Column types the driver build writes exactly as Spark's parquet writer
# does (``to_arrow_type``); a batch carrying any other docstore column
# type takes the Spark build.
_DRIVER_TYPES = (StringType, LongType, IntegerType, DoubleType, BooleanType, TimestampType)


def apply_changes(
    spark: SparkSession,
    index_dir: str,
    changes: DataFrame,
    n_shards: int = 8,
) -> dict | None:
    """Apply one change batch; returns the new segment's manifest (or
    None for a delete-only batch).

    Within-batch ordering: binlog events are ORDERED, and a batch may
    touch the same PK several times (update;update / update;delete —
    the reference replays events sequentially, canal/sync.go). A
    segment build is one atomic write, so the batch first collapses to
    the LAST event per doc_id — otherwise two updates of one doc land
    as two live rows in the new segment (both outrank the tombstone)
    and the doc is silently duplicated (caught by the model-based CDC
    test, tests/test_cdc_model.py seed 47). Event order = input row
    order (``monotonically_increasing_id`` is partition-major, which
    preserves the order of a binlog-reader's stream); callers with an
    explicit log position can pre-sort.

    Two builds, chosen by burst size. A batch of at most
    ``DRIVER_BUILD_MAX_EVENTS`` events is read once as raw events (a
    bounded collect: 0 jobs on a local relation, one per partition-scan
    round on a file-backed batch), collapsed in numpy and written with
    pyarrow: tombstones, then the segment through
    ``build_segment_local``, its docs tokenized by Spark's expressions
    over a local relation. A larger batch pays only that raw collect,
    then collapses with one batch-sized window and takes
    ``build_segment``.
    Both write the tombstone file before the segment's manifest
    (``snapshot`` relies on that order)."""
    small = _collect_small(changes)
    if small is not None:
        return _apply_rows(spark, index_dir, *small, changes.schema, n_shards)
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id")
    changes = (
        changes.withColumn("_seq", F.monotonically_increasing_id())
        .withColumn("_rn", F.row_number().over(w.orderBy(F.desc("_seq"))))
        .withColumn("_n_ev", F.count(F.lit(1)).over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "_seq")
        .cache()
    )
    try:
        new_seg = _next_segment_id(index_dir)
        # 1. tombstone keys that may have an older live version:
        #    update/delete events, plus any key with SEVERAL events in
        #    the batch (delete→reinsert collapses to a bare insert but
        #    still needs the old version dead). A single plain insert
        #    writes NO tombstone — an insert-only CDC stream (the
        #    common case) must not grow the tombstone set by O(corpus)
        #    (code-review r5 finding: that would flip every query onto
        #    the big-tombstone sentinel path). is_delete marks rows
        #    whose batch adds NO replacement doc — snapshot_index uses
        #    it to tell "delete" (keep: references no segment) from
        #    "upsert whose segment isn't pinned" (drop: the replacement
        #    missed the snapshot, old version stays live)
        dead = changes.where(
            (F.col("_n_ev") > 1) | F.col("action").isin("update", "delete")
        ).select(
            "doc_id",
            F.lit(new_seg - 1).cast("int").alias("upto_seg"),
            (F.col("action") == "delete").alias("is_delete"),
        )
        if not dead.isEmpty():
            dead.write.mode("append").parquet(os.path.join(gen_root(index_dir), "tombstones.parquet"))
        # 2. new segment from the batch-final state of inserted/updated
        #    docs
        docs = changes.where(F.col("action").isin("insert", "update")).select(
            *[c for c in DOC_COLS if c in changes.columns]
        )
        if docs.isEmpty():
            return None
        return build_segment(spark, docs, gen_root(index_dir), segment_id=new_seg, n_shards=n_shards)
    finally:
        changes.unpersist()


def _collect_small(changes: DataFrame) -> tuple[list[str], list] | None:
    """``(docstore columns, rows)`` of a batch of at most
    DRIVER_BUILD_MAX_EVENTS events, or None for a larger batch or one
    the driver build cannot write. Each row is ``(action, *columns)``:
    raw events, so a batch over the cap pays only this collect before
    the Spark build. Timestamps come as ``unix_micros``: a ``collect()``
    would turn them into datetimes in the Python process's local time
    zone."""
    cols = [c for c in DOC_COLS if c in changes.columns]
    types = {f.name: f.dataType for f in changes.schema}
    if ("doc_id" not in cols or "text" not in cols
            or not isinstance(types["doc_id"], (LongType, IntegerType))
            or not isinstance(types["text"], StringType)
            or not all(isinstance(types[c], _DRIVER_TYPES) for c in cols)):
        return None
    rows = changes.select(
        "action",
        *[F.unix_micros(c).alias(c) if isinstance(types[c], TimestampType) else c for c in cols],
    ).limit(DRIVER_BUILD_MAX_EVENTS + 1).collect()
    return (cols, rows) if len(rows) <= DRIVER_BUILD_MAX_EVENTS else None


def _analyze(spark: SparkSession, index_dir: str, texts) -> list:
    """``(tokens, tids, dl)`` per text of the pyarrow string array
    ``texts``: ``tokens_col`` with the index's pattern, their
    ``xxhash64`` ids and Spark's ``size`` of them, run by Spark over a
    local relation of the texts (no Spark job), so the driver build
    analyzes exactly as the JVM build does."""
    import pyarrow as pa

    from ..index.indices import get_settings

    toks = tokens_col("text", pattern=get_settings(index_dir)["token_pattern"])
    return spark.createDataFrame(pa.table({"text": texts})).select(
        toks, F.transform(toks, lambda t: F.xxhash64(t)), F.size(toks)
    ).collect()


def _apply_rows(spark: SparkSession, index_dir: str, cols: list[str], rows: list,
                schema: StructType, n_shards: int) -> dict | None:
    """The driver half of :func:`apply_changes` over collected rows."""
    if not rows:
        return None
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    root = gen_root(index_dir)
    new_seg = _next_segment_id(index_dir)
    col = dict(zip(["action", *cols], zip(*rows)))
    doc_id = np.asarray(col["doc_id"], dtype=np.int64)
    # the last event per doc_id: np.unique's first index in the reversed
    # batch
    keys, rev_first, n_ev = np.unique(doc_id[::-1], return_index=True, return_counts=True)
    last = len(rows) - 1 - rev_first
    action = np.asarray(col["action"], dtype=object)[last]
    # 1. tombstones: the Spark path's rule (update/delete events, and any
    #    key with several events in the batch), landing atomically before
    #    the segment's manifest
    dead = (n_ev > 1) | (action == "update") | (action == "delete")
    if dead.any():
        write_parquet_file(pa.table({
            "doc_id": pa.array(keys[dead], pa.int64()),
            "upto_seg": pa.array(np.full(int(dead.sum()), new_seg - 1), pa.int32()),
            "is_delete": pa.array(action[dead] == "delete", pa.bool_()),
        }), os.path.join(root, "tombstones.parquet"), f"part-{uuid.uuid4().hex}.parquet")
    # 2. the segment, from the batch-final state of inserted/updated docs
    keep = last[(action == "insert") | (action == "update")].tolist()
    if not keep:
        return None
    docs = {}
    for c in cols:
        vals = [col[c][i] for i in keep]
        t = to_arrow_type(schema[c].dataType)
        docs[c] = (pa.array(vals, pa.int64()).cast(t) if isinstance(schema[c].dataType, TimestampType)
                   else pa.array(vals, t))
    terms, tids, dl = zip(*_analyze(spark, index_dir, docs["text"]))
    docs["dl"] = pa.array(dl, pa.int32())
    return build_segment_local(root, pa.table(docs), list(terms), list(tids),
                               segment_id=new_seg, n_shards=n_shards)


# A compact or merge whose source segments hold at most this many tokens
# (the sum of their manifests' ``sum_dl``) is written on the driver by
# ``merge_segments_local``; a larger one rebuilds with the Spark build.
# Measured on 4 CPUs, compact of perfbench ingest_cdc-shaped indexes
# (8 shards, 3 segments), median of 3, driver / Spark: 0.54 / 3.12 s at
# 2,000 docs (0.28 M tokens), 3.32 / 8.71 s at 20,000 (2.5 M), 7.58 /
# 17.59 s at 50,000 (6.3 M). The driver merge stays ~2.3x faster there,
# so the cap bounds its memory instead: its peak RSS grows ~150 bytes per
# token (0.5 GB at 2.5 M tokens, 0.96 GB at 6.3 M).
DRIVER_MERGE_MAX_TOKENS = 5_000_000


def _rebuild_live(spark: SparkSession, reader: IndexReader, sources: list[dict], root: str,
                  segment_ids: list, n_shards: int, extra: dict | None = None) -> list[dict]:
    """Write the live docs of the reader's served segments ``sources`` as
    the new segments ``segment_ids`` under ``root`` (a live doc goes to
    ``segment_ids[doc_id % len(segment_ids)]``) with the reader's
    settings; returns their manifests. Sources of at most
    DRIVER_MERGE_MAX_TOKENS tokens whose docstore types
    ``merged_docs_schema`` can widen are re-packed on the driver
    (``merge_segments_local``); others are re-tokenized from the live
    docstore by ``build_segment``, one Spark build per target."""
    write_settings(root, reader.settings)
    schema = merged_docs_schema(sources)
    if schema is not None and sum(m["sum_dl"] for m in sources) <= DRIVER_MERGE_MAX_TOKENS:
        return merge_segments_local(
            root, [(segment_dir(reader.root, m["segment_id"]), m) for m in sources],
            read_tombstones(reader.root), schema, segment_ids, n_shards,
            session_tz=spark.conf.get("spark.sql.session.timeZone"), extra_manifest=extra,
        )
    n = len(segment_ids)
    live = (reader.docstore().where(F.col("segment").isin([str(m["segment_id"]) for m in sources]))
            .drop("segment", "dl").cache())
    try:
        return [
            build_segment(spark, live.where(F.pmod("doc_id", F.lit(n)) == k) if n > 1 else live,
                          root, segment_id=s, n_shards=n_shards, extra_manifest=extra)
            for k, s in enumerate(segment_ids)
        ]
    finally:
        live.unpersist()


def compact(
    spark: SparkSession,
    index_dir: str,
    n_segments: int = 1,
    n_shards: int = 8,
    gc_old: bool = True,
    _fail_point: str | None = None,
) -> list[dict]:
    """Merge-to-exact: rewrite the index from live docs only, drop
    tombstones. (K1's byte-threshold bulker becomes segment-count /
    bytes policy at real scale — callers decide when to compact.) The
    live docs land in ``n_segments`` segments by ``doc_id %
    n_segments``, written by ``_rebuild_live`` (driver merge or Spark
    rebuild, by size).

    ATOMIC generation swap (reference create-new-index-then-alias,
    river/river.go:111-128): the compacted index is built as a sibling
    generation dir, then ``index.gen`` flips to it in one os.replace.
    A kill at ANY point leaves a reader-complete index: before the flip
    the old generation (segments + its tombstones) is untouched; after
    the flip the new generation is already fully written. The only
    leftover from a crash is garbage dirs GC'd by the next compact.

    ``_fail_point`` is a test-only crash injector ("after_gen_dir",
    "after_pointer")."""
    import shutil

    reader = IndexReader(spark, index_dir)
    old_root = reader.root
    cur_gen = None if old_root == index_dir else os.path.basename(old_root)
    new_n = (int(cur_gen.split("-")[1]) + 1) if cur_gen else 1
    new_gen = f"gen-{new_n:06d}"

    # build the next generation OFF to the side, never over live dirs;
    # it carries the reader's EFFECTIVE settings — otherwise live docs
    # would be re-tokenized/scored with defaults while query-time analysis
    # keeps using the custom analyzer (write_settings' "analyzer must
    # never change silently" contract)
    tmp = os.path.join(index_dir, f".building-{new_gen}")
    shutil.rmtree(tmp, ignore_errors=True)
    manifests = _rebuild_live(spark, reader, reader.manifests, tmp, list(range(n_segments)), n_shards)
    gen_dir = os.path.join(index_dir, new_gen)
    shutil.rmtree(gen_dir, ignore_errors=True)  # stale from a prior crash
    os.replace(tmp, gen_dir)  # complete generation appears atomically
    if _fail_point == "after_gen_dir":
        raise RuntimeError("injected crash: generation built, pointer not flipped")
    ptr = os.path.join(index_dir, GEN_POINTER)
    with open(ptr + ".tmp", "w") as f:
        f.write(new_gen)
    os.replace(ptr + ".tmp", ptr)  # THE swap — one atomic rename
    if _fail_point == "after_pointer":
        raise RuntimeError("injected crash: pointer flipped, old gen not GC'd")
    # GC the previous generation (failure here only leaks disk).
    # gc_old=False defers to gc_old_generations(retain_sec) so readers
    # opened against the pre-compact view can drain first — same
    # reader-lease reasoning as gc_superseded_segments.
    if gc_old:
        if cur_gen:
            shutil.rmtree(old_root, ignore_errors=True)
        else:
            for sub in ("segments", "tombstones.parquet"):
                shutil.rmtree(os.path.join(index_dir, sub), ignore_errors=True)
    return manifests


def gc_old_generations(index_dir: str, retain_sec: float = 0.0) -> list[str]:
    """Reclaim non-live generation dirs older than the retention
    window (the deferred half of ``compact(gc_old=False)``). The live
    generation (named by ``index.gen``) is never touched."""
    import glob
    import shutil
    import time as _time

    root = gen_root(index_dir)
    live = os.path.basename(root)
    removed = []
    for d in glob.glob(os.path.join(index_dir, "gen-*")):
        if os.path.basename(d) == live or not os.path.isdir(d):
            continue
        if _time.time() - os.path.getmtime(d) < retain_sec:
            continue
        shutil.rmtree(d, ignore_errors=True)
        removed.append(d)
    # pre-generation root layout left behind by the FIRST deferred
    # compact (segments/ at index_dir itself while the pointer names a
    # gen dir)
    if root != index_dir:
        old_segs = os.path.join(index_dir, "segments")
        if os.path.isdir(old_segs) and _time.time() - os.path.getmtime(old_segs) >= retain_sec:
            for sub in ("segments", "tombstones.parquet"):
                p = os.path.join(index_dir, sub)
                if os.path.exists(p):
                    shutil.rmtree(p, ignore_errors=True)
                    removed.append(p)
    return removed


def merge_segments(
    spark: SparkSession,
    index_dir: str,
    segment_ids: list[int | str],
    n_shards: int = 8,
    _skip_gc: bool = False,
) -> dict:
    """Tiered PARTIAL merge (Lucene merge-policy shape; the full
    rebuild is ``compact()``): fold the given segments' LIVE docs into
    ONE new segment, leaving every other segment untouched. At real
    scale this is how an incremental index stays query-efficient — a
    stream of small CDC segments merges up a tier at a time, each merge
    costing only the bytes of the segments it touches, never the whole
    index (compact() is O(index); this is O(merged tier)). The merged
    segment is written by ``_rebuild_live``, as in ``compact``.

    Crash safety without a generation swap: the merged segment's
    manifest (written ATOMICALLY, last) carries ``merged_from`` — the
    reader treats those ids as dead the moment the manifest exists
    (index/reader.py supersession), so the only crash artifact is
    un-GC'd directories, reclaimed by the next merge. Tombstones aimed
    at merged segments become inert (the merged copy lives in a newer
    segment than any ``upto_seg`` that targeted the old ones).

    Returns the merged segment's manifest."""
    import shutil

    ids = [str(s) for s in segment_ids]
    if not ids:
        raise ValueError("merge needs at least one segment")
    # a SINGLE-segment "merge" is the expunge-deletes rewrite
    # (forcemerge on an index already at max_num_segments whose
    # tombstones still target it) — same fold, source set of one
    reader = IndexReader(spark, index_dir)
    known = {str(m["segment_id"]) for m in reader.manifests}
    missing = [s for s in ids if s not in known]
    if missing:
        raise ValueError(f"cannot merge unknown/superseded segments: {missing}")
    new_seg = _next_segment_id(index_dir)
    sources = [m for m in reader.manifests if str(m["segment_id"]) in ids]
    # merged docs keep the index's analyzer
    manifest = _rebuild_live(spark, reader, sources, reader.root, [new_seg], n_shards,
                             {"merged_from": ids})[0]
    if not _skip_gc:
        gc_superseded_segments(index_dir)
    return manifest


def gc_superseded_segments(index_dir: str, retain_sec: float = 0.0) -> list[str]:
    """Remove segment dirs superseded by a merge. Returns removed paths.

    NEW readers never see superseded segments (manifest supersession),
    but a reader OPENED BEFORE the merge may still hold the old paths
    in a cached plan — the classic reader-lease problem Lucene solves
    with ref-counted files and object stores solve with lifecycle
    delay. ``retain_sec`` is that delay: dirs whose merged manifest is
    younger than the retention window are kept, so in-flight queries
    against the pre-merge view drain before their files disappear. Set
    it to ≥ the cluster's max query runtime; 0 (default) is fine for
    single-process maintenance windows."""
    import glob
    import json as _json
    import shutil
    import time as _time

    root = gen_root(index_dir)
    superseded: set[str] = set()
    for mp in glob.glob(os.path.join(root, "segments", "seg=*", "manifest.json")):
        with open(mp) as f:
            ids = _json.load(f).get("merged_from", [])
        if ids and _time.time() - os.path.getmtime(mp) < retain_sec:
            continue  # merge too recent: old readers may still be draining
        superseded.update(str(s) for s in ids)
    removed = []
    for sid in superseded:
        d = os.path.join(root, "segments", f"seg={sid}")
        if os.path.exists(d):
            shutil.rmtree(d, ignore_errors=True)
            removed.append(d)
    return removed


def delete_by_query(
    spark: SparkSession,
    index_dir: str,
    query: str | list[str],
    mode: str = "or",
) -> int:
    """delete_by_query (vendored client delete_by_query.go:19): find
    matching doc_ids, tombstone them. Returns the number deleted.

    The matched-id set goes STRAIGHT from the query DataFrame to the
    tombstone parquet — never through the driver — so a delete matching
    10^9 docs costs one distributed write, not a driver collect."""
    from ..query.wand import bm25_topk

    reader = IndexReader(spark, index_dir)
    new_seg = _next_segment_id(index_dir)
    dead = (
        bm25_topk(spark, reader, query, mode=mode, return_all=True)
        .select(
            "doc_id",
            F.lit(new_seg - 1).cast("int").alias("upto_seg"),
            F.lit(True).alias("is_delete"),
        )
        .cache()
    )
    try:
        n = dead.count()
        if n:
            dead.write.mode("append").parquet(os.path.join(gen_root(index_dir), "tombstones.parquet"))
        return n
    finally:
        dead.unpersist()


def update_by_query(
    spark: SparkSession,
    index_dir: str,
    query: str | list[str],
    script: str,
    params: dict | None = None,
    mode: str = "or",
    n_shards: int = 8,
) -> int:
    """update_by_query with an inline script (update_by_query.go +
    update.go:17 script path): match docs, apply the parsed
    ``ctx._source.<field> = <expr>`` assignments as ONE Catalyst
    projection over the matched doc set, and feed the result through
    the standard update path (tombstone old version + new segment).
    An update of at most ``DRIVER_BUILD_MAX_EVENTS`` docs is built on
    the driver by ``apply_changes``' driver build; a larger one stays
    distributed, its matched ids never visiting the driver. Returns the
    number of docs updated."""
    from ..query.script import parse_update_script, spark_fields, to_column
    from ..query.wand import bm25_topk

    assigns = parse_update_script(script, params)
    reader = IndexReader(spark, index_dir)
    matched = bm25_topk(spark, reader, query, mode=mode, return_all=True).select("doc_id")
    docs = reader.docstore().join(matched, "doc_id", "left_semi")
    fields = spark_fields()
    for fname, node in assigns:
        docs = docs.withColumn(fname, to_column(node, fields))
    projected = docs.select(
        F.lit("update").alias("action"), *[c for c in DOC_COLS if c in docs.columns]
    )
    # DURABLY materialize the projected changes before apply_changes
    # appends tombstones for these doc_ids: a cache()d frame whose
    # partitions are evicted/lost would RECOMPUTE from the docstore —
    # which by then is tombstone-filtered — and silently drop the
    # updated docs (ADVICE r3). A written parquet has no lineage back
    # to the docstore, so fault recovery re-reads bytes, not the plan.
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="ubq_changes_")
    try:
        projected.write.mode("overwrite").parquet(tmp)
        changes = spark.read.parquet(tmp)
        n = changes.count()
        if n:
            apply_changes(spark, index_dir, changes, n_shards=n_shards)
        return n
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def reindex(
    spark: SparkSession,
    src_index_dir: str,
    dst_index_dir: str,
    query: str | list[str] | None = None,
    script: str | None = None,
    params: dict | None = None,
    mode: str = "or",
    n_segments: int = 1,
    n_shards: int = 8,
) -> list[dict]:
    """Reindex (reindexer.go:1-60 / reindex.go): copy the LIVE docs of
    one index into a fresh target index, optionally filtered by a query
    and transformed by an update script. The reference client scrolls
    source hits through the caller's process and bulk-indexes them;
    here source docstore -> (filter) -> (projection) -> build_index is
    one distributed plan — no scroll loop, no driver round trips, and
    the target build keeps the single-wide-shuffle property of the
    normal build path."""
    from ..index.build import build_index
    from ..query.script import parse_update_script, spark_fields, to_column
    from ..query.wand import bm25_topk

    reader = IndexReader(spark, src_index_dir)
    docs = reader.docstore().drop("segment", "dl")
    if query is not None:
        matched = bm25_topk(spark, reader, query, mode=mode, return_all=True).select("doc_id")
        docs = docs.join(matched, "doc_id", "left_semi")
    if script is not None:
        fields = spark_fields()
        for fname, node in parse_update_script(script, params):
            docs = docs.withColumn(fname, to_column(node, fields))
    return build_index(spark, docs, dst_index_dir, n_segments=n_segments, n_shards=n_shards)


def stream_changes_into_index(
    spark: SparkSession,
    changes_stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    n_shards: int = 8,
):
    """Structured Streaming ingest: micro-batches of CDC rows →
    apply_changes per batch (K6 trigger/flush + K7 checkpoint parity).

    Returns the StreamingQuery; callers pick the trigger (tests use
    availableNow, production processingTime)."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        apply_changes(spark, index_dir, batch_df, n_shards=n_shards)

    return (
        changes_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def plan_tiered_merge(
    manifests: list[dict],
    merge_factor: int = 4,
    tier_base: int = 10_000,
) -> list[list[str]]:
    """Tiered merge policy (the Lucene TieredMergePolicy shape): bucket
    segments into size tiers (log_{merge_factor} of doc count above
    ``tier_base``); any tier holding ≥ merge_factor segments merges
    into one segment of the NEXT tier. Pure manifest arithmetic — no
    data scan; the caller feeds each returned group to
    ``merge_segments``.

    Why this beats compact-everything at scale: a CDC stream writes
    many small segments; merging tier-by-tier gives amortized
    O(N log N) total merge bytes (each doc is rewritten once per tier
    it climbs) instead of O(N²) for repeated full rebuilds, while
    keeping the live segment count logarithmic — the same economics
    that make LSM trees and Lucene work."""
    import math

    tiers: dict[int, list[dict]] = {}
    for m in manifests:
        n = max(1, int(m["n_docs"]))
        tier = 0 if n < tier_base else 1 + int(math.log(n / tier_base, merge_factor))
        tiers.setdefault(tier, []).append(m)
    plans = []
    for tier in sorted(tiers):
        ms = sorted(tiers[tier], key=lambda m: int(m["n_docs"]))
        while len(ms) >= merge_factor:
            group, ms = ms[:merge_factor], ms[merge_factor:]
            plans.append([str(m["segment_id"]) for m in group])
    return plans


def run_tiered_merges(
    spark: SparkSession,
    index_dir: str,
    merge_factor: int = 4,
    tier_base: int = 10_000,
    n_shards: int = 8,
) -> list[dict]:
    """One maintenance pass: plan + execute every due tier merge.
    Returns the merged segments' manifests."""
    out = []
    for group in plan_tiered_merge(
        IndexReader(spark, index_dir).manifests, merge_factor, tier_base
    ):
        out.append(merge_segments(spark, index_dir, group, n_shards=n_shards))
    return out


def should_compact(
    reader: IndexReader,
    max_segments: int = 8,
    max_tombstone_frac: float = 0.2,
) -> tuple[bool, str]:
    """Compaction policy — the bulk micro-batcher's threshold idea (K1:
    river/bulker.go:43-101 flushes on action/byte counts) applied to
    segment maintenance: compact when the segment count or the
    tombstoned fraction crosses its threshold. Uses only manifest
    counters + the cached tombstone count — no data scan. Returns
    (decision, reason)."""
    n_seg = len(reader.manifests)
    if n_seg > max_segments:
        return True, f"{n_seg} segments > {max_segments}"
    n_docs = reader.n_docs
    tombs = reader.tombstones_count()
    if n_docs and tombs / n_docs > max_tombstone_frac:
        return True, f"tombstones {tombs}/{n_docs} > {max_tombstone_frac:.0%}"
    return False, f"{n_seg} segments, {tombs}/{n_docs} tombstoned"


def maybe_compact(
    spark: SparkSession,
    index_dir: str,
    n_segments: int = 1,
    n_shards: int = 8,
    max_segments: int = 8,
    max_tombstone_frac: float = 0.2,
) -> list[dict] | None:
    """Policy-gated compact(): callers invoke after each apply_changes
    batch; the rebuild runs only when should_compact fires."""
    reader = IndexReader(spark, index_dir)
    go, _reason = should_compact(reader, max_segments, max_tombstone_frac)
    if not go:
        return None
    return compact(spark, index_dir, n_segments=n_segments, n_shards=n_shards)
