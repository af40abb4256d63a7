"""Segmented inverted-index build over a webpages-shaped DataFrame.

Dataflow (SURVEY.md §3.1 "Spark shape"):

    read → extract/select → tokenize (JVM regexp) → posexplode →
    repartition(term, shard) + sort  [the ONE wide shuffle] →
    mapInPandas streaming packer (derives tf/dl/positions from sorted
    runs) → packed posting blocks → parquet shard + manifest

Reference analogues: the bootstrap dump→convert→bulk pipeline
(river/river.go:141-149, canal/dump.go:103-126) becomes a batch job;
the bulk micro-batcher's byte/action thresholds (river/bulker.go:43-101,
config/config.go:43) become block/file sizing; the binlog-position
checkpoint (canal/master.go:16-90) becomes the per-segment manifest —
a segment whose manifest exists is complete and is skipped on re-run
(resume semantics of canal/dump.go:103-126).

Scale notes (the 10^12-doc story):
- Documents are sharded by ``doc_id % n_shards``; every term's posting
  list is split into ≤ n_shards independent sorted sub-lists, so the
  worst head term (df ≈ N) parallelizes across n_shards tasks instead
  of hot-spotting one reducer. n_shards is the knob you raise with
  cluster size (thousands at 10^12 docs).
- Segments partition the doc space (like Lucene segments): each builds
  independently → resumable, incremental (new docs = new segment), and
  bounded task memory regardless of corpus size.
- The only Python in the build is the block packer (Arrow-batched,
  numpy-vectorized); tokenize/explode stay whole-stage-codegen JVM.

A second writer, ``build_segment_local``, builds a small change batch
(``streaming.incremental.apply_changes``) on the driver with no Spark
job: the batch arrives already tokenized and hashed by the same JVM
expressions, the same packer runs over its sorted token rows, and
pyarrow writes the same files and column types. A third writer,
``merge_segments_local``, serves ``compact`` and ``merge_segments`` on
small sources: it reads their segment files with pyarrow, decodes the
postings, drops the versions the tombstones kill and re-packs the live
token rows with the same packer, so nothing is re-analyzed and no Spark
job runs. All three commit a segment through ``_write_manifest``, which
also records the docstore schema so readers never infer it, and write
the term dictionary with Spark's column types and nullability.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    ByteType,
    IntegerType,
    LongType,
    ShortType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from ..analyzer import BM25_B, BM25_K1, TOKEN_PATTERN, tokens_col
from .codec import BLOCK_SIZE

DEFAULT_SETTINGS = {
    "token_pattern": TOKEN_PATTERN,
    "bm25_k1": BM25_K1,
    "bm25_b": BM25_B,
}


def write_settings(index_dir: str, settings: dict | None) -> dict:
    """Persist per-index analyzer/scoring settings (reference K5:
    <index>.idx.json applied at index creation, river/river.go:82-139).
    Existing settings win — an index's analyzer must never change
    silently under incremental builds."""
    merged = {**DEFAULT_SETTINGS, **(settings or {})}
    path = os.path.join(index_dir, "settings.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    os.makedirs(index_dir, exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(merged, f, indent=1)
    os.replace(tmp, path)
    return merged

POSTINGS_SCHEMA = StructType(
    [
        StructField("tid", LongType()),
        StructField("shard", IntegerType()),
        StructField("block_id", IntegerType()),
        StructField("first_doc_id", LongType()),
        StructField("last_doc_id", LongType()),
        StructField("n_docs", IntegerType()),
        StructField("max_tf", IntegerType()),
        StructField("min_dl", IntegerType()),
        StructField("sum_tf", LongType()),
        StructField("docs_vb", BinaryType()),
        StructField("tfs_vb", BinaryType()),
        StructField("dls_vb", BinaryType()),
        # per-posting occurrence positions, delta-varbyte with reset at
        # every posting (slice lengths == tfs) — serves match_phrase /
        # phrase_prefix / query_string phrases straight from the index,
        # no docstore re-tokenize at query time
        StructField("pos_vb", BinaryType()),
    ]
)


# Stored columns a build carries from its input into the docstore,
# between ``doc_id`` and ``dl``.
PASSTHROUGH = ("url", "warc_ts", "lang", "text", "_parent")


def segment_dir(index_dir: str, segment_id: int | str) -> str:
    return os.path.join(index_dir, "segments", f"seg={segment_id}")


GEN_POINTER = "index.gen"


def gen_root(index_dir: str) -> str:
    """Current generation root. ``index.gen`` names the live generation
    subdir — compact() builds the next generation to the side and flips
    this pointer atomically (the reference's create-new-index-then-swap
    -alias pattern, river/river.go:111-128), so a reader NEVER sees a
    half-swapped index: either pointer flips (new complete generation)
    or it doesn't (old generation untouched, tombstones included).
    Absent pointer → the index lives at index_dir itself (the layout
    every fresh build produces)."""
    p = os.path.join(index_dir, GEN_POINTER)
    if os.path.exists(p):
        with open(p) as f:
            return os.path.join(index_dir, f.read().strip())
    return index_dir


def _make_stream_packer(block_size: int, n_shards: int | None = None):
    """Streaming per-partition packer for mapInPandas over TOKEN-level
    input sorted by (tid, shard, doc_id, pos). When ``n_shards`` is
    given the input carries no ``shard`` column — the packer derives it
    as ``doc_id % n_shards`` (one numpy op per batch), so the shard key
    never rides the wide shuffle / sort / Arrow boundary (guide §2.3
    "shuffle fewer bytes": 4 of 28 bytes per token row; the build's
    repartition and sort key it as an expression instead).

    Postings are DERIVED here from the sorted runs — tf is the run
    length of (tid, doc_id), positions are the run's pos values, dl
    rides every token row — which is what lets the whole postings job
    run with ONE wide shuffle: the repartition that co-locates each
    (term, shard) sub-list IS the aggregation (a pre-agg stage would
    shuffle every position anyway, so it saved nothing and cost a hash
    aggregate; measured 2x build throughput on removal).

    All numpy: boundaries via change-point detection on the sorted key
    columns, one varbyte encode per column per batch-flush (per-value
    independence lets us slice per-block byte ranges from cumulative
    lengths), block metadata via np.*.reduceat. No pandas groupby, no
    re-sort. Groups spanning Arrow batch boundaries are carried over;
    memory is bounded by (largest single (term, shard) token run + one
    batch), which n_shards keeps small by construction.
    """
    from .codec import delta_encode_segmented, vb_encode_with_lengths

    def pack_region(tid, shard, doc_id, dl, pos, n_tok) -> pd.DataFrame:
        """Pack token rows [0..n_tok) — the region ends exactly at a
        (tid, shard) group boundary."""
        t_, s_ = tid[:n_tok], shard[:n_tok]
        d_, l_, p_ = doc_id[:n_tok], dl[:n_tok], pos[:n_tok]
        # posting boundaries: change of (tid, shard, doc_id)
        chg = np.flatnonzero(
            (t_[1:] != t_[:-1]) | (s_[1:] != s_[:-1]) | (d_[1:] != d_[:-1])
        ) + 1
        p_starts = np.concatenate(([0], chg)).astype(np.int64)
        p_ends = np.concatenate((chg, [n_tok])).astype(np.int64)
        tfs = p_ends - p_starts
        doc_ids = d_[p_starts]
        dls = l_[p_starts]
        g_tid = t_[p_starts]
        g_shard = s_[p_starts]
        # group boundaries in posting space
        gchg = np.flatnonzero((g_tid[1:] != g_tid[:-1]) | (g_shard[1:] != g_shard[:-1])) + 1
        bounds = np.concatenate(([0], gchg, [len(p_starts)])).astype(np.int64)

        # blocks: each group's postings cut every block_size, numbered
        # from 0 within the group
        n_blocks = -(-np.diff(bounds) // block_size)
        grp_of_start = np.repeat(np.arange(len(n_blocks)), n_blocks)
        block_id = np.arange(len(grp_of_start)) - np.repeat(np.cumsum(n_blocks) - n_blocks, n_blocks)
        starts = bounds[grp_of_start] + block_id * block_size
        ends = np.minimum(starts + block_size, bounds[1:][grp_of_start])
        # delta doc_ids, reset at block starts (block-local decodability)
        deltas = doc_ids.astype(np.uint64).copy()
        deltas[1:] -= doc_ids[:-1].astype(np.uint64)
        deltas[starts] = doc_ids[starts]
        d_bytes, d_lens = vb_encode_with_lengths(deltas)
        t_bytes, t_lens = vb_encode_with_lengths(tfs)
        l_bytes, l_lens = vb_encode_with_lengths(dls)
        d_off = np.concatenate(([0], np.cumsum(d_lens)))
        t_off = np.concatenate(([0], np.cumsum(t_lens)))
        l_off = np.concatenate(([0], np.cumsum(l_lens)))
        dv, tv, lv = memoryview(d_bytes), memoryview(t_bytes), memoryview(l_bytes)
        # positions: the region's token pos stream, deltas resetting at
        # every posting → block slices at posting boundaries stay
        # independently decodable; byte ranges from per-value lengths
        # cumulated at posting starts.
        p_bytes, p_lens = vb_encode_with_lengths(delta_encode_segmented(p_, tfs))
        val_off = np.concatenate(([0], np.cumsum(p_lens)))
        p_off = val_off[np.concatenate((p_starts, [n_tok]))]
        pv = memoryview(p_bytes)
        return pd.DataFrame(
            {
                "tid": g_tid[starts].astype(np.int64),
                "shard": g_shard[starts].astype(np.int32),
                "block_id": block_id.astype(np.int32),
                "first_doc_id": doc_ids[starts],
                "last_doc_id": doc_ids[ends - 1],
                "n_docs": (ends - starts).astype(np.int32),
                "max_tf": np.maximum.reduceat(tfs, starts).astype(np.int32),
                "min_dl": np.minimum.reduceat(dls, starts).astype(np.int32),
                "sum_tf": np.add.reduceat(tfs, starts).astype(np.int64),
                "docs_vb": [bytes(dv[d_off[a] : d_off[b]]) for a, b in zip(starts, ends)],
                "tfs_vb": [bytes(tv[t_off[a] : t_off[b]]) for a, b in zip(starts, ends)],
                "dls_vb": [bytes(lv[l_off[a] : l_off[b]]) for a, b in zip(starts, ends)],
                "pos_vb": [bytes(pv[p_off[a] : p_off[b]]) for a, b in zip(starts, ends)],
            }
        )

    def pack_stream(batches):
        carry = None  # token arrays of the unfinished tail (tid, shard) group
        for pdf in batches:
            tid = pdf["tid"].to_numpy(dtype=np.int64)
            if n_shards is not None:
                shard = (pdf["doc_id"].to_numpy(dtype=np.int64) % n_shards).astype(np.int32)
            else:
                shard = pdf["shard"].to_numpy()
            doc_id = pdf["doc_id"].to_numpy(dtype=np.int64)
            dl = pdf["dl"].to_numpy(dtype=np.int64)
            pos = pdf["pos"].to_numpy(dtype=np.uint64)
            if carry is not None:
                tid = np.concatenate([carry[0], tid])
                shard = np.concatenate([carry[1], shard])
                doc_id = np.concatenate([carry[2], doc_id])
                dl = np.concatenate([carry[3], dl])
                pos = np.concatenate([carry[4], pos])
            n = len(tid)
            change = np.flatnonzero((tid[1:] != tid[:-1]) | (shard[1:] != shard[:-1])) + 1
            if len(change) == 0:  # whole batch is one group → carry it all
                carry = (tid, shard, doc_id, dl, pos)
                continue
            tail = change[-1]
            yield pack_region(tid, shard, doc_id, dl, pos, tail)
            carry = (tid[tail:n], shard[tail:n], doc_id[tail:n], dl[tail:n], pos[tail:n])
        if carry is not None and len(carry[0]):
            tid, shard, doc_id, dl, pos = carry
            yield pack_region(tid, shard, doc_id, dl, pos, len(tid))

    return pack_stream


def build_segment(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    segment_id: int | str = 0,
    n_shards: int = 8,
    block_size: int = BLOCK_SIZE,
    overwrite: bool = False,
    settings: dict | None = None,
    extra_manifest: dict | None = None,
) -> dict | None:
    """Build one index segment; returns its manifest dict.

    ``docs`` must have columns ``doc_id:int64, text:string`` and may
    carry ``url, warc_ts, lang`` (stored in the docstore). Returns None
    (skip) if the segment's manifest already exists and not overwrite —
    the resume path (reference: canal/dump.go:103-126 skips the dump
    when a binlog checkpoint exists).
    """
    seg = segment_dir(index_dir, segment_id)
    manifest_path = os.path.join(seg, "manifest.json")
    if os.path.exists(manifest_path) and not overwrite:
        with open(manifest_path) as f:
            return json.load(f)
    effective = write_settings(index_dir, settings)
    token_pattern = effective["token_pattern"]

    t0 = time.time()
    # Defensive parallelism: a small parquet input arrives as 1-2
    # partitions and would serialize tokenization on one core. At real
    # scale (maxPartitionBytes-sized splits) this branch never fires.
    target_parts = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < max(2, target_parts // 2):
        docs = docs.repartition(target_parts)
    passthrough = [c for c in PASSTHROUGH if c in docs.columns]
    base = docs.select(
        "doc_id", *passthrough, tokens_col("text", pattern=token_pattern).alias("_toks")
    ).withColumn("dl", F.size("_toks"))
    _timings: dict[str, float] = {}
    _t = time.time()

    def _mark(name: str) -> None:
        nonlocal _t
        _timings[name] = round(time.time() - _t, 2)
        _t = time.time()

    # Job 1 — docstore write; collection stats ride along via observe()
    # (no separate stats job). Tokenize is recomputed by job 2 instead
    # of persisting token arrays: at scale the cache serialization +
    # memory pressure costs more than the second regex pass.
    from pyspark.sql import Observation

    obs = Observation()
    docstore = base.drop("_toks").observe(
        obs,
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        F.min("doc_id").alias("doc_id_min"),
        F.max("doc_id").alias("doc_id_max"),
    )
    docstore.write.mode("overwrite").parquet(os.path.join(seg, "docs.parquet"))
    stats_row = obs.get
    _mark("docstore")

    # Job 2 — postings. ONE explicit-width shuffle co-locating each
    # (term, shard) sub-list, sorted so the streaming packer sees
    # contiguous (tid, shard, doc_id, pos) runs. The width is pinned (AQE would otherwise coalesce the
    # small bench shuffle to 1-2 tasks and serialize the Python stage;
    # at real scale you want it pinned to ~2-3x cluster cores anyway).
    # Each output file is tid-sorted but, being a hash partition, spans
    # the whole tid range: a file written as one row group (every file
    # below the parquet block size) has min/max statistics that prune
    # nothing, so a query-time tid filter reads every file's tid column.
    # Terms are keyed by xxhash64 (fixed-width int64) the moment they
    # leave the tokenizer: at web scale the term string would otherwise
    # ride through two shuffles and a sort (memory-bandwidth bound).
    # Query-side hashes its terms the same way; term *strings* are only
    # needed by dictionary-walking ops (prefix/wildcard/fuzzy), served
    # from job 3's per-segment term_dict (reader.term_strings()).
    # 64-bit collisions are negligible below ~10^9 distinct terms.
    # posexplode keeps each occurrence's position. TOKEN rows go
    # straight into the co-locating shuffle — no (term, doc) pre-agg
    # stage: positions make the agg's map-side combine worthless (every
    # position ships regardless), so the aggregate hash stage was pure
    # overhead (removing it measured ~2x build throughput). tf/dl/
    # positions are derived from the sorted runs inside the packer.
    exploded = base.select(
        "doc_id", "dl", F.posexplode("_toks").alias("pos", "_tok")
    ).select("doc_id", "dl", F.col("pos").cast("int").alias("pos"), F.xxhash64("_tok").alias("tid"))
    # shard is an EXPRESSION in the partition/sort keys, never a
    # materialized column: the wide shuffle and sort move 24 B/token
    # instead of 28 (guide §2.3); the packer re-derives it from doc_id
    # (same pmod, same int32) — identical layout, ~4% pack-stage wall
    # in the r6 interleaved A/B at local[4], flat at local[1].
    shard_expr = F.pmod(F.col("doc_id"), F.lit(n_shards)).cast("int")
    pack_width = max(target_parts, int(spark.conf.get("spark.sql.shuffle.partitions")))
    pack_obs = Observation()
    packed = (
        exploded.repartition(pack_width, F.col("tid"), shard_expr)
        .sortWithinPartitions(F.col("tid"), shard_expr, F.col("doc_id"), F.col("pos"))
        .mapInPandas(_make_stream_packer(block_size, n_shards), schema=POSTINGS_SCHEMA)
        .observe(
            pack_obs,
            F.approx_count_distinct("tid").alias("term_count"),
            F.sum("n_docs").alias("n_postings"),
            F.sum(
                F.length("docs_vb") + F.length("tfs_vb") + F.length("dls_vb")
                + F.length("pos_vb")
            ).alias("postings_bytes"),
        )
    )
    packed.write.mode("overwrite").parquet(os.path.join(seg, "postings.parquet"))
    # manifest term_count is HLL-approximate (observe() cannot run exact
    # distinct); the exact per-term df lands in term_dict.parquet (job 3
    # below), which is where IndexReader.df_lookup reads it.
    term_count = int(pack_obs.get["term_count"])
    _mark("postings")

    # Job 3 — per-segment term dictionary (term, tid, df), VERDICT r3
    # #5: emitted AT BUILD TIME so dictionary-walking ops (prefix/
    # wildcard/fuzzy/suggest) never re-tokenize the docstore at query
    # time, and incremental segments carry their own dictionaries (the
    # old root-level lazy cache went stale when new segments landed).
    # This re-runs the regex tokenize (same tradeoff as job 2: caching
    # token arrays costs more than recomputing them), but the agg's
    # map-side combine reduces each partition to its distinct terms, so
    # the shuffle is dictionary-sized, not corpus-sized. Range-sorted
    # by term → prefix walks prune row groups. df is the segment-build-
    # time count (Lucene semantics: later deletes don't decrement df
    # until the segment merges away).
    term_dict = (
        base.select(F.explode(F.array_distinct("_toks")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .withColumn("tid", F.xxhash64("term"))
    )
    # Layout: sorted-by-term parquet for row-group pruning. Partition
    # count is sized from the exact packer term count — below ~2M terms
    # ONE sorted file via coalesce (repartitionByRange would add a
    # range-SAMPLING pass that re-evaluates the whole tokenize+agg,
    # doubling job 3); big dictionaries take the range shuffle, whose
    # sampling cost is then amortized over real volume.
    dict_parts = max(1, term_count // 2_000_000)
    laid_out = (
        # repartition(1), not coalesce(1): coalesce would collapse the
        # agg's reduce side to one task; this keeps the agg parallel
        # and only the dictionary-sized result funnels to one sorter
        term_dict.repartition(1).sortWithinPartitions("term")
        if dict_parts == 1
        else term_dict.repartitionByRange(dict_parts, "term").sortWithinPartitions("term")
    )
    laid_out.write.mode("overwrite").parquet(os.path.join(seg, "term_dict.parquet"))
    _mark("term_dict")
    return _write_manifest(
        seg,
        segment_id,
        n_docs=stats_row["n_docs"],
        sum_dl=int(stats_row["sum_dl"] or 0),
        doc_id_min=stats_row["doc_id_min"],
        doc_id_max=stats_row["doc_id_max"],
        term_count=term_count,
        n_postings=int(pack_obs.get["n_postings"] or 0),
        postings_bytes=int(pack_obs.get["postings_bytes"] or 0),
        n_shards=n_shards,
        block_size=block_size,
        t0=t0,
        phases=_timings,
        docs_schema=docstore.schema,
        extra=extra_manifest,
    )


def _write_manifest(seg: str, segment_id: int | str, *, t0: float, docs_schema: StructType,
                    extra: dict | None = None, **stats) -> dict:
    """Commit a segment: write its manifest atomically, last, after every
    parquet dir under ``seg`` is complete (the one manifest writer of both
    builds). ``docs_schema`` is recorded with every field nullable, as a
    parquet read returns it, so the reader opens ``docs.parquet`` without
    inferring its schema."""
    nbytes = sum(
        os.path.getsize(os.path.join(r, fn))
        for r, _, fns in os.walk(seg)
        for fn in fns
    )
    manifest = {
        "segment_id": str(segment_id),
        # n_docs, sum_dl, doc_id_min/max, term_count, n_postings,
        # postings_bytes (exact packed sizing: feeds the query-side
        # byte-based driver-path threshold), n_shards, block_size, phases
        # (per-phase walls, s)
        **stats,
        "bytes": nbytes,
        "wall_time_sec": round(time.time() - t0, 3),
        "docs_schema": StructType([StructField(f.name, f.dataType) for f in docs_schema]).jsonValue(),
        **(extra or {}),
    }
    manifest_path = os.path.join(seg, "manifest.json")
    tmp = manifest_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(tmp, manifest_path)  # atomic, like canal/master.go:71-90
    return manifest


def write_parquet_file(table, path: str, name: str = "part-00000.parquet") -> None:
    """Write a pyarrow table as the file ``name`` of the parquet dir
    ``path``, atomically: under a ``.``-prefixed temp name, which Spark,
    pyarrow datasets and ``*.parquet`` globs all skip, then renamed into
    place. The dir gets Spark's ``_SUCCESS`` marker. A tz-aware timestamp
    column is stored as INT96, as Spark's parquet writer stores a
    ``timestamp`` (``spark.sql.parquet.outputTimestampType``'s default),
    so both writers' files read back with one Arrow schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    int96 = any(pa.types.is_timestamp(f.type) and f.type.tz is not None for f in table.schema)
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "." + name), use_deprecated_int96_timestamps=int96)
    os.replace(os.path.join(path, "." + name), os.path.join(path, name))
    open(os.path.join(path, "_SUCCESS"), "w").close()


_PACK_BATCH = 1 << 20


def _write_postings(seg: str, tokens: pd.DataFrame, n_shards: int) -> dict:
    """Pack token rows ``(tid, doc_id, dl, pos)`` sorted by (tid, shard,
    doc_id, pos) with the build's packer and write them as the segment's
    ``postings.parquet``; returns the manifest's postings counters. The
    packer takes the rows in batches of ``_PACK_BATCH``, as it takes
    Arrow batches in the Spark build, so its temporaries stay bounded."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.pandas.types import to_arrow_schema

    blocks = list(_make_stream_packer(BLOCK_SIZE, n_shards)(
        tokens.iloc[i:i + _PACK_BATCH] for i in range(0, len(tokens), _PACK_BATCH)))
    schema = to_arrow_schema(POSTINGS_SCHEMA)
    postings = (
        pa.Table.from_pandas(pd.concat(blocks, ignore_index=True), schema=schema, preserve_index=False)
        if blocks else schema.empty_table()
    )
    write_parquet_file(postings, os.path.join(seg, "postings.parquet"))
    return {
        "n_postings": pc.sum(postings.column("n_docs")).as_py() or 0,
        "postings_bytes": sum(
            pc.sum(pc.binary_length(postings.column(c))).as_py() or 0
            for c in ("docs_vb", "tfs_vb", "dls_vb", "pos_vb")
        ),
    }


def _write_term_dict(seg: str, terms: np.ndarray, tids: np.ndarray, dfs: np.ndarray) -> None:
    """Write the segment's ``term_dict.parquet`` sorted by term (code-point
    order = Spark's UTF-8 order), with the Spark build's types and
    nullability (``df`` and ``tid`` not null)."""
    import pyarrow as pa

    by_term = np.argsort(terms, kind="stable")
    write_parquet_file(pa.table(
        [pa.array(terms[by_term], pa.string()), pa.array(dfs[by_term], pa.int64()),
         pa.array(tids[by_term], pa.int64())],
        schema=pa.schema([("term", pa.string()), pa.field("df", pa.int64(), nullable=False),
                          pa.field("tid", pa.int64(), nullable=False)]),
    ), os.path.join(seg, "term_dict.parquet"))


def build_segment_local(
    index_dir: str,
    docs,
    terms: list,
    tids: list,
    segment_id: int | str,
    n_shards: int = 8,
) -> dict:
    """Build one segment on the driver from an analyzed batch small
    enough to hold there: no Spark job. Same files, column types and
    manifest fields as :func:`build_segment` over the same docs, except
    that ``term_count`` is exact and each parquet dir holds one file.

    ``docs`` is the docstore as a pyarrow table (``doc_id``, the
    passthrough columns, ``dl`` int32) whose types map to Spark's one to
    one (``from_arrow_schema``). ``terms[i]`` and ``tids[i]`` are row i's tokens and their
    xxhash64 ids, as ``tokens_col`` and ``F.xxhash64`` give them with the
    index's ``token_pattern``, or None for a null text. One tokenize
    feeds all three outputs: the token rows, sorted by (tid, shard,
    doc_id, pos), go through the build's packer, and the term dictionary
    counts each doc's distinct terms."""
    import shutil

    import pyarrow.compute as pc
    from pyspark.sql.pandas.types import from_arrow_schema

    t0 = time.time()
    write_settings(index_dir, None)
    seg = segment_dir(index_dir, segment_id)
    shutil.rmtree(seg, ignore_errors=True)  # a crashed attempt's partial dir
    timings: dict[str, float] = {}
    write_parquet_file(docs, os.path.join(seg, "docs.parquet"))
    timings["docstore"] = round(time.time() - t0, 2)

    _t = time.time()
    doc_id = docs.column("doc_id").to_numpy().astype(np.int64)
    n_tok = np.fromiter((len(t) if t is not None else 0 for t in tids), np.int64, len(tids))
    total = int(n_tok.sum())
    tok_tid = np.fromiter((h for t in tids if t is not None for h in t), np.int64, total)
    tok_doc = np.repeat(doc_id, n_tok)
    tok_dl = np.repeat(n_tok, n_tok)
    tok_pos = np.arange(total) - np.repeat(np.cumsum(n_tok) - n_tok, n_tok)
    order = np.lexsort((tok_pos, tok_doc, tok_doc % n_shards, tok_tid))
    postings = _write_postings(seg, pd.DataFrame({"tid": tok_tid[order], "doc_id": tok_doc[order],
                                                  "dl": tok_dl[order], "pos": tok_pos[order]}),
                               n_shards)
    timings["postings"] = round(time.time() - _t, 2)

    _t = time.time()
    # term dictionary: df = number of docs holding the term (per-doc
    # distinct)
    codes, uniq = pd.factorize(
        np.fromiter((w for t in terms if t is not None for w in t), object, total))
    pairs = np.unique(np.repeat(np.arange(len(n_tok)), n_tok) * len(uniq) + codes)
    term_tid = np.zeros(len(uniq), dtype=np.int64)
    term_tid[codes] = tok_tid  # one hash per term
    _write_term_dict(seg, uniq, term_tid,
                     np.bincount(pairs % max(len(uniq), 1), minlength=len(uniq)))
    timings["term_dict"] = round(time.time() - _t, 2)

    return _write_manifest(
        seg,
        segment_id,
        n_docs=docs.num_rows,
        sum_dl=pc.sum(docs.column("dl")).as_py() or 0,
        doc_id_min=int(doc_id.min()),
        doc_id_max=int(doc_id.max()),
        term_count=len(np.unique(tok_tid)),
        **postings,
        n_shards=n_shards,
        block_size=BLOCK_SIZE,
        t0=t0,
        phases=timings,
        docs_schema=from_arrow_schema(docs.schema),
    )


_INTEGRAL = (ByteType, ShortType, IntegerType, LongType)


def merged_docs_schema(manifests: list[dict]) -> StructType | None:
    """The docstore schema :func:`build_segment` writes when it rebuilds
    the live docs of the segments of ``manifests``, taken from their
    ``docs_schema``: ``doc_id``, the passthrough columns any of them
    holds, ``dl``, each typed as Spark's union widens it (``timestamp_ntz``
    with ``timestamp`` → ``timestamp``, an integer type with a wider one
    → the wider). None when the segments' types differ in another way,
    or when the result holds both timestamp kinds
    (:func:`write_parquet_file` stores every timestamp column one way)."""
    types: dict[str, object] = {}
    for m in manifests:
        for f in StructType.fromJson(m["docs_schema"]):
            a, b = types.get(f.name, f.dataType), f.dataType
            if a == b:
                types[f.name] = a
            elif {type(a), type(b)} == {TimestampNTZType, TimestampType}:
                types[f.name] = TimestampType()
            elif isinstance(a, _INTEGRAL) and isinstance(b, _INTEGRAL):
                types[f.name] = max(a, b, key=lambda t: _INTEGRAL.index(type(t)))
            else:
                return None
    if {TimestampNTZType, TimestampType} <= {type(t) for t in types.values()}:
        return None
    names = ["doc_id", *[c for c in PASSTHROUGH if c in types], "dl"]
    return StructType([StructField(c, types[c]) for c in names])


def merge_segments_local(
    root: str,
    sources: list[tuple[str, dict]],
    tombstones: tuple[np.ndarray, np.ndarray],
    docs_schema: StructType,
    segment_ids: list[int | str],
    n_shards: int = 8,
    session_tz: str = "UTC",
    extra_manifest: dict | None = None,
) -> list[dict]:
    """Write the live docs of the segments ``sources`` (``(segment dir,
    manifest)`` pairs) as the new segments ``segment_ids`` of the
    generation ``root``, on the driver: no Spark job and no re-analysis.
    A live doc goes to ``segment_ids[doc_id % len(segment_ids)]``, as
    :func:`build_index` splits a rebuild. Returns their manifests.

    ``tombstones`` is ``read_tombstones``' pair (doc ids sorted, each
    doc's max ``upto_seg``): a doc of segment s is dead when its
    ``upto_seg`` ≥ s. The docstore keeps the live rows, cast to
    ``docs_schema`` (:func:`merged_docs_schema`; an NTZ source read into a
    ``timestamp`` column is placed in ``session_tz``, as Spark's cast
    does). The postings are decoded, their live token rows re-packed by
    the build's packer with shards re-derived as ``doc_id % n_shards``,
    and each term dictionary row keeps its source ``(term, tid)`` with
    ``df`` = the term's live posting count, dropping terms left with
    none. Same rows, types and manifest fields as :func:`build_segment`
    over the same live docs, except that ``term_count`` is exact and each
    parquet dir holds one file."""
    import shutil

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from .codec import unpack_blocks_batch, unpack_positions_batch

    t0 = time.time()
    t_doc, t_upto = tombstones

    def live(doc_id: np.ndarray, seg: int) -> np.ndarray:
        if not len(t_doc):
            return np.ones(len(doc_id), dtype=bool)
        i = np.minimum(np.searchsorted(t_doc, doc_id), len(t_doc) - 1)
        return (t_doc[i] != doc_id) | (t_upto[i] < seg)

    target = to_arrow_schema(docs_schema)

    def live_docs(path: str, m: dict):
        seg = int(m["segment_id"])
        src = {f.name: f.dataType for f in StructType.fromJson(m["docs_schema"])}
        d = pq.read_table(os.path.join(path, "docs.parquet"), columns=[c for c in target.names if c in src])
        d = d.filter(pa.array(live(d.column("doc_id").to_numpy().astype(np.int64), seg)))
        cols = []
        for f in target:
            if f.name not in src:
                cols.append(pa.nulls(d.num_rows, f.type))
                continue
            c = d.column(f.name)
            if isinstance(src[f.name], TimestampNTZType) and f.type.tz is not None:
                c = pc.assume_timezone(c, session_tz)
            cols.append(c.cast(f.type))
        return pa.table(cols, schema=target)

    def live_postings(path: str, m: dict):
        """(tid, doc_id, dl, tf) of each live posting and the postings'
        positions, flat."""
        p = pq.read_table(os.path.join(path, "postings.parquet"),
                          columns=["tid", "docs_vb", "tfs_vb", "dls_vb", "pos_vb"]).combine_chunks()
        if not p.num_rows:
            return [np.empty(0, np.int64)] * 4 + [np.empty(0, np.uint64)]
        doc_ids, tfs, dls, counts = unpack_blocks_batch(
            *(p.column(c).chunk(0) for c in ("docs_vb", "tfs_vb", "dls_vb")))
        doc_ids, tfs = doc_ids.astype(np.int64), tfs.astype(np.int64)
        pos, _ = unpack_positions_batch(p.column("pos_vb").chunk(0), tfs)
        ok = live(doc_ids, int(m["segment_id"]))
        return (np.repeat(p.column("tid").to_numpy(), counts)[ok], doc_ids[ok],
                dls[ok].astype(np.int64), tfs[ok], pos[np.repeat(ok, tfs)])

    docs = pa.concat_tables([live_docs(*s) for s in sources])
    p_tid, p_doc, p_dl, p_tf, flat = (np.concatenate(a) for a in zip(
        *[live_postings(*s) for s in sources]))
    p_start = np.cumsum(p_tf) - p_tf  # each posting's positions: one run of ``flat``
    terms = pa.concat_tables([pq.read_table(os.path.join(path, "term_dict.parquet"),
                                            columns=["term", "tid"]) for path, _ in sources])
    dict_terms, first = np.unique(terms.column("term").to_numpy(), return_index=True)
    dict_tids = terms.column("tid").to_numpy()[first]
    t_read = time.time() - t0

    doc_all = docs.column("doc_id").to_numpy().astype(np.int64)
    manifests = []
    for k, segment_id in enumerate(segment_ids):
        seg = segment_dir(root, segment_id)
        shutil.rmtree(seg, ignore_errors=True)  # a crashed attempt's partial dir
        _t = time.time()
        dk = docs.filter(pa.array(doc_all % len(segment_ids) == k))
        write_parquet_file(dk, os.path.join(seg, "docs.parquet"))
        timings = {"docstore": round(time.time() - _t + t_read, 2)}

        _t = time.time()
        sel = np.flatnonzero(p_doc % len(segment_ids) == k)
        sel = sel[np.lexsort((p_doc[sel], p_doc[sel] % n_shards, p_tid[sel]))]
        tf = p_tf[sel]
        tok = np.repeat(p_start[sel] - (np.cumsum(tf) - tf), tf) + np.arange(int(tf.sum()))
        postings = _write_postings(seg, pd.DataFrame({
            "tid": np.repeat(p_tid[sel], tf), "doc_id": np.repeat(p_doc[sel], tf),
            "dl": np.repeat(p_dl[sel], tf), "pos": flat[tok],
        }), n_shards)
        timings["postings"] = round(time.time() - _t, 2)

        _t = time.time()
        live_tids, dfs = np.unique(p_tid[sel], return_counts=True)
        j = np.minimum(np.searchsorted(live_tids, dict_tids), max(len(live_tids) - 1, 0))
        hit = live_tids[j] == dict_tids if len(live_tids) else np.zeros(len(dict_tids), bool)
        _write_term_dict(seg, dict_terms[hit], dict_tids[hit], dfs[j[hit]])
        timings["term_dict"] = round(time.time() - _t, 2)

        ids = dk.column("doc_id")
        manifests.append(_write_manifest(
            seg,
            segment_id,
            n_docs=dk.num_rows,
            sum_dl=pc.sum(dk.column("dl")).as_py() or 0,
            doc_id_min=pc.min(ids).as_py(),
            doc_id_max=pc.max(ids).as_py(),
            term_count=len(live_tids),
            **postings,
            n_shards=n_shards,
            block_size=BLOCK_SIZE,
            t0=t0,
            phases=timings,
            docs_schema=docs_schema,
            extra=extra_manifest,
        ))
    return manifests


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    n_segments: int = 1,
    n_shards: int = 8,
    block_size: int = BLOCK_SIZE,
    settings: dict | None = None,
    template_store: str | None = None,
) -> list[dict]:
    """Partition the doc space into ``n_segments`` and build each.

    Segment assignment is ``doc_id % n_segments`` (deterministic, so a
    killed build resumes with identical segment contents).

    ``template_store``: directory holding ``index_templates.json`` —
    templates whose pattern matches this index's basename merge into
    ``settings`` (explicit keys win; index/templates.py precedence).
    """
    if template_store is not None:
        from .templates import settings_for

        settings = settings_for(
            template_store, os.path.basename(index_dir.rstrip("/")), settings
        )
    manifests = []
    for s in range(n_segments):
        part = docs.where(F.pmod(F.col("doc_id"), F.lit(n_segments)) == s) if n_segments > 1 else docs
        manifests.append(
            build_segment(
                spark, part, index_dir, segment_id=s, n_shards=n_shards,
                block_size=block_size, settings=settings,
            )
        )
    return manifests
