"""Index reader: discovers completed segments via manifests and exposes
postings / docstore / global term dictionary DataFrames.

Only segments with a ``manifest.json`` are visible — an interrupted
build's partial segment is invisible until its manifest lands (same
contract as the reference's binlog checkpoint: canal/master.go:16-45).

Format floor: a served segment must carry the manifest byte counters
``n_postings`` / ``postings_bytes`` (v4, written together with the
``pos_vb`` position payloads), a build-time ``term_dict.parquet`` (v5)
and the docstore schema ``docs_schema`` (v6). ``IndexReader`` refuses
any older segment when it opens, so the query path assumes those
artifacts everywhere and has no fallbacks.

Segments are immutable, so what a reader derives from one segment is
held once per process and shared by every reader that serves it
(``_SEGMENTS``), as Lucene's ``DirectoryReader.openIfChanged`` shares
per-segment readers across reopens: a reader opened after a change
batch opens only the new segments.

The driver reads segment files with pyarrow, with no Spark job: the df
dictionaries, the postings a driver-route query needs
(:meth:`IndexReader.arrow_postings`) and, under ``TOMBSTONE_DICT_MAX``,
the tombstones. An index must therefore sit on a path pyarrow can open.
"""

from __future__ import annotations

import glob
import json
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .build import POSTINGS_SCHEMA, gen_root

# Per-session AQE refcount for serving mode (open_serving/close_serving):
# {session: {"count": int, "before": str|None}}
_AQE_STATE: dict = {}

# Immutable per-segment state, shared by every reader in the process:
# {(session, segment dir, manifest st_ino, manifest st_mtime_ns):
#  {parquet name → relation, "df_arrays" → (sorted tids, dfs)}}. A
# rewritten segment lands a new manifest by atomic replace, so its key
# changes and stale state is never served. A reader's open drops the
# entries under its index that it no longer serves (merged or compacted
# away), which bounds the cache by the live segments.
_SEGMENTS: dict[tuple, dict] = {}

# Known parquet schemas: reading with one skips the schema-inference
# job. docs.parquet's passthrough columns vary by segment, so its schema
# comes from the segment's manifest (``docs_schema``).
_SCHEMAS = {
    "postings.parquet": POSTINGS_SCHEMA,
    "term_dict.parquet": "term string, df long, tid long",
    "tombstones.parquet": "doc_id long, upto_seg int, is_delete boolean",
}


class IndexReader:
    """Read view of one index, pinned at open.

    A reader serves the segments of the manifests it found when it was
    opened, like an ES searcher: a segment that lands later (an
    ``apply_changes`` batch, a merge, a compact) is not served until a
    new reader is opened. Per-segment state (the parquet relations and
    the df dictionary arrays) is built once per process per segment and
    shared with later readers; the unions over exactly the served
    segments are built once per reader."""

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        # closed indexes refuse readers (indices_close.go parity —
        # index/indices.py close_index/open_index)
        from .indices import CLOSED_MARKER, IndexClosedError, get_settings

        if os.path.exists(os.path.join(index_dir, CLOSED_MARKER)):
            raise IndexClosedError(f"index is closed: {index_dir}")
        # all index artifacts live under the current GENERATION root
        # (compact() swaps generations by atomic pointer flip)
        self.root = gen_root(index_dir)
        self._dict_df: DataFrame | None = None
        self._df_cache: dict[int, int] = {}  # tid → df (driver-side LRU-ish)
        self._tomb_cache: dict[int, int] | None = None
        self._tomb_count: int | None = None
        self._serving: DataFrame | None = None  # open_serving() residency
        self._driver_postings = None  # open_serving() driver-side copy (pandas)
        # file name → union over segments; "term_strings" → the merged
        # dictionary; "tombstones" → the doc-level tombstone relation
        self._relations: dict[str, DataFrame | None] = {}
        # per-index analyzer/scoring settings (K5 parity), complete:
        # the build writes them, merged over the defaults, before any
        # manifest lands. The GENERATION root's copy wins — it is written
        # by the same build that produced this generation's postings, so
        # reader-side analysis and the packed postings can never disagree
        # (the top-level copy can go stale across a compact)
        self.settings = get_settings(index_dir)
        self.manifests: list[dict] = []
        keys: list[tuple] = []  # _SEGMENTS key per manifest
        for mp in sorted(glob.glob(os.path.join(self.root, "segments", "seg=*", "manifest.json"))):
            with open(mp) as f:
                st = os.fstat(f.fileno())  # the identity of the file json reads
                self.manifests.append(json.load(f))
            keys.append((spark, os.path.abspath(os.path.dirname(mp)), st.st_ino, st.st_mtime_ns))
        # Tiered-merge supersession (Lucene merge semantics): a merged
        # segment's manifest lists the ids it replaced; those segments
        # are dead the INSTANT the merged manifest lands (its atomic
        # write is the commit point — a crash before old-dir GC leaves
        # garbage dirs, never duplicate docs).
        superseded: set[str] = set()
        for m in self.manifests:
            superseded.update(str(s) for s in m.get("merged_from", []))
        if superseded:
            live = [str(m["segment_id"]) not in superseded for m in self.manifests]
            self.manifests = [m for m, ok in zip(self.manifests, live) if ok]
            keys = [k for k, ok in zip(keys, live) if ok]
        self._seg_keys = keys
        under = os.path.abspath(index_dir) + os.sep
        served = set(keys)
        for k in list(_SEGMENTS):
            if k[0] is spark and k[1].startswith(under) and k not in served:
                _SEGMENTS.pop(k, None)
        if not self.manifests:
            raise FileNotFoundError(f"no completed segments under {index_dir}")
        # the format floor (module docstring) — the one place that tests
        # for these artifacts
        for m, key in zip(self.manifests, keys):
            missing = [k for k in ("n_postings", "postings_bytes", "docs_schema") if k not in m]
            if not os.path.exists(os.path.join(key[1], "term_dict.parquet", "_SUCCESS")):
                missing.append("term_dict.parquet")
            if missing:
                raise ValueError(
                    f"segment {m['segment_id']} of {index_dir} predates the v6 segment format "
                    f"(missing {', '.join(missing)}); rebuild the index from its source"
                )

    # ---- global collection stats (cheap: from manifests, no scan) --------
    @property
    def n_docs(self) -> int:
        return sum(m["n_docs"] for m in self.manifests)

    @property
    def avgdl(self) -> float:
        n = self.n_docs
        return (sum(m["sum_dl"] for m in self.manifests) / n) if n else 0.0

    @property
    def bytes_per_posting(self) -> float:
        """Average packed bytes per posting across segments, from exact
        manifest counters — sizes the query-side driver-path decision in
        BYTES pulled, not posting count (0.0 for an index without
        postings)."""
        n = sum(m["n_postings"] for m in self.manifests)
        return self._postings_bytes / n if n else 0.0

    @property
    def _postings_bytes(self) -> int:
        return sum(m["postings_bytes"] for m in self.manifests)

    def _union(self, name: str) -> DataFrame:
        """Union of every served segment's ``name`` parquet, built once
        per reader over per-segment relations that are read once per
        process (``_SEGMENTS``). Every file is read with its known schema
        (``_SCHEMAS``, or the manifest's ``docs_schema`` for
        ``docs.parquet``), so no read runs a schema-inference job."""
        out = self._relations.get(name)
        if out is None:
            dfs = []
            for m, key in zip(self.manifests, self._seg_keys):
                st = _SEGMENTS.setdefault(key, {})
                if name not in st:
                    schema = _SCHEMAS.get(name) or StructType.fromJson(m["docs_schema"])
                    st[name] = self.spark.read.schema(schema).parquet(
                        os.path.join(key[1], name)).withColumn("segment", F.lit(str(m["segment_id"])))
                dfs.append(st[name])
            out = dfs[0]
            for d in dfs[1:]:
                # allowMissingColumns: segments built before/after a schema
                # change coexist (reference S8 parity — live ALTER TABLE ADD
                # handled by schema merge on read, canal/sync.go:105-141)
                out = out.unionByName(d, allowMissingColumns=True)
            self._relations[name] = out
        return out

    def postings(self) -> DataFrame:
        if self._serving is not None:
            return self._serving
        return self._union("postings.parquet")

    @property
    def serving_open(self) -> bool:
        """True while ``open_serving``'s residency backs ``postings()``."""
        return self._serving is not None

    def open_serving(self, n_parts: int | None = None) -> DataFrame:
        """ES-style shard residency for the query path (VERDICT r4 #3).

        The distributed scorer is ``groupBy(segment, shard).
        applyInPandas`` — over a bare parquet scan that groupBy pays a
        full shuffle of the MATCHED POSTINGS on every query, which at
        10^12 docs is the serving cost. ES never pays it: segments are
        assigned to data nodes once at index open and queries route to
        them. This is the Spark-idiomatic equivalent: repartition the
        postings by (segment, shard) ONCE, sort by tid within
        partitions, and persist. The cached plan's output partitioning
        is HashPartitioning(segment, shard) — exactly the
        ClusteredDistribution the scorer's groupBy needs — so every
        subsequent query's filter+select+applyInPandas runs with NO
        Exchange (plan-asserted, tests/test_plans.py::
        test_serving_mode_no_per_query_exchange). The within-partition
        tid sort keeps the in-memory columnar batches tid-contiguous so
        batch-level min/max pruning serves the term filter. The raw
        scan has no such pruning: the build hash-partitions postings
        files by tid, so every file spans the whole tid range, and a
        file written as one row group has min/max statistics that prune
        nothing.

        The residency pins the open-time view (manifests + tombstone
        sentinels are resolved per query as before; new SEGMENTS landed
        after open are not served) — same contract as an ES searcher:
        close_serving()/reopen after index maintenance.

        AQE is turned OFF for the serving session (restored by
        close_serving): adaptive execution earns its keep on large
        multi-stage ETL plans (skew joins, runtime coalescing), but the
        serving plan is small and fixed — scan → group-score →
        TakeOrdered over a cached frame — and AQE's per-query
        ResultQueryStage materialization barrier adds a measured ~35%
        latency (interleaved A/B at the 640k-doc tier: medians 0.73 s
        AQE-on vs 0.48 s AQE-off on the same residency). A serving
        session is a dedicated context, exactly as ES separates search
        from ingest.
        """
        if self._serving is None:
            # session-wide refcount: overlapping serving readers must not
            # restore AQE mid-serve or double-save "false" (code-review
            # r5) — only the first open saves, only the last close
            # restores
            st = _AQE_STATE.setdefault(self.spark, {"count": 0, "before": None})
            if st["count"] == 0:
                st["before"] = self.spark.conf.get("spark.sql.adaptive.enabled", "true")
                self.spark.conf.set("spark.sql.adaptive.enabled", "false")
            st["count"] += 1
            self._aqe_held = True
            n = n_parts or self._serving_parts()
            self._serving = (
                self._union("postings.parquet")
                .repartition(n, "segment", "shard")
                .sortWithinPartitions("tid")
                .persist()
            )
            self._serving.count()  # materialize the residency eagerly
        return self._serving

    # Residency sizing (guide §2.2/§6): ~4 MB of packed postings per
    # cached partition. Derived from exact manifest byte counters, so it
    # is scale-adaptive rather than a constant tuned for local mode: a
    # toy index opens as one partition (per-query task fan-out is the
    # dominant serving cost there), a 10^12-doc index saturates the
    # executor pool (capped at 4x parallelism, the usual 2-4x-cores
    # rule). The r6 n_parts sweep over the 640k-doc tier, AFTER the
    # scorer moved to per-partition mapInPandas (no per-query Sort),
    # put the dist-query optimum at 16-32 partitions (~0.23 s vs
    # ~0.27 s at 8, ~0.43 s at 4): smaller cached partitions mean a
    # smaller batch-pruned scan and a smaller kernel slice per task,
    # and the removed group-sort made task fan-out cheap. The phrase
    # route policy (wand._execute, residency_first) reads the same
    # budget: a query whose postings fit one partition stays on the
    # driver.
    SERVING_PART_BYTES = 4 * 1024 * 1024

    def _serving_parts(self) -> int:
        para = self.spark.sparkContext.defaultParallelism
        return min(max(1, -(-self._postings_bytes // self.SERVING_PART_BYTES)), 4 * para)

    # Above this many packed-postings bytes the driver-side serving copy
    # is refused and driver-route queries read the segment files per
    # query (arrow_postings). An index past the cap is by definition in
    # the distributed-serving regime. 1 GiB ≈ an ES search node's
    # comfortable heap share for postings; the copy lives in the driver
    # PYTHON process (outside the JVM heap), so the bound is host RAM,
    # not spark.driver.memory.
    DRIVER_RESIDENT_MAX_BYTES = 1024 * 1024 * 1024

    def arrow_postings(self, tids: list[int] | None = None, cols: list[str] | None = None):
        """The served segments' postings rows of ``tids`` (all rows when
        None), ``cols`` only (all postings columns then ``segment`` when
        None), read with pyarrow on the driver: no Spark job.

        Same rows, columns and dtypes as ``_union("postings.parquet")
        .where(tid.isin(tids)).select(cols).toPandas()`` (asserted,
        tests/test_fresh_reader.py); row order may differ. The filter
        reads the tid column of every row group, since row-group
        statistics of hash-partitioned files prune nothing."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        names = cols or [*POSTINGS_SCHEMA.fieldNames(), "segment"]
        filters = None if tids is None else [("tid", "in", list(tids))]
        parts = []
        for m, key in zip(self.manifests, self._seg_keys):
            t = pq.read_table(os.path.join(key[1], "postings.parquet"),
                              columns=[c for c in names if c != "segment"], filters=filters)
            seg = pa.nulls(t.num_rows, pa.string()).fill_null(str(m["segment_id"]))
            parts.append(t.append_column("segment", seg))
        return pa.concat_tables(parts).select(names).to_pandas()

    def driver_postings(self):
        """Driver-resident postings copy (pandas), or None.

        ES search-head parity: a data node serves queries from postings
        held in RAM (heap + page cache); the Spark translation of that
        is the executor-side residency (open_serving). While a serving
        session is open, an index within DRIVER_RESIDENT_MAX_BYTES also
        keeps a full pandas copy of the postings on the driver, so the
        driver route slices it locally instead of reading the segment
        files per query. The copy is built ONCE per open_serving by
        :meth:`arrow_postings` (all tids, all columns; no Spark job) from
        the same parquet the executor residency reads (nothing persists
        across processes — close_serving drops it); an index past the
        cap never gets one. The copy is stable-sorted by tid once, so
        the query path slices a term's rows by binary search (``wand.
        _driver_matched``) in O(matched). Results are bit-identical to
        every other route (asserted, tests/test_serving_driver_resident.py
        and tests/test_routes.py)."""
        if self._serving is None or self._driver_postings is False:
            return None
        if self._driver_postings is None:
            if self._postings_bytes > self.DRIVER_RESIDENT_MAX_BYTES:
                self._driver_postings = False
                return None
            self._driver_postings = self.arrow_postings().sort_values("tid", kind="stable")
        return self._driver_postings

    def close_serving(self) -> None:
        if self._serving is not None:
            self._serving.unpersist()
            self._serving = None
        self._driver_postings = None  # release the driver-side copy
        if getattr(self, "_aqe_held", False):
            self._aqe_held = False
            st = _AQE_STATE.get(self.spark)
            if st is not None:
                st["count"] -= 1
                if st["count"] <= 0:
                    self.spark.conf.set("spark.sql.adaptive.enabled", st["before"] or "true")
                    st["count"], st["before"] = 0, None

    def _live(self, rows: DataFrame) -> DataFrame:
        """``rows`` (with ``doc_id`` and ``segment``) without the versions
        a tombstone kills: a segment-scoped anti-join on (doc_id,
        segment ≤ upto_seg), so an upsert's re-added doc in a newer
        segment stays live."""
        tomb = self.tombstones()
        if tomb is None:
            return rows
        t = tomb.select(F.col("doc_id").alias("_tdoc"), F.col("upto_seg").alias("_tseg"))
        # broadcast only while the delete set is small; past the
        # threshold let Catalyst shuffle the anti-join (a 10^9-row
        # tombstone table must never be broadcast)
        if self.tombstones_count() <= self.TOMBSTONE_DICT_MAX:
            t = F.broadcast(t)
        return rows.join(
            t, (rows["doc_id"] == t["_tdoc"]) & (rows["segment"].cast("int") <= t["_tseg"]),
            "left_anti",
        )

    def docstore(self) -> DataFrame:
        """Live stored fields: tombstoned versions are filtered out
        (upsert = tombstone old + new segment, reference K2-K4
        semantics)."""
        return self._live(self._union("docs.parquet"))

    def decode_postings(self) -> DataFrame:
        """Flat (segment, tid, shard, doc_id, tf, dl) rows from packed
        blocks — invariant-testing view, and the template any future
        operator that needs raw postings should copy: per-block numpy
        decode + np.repeat/np.concatenate batch assembly, no per-posting
        Python loop."""
        import numpy as np
        import pandas as pd

        from .codec import unpack_blocks_batch

        def unpack(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                # one vectorized varbyte pass per column for the whole
                # Arrow batch (delta resets at every block, so blocks of
                # different terms batch-decode together)
                doc_ids, tfs, dls, counts = unpack_blocks_batch(
                    pdf["docs_vb"].to_numpy(), pdf["tfs_vb"].to_numpy(), pdf["dls_vb"].to_numpy()
                )
                yield pd.DataFrame(
                    {
                        "segment": np.repeat(pdf["segment"].to_numpy(), counts),
                        "tid": np.repeat(pdf["tid"].to_numpy(), counts),
                        "shard": np.repeat(pdf["shard"].to_numpy(), counts),
                        "doc_id": doc_ids.astype(np.int64),
                        "tf": tfs.astype(np.int64),
                        "dl": dls.astype(np.int64),
                    }
                )

        return self.postings().mapInPandas(
            unpack, schema="segment string, tid long, shard int, doc_id long, tf long, dl long"
        )

    def term_doc_ids(self, tids: list[int]) -> DataFrame:
        """(tid, doc_id) for live docs containing any of ``tids`` —
        boolean term membership for query_string must/must_not, served
        from the pruned postings scan (docs_vb only decoded; tf/dl/pos
        payloads never leave parquet). Tombstones are removed by
        :meth:`_live`'s anti-join — no driver materialization."""
        import numpy as np
        import pandas as pd

        from .codec import _concat_bufs, delta_decode_segmented, vb_decode_concat

        def unpack(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                deltas, counts = vb_decode_concat(*_concat_bufs(pdf["docs_vb"].to_numpy()))
                doc_ids = delta_decode_segmented(deltas, counts)
                yield pd.DataFrame(
                    {
                        "segment": np.repeat(pdf["segment"].to_numpy(), counts),
                        "tid": np.repeat(pdf["tid"].to_numpy(), counts),
                        "doc_id": doc_ids.astype(np.int64),
                    }
                )

        rows = (
            self.postings()
            .where(F.col("tid").isin(tids))
            .select("segment", "tid", "docs_vb")
            .mapInPandas(unpack, schema="segment string, tid long, doc_id long")
        )
        return self._live(rows).select("tid", "doc_id").distinct()

    def global_dict(self) -> DataFrame:
        """(tid, df, max_tf) across segments, as a cached Spark frame.

        Derived once per reader from posting-block *metadata* (n_docs /
        max_tf columns only — column pruning keeps the packed bytes out
        of the scan): block rows are corpus/block_size, and the agg
        output is vocab-sized. The query path reads df through
        :meth:`df_lookup`, which uses this frame only for an index whose
        segment dictionaries are too large to hold on the driver.
        """
        if self._dict_df is None:
            self._dict_df = (
                self.postings()
                .select("tid", "n_docs", "max_tf")
                .groupBy("tid")
                .agg(F.sum("n_docs").cast("long").alias("df"), F.max("max_tf").alias("max_tf"))
                .cache()
            )
            self._dict_df.count()  # materialize the cache eagerly
        return self._dict_df

    def term_strings(self) -> DataFrame:
        """(term, tid, df) — the string-keyed term dictionary for
        dictionary-walking ops (prefix/wildcard/regexp/fuzzy/suggest —
        reference surface §2.4).

        The UNION of every segment's build-time ``term_dict.parquet``
        merged by term — no corpus re-tokenize, and the per-segment
        scans stay range-sorted so a prefix filter pushes into each scan
        before the merge agg (plan-asserted). df sums per-segment
        build-time counts — Lucene semantics: tombstoned docs keep
        counting until their segment merges away. Built once per reader,
        like ``_union``'s relations."""
        out = self._relations.get("term_strings")
        if out is None:
            out = self._union("term_dict.parquet").groupBy("term").agg(
                F.sum("df").cast("long").alias("df"), F.first("tid").alias("tid")
            ).select("term", "tid", "df")
            self._relations["term_strings"] = out
        return out

    def _df_arrays(self) -> list[tuple[np.ndarray, np.ndarray]] | None:
        """Per served segment, its ``term_dict.parquet`` as two int64
        arrays (tids sorted, dfs summed over duplicate tids), loaded once
        per process per segment with no Spark job; None when they would
        take more than DRIVER_RESIDENT_MAX_BYTES (16 B per term per
        segment, from the manifests' term counts)."""
        if 16 * sum(m["term_count"] for m in self.manifests) > self.DRIVER_RESIDENT_MAX_BYTES:
            return None
        import pyarrow.parquet as pq

        out = []
        for key in self._seg_keys:
            st = _SEGMENTS.setdefault(key, {})
            if "df_arrays" not in st:
                t = pq.read_table(os.path.join(key[1], "term_dict.parquet"), columns=["tid", "df"])
                tids, inv = np.unique(t.column("tid").to_numpy().astype(np.int64), return_inverse=True)
                dfs = np.zeros(len(tids), dtype=np.int64)
                np.add.at(dfs, inv, t.column("df").to_numpy())
                st["df_arrays"] = (tids, dfs)
            out.append(st["df_arrays"])
        return out

    def df_lookup(self, tids: list[int]) -> dict[int, int]:
        """tid → document frequency, memoized driver-side.

        df is the sum of each served segment's build-time count from its
        ``term_dict.parquet``, probed by binary search in the driver-held
        arrays (:meth:`_df_arrays`): no Spark job. Lucene semantics:
        tombstoned docs keep counting until their segment merges away.
        An index whose dictionaries are too large for the driver reads
        the same counts from :meth:`global_dict`, one Spark job per new
        term set. The memo holds only queried tids — bounded by the query
        workload, not the vocabulary."""
        missing = [t for t in tids if t not in self._df_cache]
        if missing:
            arrays = self._df_arrays()
            if arrays is None:
                rows = self.global_dict().where(F.col("tid").isin(missing)).collect()
                found = {r["tid"]: int(r["df"]) for r in rows}
                counts = [found.get(t, 0) for t in missing]
            else:
                q = np.asarray(missing, dtype=np.int64)
                total = np.zeros(len(q), dtype=np.int64)
                for seg_tids, seg_dfs in arrays:
                    if not len(seg_tids):
                        continue
                    pos = np.minimum(np.searchsorted(seg_tids, q), len(seg_tids) - 1)
                    total += np.where(seg_tids[pos] == q, seg_dfs[pos], 0)
                counts = total.tolist()
            self._df_cache.update(zip(missing, counts))
        return {t: self._df_cache[t] for t in tids if self._df_cache.get(t, 0) > 0}

    # Above this many tombstones the driver-side dict path is refused
    # and scorers take the distributed sentinel-row join (a 10^9-delete
    # index must never collect its tombstones to the driver or ship
    # them inside task closures).
    TOMBSTONE_DICT_MAX = 100_000

    def _load_tombstones(self) -> None:
        """Fill the tombstone count and, under TOMBSTONE_DICT_MAX, the
        doc_id → upto_seg map. A table of at most TOMBSTONE_DICT_MAX raw
        rows (counted from parquet metadata) is read with pyarrow and
        max-merged per doc in numpy: no Spark job. A larger one takes one
        bounded collect of the merged Spark relation, and only a merged
        set over the threshold pays a separate ``count()``."""
        if self._tomb_count is not None:
            return
        p = os.path.join(self.root, "tombstones.parquet")
        if glob.glob(os.path.join(p, "*.parquet")):
            import pyarrow.dataset as ds

            d = ds.dataset(p, format="parquet")
            if d.count_rows() <= self.TOMBSTONE_DICT_MAX:
                t = d.to_table(columns=["doc_id", "upto_seg"])
                doc, upto = t.column("doc_id").to_numpy(), t.column("upto_seg").to_numpy()
                order = np.lexsort((-upto.astype(np.int64), doc))  # per doc, max upto_seg first
                docs, first = np.unique(doc[order], return_index=True)
                self._tomb_cache = dict(zip(docs.tolist(), upto[order][first].tolist()))
                self._tomb_count = len(self._tomb_cache)
                return
        t = self.tombstones()
        rows = t.limit(self.TOMBSTONE_DICT_MAX + 1).collect() if t is not None else []
        if len(rows) <= self.TOMBSTONE_DICT_MAX:
            self._tomb_cache = {r["doc_id"]: int(r["upto_seg"]) for r in rows}
            self._tomb_count = len(rows)
        else:
            self._tomb_count = int(t.count())

    def tombstones_count(self) -> int:
        """Cached tombstone row count (post doc-level max-merge)."""
        self._load_tombstones()
        return self._tomb_count

    def tombstones_map(self) -> dict[int, int]:
        """doc_id → upto_seg, memoized (invalidated by reopening the
        reader — writers create new readers after apply_changes).

        Guarded: only legal under TOMBSTONE_DICT_MAX — large delete sets
        must flow through :meth:`dead_sentinel_rows` (distributed join)
        instead of a driver dict captured in scorer closures."""
        self._load_tombstones()
        if self._tomb_cache is None:
            raise ValueError(
                f"{self._tomb_count} tombstones exceed the driver-dict "
                f"threshold ({self.TOMBSTONE_DICT_MAX}); use dead_sentinel_rows()"
            )
        return self._tomb_cache

    def dead_sentinel_rows(self) -> DataFrame | None:
        """Tombstones as postings-shaped sentinel rows (tid = -1,
        first_doc_id = dead doc_id), one per (segment it kills, shard) —
        unioned into the matched-postings frame so each shard scorer
        receives exactly its own dead set through the same shuffle that
        routes its postings. This is the scale path: the dead set never
        touches the driver and per-task memory is bounded by the shard's
        share of the deletes.

        Returns None when there are no tombstones."""
        t = self.tombstones()
        if t is None:
            return None
        segs = self.spark.createDataFrame(
            [(int(m["segment_id"]), int(m["n_shards"])) for m in self.manifests],
            "seg int, n_shards int",
        )
        dead = t.crossJoin(F.broadcast(segs)).where(F.col("seg") <= F.col("upto_seg"))
        return dead.select(
            F.col("seg").cast("string").alias("segment"),
            F.pmod("doc_id", F.col("n_shards")).cast("int").alias("shard"),
            F.lit(-1).cast("long").alias("tid"),
            F.col("doc_id").alias("first_doc_id"),
        )

    def tombstones(self) -> DataFrame | None:
        """(doc_id, upto_seg): the doc's postings in segments ≤ upto_seg
        are dead. Segment-scoped so an upsert's re-added doc (in a NEWER
        segment) stays live. Built once per reader, with the table's
        known schema (no inference job)."""
        if "tombstones" not in self._relations:
            p = os.path.join(self.root, "tombstones.parquet")
            t = None
            if glob.glob(os.path.join(p, "*.parquet")):
                t = self.spark.read.schema(_SCHEMAS["tombstones.parquet"]).parquet(p).groupBy(
                    "doc_id").agg(F.max("upto_seg").alias("upto_seg"))
            self._relations["tombstones"] = t
        return self._relations["tombstones"]
