"""Block-max WAND BM25 top-k over the packed posting index, and the one
query executor every postings query (match, msearch, phrase) runs on.

Execution plan (SURVEY.md §3.3 "Spark shape"):

1. The caller analyzes the query with the index analyzer, hashes its
   terms and looks up each term's global df in the driver-held segment
   dictionaries (``reader.df_lookup``, no Spark job) → driver-side idf
   map. It binds the query into one
   kernel, ``kernel(pdf, dead_upto) -> (doc_id, raw)``, and hands
   ``_execute`` that df map and the columns the kernel reads.
2. ``_execute`` estimates the query's bytes as Σ df × bytes/posting
   (exact manifest counters, so long-document corpora trip to the
   distributed routes earlier), picks the tombstone mode — small
   delete sets reach the kernel as the ``dead_upto`` dict; large ones
   ride the postings as ``tid = -1`` sentinel rows and never touch the
   driver — and runs the kernel on one of four routes, each written
   once:

   - resident-driver: slice the serving session's driver-side copy
     (``_driver_matched``), zero Spark jobs;
   - pull-driver: with no resident copy, read the matched postings
     from the segment files with pyarrow (``reader.arrow_postings``),
     zero Spark jobs. The tid filter scans every row group's tid column
     (postings files are hash-partitioned by tid, so row-group min/max
     statistics prune nothing);
   - residency ``mapInPandas``: with serving open, every cached
     partition holds complete (segment, shard) groups, so the kernel
     runs once per partition with no Exchange and no per-query Sort;
   - ``groupBy(segment, shard).applyInPandas``: the fallback over a
     raw scan, or with sentinel rows unioned in.

   A kernel input may hold several (segment, shard) groups plus
   sentinel rows; ``_live_groups`` turns them into per-group dead
   sets. A doc lives in exactly one shard (shard = doc_id % n_shards),
   so a per-unit top-k is enough for the global top-k: at 10^12 docs a
   head term's postings never converge on one task.
3. Driver routes return a driver-local pandas frame, distributed ones
   a Spark frame. ``_top`` turns either into the result frame, ranked
   by ``round(score, 6) DESC, doc_id ASC`` (deterministic tie-break,
   SURVEY.md §4.4): driver rows on the driver, rounded by
   ``scoring.round_score`` (Spark's ``F.round`` bit for bit) and
   shipped in one ``createDataFrame``, Spark rows with ``F.round`` and
   a Spark ORDER BY + LIMIT. A result never depends on the route that
   produced it.

One match kernel, ``_score_matched_driver``: per segment, one vectorized
varbyte decode per term and a bincount group-sum. ``OR_KERNEL = "wand"``
swaps its OR top-k for the block-max WAND traversal (``_wand_or``):
WAND pivoting on per-term score upper bounds with a block-max
refinement — a candidate is fully scored only if the Σ of its lists'
*current-block* upper bounds can still beat the heap threshold. Block
UBs come from per-block ``(max_tf, min_dl)`` packed at build time
(index/codec.py), so they remain valid upper bounds when global avgdl
drifts after incremental updates.

Reference parity: reproduces the `match` query semantics of
vendor/gopkg.in/olivere/elastic.v3/search_queries_match.go:16-214
(operator OR/AND, minimum_should_match) with Lucene BM25 scoring.
"""

from __future__ import annotations

import heapq
import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..index.codec import unpack_block, unpack_blocks_batch
from ..index.reader import IndexReader
from .scoring import ROUND_DIGITS, analyze_query, idf as _idf, round_score, tfpart

# Heap scores are rounded to ROUND_DIGITS so the shard-local comparator
# matches the global one exactly; the pruning slack must therefore cover
# the rounding step (raw UB >= raw score >= rounded score - 5e-7).
_EPS = 1e-6
_INF = np.iinfo(np.int64).max

_HITS_SCHEMA = "doc_id long, raw double"
_RESULT_SCHEMA = "doc_id long, score double"
# reader.dead_sentinel_rows: a postings-shaped row whose first_doc_id is
# a doc that is dead in the row's (segment, shard)
_SENTINEL_TID = -1


def _empty_result(spark: SparkSession) -> DataFrame:
    """Zero-hit result, with the result schema (nullable columns). An
    always-false filter folds it to an empty local relation, whose
    ``collect()`` runs no Spark job; an empty ``createDataFrame`` runs
    one. Built only on the branch that returns it."""
    fields = (f.split() for f in _RESULT_SCHEMA.split(","))
    cols = ", ".join(f"CAST(NULL AS {t}) AS {c}" for c, t in fields)
    return spark.sql(f"SELECT {cols} WHERE false")


# Block-decode telemetry: blocks SEEN by cursors vs blocks actually
# DECODED. The gap is block-max WAND's value proposition (skipped
# blocks are skipped varbyte decodes + skipped scoring); the pruning
# test asserts the gap exists on a skewed corpus. Two int increments
# per block event — measurement, not overhead.
DECODE_STATS = {"decoded": 0, "blocks": 0}


class _TermIter:
    """Cursor over one (term, segment, shard) sub-list: lazily decodes
    blocks, exposes next_geq / block-max upper bounds."""

    __slots__ = ("idf", "firsts", "lasts", "max_tfs", "min_dls", "packs",
                 "bi", "pi", "docs", "tfs", "dls", "avgdl", "k1", "b", "global_ub")

    def __init__(self, idf_val: float, g: pd.DataFrame, avgdl: float, k1: float, b: float):
        self.idf, self.avgdl, self.k1, self.b = idf_val, avgdl, k1, b
        order = np.argsort(g["first_doc_id"].to_numpy())
        self.firsts = g["first_doc_id"].to_numpy()[order]
        self.lasts = g["last_doc_id"].to_numpy()[order]
        self.max_tfs = g["max_tf"].to_numpy()[order]
        self.min_dls = g["min_dl"].to_numpy()[order]
        packs = list(zip(g["docs_vb"], g["tfs_vb"], g["dls_vb"]))
        self.packs = [packs[i] for i in order]
        self.global_ub = idf_val * float(
            np.max(tfpart(self.max_tfs.astype(np.float64), self.min_dls.astype(np.float64), avgdl, self.k1, self.b))
        )
        self.bi = -1
        DECODE_STATS["blocks"] += len(self.packs)
        self._load(0)

    def _load(self, bi: int) -> None:
        if bi >= len(self.packs):
            self.bi = len(self.packs)
            self.docs = None
            return
        if bi != self.bi:
            self.bi = bi
            DECODE_STATS["decoded"] += 1
            d, t, l = unpack_block(*self.packs[bi])
            self.docs = d.astype(np.int64)
            self.tfs = t.astype(np.float64)
            self.dls = l.astype(np.float64)
        self.pi = 0

    @property
    def exhausted(self) -> bool:
        return self.docs is None

    def cur_doc(self) -> int:
        return _INF if self.docs is None else int(self.docs[self.pi])

    def block_ub(self) -> float:
        if self.docs is None:
            return 0.0
        return self.idf * tfpart(float(self.max_tfs[self.bi]), float(self.min_dls[self.bi]), self.avgdl, self.k1, self.b)

    def cur_score(self) -> float:
        return self.idf * tfpart(self.tfs[self.pi], self.dls[self.pi], self.avgdl, self.k1, self.b)

    def advance(self) -> None:
        self.pi += 1
        if self.pi >= len(self.docs):
            self._load(self.bi + 1)

    def next_geq(self, target: int) -> None:
        if self.docs is None:
            return
        if target > int(self.lasts[self.bi]):
            nbi = int(np.searchsorted(self.lasts, target, side="left"))
            self._load(nbi)
            if self.docs is None:
                return
        self.pi = int(np.searchsorted(self.docs, target, side="left"))
        if self.pi >= len(self.docs):  # can happen only via direct advance
            self._load(self.bi + 1)


def _wand_or(lists: list[_TermIter], k: int, min_should: int,
             dead: frozenset) -> tuple[np.ndarray, np.ndarray]:
    heap: list[tuple[float, int]] = []  # (score, -doc_id) min-heap
    while True:
        live = [L for L in lists if not L.exhausted]
        if not live:
            break
        live.sort(key=lambda L: L.cur_doc())
        theta = heap[0][0] if len(heap) >= k else -math.inf
        # pivot: first list where cumulative global UB could beat theta
        acc = 0.0
        pivot_idx = -1
        for i, L in enumerate(live):
            acc += L.global_ub
            if acc + _EPS >= theta:
                pivot_idx = i
                break
        if pivot_idx < 0:
            break
        pivot_doc = live[pivot_idx].cur_doc()
        if pivot_doc == _INF:
            break
        if live[0].cur_doc() == pivot_doc:
            at = [L for L in live if L.cur_doc() == pivot_doc]
            block_acc = sum(L.block_ub() for L in at)
            if (block_acc + _EPS >= theta) and len(at) >= min_should and pivot_doc not in dead:
                score = round_score(sum(L.cur_score() for L in at))
                if len(heap) < k:
                    heapq.heappush(heap, (score, -pivot_doc))
                elif (score, -pivot_doc) > heap[0]:
                    heapq.heapreplace(heap, (score, -pivot_doc))
            for L in at:
                L.advance()
        else:
            for L in live[:pivot_idx]:
                if L.cur_doc() < pivot_doc:
                    L.next_geq(pivot_doc)
    return (np.array([-nd for _s, nd in heap], dtype=np.int64),
            np.array([s for s, _nd in heap], dtype=np.float64))


# "vectorized" (default) or "wand" — per-process override for
# measurement and for corpora where block skipping genuinely wins.
# Read once per query on the driver and bound into its kernel, so every
# route runs the same traversal.
OR_KERNEL = "vectorized"


_TID_CACHE: dict[str, int] = {}


def term_ids(spark: SparkSession, terms: list[str]) -> dict[str, int]:
    """term → xxhash64 tid, exactly as the build's ``F.xxhash64(term)``
    computes it: Spark's own XXH64 (seed 42, the expression's default)
    over the term's UTF-8 bytes, called through the JVM gateway — no
    Spark job. Memoized per term."""
    missing = [t for t in terms if t not in _TID_CACHE]
    if missing:
        jvm = spark.sparkContext._jvm
        # the instance form: py4j cannot pick the static overload when
        # an instance method shares its name
        xxh = jvm.org.apache.spark.sql.catalyst.expressions.XXH64(42)
        offset = jvm.org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET
        for t in missing:
            raw = t.encode("utf-8")
            _TID_CACHE[t] = xxh.hashUnsafeBytes(raw, offset, len(raw))
    return {t: _TID_CACHE[t] for t in terms}


def _live_groups(pdf: pd.DataFrame, dead_upto: dict[int, int], keys: list[str]):
    """Yield ``(rows, dead)`` for each ``keys`` group of a kernel input:
    its postings rows and the doc ids dead in it. Tombstones are
    segment-scoped — a doc is dead in a group iff its tombstone covers
    the group's segment (an upsert re-adds it live in a newer segment).
    Small delete sets arrive as the ``dead_upto`` dict; large ones as the
    group's own sentinel rows, routed by the same shuffle as its
    postings."""
    sent = pdf["tid"].to_numpy() == _SENTINEL_TID
    sentinels = {}
    if sent.any():
        sentinels = {key: frozenset(g["first_doc_id"].astype("int64"))
                     for key, g in pdf[sent].groupby(keys, sort=False)}
        pdf = pdf[~sent]
    for key, g in pdf.groupby(keys, sort=False):
        seg = int(key[0])
        dead = frozenset(d for d, u in dead_upto.items() if seg <= u)
        yield g, dead | sentinels.get(key, frozenset())


def _hits_frame(docs: list[np.ndarray], raw: list[np.ndarray]) -> pd.DataFrame:
    """Kernel output ``(doc_id, raw)`` from per-unit arrays."""
    return pd.DataFrame({"doc_id": np.concatenate([np.empty(0, np.int64), *docs]),
                         "raw": np.concatenate([np.empty(0, np.float64), *raw])})


def _score_matched_driver(
    pdf: pd.DataFrame,
    idfs: dict[int, float],
    avgdl: float,
    k: int,
    mode: str,
    min_should: int,
    dead_upto: dict[int, int],
    n_terms: int,
    return_all: bool,
    k1: float,
    b: float,
    or_kernel: str = "vectorized",
) -> pd.DataFrame:
    """The match kernel, on every route (bound by ``_match_kernel``).

    Vectorized at SEGMENT level (r6, guide §1.2 per-task work): shard
    grouping is a *distribution* concern; the scoring math only needs
    per-SEGMENT doc spaces (tombstones are segment-scoped, and a doc
    lives in exactly one shard, so segment-level intersection /
    group-sum computes the same result as per-(segment, shard) units).
    Each (segment, term)'s blocks decode in ONE vectorized pass and
    score with a handful of numpy ops; per-term scores are summed per
    doc in tid-sorted order, rounded, and cut to the unit's top-k with
    the global (rounded score DESC, doc ASC) comparator, which commutes
    with the final global sort (asserted by tests/test_routes.py and the
    oracle gate). ``or_kernel = "wand"`` runs OR top-k as block-max
    WAND instead, which is per-cursor and so per (segment, shard)."""
    out_docs, out_scores = [], []
    if or_kernel == "wand" and mode != "and" and not return_all:
        for g, dead in _live_groups(pdf, dead_upto, ["segment", "shard"]):
            lists = [_TermIter(idfs[tid], tg, avgdl, k1, b) for tid, tg in g.groupby("tid", sort=True)]
            docs, scores = _wand_or(lists, k, min_should, dead)
            out_docs.append(docs)
            out_scores.append(scores)
        return _hits_frame(out_docs, out_scores)

    for sdf, dead in _live_groups(pdf, dead_upto, ["segment"]):
        per_tid: list[tuple[np.ndarray, np.ndarray]] = []  # tid-sorted
        for tid, g in sdf.groupby("tid", sort=True):
            d, t, l, _ = unpack_blocks_batch(
                g["docs_vb"].to_numpy(), g["tfs_vb"].to_numpy(), g["dls_vb"].to_numpy()
            )
            s = idfs[int(tid)] * tfpart(
                t.astype(np.float64), l.astype(np.float64), avgdl, k1, b
            )
            per_tid.append((d.astype(np.int64), s))
        if mode == "and" and len(per_tid) < n_terms:
            continue
        # AND = "present in every list" = per-doc term count == n_terms
        # with the same tid-ordered score sum; OR keeps min_should.
        required = n_terms if mode == "and" else min_should
        if len(per_tid) == 1:
            # single-term fast path: docs are unique within the segment
            # already — no group-sum (head-term queries decode+score in
            # a handful of linear passes)
            if required > 1:
                continue
            docs, scores = per_tid[0]
        else:
            docs_cat = np.concatenate([d for d, _s in per_tid])
            score_cat = np.concatenate([s for _d, s in per_tid])
            lo = docs_cat.min()
            span = int(docs_cat.max() - lo) + 1
            if span <= 8 * docs_cat.size:
                # dense doc-id range: direct bincount — no unique-sort.
                # bincount(weights) accumulates out[key[i]] += w[i] in
                # input order, so per-doc float sums follow the
                # tid-sorted term order on every route.
                keys = docs_cat - lo
                counts = np.bincount(keys, minlength=span)
                sums = np.bincount(keys, weights=score_cat, minlength=span)
                nz = np.flatnonzero(counts >= required)
                docs, scores = nz + lo, sums[nz]
            else:
                # sparse ids (scale path): sort-based grouping
                uniq, inv = np.unique(docs_cat, return_inverse=True)
                sums = np.bincount(inv, weights=score_cat)
                keep = np.bincount(inv) >= required
                docs, scores = uniq[keep], sums[keep]
        if dead and docs.size:
            live = ~np.isin(docs, np.fromiter(dead, dtype=np.int64))
            docs, scores = docs[live], scores[live]
        scores = round_score(scores)
        if not return_all and docs.size > k:
            # top-k partition → k-th score as threshold → deterministic
            # (score DESC, doc ASC) order among everything >= it
            thresh = scores[np.argpartition(-scores, k - 1)[:k]].min()
            sel = np.flatnonzero(scores >= thresh)
            docs, scores = docs[sel], scores[sel]
            order = np.lexsort((docs, -scores))[:k]
            docs, scores = docs[order], scores[order]
        out_docs.append(docs)
        out_scores.append(scores)
    return _hits_frame(out_docs, out_scores)


def _match_kernel(reader: IndexReader, idfs: dict[int, float], k: int, mode: str,
                  min_should: int, n_terms: int, return_all: bool):
    """Bind one match query into ``kernel(pdf, dead_upto)``."""
    avgdl, k1, b = reader.avgdl, reader.settings["bm25_k1"], reader.settings["bm25_b"]
    or_kernel = OR_KERNEL

    def kernel(pdf: pd.DataFrame, dead_upto: dict[int, int]) -> pd.DataFrame:
        return _score_matched_driver(pdf, idfs, avgdl, k, mode, min_should, dead_upto,
                                     n_terms, return_all, k1, b, or_kernel)

    return kernel


# Columns the match scorer consumes (positional payload excluded — it
# must stay out of the scan/pull, guide §2.3 project-before-exchange).
_MATCH_COLS = [
    "segment", "shard", "tid", "first_doc_id", "last_doc_id",
    "n_docs", "max_tf", "min_dl", "docs_vb", "tfs_vb", "dls_vb",
]


def _driver_matched(reader: IndexReader, tids: list[int], cols: list[str]):
    """Matched postings sliced from the serving session's driver-side
    residency (reader.driver_postings) — zero Spark jobs — or None when
    no serving copy is held (closed serving / over the byte cap), in
    which case ``_execute`` reads them with ``reader.arrow_postings``.
    Same rows, columns and dtypes as that read. The copy is sorted by
    tid, so each requested tid is one ``[searchsorted left, right)`` row
    range: O(matched), not a scan of the copy."""
    dp = reader.driver_postings()
    if dp is None:
        return None
    col = dp["tid"].to_numpy()
    q = np.unique(np.asarray(tids, dtype=np.int64))
    lo, hi = np.searchsorted(col, q, "left"), np.searchsorted(col, q, "right")
    n = hi - lo
    # row i of the slice is lo[range of i] + its offset within that range
    rows = np.repeat(lo - np.cumsum(n) + n, n) + np.arange(n.sum())
    return dp.iloc[rows][cols]


# At or below this many estimated packed BYTES a query runs on a driver
# route: the matched blocks come to the coordinator (resident slice or
# Arrow read — no Spark job, no Python workers) and the kernel runs
# there — the classic search-head serving path. Above it, the
# shard-parallel distributed routes take over (the 10^12-doc regime,
# where a head term's postings must never converge on one node). Every
# route runs the same kernel, so the cutover never changes a result.
DRIVER_PATH_MAX_BYTES = 16 * 1024 * 1024


def _execute(spark: SparkSession, reader: IndexReader, dfs: dict[int, int], cols: list[str],
             kernel, strategy: str = "auto",
             residency_first: bool = False, schema: str = _HITS_SCHEMA):
    """Run ``kernel(pdf, dead_upto)`` over the postings of the tids in
    ``dfs`` (tid → df; the ``cols`` the kernel reads) and return its
    rows: a driver-local pandas frame on the driver routes, a Spark
    frame of ``schema`` on the distributed ones. ``strategy``: 'auto'
    (cutover on the estimate Σ df × ``reader.bytes_per_posting``),
    'driver' or 'distributed'; ``residency_first`` makes 'auto' pick the
    residency when serving is open and the estimate exceeds one serving
    partition's budget (``reader.SERVING_PART_BYTES``) — the phrase
    policy. Below it the postings would fill at most one partition, so
    partition parallelism cannot pay back a Spark job.

    The driver routes run no Spark job: their postings are the resident
    copy's slice (``_driver_matched``) or, with none held, a pyarrow read
    (``reader.arrow_postings``)."""
    tids = list(dfs)
    est_bytes = sum(dfs.values()) * reader.bytes_per_posting
    # Tombstone mode: small delete sets ride the kernel call as a dict;
    # past the threshold they are unioned into the shard groups as
    # sentinel rows — never collected to the driver.
    big_tombs = reader.tombstones_count() > reader.TOMBSTONE_DICT_MAX
    dead_upto = {} if big_tombs else reader.tombstones_map()
    residency = residency_first and reader.serving_open and est_bytes > reader.SERVING_PART_BYTES
    use_driver = not big_tombs and (
        strategy == "driver"
        or (strategy == "auto" and est_bytes <= DRIVER_PATH_MAX_BYTES and not residency)
    )
    if use_driver:
        pdf = _driver_matched(reader, tids, cols)
        if pdf is None:
            pdf = reader.arrow_postings(tids, cols)
        return kernel(pdf, dead_upto)
    matched = reader.postings().where(F.col("tid").isin(tids)).select(*cols)
    if reader.serving_open and not big_tombs:
        # Every cached partition holds COMPLETE (segment, shard) groups
        # (the residency's hash repartition is the guarantee), so the
        # kernel runs once per partition: no per-query local Sort as the
        # FlatMapGroupsInPandas plan needs, no per-group Arrow framing.
        # Sentinel rows would break that co-partitioning, and a raw scan
        # splits groups across partitions: both take groupBy below.
        def run_partition(batches):
            parts = [p for p in batches if len(p)]
            if parts:
                yield kernel(parts[0] if len(parts) == 1 else pd.concat(parts, ignore_index=True),
                             dead_upto)

        return matched.mapInPandas(run_partition, schema=schema)
    if big_tombs:
        matched = matched.unionByName(reader.dead_sentinel_rows(), allowMissingColumns=True)
    return matched.groupBy("segment", "shard").applyInPandas(
        lambda pdf: kernel(pdf, dead_upto), schema=schema
    )


def _query_terms(query: str | list[str], pattern: str) -> list[str]:
    if not isinstance(query, str):
        return list(dict.fromkeys(query))
    return analyze_query(query, pattern)


def _top(spark: SparkSession, hits: pd.DataFrame | DataFrame, k: int | None) -> DataFrame:
    """Kernel rows ``(doc_id, raw)`` → the result frame ``(doc_id,
    score)``: scores rounded, ranked by (score DESC, doc_id ASC) and cut
    to the top ``k``. Driver-local rows rank on the driver (one
    ``createDataFrame``), Spark rows take Spark's global sort. With
    ``k=None`` every row is returned, unordered on the distributed
    routes: compound queries (query/ast.py) re-rank after their joins
    and unions, so a range-partition shuffle there would be pure waste
    (each AST leaf would pay a corpus-wide sorted shuffle whose order
    the next join destroys)."""
    if isinstance(hits, pd.DataFrame):
        out = pd.DataFrame({"doc_id": hits["doc_id"].astype("int64"),
                            "score": round_score(hits["raw"].to_numpy())})
        out = out.sort_values(["score", "doc_id"], ascending=[False, True])
        return spark.createDataFrame(out if k is None else out.head(k), schema=_RESULT_SCHEMA)
    out = hits.select("doc_id", F.round("raw", ROUND_DIGITS).alias("score"))
    return out if k is None else out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def bm25_topk_batch(
    spark: SparkSession,
    reader: IndexReader,
    queries: list[tuple[str | list[str], str]],
    k: int = 10,
) -> list[DataFrame]:
    """msearch economics (msearch.go): N sub-queries, ONE postings
    read. The union of every sub-query's terms filters a single read,
    and one batch kernel scores every sub-query against its slice
    of each unit, tagging hits with ``qid``; the route is chosen exactly
    as for one query, over the union's byte estimate. The kernel output
    (≤ units × queries × k rows) is then brought to the driver and each
    sub-query ranked locally, so all N results cost one postings scan
    (plan-asserted: tests/test_plans.py::
    test_msearch_distributed_single_postings_scan) and nothing persists
    in executor memory afterwards."""
    specs = [(_query_terms(q, reader.settings["token_pattern"]), mode) for q, mode in queries]
    all_terms = list(dict.fromkeys(t for terms, _ in specs for t in terms))
    if not all_terms:
        return [_empty_result(spark) for _ in specs]
    tids = term_ids(spark, all_terms)
    dfs = reader.df_lookup(list(tids.values()))
    idfs = {t: _idf(reader.n_docs, d) for t, d in dfs.items()}
    kernels = {}  # qid → (tids kept for it, its match kernel); only specs that can hit
    for qid, (terms, mode) in enumerate(specs):
        q_tids = [tids[t] for t in terms if tids.get(t) in dfs]
        if q_tids and not (mode == "and" and len(q_tids) < len(terms)):
            kernels[qid] = ([*q_tids, _SENTINEL_TID],
                            _match_kernel(reader, idfs, k, mode, 1, len(terms), False))
    if not kernels:
        return [_empty_result(spark) for _ in specs]

    def batch_kernel(pdf: pd.DataFrame, dead_upto: dict[int, int]) -> pd.DataFrame:
        frames = [kern(pdf[pdf["tid"].isin(keep)], dead_upto).assign(qid=np.int32(qid))
                  for qid, (keep, kern) in kernels.items()]
        return pd.concat(frames, ignore_index=True)[["qid", "doc_id", "raw"]]

    hits = _execute(spark, reader, dfs, _MATCH_COLS, batch_kernel,
                    schema="qid int, doc_id long, raw double")
    if isinstance(hits, DataFrame):
        hits = hits.toPandas()  # bounded: ≤ units × queries × k rows
    return [_top(spark, hits[hits["qid"] == qid], k) if qid in kernels else _empty_result(spark)
            for qid in range(len(specs))]


def bm25_topk(
    spark: SparkSession,
    reader: IndexReader,
    query: str | list[str],
    k: int = 10,
    mode: str = "or",
    min_should: int = 1,
    return_all: bool = False,
    strategy: str = "auto",
) -> DataFrame:
    """BM25 top-k → DataFrame(doc_id, score) deterministically ordered.

    ``return_all`` skips the final LIMIT (used by phrase verification
    and bool composition, which post-filter then re-rank).
    ``strategy``: 'auto' (byte-estimate choice), 'driver', or 'distributed'.
    """
    terms = _query_terms(query, reader.settings["token_pattern"])
    if not terms:
        return _empty_result(spark)
    tids = term_ids(spark, terms)
    dfs = reader.df_lookup(list(tids.values()))
    if not dfs or (mode == "and" and len(dfs) < len(terms)):
        return _empty_result(spark)
    idfs = {t: _idf(reader.n_docs, d) for t, d in dfs.items()}
    kernel = _match_kernel(reader, idfs, k, mode, min_should, len(terms), return_all)
    hits = _execute(spark, reader, dfs, _MATCH_COLS, kernel, strategy)
    return _top(spark, hits, None if return_all else k)
