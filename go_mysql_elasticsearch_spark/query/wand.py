"""Block-max WAND BM25 top-k over the packed posting index.

Execution plan (SURVEY.md §3.3 "Spark shape"):

1. Analyze the query with the index analyzer; look up each term's
   global df in the (tiny) term dictionary → driver-side idf map.
2. Scan only matched postings: ``postings.where(term.isin(q))`` —
   the term filter is pushed into the parquet scan (files are sorted
   by term, so row-group min/max stats prune).
3. ``groupBy(segment, shard).applyInPandas(wand)`` — each group holds
   *all* query terms' sub-lists for one disjoint slice of the doc
   space (shard = doc_id % n_shards), so a shard-local top-k is
   sufficient: any global top-k doc is in its shard's local top-k.
   This is what makes the query scale: at 10^12 docs a head term's
   postings never converge on one task; WAND runs on n_segments ×
   n_shards tasks in parallel.
4. Union of shard top-ks → global ``ORDER BY round(score,6) DESC,
   doc_id ASC LIMIT k`` (deterministic tie-break, SURVEY.md §4.4).

The traversal is the real thing: WAND pivoting on per-term score
upper bounds with a block-max refinement — a candidate is fully
scored only if the Σ of its lists' *current-block* upper bounds can
still beat the heap threshold. Block UBs come from per-block
``(max_tf, min_dl)`` packed at build time (index/codec.py), so they
remain valid upper bounds when global avgdl drifts after incremental
updates.

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
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from ..index.codec import unpack_block, unpack_blocks_batch
from ..index.reader import IndexReader
from .scoring import ROUND_DIGITS, analyze_query, idf as _idf, tfpart

# Heap scores are rounded to ROUND_DIGITS so the shard-local comparator
# matches the global one exactly; the pruning slack must therefore cover
# the rounding step (raw UB >= raw score >= rounded score - 5e-7).
_EPS = 1e-6
_INF = np.iinfo(np.int64).max

_TOPK_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("raw", DoubleType())]
)
_RESULT_SCHEMA = "doc_id long, score double"


def _empty_result(spark: SparkSession) -> DataFrame:
    """Zero-hit result. Built only on the branch that returns it: each
    ``createDataFrame`` costs driver time even when unused."""
    return spark.createDataFrame([], _RESULT_SCHEMA)


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

    def __init__(self, idf_val: float, g: pd.DataFrame, avgdl: float,
                 k1: float = None, b: float = None):
        from ..analyzer import BM25_B, BM25_K1

        self.idf = idf_val
        self.avgdl = avgdl
        self.k1 = BM25_K1 if k1 is None else k1
        self.b = BM25_B if b is None else b
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

    def decode_all(self) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        # batch path: ONE vectorized varbyte pass over the whole
        # sub-list (per-block decode paid ~50 us numpy call overhead
        # per 128-posting block — dominant at head-term dfs)
        d, t, l, _ = unpack_blocks_batch(
            [p[0] for p in self.packs], [p[1] for p in self.packs], [p[2] for p in self.packs]
        )
        return d.astype(np.int64), t.astype(np.float64), l.astype(np.float64)


def _wand_or(lists: list[_TermIter], k: int, min_should: int, dead: frozenset) -> list[tuple[int, float]]:
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
                score = round(sum(L.cur_score() for L in at), ROUND_DIGITS)
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
    return [(-nd, s) for s, nd in heap]


def _or_arrays(lists: list[_TermIter], min_should: int, dead: frozenset):
    """Vectorized exhaustive OR: decode everything (numpy varbyte,
    ~10^8 postings/s), group-sum per doc. Returns (docs, scores)."""
    docs_cat, score_cat = [], []
    for L in lists:
        d, t, l = L.decode_all()
        docs_cat.append(d)
        score_cat.append(L.idf * tfpart(t, l, L.avgdl, L.k1, L.b))
    docs_cat = np.concatenate(docs_cat)
    score_cat = np.concatenate(score_cat)
    uniq, inv = np.unique(docs_cat, return_inverse=True)
    sums = np.zeros(uniq.size, dtype=np.float64)
    np.add.at(sums, inv, score_cat)
    keep = np.bincount(inv) >= min_should
    if dead:
        keep &= ~np.isin(uniq, np.fromiter(dead, dtype=np.int64))
    return uniq[keep], np.round(sums[keep], ROUND_DIGITS)


def _or_full(lists: list[_TermIter], min_should: int, dead: frozenset) -> list[tuple[int, float]]:
    """Exhaustive OR evaluation (return_all path for compound-query
    composition)."""
    docs, scores = _or_arrays(lists, min_should, dead)
    return list(zip(docs.tolist(), scores.tolist()))


def _or_topk_vectorized(lists: list[_TermIter], k: int, min_should: int,
                        dead: frozenset) -> list[tuple[int, float]]:
    """Top-k OR via the vectorized kernel + argpartition select —
    identical scores/ranking to block-max WAND (same math, same
    rounding; asserted by tests), ~100x faster than the per-posting
    Python traversal whenever pruning can't skip most blocks (head
    terms, clustered doc lengths). WAND (_wand_or) remains the
    traversal of record for the regime where block skipping pays —
    selectable via OR_KERNEL for measurement."""
    docs, scores = _or_arrays(lists, min_should, dead)
    if docs.size > k:
        # top-k partition → k-th score as threshold → deterministic
        # (score DESC, doc ASC) order among everything >= it (ties kept)
        thresh = scores[np.argpartition(-scores, k - 1)[:k]].min()
        sel = np.flatnonzero(scores >= thresh)
        docs, scores = docs[sel], scores[sel]
    order = np.lexsort((docs, -scores))[:k]
    return list(zip(docs[order].tolist(), scores[order].tolist()))


# "vectorized" (default) or "wand" — per-process override for
# measurement and for corpora where block skipping genuinely wins.
OR_KERNEL = "vectorized"


def _and_intersect(lists: list[_TermIter], n_terms: int, k: int, dead: frozenset,
                   return_all: bool) -> list[tuple[int, float]]:
    """Conjunctive mode: vectorized multi-way intersection + score."""
    if len(lists) < n_terms:
        return []  # some query term has no postings in this shard
    decoded = [L.decode_all() for L in lists]
    inter = decoded[0][0]
    for d, _, _ in decoded[1:]:
        inter = inter[np.isin(inter, d, assume_unique=True)]
        if inter.size == 0:
            return []
    if dead:
        inter = inter[~np.isin(inter, np.fromiter(dead, dtype=np.int64))]
    scores = np.zeros(inter.size, dtype=np.float64)
    for L, (d, t, l) in zip(lists, decoded):
        pos = np.searchsorted(d, inter)
        scores += L.idf * tfpart(t[pos], l[pos], L.avgdl, L.k1, L.b)
    scores = np.round(scores, ROUND_DIGITS)
    if return_all or inter.size <= k:
        return list(zip(inter.tolist(), scores.tolist()))
    top = np.lexsort((inter, -scores))[:k]
    return list(zip(inter[top].tolist(), scores[top].tolist()))


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


def _make_group_scorer(idfs: dict[int, float], avgdl: float, k: int, mode: str,
                       min_should: int, dead_upto: dict[int, int], n_terms: int,
                       return_all: bool = False, k1: float = None, b: float = None):
    def score_group(pdf: pd.DataFrame) -> pd.DataFrame:
        # segment-scoped tombstones: a doc is dead in THIS group iff its
        # tombstone covers this group's segment (upsert re-adds live in
        # newer segments). Small delete sets arrive via the dead_upto
        # closure dict; large ones arrive as tid = -1 sentinel rows
        # unioned into this group's frame (reader.dead_sentinel_rows) so
        # the driver never materializes them.
        seg = int(pdf["segment"].iloc[0])
        sent = pdf["tid"].to_numpy() == -1
        dead = frozenset(d for d, u in dead_upto.items() if seg <= u)
        if sent.any():
            dead = dead | frozenset(pdf.loc[sent, "first_doc_id"].astype("int64"))
            pdf = pdf[~sent]
            if not len(pdf):
                return pd.DataFrame({"doc_id": pd.Series(dtype="int64"),
                                     "raw": pd.Series(dtype="float64")})
        lists = [
            _TermIter(idfs[tid], g, avgdl, k1, b)
            for tid, g in pdf.groupby("tid", sort=True)
        ]
        if mode == "and":
            hits = _and_intersect(lists, n_terms, k, dead, return_all)
        elif return_all:
            hits = _or_full(lists, min_should, dead)
        elif OR_KERNEL == "wand":
            hits = _wand_or(lists, k, min_should, dead)
        else:
            hits = _or_topk_vectorized(lists, k, min_should, dead)
        return pd.DataFrame(hits, columns=["doc_id", "raw"]).astype(
            {"doc_id": "int64", "raw": "float64"}
        )

    return score_group


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
    k1: float | None,
    b: float | None,
) -> pd.DataFrame:
    """Driver-path scorer, vectorized at SEGMENT level (r6, guide §1.2
    per-task work): the per-(segment, shard) loop existed to share code
    with the distributed scorer, but on the driver it decomposed every
    query into n_shards tiny numpy calls — profiled at ~0.5M Python
    function calls / 0.17 s per 640k-doc OR query, dominated by
    per-group varbyte decode (576 calls) and pandas groupby overhead.
    Shard grouping is a *distribution* concern; the scoring math only
    needs per-SEGMENT doc spaces (tombstones are segment-scoped, and a
    doc lives in exactly one shard, so segment-level intersection /
    group-sum computes the identical result). This kernel decodes each
    (segment, term)'s blocks in ONE vectorized pass and scores with a
    handful of numpy ops.

    Bit-identical to concatenating the per-group scorer's frames: the
    per-doc float addition order is unchanged (terms in tid-sorted
    order, one posting per term per doc), tfpart/idf are elementwise,
    the same rounding is applied at the same point, and per-unit top-k
    with the same (rounded score DESC, doc ASC) comparator commutes
    with the final global sort (asserted by tests/test_wand.py
    driver/distributed equality and the oracle gate)."""
    from ..analyzer import BM25_B, BM25_K1

    if OR_KERNEL == "wand" and mode != "and" and not return_all:
        # block-max WAND stays selectable as the traversal of record
        # (block-skipping regime / measurement); it is inherently
        # per-cursor, so it keeps the per-(segment, shard) group loop
        scorer = _make_group_scorer(
            idfs, avgdl, k, mode, min_should, dead_upto, n_terms, return_all, k1, b
        )
        frames = [scorer(g) for _, g in pdf.groupby(["segment", "shard"], sort=False)]
        if not frames:
            return pd.DataFrame({"doc_id": pd.Series(dtype="int64"),
                                 "raw": pd.Series(dtype="float64")})
        return pd.concat(frames, ignore_index=True)

    k1 = BM25_K1 if k1 is None else k1
    b = BM25_B if b is None else b
    out_docs, out_scores = [], []
    for seg, sdf in pdf.groupby("segment", sort=False):
        seg_i = int(seg)
        dead = frozenset(d for d, u in dead_upto.items() if seg_i <= u)
        per_tid: list[tuple[np.ndarray, np.ndarray]] = []  # tid-sorted
        for tid, g in sdf.groupby("tid", sort=True):
            d, t, l, _ = unpack_blocks_batch(
                g["docs_vb"].to_numpy(), g["tfs_vb"].to_numpy(), g["dls_vb"].to_numpy()
            )
            s = idfs[int(tid)] * tfpart(
                t.astype(np.float64), l.astype(np.float64), avgdl, k1, b
            )
            per_tid.append((d.astype(np.int64), s))
        if not per_tid:
            continue
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
            docs, s = per_tid[0]
            scores = s
        else:
            docs_cat = np.concatenate([d for d, _s in per_tid])
            score_cat = np.concatenate([s for _d, s in per_tid])
            lo = docs_cat.min()
            span = int(docs_cat.max() - lo) + 1
            if span <= 8 * docs_cat.size:
                # dense doc-id range: direct bincount — no unique-sort.
                # bincount(weights) accumulates out[key[i]] += w[i] in
                # input order, exactly add.at's addition sequence, so
                # per-doc float sums are bit-identical to the group
                # scorer's (terms concatenated in tid-sorted order).
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
        scores = np.round(scores, ROUND_DIGITS)
        if not return_all and docs.size > k:
            thresh = scores[np.argpartition(-scores, k - 1)[:k]].min()
            sel = np.flatnonzero(scores >= thresh)
            docs, scores = docs[sel], scores[sel]
            order = np.lexsort((docs, -scores))[:k]
            docs, scores = docs[order], scores[order]
        out_docs.append(docs)
        out_scores.append(scores)
    if not out_docs:
        return pd.DataFrame({"doc_id": pd.Series(dtype="int64"),
                             "raw": pd.Series(dtype="float64")})
    return pd.DataFrame({"doc_id": np.concatenate(out_docs),
                         "raw": np.concatenate(out_scores)})


# Columns the match scorer consumes (positional payload excluded — it
# must stay out of the scan/pull, guide §2.3 project-before-exchange).
_MATCH_COLS = [
    "segment", "shard", "tid", "first_doc_id", "last_doc_id",
    "n_docs", "max_tf", "min_dl", "docs_vb", "tfs_vb", "dls_vb",
]


def _driver_matched(reader: IndexReader, tids: list[int], cols: list[str]):
    """Matched postings sliced from the serving session's driver-side
    residency (reader.driver_postings) — zero Spark jobs — or None when
    no serving copy is held (closed serving / over the byte cap /
    pre-counter manifests). Same rows, same columns, same dtypes as the
    ``matched.toPandas()`` pull it replaces; only the transport differs
    (measured: ~60 ms fixed per-query job overhead eliminated)."""
    dp = reader.driver_postings()
    if dp is None:
        return None
    return dp.loc[dp["tid"].isin(tids), cols]


# Below this many estimated packed BYTES the query runs coordinator-
# local: collect the matched blocks (pruned parquet scan, no shuffle, no
# Python workers) and run WAND on the driver — the classic search-head
# serving path. Above it, the shard-parallel distributed path takes over
# (the 10^12-doc regime, where a head term's postings must never
# converge on one node). Both paths share the same scorer code →
# identical results. The estimate is Σ df(term) × bytes/posting from
# exact manifest counters, so long-document corpora (fat dl varbytes)
# trip to distributed earlier than short-doc ones.
DRIVER_PATH_MAX_BYTES = 16 * 1024 * 1024


def _bm25_topk_batch_distributed(
    spark: SparkSession,
    reader: IndexReader,
    specs: list[tuple[list[str], str]],
    tids: dict[str, int],
    dfs: dict[int, int],
    k: int,
    k1: float | None,
    b: float | None,
) -> list[DataFrame]:
    """Distributed msearch: ONE shard-parallel job scores EVERY
    sub-query — the matched-postings frame (pruned by the union of all
    sub-query tids) is shuffled once by (segment, shard), and the group
    scorer runs each sub-query against its slice of the group, tagging
    hits with ``qid``. The per-qid global top-k is then taken in the
    SAME job with one small window shuffle (the scored frame is ≤
    n_segments × n_shards × n_queries × k rows) and eagerly collected —
    ≤ n_queries × k rows to the driver — so all N results cost one
    postings scan total (plan-asserted: tests/test_plans.py::
    test_msearch_distributed_single_postings_scan) and NO persist
    lingers in executor memory afterwards (ADVICE r4: the previous
    cached-frame design leaked a persisted RDD per over-threshold
    msearch call for the session lifetime)."""
    n, avgdl = reader.n_docs, reader.avgdl
    idfs = {t: _idf(n, d) for t, d in dfs.items()}
    big_tombs = reader.tombstones_count() > reader.TOMBSTONE_DICT_MAX
    dead_upto = {} if big_tombs else reader.tombstones_map()

    per_spec = []  # (qid, q_tids, mode, n_terms) — only specs that can hit
    results: list[DataFrame | None] = []
    for qid, (terms, mode) in enumerate(specs):
        q_tids = [tids[t] for t in terms if tids.get(t) in dfs]
        if not q_tids or (mode == "and" and len(q_tids) < len(terms)):
            results.append(_empty_result(spark))
        else:
            per_spec.append((qid, q_tids, mode, len(terms)))
            results.append(None)
    if not per_spec:
        return results

    scorers = {
        qid: _make_group_scorer(idfs, avgdl, k, mode, 1, dead_upto, n_terms, False, k1, b)
        for qid, _q, mode, n_terms in per_spec
    }
    spec_tids = {qid: set(q) for qid, q, _m, _n in per_spec}

    def batch_score(pdf: pd.DataFrame) -> pd.DataFrame:
        sent = pdf["tid"].to_numpy() == -1
        frames = []
        for qid, q_tids, _mode, _nt in per_spec:
            sub = pdf[pdf["tid"].isin(spec_tids[qid]) | sent]
            if not len(sub):
                continue
            out = scorers[qid](sub)
            if len(out):
                out = out.copy()
                out.insert(0, "qid", np.int32(qid))
                frames.append(out)
        if not frames:
            return pd.DataFrame({"qid": pd.Series(dtype="int32"),
                                 "doc_id": pd.Series(dtype="int64"),
                                 "raw": pd.Series(dtype="float64")})
        return pd.concat(frames, ignore_index=True)

    matched = reader.postings().where(
        F.col("tid").isin([t for s in spec_tids.values() for t in s])
    ).select(*_MATCH_COLS)
    if big_tombs:
        matched = matched.unionByName(reader.dead_sentinel_rows(), allowMissingColumns=True)
    scored = matched.groupBy("segment", "shard").applyInPandas(
        batch_score, schema="qid int, doc_id long, raw double"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    top_rows = (
        scored.select("qid", "doc_id", F.round("raw", ROUND_DIGITS).alias("score"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .collect()  # bounded: ≤ n_queries × k rows
    )
    by_qid: dict[int, list] = {}
    for r in sorted(top_rows, key=lambda r: (r["qid"], r["rn"])):
        by_qid.setdefault(r["qid"], []).append((r["doc_id"], r["score"]))
    for i, r in enumerate(results):
        if r is None:
            rows = by_qid.get(i)
            results[i] = (
                spark.createDataFrame(rows, _RESULT_SCHEMA) if rows else _empty_result(spark)
            )
    return results


def bm25_topk_batch(
    spark: SparkSession,
    reader: IndexReader,
    queries: list[tuple[str | list[str], str]],
    k: int = 10,
) -> list[DataFrame]:
    """msearch economics (msearch.go): N sub-queries, ONE pruned
    postings pull. The union of every sub-query's terms prunes a single
    scan; each sub-query then scores from its slice of the shared
    in-memory frame with the normal scorer. Falls back to per-query
    ``bm25_topk`` (distributed path) when the union's byte estimate
    exceeds the driver threshold or the delete set is large — exactly
    the same cutover rule as a single query, applied to the batch."""
    st = getattr(reader, "settings", {})
    pattern = st.get("token_pattern")
    k1, b = st.get("bm25_k1"), st.get("bm25_b")

    def _analyze(q):
        if isinstance(q, str):
            return analyze_query(q, pattern) if pattern else analyze_query(q)
        return list(dict.fromkeys(q))

    specs = [(_analyze(q), mode) for q, mode in queries]
    all_terms = list(dict.fromkeys(t for terms, _ in specs for t in terms))
    if not all_terms:
        return [_empty_result(spark) for _ in specs]
    tids = term_ids(spark, all_terms)
    dfs = reader.df_lookup(list(tids.values()))
    big_tombs = reader.tombstones_count() > reader.TOMBSTONE_DICT_MAX
    est_bytes = sum(dfs.values()) * reader.bytes_per_posting
    if big_tombs or est_bytes > DRIVER_PATH_MAX_BYTES:
        # distributed batch path (VERDICT r3 #6): still ONE pruned pull
        # — qid is threaded through the shard-group scorer, so an
        # over-threshold msearch keeps its one-scan economics instead
        # of degrading to N independent postings Exchanges
        return _bm25_topk_batch_distributed(spark, reader, specs, tids, dfs, k, k1, b)

    n, avgdl = reader.n_docs, reader.avgdl
    idfs = {t: _idf(n, d) for t, d in dfs.items()}
    dead_upto = reader.tombstones_map()
    pdf = _driver_matched(reader, list(dfs), _MATCH_COLS)
    if pdf is None:
        pdf = (
            reader.postings()
            .where(F.col("tid").isin(list(dfs)))
            .select(*_MATCH_COLS)
            .toPandas()
        )
    outs = []
    for terms, mode in specs:
        q_tids = [tids[t] for t in terms if tids.get(t) in dfs]
        if not q_tids or (mode == "and" and len(q_tids) < len(terms)):
            outs.append(_empty_result(spark))
            continue
        sub = pdf[pdf["tid"].isin(q_tids)]
        hits = _score_matched_driver(
            sub, idfs, avgdl, k, mode, 1, dead_upto, len(terms), False, k1, b
        )
        hits["score"] = hits["raw"].round(ROUND_DIGITS)
        hits = hits.sort_values(["score", "doc_id"], ascending=[False, True]).head(k)
        out_pdf = hits[["doc_id", "score"]].astype({"doc_id": "int64", "score": "float64"})
        outs.append(spark.createDataFrame(out_pdf, schema=_RESULT_SCHEMA))
    return outs


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
    ``strategy``: 'auto' (df-based choice), 'driver', or 'distributed'.
    """
    st = getattr(reader, "settings", {})
    pattern = st.get("token_pattern")
    k1, b = st.get("bm25_k1"), st.get("bm25_b")
    terms = (
        analyze_query(query, pattern) if pattern and isinstance(query, str)
        else analyze_query(query) if isinstance(query, str)
        else list(dict.fromkeys(query))
    )
    n_terms = len(terms)
    if not terms:
        return _empty_result(spark)
    tids = term_ids(spark, terms)
    dfs = reader.df_lookup(list(tids.values()))
    if not dfs or (mode == "and" and len(dfs) < n_terms):
        return _empty_result(spark)
    n, avgdl = reader.n_docs, reader.avgdl
    idfs = {t: _idf(n, d) for t, d in dfs.items()}
    # Tombstone strategy: small delete sets ride the scorer closure as a
    # dict (no extra shuffle); past the threshold they are unioned into
    # the shard groups as sentinel rows — never collected to the driver.
    big_tombs = reader.tombstones_count() > reader.TOMBSTONE_DICT_MAX
    dead_upto = {} if big_tombs else reader.tombstones_map()

    # column-pruned: match scoring never touches the positional payload
    # (pos_vb), so it must stay out of the parquet scan and the shuffle
    matched = reader.postings().where(F.col("tid").isin(list(dfs))).select(*_MATCH_COLS)
    scorer = _make_group_scorer(idfs, avgdl, k, mode, min_should, dead_upto, n_terms, return_all, k1, b)

    est_bytes = sum(dfs.values()) * reader.bytes_per_posting
    use_driver = not big_tombs and (
        strategy == "driver"
        or (strategy == "auto" and est_bytes <= DRIVER_PATH_MAX_BYTES)
    )
    if big_tombs:
        dead_rows = reader.dead_sentinel_rows()
        matched = matched.unionByName(dead_rows, allowMissingColumns=True)
    if use_driver:
        pdf = _driver_matched(reader, list(dfs), _MATCH_COLS)
        if pdf is None:
            pdf = matched.toPandas()
        hits = _score_matched_driver(
            pdf, idfs, avgdl, k, mode, min_should, dead_upto, n_terms, return_all, k1, b
        )
        hits["score"] = hits["raw"].round(ROUND_DIGITS)
        hits = hits.sort_values(["score", "doc_id"], ascending=[False, True])
        if not return_all:
            hits = hits.head(k)
        out_pdf = hits[["doc_id", "score"]].astype({"doc_id": "int64", "score": "float64"})
        return spark.createDataFrame(out_pdf, schema=_RESULT_SCHEMA)

    if reader.serving_open and not big_tombs:
        # Serving residency open (r6): every cached partition holds
        # COMPLETE (segment, shard) groups (the residency's hash
        # repartition is the guarantee), so the shard grouping can run
        # as ONE mapInPandas call per partition with the segment-level
        # kernel inside — removing the per-query local Sort the
        # FlatMapGroupsInPandas plan needed and the per-group Arrow
        # framing (32 group messages → n_parts partition streams).
        # Identical hits: partitions are disjoint doc sets, the kernel
        # matches the group scorer bit-for-bit (see
        # _score_matched_driver), and the per-partition top-k feeds the
        # same global TakeOrdered. Falls back to groupBy when sentinel
        # rows are unioned in (their frame breaks the co-partitioning)
        # or serving is closed (raw scan partitions split groups).
        def part_score(batches):
            parts = [p for p in batches if len(p)]
            if not parts:
                return
            pdf = parts[0] if len(parts) == 1 else pd.concat(parts, ignore_index=True)
            yield _score_matched_driver(
                pdf, idfs, avgdl, k, mode, min_should, dead_upto,
                n_terms, return_all, k1, b,
            )

        local = matched.mapInPandas(part_score, schema=_TOPK_SCHEMA)
    else:
        local = matched.groupBy("segment", "shard").applyInPandas(scorer, schema=_TOPK_SCHEMA)
    out = local.select("doc_id", F.round("raw", ROUND_DIGITS).alias("score"))
    if return_all:
        # No global sort: compound-query composition (query/ast.py)
        # re-ranks after joins/unions, so a range-partition shuffle here
        # would be pure waste — at scale each AST leaf would pay a
        # corpus-wide sorted shuffle whose order the next join destroys.
        return out
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
