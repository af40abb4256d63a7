"""match_phrase / match_phrase_prefix served from positional postings.

Reference semantics: vendor/gopkg.in/olivere/elastic.v3/
search_queries_match.go:42-50 (type=phrase / phrase_prefix). Each
posting block carries a delta-varbyte position payload (index/codec.py
``unpack_positions``), so adjacency is verified INSIDE the shard-
parallel scorer over the term-filtered postings scan — the docstore is
never touched at query time (the round-1 implementation re-tokenized
it per query: an unpruned corpus scan, the classic phrase-query
scale-killer). Scoring is the BM25 sum of the constituent terms, as ES
does for phrases without slop boosts; ranking contract as everywhere:
round 6, (score DESC, doc_id ASC).

Execution shape: ``_positional_hits`` analyzes, hashes and looks up
df/idf on the driver, binds the query into ONE positional kernel
(``_make_positional_scorer``) and runs it on wand's query executor
(``wand._execute``), over the postings of the phrase's tids INCLUDING
pos_vb. The executor's four routes are the match query's —
resident-driver (a slice of the serving session's driver copy),
pull-driver (a pyarrow read of the segment files; like the resident
route it runs no Spark job), residency ``mapInPandas`` and the
``groupBy(segment, shard).applyInPandas`` fallback — with one phrase
policy: with serving open, ``auto`` takes the residency only when the
phrase's estimated postings bytes exceed one serving partition
(``IndexReader.SERVING_PART_BYTES``); smaller phrases stay on the
driver. Per (segment, shard) group the kernel decodes the sub-lists,
AND-intersects doc sets, chain-verifies positions (pos(w0) ∩ pos(w1)-1
∩ ...) and scores survivors. ``wand._top``, the match query's result
tail, ranks the hits by the global deterministic order: driver-route
hits on the driver (rounded by ``scoring.round_score``, Spark's own
rule, then sorted, cut to k and shipped in one ``createDataFrame``),
distributed hits with a Spark ORDER BY + LIMIT k. Compound callers
(``phrase_doc_filter``, the query AST's ``Phrase`` leaf) take every
hit, unordered on the distributed routes, with ``k=None``.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import wand
from ..analyzer import TOKEN_PATTERN
from ..index.codec import unpack_blocks_batch, unpack_positions_batch
from ..index.reader import IndexReader
from .scoring import idf as _idf, tfpart

# the columns the positional kernel reads
_PHRASE_COLS = ["segment", "shard", "tid", "first_doc_id", "docs_vb", "tfs_vb", "dls_vb", "pos_vb"]


def _in_sorted(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Membership mask of ``a``'s values in SORTED ``b`` — the chain
    verifier's key arrays are sorted by construction (candidate-major
    packed keys; np.unique covers), so a searchsorted probe replaces
    np.isin's internal concat+sort (r6: profiled at ~40% of the phrase
    scorer). Semantics identical to ``np.isin(a, b)``."""
    if b.size == 0:
        return np.zeros(a.size, dtype=bool)
    idx = np.searchsorted(b, a)
    idx[idx == b.size] = b.size - 1
    return b[idx] == a


def phrase_words(phrase: str, pattern: str = TOKEN_PATTERN) -> list[str]:
    """Ordered tokens with duplicates (phrase order matters)."""
    return re.findall(pattern, phrase.lower())


# Positions-decode telemetry (mirrors wand.DECODE_STATS): blocks whose
# position payload was actually varbyte-decoded vs blocks present. The
# gap is the lazy candidate-block pruning's value — a phrase pairing a
# rare word with a head word decodes the head word's positions only in
# the blocks that contain candidates.
POS_DECODE_STATS = {"decoded": 0, "blocks": 0}


class _TidPostings:
    """One term's postings within one (segment, shard) group:
    docs/tfs/dls batch-decoded up front (the intersection and scoring
    need them); POSITION payloads decode LAZILY, only for the blocks
    that hold candidate postings — decode cost ∝ candidate blocks, not
    the term's df. Within a group the blocks, taken in first_doc_id
    order, are disjoint ascending doc runs, so the decoded ``docs`` are
    sorted and posting indexes are block-order indexes."""

    __slots__ = ("docs", "tfs", "dls", "_pos_bufs", "_nper", "_bstarts")

    def __init__(self, g: pd.DataFrame):
        order = np.argsort(g["first_doc_id"].to_numpy())
        # ONE vectorized varbyte pass per column over the whole
        # sub-list (delta resets at block boundaries)
        d, t, l, nper = unpack_blocks_batch(
            g["docs_vb"].to_numpy()[order], g["tfs_vb"].to_numpy()[order],
            g["dls_vb"].to_numpy()[order],
        )
        self.docs = d.astype(np.int64)
        self.tfs = t.astype(np.int64)
        self.dls = l.astype(np.int64)
        self._pos_bufs = g["pos_vb"].to_numpy()[order]
        self._nper = nper
        self._bstarts = np.cumsum(nper) - nper  # first posting idx per block
        POS_DECODE_STATS["blocks"] += len(self._pos_bufs)

    def positions_for(self, pidx: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Positions of the requested posting indexes: ``(flat, lens)``
        where posting ``pidx[i]`` owns the next ``lens[i]`` values of
        ``flat``. Decodes ONLY the blocks the requests fall in — one
        batched varbyte pass over that subset."""
        if pidx.size == 0:
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
        blocks = np.searchsorted(self._bstarts, pidx, side="right") - 1
        need = np.unique(blocks)
        n_blocks = len(self._pos_bufs)
        if need.size >= n_blocks // 2:
            # dense candidates: the subset bookkeeping costs more than
            # it saves — decode the whole sub-list in one pass
            POS_DECODE_STATS["decoded"] += n_blocks
            flat, offs_all = unpack_positions_batch(self._pos_bufs, self.tfs)
            flat = flat.astype(np.int64)
            offs, loc = offs_all, pidx
        else:
            POS_DECODE_STATS["decoded"] += int(need.size)
            tf_slices = [
                self.tfs[self._bstarts[b]: self._bstarts[b] + self._nper[b]] for b in need
            ]
            tfs_cat = np.concatenate(tf_slices)
            flat, _ = unpack_positions_batch([self._pos_bufs[b] for b in need], tfs_cat)
            flat = flat.astype(np.int64)
            ends = np.cumsum(tfs_cat.astype(np.int64))
            offs = ends - tfs_cat
            # decoded postings' global indexes, ascending (blocks sorted)
            gidx = np.concatenate(
                [np.arange(self._bstarts[b], self._bstarts[b] + self._nper[b]) for b in need]
            )
            loc = np.searchsorted(gidx, pidx)
        lens = self.tfs[pidx]
        total = int(lens.sum())
        if total == 0:
            return np.empty(0, dtype=np.int64), lens
        first = np.cumsum(lens) - lens
        gather = (np.arange(total, dtype=np.int64) - np.repeat(first, lens)
                  + np.repeat(offs[loc], lens))
        return flat[gather], lens


def _make_positional_scorer(
    chain_tids: list[int],
    score_tids: list[int],
    idfs: dict[int, float],
    avgdl: float,
    k1: float,
    b: float,
    prefix_tids: frozenset[int] | None = None,
    slop: int = 0,
):
    """The phrase kernel, ``kernel(pdf, dead_upto) -> (doc_id, raw)``:
    per (segment, shard) group, verify the position chain
    ``chain_tids`` (tid of the phrase word at each offset) and, for
    phrase_prefix, require some ``prefix_tids`` member adjacent after
    the chain. ``slop`` is the Lucene/ES TOTAL move budget
    (SloppyPhraseMatcher semantics): a doc matches iff some window
    [w, w+slop] contains an offset-adjusted position (pos - word_offset)
    of every phrase word — so transposed words match at slop>=2 and
    'a x x b x x c' needs slop>=4 for 'a b c' (NOT per-gap slack).
    slop=0 is exact adjacency. Survivors score Σ idf·tfpart over
    ``score_tids``.

    Per-(segment, shard) on every route (r6): segment-level grouping
    was measured SLOWER in an interleaved A/B (557 ms vs 488 ms for
    qb_phrase) — the chain-verify intersect costs grow superlinearly
    with group size and dominate the saved per-group dispatch."""
    need = list(dict.fromkeys(chain_tids + score_tids))

    def score_group(pdf: pd.DataFrame, dead: frozenset):
        data = {int(tid): _TidPostings(g) for tid, g in pdf.groupby("tid")}
        if any(t not in data for t in need):
            return None
        cand = data[need[0]].docs
        for t in need[1:]:
            cand = cand[_in_sorted(cand, data[t].docs)]
        if prefix_tids and not any(t in data for t in prefix_tids):
            return None
        if dead and cand.size:
            cand = cand[~np.isin(cand, np.fromiter(dead, dtype=np.int64))]
        if cand.size == 0:
            return None

        # Vectorized chain verify over ALL candidates at once. Key
        # trick: (candidate index << 32 | position) packs (doc, pos)
        # into one int64, so "position p+j of word_j exists in doc d"
        # becomes one np.isin over flat key arrays — no per-doc loop.
        def keyed_positions(tp: _TidPostings) -> np.ndarray:
            pidx = np.searchsorted(tp.docs, cand)
            ok = (pidx < len(tp.docs)) & (tp.docs[np.minimum(pidx, len(tp.docs) - 1)] == cand)
            ci = np.flatnonzero(ok)
            pidx = pidx[ok]
            pos, lens = tp.positions_for(pidx)  # lazy candidate-block decode
            if pos.size == 0:
                return np.empty(0, dtype=np.int64)
            return (np.repeat(ci, lens).astype(np.int64) << 32) | pos

        m = len(chain_tids)
        # BIAS keeps the packed position part positive after the -j-d
        # offset shifts (position payloads are < 2^31, so +BIAS never
        # overflows into the candidate-index bits)
        BIAS = 1024

        def adjusted(keys: np.ndarray, offset: int) -> np.ndarray:
            return keys + (BIAS - offset)

        def window_cover(keys: np.ndarray, offset: int) -> np.ndarray:
            """All w such that word ``offset`` has an adjusted position
            inside [w, w+slop] — the per-word coverage set."""
            a = adjusted(keys, offset)
            if slop == 0:
                return a
            return np.unique(np.concatenate([a - d for d in range(slop + 1)]))

        surv = window_cover(keyed_positions(data[chain_tids[0]]), 0)
        for j in range(1, m):
            if surv.size == 0:
                return None
            surv = surv[_in_sorted(surv, window_cover(keyed_positions(data[chain_tids[j]]), j))]
        if prefix_tids is not None:
            if surv.size == 0:
                return None
            exp_keys = np.concatenate(
                [keyed_positions(data[t]) for t in prefix_tids if t in data]
            )
            # multi-expansion concat is not globally sorted; _in_sorted
            # needs it sorted (slop>0 covers sort via np.unique anyway)
            cover = window_cover(exp_keys, m)
            if slop == 0:
                cover = np.sort(cover)
            surv = surv[_in_sorted(surv, cover)]
        if surv.size == 0:
            return None
        hit_idx = np.unique(surv >> 32)
        if slop > 0 and len(set(chain_tids)) != len(chain_tids):
            # Repeated phrase words: the window cover above lets ONE
            # position satisfy two slots of the same word (Lucene's
            # collision rule forbids that), so it is only a recall-
            # complete prefilter here; survivors get an exact
            # distinct-position assignment check (greedy interval
            # matching per word — optimal because slot intervals
            # [w+j, w+j+slop] form a staircase in j).
            slots_by_tid: dict[int, list[int]] = {}
            for j, t in enumerate(chain_tids):
                slots_by_tid.setdefault(t, []).append(j)

            def can_match(slots: list[int], pos: np.ndarray, w: int) -> bool:
                ptr = 0
                for j in slots:
                    lo, hi = w + j, w + j + slop
                    while ptr < pos.size and pos[ptr] < lo:
                        ptr += 1
                    if ptr >= pos.size or pos[ptr] > hi:
                        return False
                    ptr += 1
                return True

            # Batch the survivors' position decode: ONE positions_for
            # call per tid covering every surviving candidate (VERDICT
            # r4 wrong #3 — was a per-doc re-decode inside the loop);
            # the greedy matcher then runs on zero-copy slices.
            surv_docs = cand[hit_idx]
            pos_slices: dict[int, tuple[np.ndarray, np.ndarray]] = {}
            for t in slots_by_tid:
                tp = data[t]
                pidx = np.searchsorted(tp.docs, surv_docs)
                pos, lens = tp.positions_for(pidx)
                pos_slices[t] = (pos, np.concatenate(([0], np.cumsum(lens))))

            def doc_matches(i: int) -> bool:
                pos_by_tid = {
                    t: p[starts[i]:starts[i + 1]]
                    for t, (p, starts) in pos_slices.items()
                }
                anchors = np.unique(np.concatenate(
                    [pos_by_tid[t] - j for t, sl in slots_by_tid.items() for j in sl]
                ))
                return any(
                    all(can_match(sl, pos_by_tid[t], int(w)) for t, sl in slots_by_tid.items())
                    for w in anchors
                )

            hit_idx = hit_idx[np.fromiter(
                (doc_matches(i) for i in range(hit_idx.size)), dtype=bool, count=hit_idx.size
            )]
            if hit_idx.size == 0:
                return None
        hit_docs = cand[hit_idx]

        raw = np.zeros(hit_docs.size, dtype=np.float64)
        for t in score_tids:
            tp = data[t]
            pidx = np.searchsorted(tp.docs, hit_docs)
            raw += idfs[t] * tfpart(
                tp.tfs[pidx].astype(np.float64), tp.dls[pidx].astype(np.float64), avgdl, k1, b
            )
        return hit_docs, raw

    def kernel(pdf: pd.DataFrame, dead_upto: dict[int, int]) -> pd.DataFrame:
        docs, raws = [], []
        for g, dead in wand._live_groups(pdf, dead_upto, ["segment", "shard"]):
            hit = score_group(g, dead)
            if hit is not None:
                docs.append(hit[0])
                raws.append(hit[1])
        return wand._hits_frame(docs, raws)

    return kernel


def _positional_hits(
    spark: SparkSession,
    reader: IndexReader,
    chain_words: list[str],
    score_words: list[str],
    prefix_tids: list[int] | None = None,
    slop: int = 0,
    strategy: str = "auto",
) -> pd.DataFrame | DataFrame:
    """Shared engine: the (doc_id, raw) rows of docs matching the chain
    (+optional prefix continuation), scored over score_words — a
    driver-local pandas frame on the driver routes (and for the
    empty-result short-circuits), a Spark frame on the distributed ones
    (``wand._execute``'s contract). Every served segment carries
    ``pos_vb`` (the reader's format floor). ``strategy`` mirrors
    bm25_topk: 'auto', 'driver', 'distributed' — the forced paths exist
    so both serving shapes are benchmarked per round (qb_phrase /
    qb_phrase_dist)."""
    tids_map = wand.term_ids(spark, list(dict.fromkeys(chain_words + score_words)))
    # df lookup covers the PREFIX-expansion tids too: their postings are
    # pulled by the tid IN filter, so they must count toward the
    # driver-route byte estimate (a high-df prefix could otherwise drag
    # far more than DRIVER_PATH_MAX_BYTES onto the driver)
    dfs = reader.df_lookup(list(tids_map.values()) + list(prefix_tids or []))
    chain_tids = [tids_map[w] for w in chain_words]
    score_tids = list(dict.fromkeys(tids_map[w] for w in score_words))
    if any(t not in dfs for t in chain_tids + score_tids):
        return wand._hits_frame([], [])
    idfs = {t: _idf(reader.n_docs, d) for t, d in dfs.items()}
    kernel = _make_positional_scorer(
        chain_tids, score_tids, idfs, reader.avgdl, reader.settings["bm25_k1"],
        reader.settings["bm25_b"], frozenset(prefix_tids) if prefix_tids else None, slop,
    )
    # residency_first: with a serving session open, a phrase whose
    # postings outgrow one serving partition takes the shard-parallel
    # residency — positional chain verification parallelizes across
    # partitions with zero Exchange and no per-query Sort, while the
    # driver routes decode positions single-threaded (r6, 640k-doc tier,
    # 32 CPUs: distributed 0.23 s vs driver 0.41 s). Smaller phrases stay
    # on the driver: one partition's worth of postings cannot pay back
    # a Spark job. Match queries keep the plain byte-estimate rule.
    return wand._execute(spark, reader, dfs, _PHRASE_COLS, kernel, strategy,
                         residency_first=True)


def match_phrase(
    spark: SparkSession, reader: IndexReader, phrase: str, k: int | None = 10, slop: int = 0,
    strategy: str = "auto",
) -> DataFrame:
    """Docs holding ``phrase`` within ``slop`` → the ranked top ``k``
    (every hit, unordered on the distributed routes, when k is None)."""
    words = phrase_words(phrase, reader.settings["token_pattern"])
    if not words:
        return wand._empty_result(spark)
    return wand._top(spark, _positional_hits(spark, reader, words, list(dict.fromkeys(words)),
                                             slop=slop, strategy=strategy), k)


def match_phrase_prefix(
    spark: SparkSession,
    reader: IndexReader,
    phrase: str,
    k: int = 10,
    max_expansions: int = 50,
) -> DataFrame:
    """type=phrase_prefix (search_queries_match.go:42-50): the last
    query token is a PREFIX; it expands against the term dictionary
    (first ``max_expansions`` in term order, as Lucene does) and a doc
    matches when the full-word chain continues into any expansion.
    Scoring: BM25 sum over the full (non-prefix) words — the expansion
    position gates matching but contributes no score term, keeping
    ranks independent of which expansion matched."""
    words = phrase_words(phrase, reader.settings["token_pattern"])
    if not words:
        return wand._empty_result(spark)
    exp = [
        r["tid"]
        for r in reader.term_strings()
        .where(F.col("term").startswith(words[-1]))
        .orderBy(F.asc("term"))
        .limit(max_expansions)
        .select("tid")
        .collect()
    ]
    if not exp:
        return wand._empty_result(spark)
    if len(words) == 1:
        # ES degrades a one-term match_phrase_prefix to a plain prefix
        # query on that term (ADVICE r2): multi-term rewrite, constant
        # score 1.0, served from the dictionary + pruned postings scan
        docs = reader.term_doc_ids(exp).select("doc_id").distinct()
        return docs.select("doc_id", F.lit(1.0).alias("score")).orderBy(F.asc("doc_id")).limit(k)
    full = words[:-1]
    return wand._top(spark, _positional_hits(spark, reader, full, list(dict.fromkeys(full)),
                                             prefix_tids=exp), k)


def phrase_doc_filter(spark: SparkSession, reader: IndexReader, words: list[str]) -> DataFrame:
    """doc_ids containing the exact phrase — the query_string phrase
    constraint, served from positional postings."""
    return wand._top(spark, _positional_hits(spark, reader, words, []), None).select("doc_id")


def phrase_prefix_oracle_sql(
    full_words: list[str], prefix: str, k: int = 10, max_expansions: int = 50
) -> str:
    """DuckDB twin of :func:`match_phrase_prefix`: same expansion cap
    (first ``max_expansions`` dictionary terms in term order), same
    adjacency, same BM25-over-full-words scoring."""
    from .scoring import ROUND_DIGITS, bm25_ctes

    uniq = list(dict.fromkeys(full_words))
    m = len(full_words)
    conds = " AND ".join(f"t[i+{j}] = '{w}'" for j, w in enumerate(full_words))
    esc = prefix.replace("'", "''")
    return f"""WITH {bm25_ctes(uniq)},
exps AS (
  SELECT DISTINCT term FROM (SELECT unnest(t) AS term FROM toks)
  WHERE term LIKE '{esc}%' ORDER BY term LIMIT {max_expansions}
),
phrase_docs AS (
  SELECT DISTINCT doc_id FROM toks, unnest(range(1, len(t) - {m} + 1)) AS u(i)
  WHERE len(t) >= {m} + 1 AND {conds} AND t[i+{m}] IN (SELECT term FROM exps)
),
sc AS (
  SELECT doc_id, sum(s) AS raw, count(*) AS matched FROM persc GROUP BY doc_id
)
SELECT doc_id, round(raw, {ROUND_DIGITS}) AS score FROM sc
WHERE matched = {len(uniq)} AND doc_id IN (SELECT doc_id FROM phrase_docs)
ORDER BY round(raw, {ROUND_DIGITS}) DESC, doc_id ASC LIMIT {k}""".strip()


def phrase_slop_oracle_sql(words: list[str], slop: int, k: int = 10) -> str:
    """DuckDB twin of sloppy match_phrase, Lucene total-budget
    semantics: an assignment of one position per phrase SLOT whose
    offset-adjusted spread max(i_j - j) - least(i_j - j) is <= slop;
    slots of a repeated word must take DISTINCT positions (Lucene's
    collision rule). BM25 sum over the unique words, all present."""
    from .scoring import ROUND_DIGITS, bm25_ctes

    uniq = list(dict.fromkeys(words))
    m = len(words)
    # per-slot position lists are filtered to the slot's word BEFORE the
    # cross join (occurrences per word per doc are tiny) — the naive
    # range(len(t))^m enumeration is O(doc_len^m) per doc and hangs the
    # oracle on long docs at larger scale factors
    plists = ", ".join(
        f"list_filter(range(1, len(t) + 1), i -> t[i] = '{w}') AS p{j}"
        for j, w in enumerate(words)
    )
    froms = ", ".join(f"unnest(p{j}) AS u{j}(i{j})" for j in range(m))
    adj = ", ".join(f"i{j} - {j}" for j in range(m))
    conds = [f"greatest({adj}) - least({adj}) <= {slop}"]
    conds += [
        f"i{j} <> i{jj}"
        for j in range(m)
        for jj in range(j + 1, m)
        if words[j] == words[jj]
    ]
    return f"""WITH {bm25_ctes(uniq)},
ppos AS (SELECT doc_id, {plists} FROM toks),
phrase_docs AS (
  SELECT DISTINCT doc_id FROM ppos, {froms}
  WHERE {' AND '.join(conds)}
),
sc AS (SELECT doc_id, sum(s) AS raw, count(*) AS matched FROM persc GROUP BY doc_id)
SELECT doc_id, round(raw, {ROUND_DIGITS}) AS score FROM sc
WHERE matched = {len(uniq)} AND doc_id IN (SELECT doc_id FROM phrase_docs)
ORDER BY round(raw, {ROUND_DIGITS}) DESC, doc_id ASC LIMIT {k}""".strip()

