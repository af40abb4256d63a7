"""Corpus-level quality scoring: unigram-LM perplexity and a
Gopher-style composite rule filter.

Extends the per-doc heuristics in textstats.py with the two published
quality gates large-scale training pipelines actually run:

- **Unigram-LM perplexity** (CCNet-shape, Wenzek et al. 2020 — there a
  5-gram KenLM; the unigram LM here keeps the identical pipeline shape
  while staying exactly SQL-expressible for the oracle): token
  probability from GLOBAL corpus frequencies, per-doc
  ppl = exp(−mean ln p(tok)). Low perplexity ≈ in-distribution text;
  boilerplate of ultra-common tokens scores low, gibberish scores
  high.
- **Gopher quality rules** (Rae et al. 2021, appendix A1.1): keep a
  doc iff word count, mean word length, alphabetic-token fraction and
  stopword evidence all land in the published bands. Cheap, brutal,
  and the standard first gate before model-based filters.

Spark shape at 100 TB: perplexity is ONE vocabulary aggregation
(map-side combined groupBy over exploded tokens) + one broadcast-or-
shuffle join of tokens→probabilities + one per-doc mean — no UDFs, no
driver data. The Gopher rules are a single shuffle-free Catalyst
projection (they run inside the scan, like pii_scrub).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..analyzer import tokens_col
from .textstats import STOPWORDS


def unigram_perplexity(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, ppl): exp(−mean ln p) under the corpus
    unigram LM. Every token has nonzero count by construction (the LM
    is trained on the same corpus it scores — CCNet trains on a clean
    reference corpus instead; swap the counts frame to do that)."""
    toks = docs.select("doc_id", F.explode(tokens_col("text")).alias("term"))
    # ONE plan, no cache (r6, ADVICE r5: the cached counts frame leaked
    # into executor memory for the session lifetime — unpersist had no
    # safe place because the returned frame still referenced it). The
    # corpus total is a 1-row SUM over the vocabulary agg, broadcast and
    # cross-joined onto every vocab row: no driver action to leak a
    # cache for, and no unpartitioned window that would pull the whole
    # vocabulary into a single task. Both branches read the same
    # vocabulary shuffle (exchange reuse), so the agg still runs once;
    # that needs identical subtrees, hence the explicit not-null filter
    # the join would otherwise infer on one side only (tokens are never
    # null, so it drops nothing).
    counts = (
        toks.where(F.col("term").isNotNull())
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    counts = counts.crossJoin(F.broadcast(counts.agg(F.sum("c").alias("_total"))))
    scored = toks.join(counts, "term").select(
        "doc_id", (F.log(F.col("c") / F.col("_total"))).alias("lp")
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.round(F.exp(-F.avg("lp")), 4).alias("ppl"),
        )
    )


def unigram_perplexity_sql(tokens_sql: str, table: str = "documents") -> str:
    """DuckDB twin: identical counts, identical mean-of-logs."""
    return f"""WITH tk AS (
  SELECT doc_id, unnest({tokens_sql}) AS term FROM {table}
),
cnt AS (SELECT term, count(*)::DOUBLE AS c FROM tk GROUP BY term),
tot AS (SELECT sum(c) AS total FROM cnt)
SELECT doc_id, count(*)::BIGINT AS n_tokens,
       round(exp(-avg(ln(c / total))), 4) AS ppl
FROM tk JOIN cnt USING (term) CROSS JOIN tot
GROUP BY doc_id"""


# Gopher bands (Rae et al. 2021, A1.1), adapted to the fixture corpus
# scale: the published word-count band is [50, 100k]; the synthetic
# docs are shorter, so the band is a parameter with the published
# defaults.
GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 50, 100_000
GOPHER_MIN_MWL, GOPHER_MAX_MWL = 3.0, 10.0
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_MIN_STOP_HITS = 2


def gopher_quality(
    docs: DataFrame,
    min_words: int = GOPHER_MIN_WORDS,
    max_words: int = GOPHER_MAX_WORDS,
) -> DataFrame:
    """(doc_id, n_words, mean_word_len, alpha_frac, stop_hits, passes):
    the Gopher rule battery as one shuffle-free projection."""
    t = tokens_col("text")
    n = F.size(t)
    nd = F.greatest(n, F.lit(1)).cast("double")
    mwl = F.aggregate(t, F.lit(0.0), lambda a, x: a + F.length(x)) / nd
    alpha = F.size(F.filter(t, lambda x: x.rlike("^[a-z]+$"))) / nd
    stop_hits = F.size(F.array_intersect(F.array_distinct(t), F.array(*[F.lit(s) for s in STOPWORDS])))
    passes = (
        (n >= min_words) & (n <= max_words)
        & (mwl >= GOPHER_MIN_MWL) & (mwl <= GOPHER_MAX_MWL)
        & (alpha >= GOPHER_MIN_ALPHA_FRAC)
        & (stop_hits >= GOPHER_MIN_STOP_HITS)
    )
    return docs.select(
        "doc_id",
        n.cast("long").alias("n_words"),
        F.round(mwl, 6).alias("mean_word_len"),
        F.round(alpha, 6).alias("alpha_frac"),
        stop_hits.cast("long").alias("stop_hits"),
        passes.cast("int").alias("passes"),
    )


def gopher_quality_sql(
    tokens_sql: str,
    table: str = "documents",
    min_words: int = GOPHER_MIN_WORDS,
    max_words: int = GOPHER_MAX_WORDS,
) -> str:
    stops = ", ".join(f"'{s}'" for s in STOPWORDS)
    return f"""WITH tk AS (SELECT doc_id, {tokens_sql} AS t FROM {table}),
st AS (
  SELECT doc_id, len(t) AS n,
         greatest(len(t), 1)::DOUBLE AS nd,
         list_sum([length(x) FOR x IN t])::DOUBLE AS chars,
         len([x FOR x IN t IF regexp_full_match(x, '[a-z]+')])::DOUBLE AS n_alpha,
         len(list_intersect(list_distinct(t), [{stops}])) AS stop_hits
  FROM tk
)
SELECT doc_id, n::BIGINT AS n_words,
       round(coalesce(chars, 0) / nd, 6) AS mean_word_len,
       round(n_alpha / nd, 6) AS alpha_frac,
       stop_hits::BIGINT AS stop_hits,
       CASE WHEN n >= {min_words} AND n <= {max_words}
             AND coalesce(chars, 0) / nd >= {GOPHER_MIN_MWL}
             AND coalesce(chars, 0) / nd <= {GOPHER_MAX_MWL}
             AND n_alpha / nd >= {GOPHER_MIN_ALPHA_FRAC}
             AND stop_hits >= {GOPHER_MIN_STOP_HITS}
       THEN 1 ELSE 0 END AS passes
FROM st"""
