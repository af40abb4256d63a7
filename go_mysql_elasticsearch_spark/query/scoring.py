"""BM25 scoring math — single source of truth for engine, naive
DataFrame scorer, and the DuckDB oracle-SQL template.

Formula (Lucene/ES BM25, k1=1.2 b=0.75 per BASELINE.json):

    idf(t)       = ln(1 + (N - df_t + 0.5) / (df_t + 0.5))
    tfpart(tf,dl)= tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
    score(d)     = Σ_{t ∈ q ∩ d} idf(t) * tfpart

avgdl is computed as exact-integer ``sum(dl)/N`` then one double
division — identical in Spark and DuckDB regardless of summation
order. Final scores are rounded to 6 decimals and ranked by
``(score DESC, doc_id ASC)`` (SURVEY.md §4 item 4: deterministic
tie-break for rank-identity).

Query analysis: the same ``[a-z0-9]+``-on-lowercase tokenizer as the
index (analyzer.TOKEN_PATTERN); duplicate query terms are deduped.

Reference: the match-query semantics this reproduces are defined by
vendor/gopkg.in/olivere/elastic.v3/search_queries_match.go:16-214
(OR/AND operator) — the scoring itself happens inside Elasticsearch,
which uses exactly this Lucene BM25.
"""

from __future__ import annotations

import math
import re
from decimal import ROUND_HALF_UP, Context, Decimal

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..analyzer import BM25_B, BM25_K1, TOKEN_PATTERN, duckdb_tokens_sql, tokens_col

ROUND_DIGITS = 6
# enough digits to quantize any finite double to ROUND_DIGITS places
_DEC = Context(prec=400)

_PATTERN_CACHE: dict[str, "re.Pattern"] = {}


def analyze_query(query_text: str, pattern: str = TOKEN_PATTERN) -> list[str]:
    """Tokenize a query string exactly like the index analyzer (same
    regex the build used — per-index, K5 settings); dedupe preserving
    first-seen order."""
    rx = _PATTERN_CACHE.setdefault(pattern, re.compile(pattern))
    seen: dict[str, None] = {}
    for t in rx.findall(query_text.lower()):
        seen.setdefault(t, None)
    return list(seen)


def round_score(x):
    """Spark's ``F.round(x, ROUND_DIGITS)`` on doubles, bit for bit —
    the one rounding rule for every driver-local score.

    Spark rounds ``BigDecimal(Double.toString(x)).setScale(ROUND_DIGITS,
    HALF_UP)``: HALF_UP on the shortest decimal form, so
    ``2.0000025 → 2.000003`` where ``np.round`` (half to even on the
    binary value) gives 2.000002. ``np.round`` agrees everywhere the
    scaled value's fraction is clear of one half by more than its
    float error; only those near-ties (and values too large to carry a
    fraction after scaling) go through ``Decimal(repr(x))`` HALF_UP.
    Pinned against ``F.round`` by tests/test_rounding.py. Takes an
    array (returns one) or a scalar (returns a float)."""
    a = np.asarray(x, dtype=np.float64)
    flat = np.atleast_1d(a)
    with np.errstate(over="ignore", invalid="ignore"):
        out = np.round(flat, ROUND_DIGITS)
        scaled = np.abs(flat) * 10.0 ** ROUND_DIGITS
        frac = scaled - np.floor(scaled)
        slow = np.isfinite(flat) & (
            (np.abs(frac - 0.5) <= 64 * np.spacing(scaled)) | (scaled >= 2.0 ** 52)
        )
    if slow.any():
        q = Decimal(1).scaleb(-ROUND_DIGITS)
        for i in np.flatnonzero(slow):
            out[i] = float(Decimal(repr(float(flat[i]))).quantize(q, ROUND_HALF_UP, _DEC))
    out = out + 0.0  # -0.0 → 0.0: a BigDecimal has no negative zero
    return out if a.ndim else float(out[0])


def idf(n_docs: int, df: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def tfpart(tf, dl, avgdl: float, k1: float = BM25_K1, b: float = BM25_B):
    """Works on python floats and numpy arrays alike."""
    return tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * (dl / avgdl)))


# ---------------------------------------------------------------------------
# Naive DataFrame scorer — the Spark-side correctness mirror of the
# oracle SQL; used by tests to assert the packed/WAND engine is
# rank-identical (SURVEY.md §7 M1).
# ---------------------------------------------------------------------------

def bm25_naive(
    docs: DataFrame,
    terms: list[str],
    mode: str = "or",
    k: int | None = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
    pattern: str = TOKEN_PATTERN,
) -> DataFrame:
    """Pure-DataFrame BM25 over (doc_id, text) — no index, full scan.

    This *is* SQL-expressible (explode → join → groupBy → orderBy →
    limit) and is exactly the plan Catalyst runs; it doubles as the
    proof that the fancy path is an optimization, not new semantics.
    """
    toks = docs.select("doc_id", tokens_col("text", pattern=pattern).alias("t"))
    dl = toks.select("doc_id", F.size("t").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").cast("double").alias("sum_dl")
    ).select("n", (F.col("sum_dl") / F.col("n")).alias("avgdl"))
    tf = (
        toks.select("doc_id", F.explode("t").alias("term"))
        .where(F.col("term").isin(terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    scored = (
        tf.join(dfreq, "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn("idf", F.log(1.0 + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)))
        .withColumn(
            "s",
            F.col("idf")
            * F.col("tf")
            * (k1 + 1.0)
            / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))),
        )
        .groupBy("doc_id")
        .agg(F.sum("s").alias("raw"), F.count(F.lit(1)).alias("matched"))
    )
    if mode == "and":
        scored = scored.where(F.col("matched") == len(terms))
    out = scored.select("doc_id", F.round("raw", ROUND_DIGITS).alias("score"))
    if k is None:
        return out  # full scored set, no global sort (set semantics)
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


# ---------------------------------------------------------------------------
# DuckDB oracle SQL (driver correctness gate)
# ---------------------------------------------------------------------------

def bm25_ctes(
    all_terms: list[str] | None,
    table: str = "documents",
    text_expr: str = "text",
    id_col: str = "doc_id",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> str:
    """Composable WITH-body: toks/dl/stats/tf/dfreq/persc CTEs.

    ``persc(doc_id, term, s)`` holds the per-(doc, term) BM25
    contribution for every term in ``all_terms`` (None = all terms —
    used when the term set is itself SQL-derived, e.g. more_like_this);
    compound operators (bool/dis_max/boosting/...) aggregate filtered
    sums over it.
    """
    if all_terms is None:
        term_filter = ""
    else:
        in_list = ", ".join("'" + t.replace("'", "''") + "'" for t in all_terms)
        term_filter = f"WHERE term IN ({in_list})"
    return f"""toks AS (
  SELECT {id_col} AS doc_id, {duckdb_tokens_sql(text_expr)} AS t FROM {table}
),
dl AS (SELECT doc_id, len(t) AS dl FROM toks),
stats AS (SELECT count(*) AS n, sum(dl)::DOUBLE / count(*) AS avgdl FROM dl),
tf AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf
  FROM (SELECT doc_id, unnest(t) AS term FROM toks)
  {term_filter}
  GROUP BY doc_id, term
),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
persc AS (
  SELECT tf.doc_id, tf.term,
         ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
         * tf.tf * ({k1} + 1) / (tf.tf + {k1} * (1 - {b} + {b} * dl.dl / stats.avgdl)) AS s
  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
)"""

def bm25_oracle_sql(
    terms: list[str],
    mode: str = "or",
    k: int = 10,
    table: str = "documents",
    text_expr: str = "text",
    id_col: str = "doc_id",
    phrase: list[str] | None = None,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> str:
    in_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    filters = []
    if mode in ("and", "phrase"):
        filters.append(f"matched = {len(terms)}")
    phrase_cte = ""
    if phrase:
        m = len(phrase)
        conds = " AND ".join(f"t[i+{j}] = '{w}'" for j, w in enumerate(phrase))
        phrase_cte = (
            ",\nphrase_docs AS (\n"
            f"  SELECT DISTINCT doc_id FROM toks, unnest(range(1, len(t) - {m} + 2)) AS u(i)\n"
            f"  WHERE len(t) >= {m} AND {conds}\n)"
        )
        filters.append("doc_id IN (SELECT doc_id FROM phrase_docs)")
    and_filter = ("WHERE " + " AND ".join(filters)) if filters else ""
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id, {duckdb_tokens_sql(text_expr)} AS t FROM {table}
),
dl AS (SELECT doc_id, len(t) AS dl FROM toks),
stats AS (SELECT count(*) AS n, sum(dl)::DOUBLE / count(*) AS avgdl FROM dl),
tf AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf
  FROM (SELECT doc_id, unnest(t) AS term FROM toks)
  WHERE term IN ({in_list})
  GROUP BY doc_id, term
),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
              * tf.tf * ({k1} + 1) / (tf.tf + {k1} * (1 - {b} + {b} * dl.dl / stats.avgdl)) ) AS raw,
         count(*) AS matched
  FROM tf
  JOIN dfreq USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
  GROUP BY tf.doc_id
){phrase_cte}
SELECT doc_id, round(raw, {ROUND_DIGITS}) AS score
FROM scored
{and_filter}
ORDER BY round(raw, {ROUND_DIGITS}) DESC, doc_id ASC
LIMIT {k}
""".strip()
