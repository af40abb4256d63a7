"""Composable query AST → scored-frame algebra.

The reference client builds queries as nested builder objects
(search_queries_bool.go:13-120, search_source.go:13-499 — every query
type implements ``Source()`` and nests arbitrarily). This module is the
engine-side equivalent: immutable dataclass nodes that ``compile`` into
the (doc_id, score) DataFrame algebra the entries previously hand-built
one fixture at a time — so a user can compose ``Bool`` inside
``DisMax`` inside ``FunctionScore`` and get the same deterministic
ranking contract (clause scores rounded to 6, compound totals
re-rounded, ties broken by doc_id).

Leaf scoring: ``Match`` runs the match kernel (query/wand.py; the
vectorized exhaustive kernel by default, block-max WAND under
``OR_KERNEL = "wand"``), ``Phrase`` runs the positional-postings
verifier (query/phrase.py); structured leaves (term/terms/range/exists)
are docstore predicates — filter context, score 1.0 in query context,
exactly ES's filter semantics.

Scale notes: compounds are joins keyed on doc_id between already-pruned
scored frames — broadcast when one side is small (Catalyst/AQE decide),
shuffle-on-key otherwise; nothing here widens a scan.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..index.reader import IndexReader
from .scoring import ROUND_DIGITS

Query = Union[
    "Match", "Phrase", "Term", "Terms", "Range", "Exists", "MatchAll",
    "Bool", "ConstantScore", "DisMax", "Boosting", "FunctionScore", "Not",
]


# --- leaves -----------------------------------------------------------------

@dataclass(frozen=True)
class Match:
    terms: tuple
    mode: str = "or"
    min_should: int = 1


@dataclass(frozen=True)
class Phrase:
    text: str


@dataclass(frozen=True)
class Term:
    field: str
    value: object


@dataclass(frozen=True)
class Terms:
    field: str
    values: tuple


@dataclass(frozen=True)
class Range:
    field: str
    gte: object = None
    lte: object = None
    gt: object = None
    lt: object = None


@dataclass(frozen=True)
class Exists:
    field: str


@dataclass(frozen=True)
class Ne:
    """field != value with SQL three-valued semantics (NULL rows drop —
    unlike ``Bool(must_not=Term(...))``, which keeps them)."""

    field: str
    value: object


@dataclass(frozen=True)
class MatchAll:
    boost: float = 1.0


# --- compounds --------------------------------------------------------------

@dataclass(frozen=True)
class Bool:
    must: tuple = ()
    should: tuple = ()
    must_not: tuple = ()
    filter: tuple = ()
    minimum_should_match: int = 0


@dataclass(frozen=True)
class ConstantScore:
    filter: object
    boost: float = 1.0


@dataclass(frozen=True)
class DisMax:
    queries: tuple
    tie_breaker: float = 0.0


@dataclass(frozen=True)
class Boosting:
    positive: object
    negative: object
    negative_boost: float = 0.5


@dataclass(frozen=True)
class Not:
    query: object


# --- score functions (search_queries_fsq_score_funcs.go) --------------------

@dataclass(frozen=True)
class Weight:
    weight: float


@dataclass(frozen=True)
class Decay:
    field: str
    origin: float
    scale: float
    kind: str = "exp"  # exp | gauss | linear


@dataclass(frozen=True)
class FieldValueFactor:
    field: str
    factor: float = 1.0
    modifier: str = "none"  # none | log1p | sqrt
    missing: float = 1.0


@dataclass(frozen=True)
class RandomScore:
    """Deterministic random_score (vendor elastic.v3
    search_queries_fsq_score_funcs.go RandomFunction): seeded hash of
    the doc id -> uniform [0,1). md5-based so any engine reproduces it
    bit-for-bit (same determinism trick as the LSH hyperplanes)."""

    seed: int = 0


@dataclass(frozen=True)
class FunctionScore:
    query: object
    functions: tuple
    score_mode: str = "multiply"  # multiply | sum
    boost_mode: str = "multiply"  # multiply | sum | replace


# --- compilation ------------------------------------------------------------

# virtual docstore fields (mapping layer: reference river/rule.go field
# mappings become column expressions)
_VIRTUAL = {"n_chars": lambda: F.length("text")}


def _field_col(name: str) -> F.Column:
    return _VIRTUAL[name]() if name in _VIRTUAL else F.col(name)


def _leaf_pred(q) -> F.Column:
    c = _field_col(q.field)
    if isinstance(q, Term):
        return c == q.value
    if isinstance(q, Ne):
        return c != q.value
    if isinstance(q, Terms):
        return c.isin(list(q.values))
    if isinstance(q, Range):
        p = F.lit(True)
        if q.gte is not None:
            p = p & (c >= q.gte)
        if q.lte is not None:
            p = p & (c <= q.lte)
        if q.gt is not None:
            p = p & (c > q.gt)
        if q.lt is not None:
            p = p & (c < q.lt)
        return p
    if isinstance(q, Exists):
        return c.isNotNull()
    raise TypeError(f"not a filter leaf: {q}")


def filter_docs(spark: SparkSession, reader: IndexReader, q) -> DataFrame:
    """Filter context → DataFrame(doc_id). Structured leaves compile to
    docstore predicates (pushed-down parquet filters); any scoring query
    is usable as a filter via its matching-doc set."""
    if isinstance(q, (Term, Terms, Range, Exists, Ne)):
        return reader.docstore().where(_leaf_pred(q)).select("doc_id")
    return all_hits(spark, reader, q).select("doc_id")


def all_hits(spark: SparkSession, reader: IndexReader, q) -> DataFrame:
    """Query context → DataFrame(doc_id, score), score rounded, ALL
    matching docs (no limit — result shaping happens in topk)."""
    from .phrase import match_phrase
    from .wand import bm25_topk

    if isinstance(q, Match):
        return bm25_topk(spark, reader, list(q.terms), mode=q.mode,
                         min_should=q.min_should, return_all=True)
    if isinstance(q, Phrase):
        return match_phrase(spark, reader, q.text, k=None)
    if isinstance(q, MatchAll):
        return reader.docstore().select("doc_id", F.lit(float(q.boost)).alias("score"))
    if isinstance(q, (Term, Terms, Range, Exists, Ne)):
        return filter_docs(spark, reader, q).select("doc_id", F.lit(1.0).alias("score"))
    if isinstance(q, ConstantScore):
        return filter_docs(spark, reader, q.filter).select(
            "doc_id", F.lit(float(q.boost)).alias("score")
        )
    if isinstance(q, Bool):
        return _bool_hits(spark, reader, q)
    if isinstance(q, DisMax):
        frames = [all_hits(spark, reader, sub) for sub in q.queries]
        u = frames[0]
        for f_ in frames[1:]:
            u = u.unionByName(f_)
        agg = u.groupBy("doc_id").agg(
            F.max("score").alias("best"), F.sum("score").alias("total")
        )
        return agg.select(
            "doc_id",
            F.round(
                F.col("best") + F.lit(q.tie_breaker) * (F.col("total") - F.col("best")),
                ROUND_DIGITS,
            ).alias("score"),
        )
    if isinstance(q, Boosting):
        pos = all_hits(spark, reader, q.positive)
        neg = all_hits(spark, reader, q.negative).select("doc_id", F.lit(1).alias("_neg"))
        return pos.join(neg, "doc_id", "left").select(
            "doc_id",
            F.round(
                F.when(F.col("_neg").isNotNull(), F.col("score") * q.negative_boost)
                .otherwise(F.col("score")),
                ROUND_DIGITS,
            ).alias("score"),
        )
    if isinstance(q, Not):
        base = reader.docstore().select("doc_id", F.lit(1.0).alias("score"))
        return base.join(all_hits(spark, reader, q.query).select("doc_id"), "doc_id", "left_anti")
    if isinstance(q, FunctionScore):
        return _function_score_hits(spark, reader, q)
    raise TypeError(f"unknown query node: {q}")


def _bool_hits(spark, reader, q: Bool) -> DataFrame:
    must = [all_hits(spark, reader, m) for m in q.must]
    out = None
    if must:
        out = must[0].withColumnRenamed("score", "_s0")
        for i, m in enumerate(must[1:], 1):
            out = out.join(m.withColumnRenamed("score", f"_s{i}"), "doc_id")
        total = sum((F.col(f"_s{i}") for i in range(1, len(must))), F.col("_s0"))
        out = out.select("doc_id", total.alias("_sum"))
    if q.should:
        shoulds = [all_hits(spark, reader, s) for s in q.should]
        u = shoulds[0]
        for s in shoulds[1:]:
            u = u.unionByName(s)
        sagg = u.groupBy("doc_id").agg(
            F.sum("score").alias("_ssum"), F.count(F.lit(1)).alias("_smatched")
        )
        if out is None:
            msm = max(1, q.minimum_should_match)
            out = sagg.where(F.col("_smatched") >= msm).select(
                "doc_id", F.col("_ssum").alias("_sum")
            )
        else:
            out = out.join(sagg, "doc_id", "left")
            if q.minimum_should_match > 0:
                out = out.where(
                    F.coalesce("_smatched", F.lit(0)) >= q.minimum_should_match
                )
            out = out.select(
                "doc_id", (F.col("_sum") + F.coalesce("_ssum", F.lit(0.0))).alias("_sum")
            )
    if out is None:  # filter/must_not only → constant score 1 over filters
        out = reader.docstore().select("doc_id", F.lit(1.0).alias("_sum"))
    for flt in q.filter:
        out = out.join(filter_docs(spark, reader, flt), "doc_id", "left_semi")
    for mn in q.must_not:
        out = out.join(all_hits(spark, reader, mn).select("doc_id"), "doc_id", "left_anti")
    return out.select("doc_id", F.round("_sum", ROUND_DIGITS).alias("score"))


def _function_score_hits(spark, reader, q: FunctionScore) -> DataFrame:
    base = all_hits(spark, reader, q.query)
    needed_fields = {f_.field for f_ in q.functions if hasattr(f_, "field")}
    if needed_fields:
        cols = [_field_col(f).alias(f"_f_{f}") for f in needed_fields]
        d = reader.docstore().select("doc_id", *cols)
        base = base.join(d, "doc_id")
    factors = []
    for fn in q.functions:
        if isinstance(fn, Weight):
            factors.append(F.lit(float(fn.weight)))
        elif isinstance(fn, Decay):
            x = F.col(f"_f_{fn.field}").cast("double")
            if fn.kind == "exp":
                factors.append(F.exp(-F.abs(x - fn.origin) / F.lit(float(fn.scale))))
            elif fn.kind == "gauss":
                factors.append(F.exp(-F.pow(x - fn.origin, 2) / F.lit(2.0 * fn.scale * fn.scale)))
            elif fn.kind == "linear":
                factors.append(F.greatest(F.lit(0.0), 1.0 - F.abs(x - fn.origin) / F.lit(float(fn.scale))))
            else:
                raise ValueError(fn.kind)
        elif isinstance(fn, RandomScore):
            # first 15 hex chars of md5("seed:doc_id") / 16^15: exact in
            # int64, converts to the same nearest-double everywhere
            h = F.conv(
                F.substring(
                    F.md5(F.concat_ws(":", F.lit(str(fn.seed)), F.col("doc_id").cast("string"))),
                    1, 15,
                ),
                16, 10,
            )
            factors.append(h.cast("double") / F.lit(float(16 ** 15)))
        elif isinstance(fn, FieldValueFactor):
            x = F.coalesce(F.col(f"_f_{fn.field}").cast("double"), F.lit(float(fn.missing)))
            v = x * fn.factor
            if fn.modifier == "log1p":
                v = F.log(F.lit(1.0) + v)
            elif fn.modifier == "sqrt":
                v = F.sqrt(v)
            elif fn.modifier != "none":
                raise ValueError(fn.modifier)
            factors.append(v)
        else:
            raise TypeError(f"unknown score function: {fn}")
    if q.score_mode == "multiply":
        fac = factors[0]
        for f_ in factors[1:]:
            fac = fac * f_
    elif q.score_mode == "sum":
        fac = sum(factors[1:], factors[0])
    else:
        raise ValueError(q.score_mode)
    if q.boost_mode == "multiply":
        total = F.col("score") * fac
    elif q.boost_mode == "sum":
        total = F.col("score") + fac
    elif q.boost_mode == "replace":
        total = fac
    else:
        raise ValueError(q.boost_mode)
    return base.select("doc_id", F.round(total, ROUND_DIGITS).alias("score"))


def topk(spark: SparkSession, reader: IndexReader, q, k: int = 10,
         from_: int = 0, min_score: float | None = None) -> DataFrame:
    """Result shaping: deterministic (score DESC, doc_id ASC), from/size
    pagination, min_score cutoff (search_source.go:13-499)."""
    hits = all_hits(spark, reader, q)
    if min_score is not None:
        hits = hits.where(F.col("score") >= min_score)
    hits = hits.orderBy(F.desc("score"), F.asc("doc_id"))
    if from_ > 0:
        return hits.limit(from_ + k).offset(from_)
    return hits.limit(k)
