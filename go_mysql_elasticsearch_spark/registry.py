"""Driver-contract registry: queries() + oracle_sql() entries.

Each entry pairs a Spark callable ``(spark, sf_dir) -> DataFrame``
exercising the real engine path with an equivalent DuckDB SQL string
over the pre-registered views (documents, events, ...). Column names
and rounding are aligned so the driver's order-insensitive value-hash
matches (CORRECTNESS_r{N}.json).
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .analyzer import extract_text_udf
from .index.build import build_index
from .index.reader import IndexReader
from .query.phrase import match_phrase, phrase_words
from .query.scoring import bm25_oracle_sql
from .query.wand import bm25_topk
from .webpages import webpages

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
IDX_CACHE_ROOT = os.environ.get("SPARK_GRAFT_IDX_CACHE", os.path.join(REPO_ROOT, ".idxcache"))

# Bump whenever the on-disk index format or analyzer defaults change —
# salts the cache key so stale-format indexes are rebuilt, not reused.
INDEX_FORMAT_VERSION = "6"  # v6: docs_schema in the manifest (v5: term_dict, v4: pos_vb)

_READERS: dict[str, IndexReader] = {}
_URL_READERS: dict[str, IndexReader] = {}


def index_for(spark: SparkSession, sf_dir: str, n_segments: int = 2, n_shards: int = 4) -> IndexReader:
    """Build-or-open the packed index for one sf dir.

    The ingest goes through the full path — html binary → Arrow-UDF
    text extraction → tokenize → pack — so every query entry also
    exercises M0. Manifests make re-entry a no-op (resume semantics).
    """
    key = os.path.abspath(sf_dir)
    if key in _READERS:
        return _READERS[key]
    tag = hashlib.sha1(
        f"{key}|{n_segments}|{n_shards}|v{INDEX_FORMAT_VERSION}".encode()
    ).hexdigest()[:10]
    idx_dir = os.path.join(IDX_CACHE_ROOT, f"{os.path.basename(key)}-{tag}")
    wp = webpages(spark, sf_dir)
    ingest = wp.select(
        "doc_id", "url", "warc_ts", "lang", extract_text_udf("html").alias("text")
    )
    build_index(spark, ingest, idx_dir, n_segments=n_segments, n_shards=n_shards)
    _READERS[key] = IndexReader(spark, idx_dir)
    return _READERS[key]


def url_index_for(spark: SparkSession, sf_dir: str, n_shards: int = 4) -> IndexReader:
    """Per-FIELD index: the url column indexed as its own text field —
    how multi_match serves secondary fields at scale (ES keeps one
    inverted index per field; round 1 scored url with a full-corpus
    naive scan instead). Same build pipeline, same cache contract."""
    key = os.path.abspath(sf_dir)
    if key in _URL_READERS:
        return _URL_READERS[key]
    tag = hashlib.sha1(f"{key}|url|v{INDEX_FORMAT_VERSION}".encode()).hexdigest()[:10]
    idx_dir = os.path.join(IDX_CACHE_ROOT, f"url-{os.path.basename(key)}-{tag}")
    docs = webpages(spark, sf_dir).select("doc_id", F.col("url").alias("text"))
    build_index(spark, docs, idx_dir, n_segments=1, n_shards=n_shards)
    _URL_READERS[key] = IndexReader(spark, idx_dir)
    return _URL_READERS[key]


_PARENT_READERS: dict[str, IndexReader] = {}


def parent_index_for(spark: SparkSession, sf_dir: str, n_shards: int = 4) -> IndexReader:
    """Parent/child fixture index built through the REAL rowdoc path
    (T11, config/rule.go:85-95): child rows (doc_id >= 10) run through
    ``convert_rows`` with ``parent_col`` set, so ``_parent`` is
    extracted by the conversion rule and carried by the docstore
    end-to-end — has_child / has_parent / inner_hits query it from
    storage instead of re-deriving it. Parent docs (doc_id < 10) are
    indexed without a parent. The FK column is doc_id % 10, so the
    DuckDB oracles compute identical routing."""
    from .sources.rowdoc import Rule, convert_rows

    key = os.path.abspath(sf_dir)
    if key in _PARENT_READERS:
        return _PARENT_READERS[key]
    tag = hashlib.sha1(f"{key}|parent|v{INDEX_FORMAT_VERSION}".encode()).hexdigest()[:10]
    idx_dir = os.path.join(IDX_CACHE_ROOT, f"parent-{os.path.basename(key)}-{tag}")
    base = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text", "lang")
    kids_src = base.where(F.col("doc_id") >= 10).withColumn(
        "pid", (F.col("doc_id") % 10).cast("long")
    )
    rule = Rule(pk_cols=["doc_id"], parent_col="pid")
    kids = convert_rows(kids_src, rule).select(
        F.col("doc_id"), F.col("_parent"), "text", "lang"
    )
    parents = base.where(F.col("doc_id") < 10).withColumn(
        "_parent", F.lit(None).cast("string")
    )
    build_index(
        spark, kids.unionByName(parents.select(*kids.columns)), idx_dir,
        n_segments=1, n_shards=n_shards,
    )
    _PARENT_READERS[key] = IndexReader(spark, idx_dir)
    return _PARENT_READERS[key]


# ---------------------------------------------------------------------------
# BM25 match-query fixtures (head / rare / OR / AND / phrase / zero-hit)
# ---------------------------------------------------------------------------

_MATCH_FIXTURES: dict[str, tuple[list[str], str]] = {
    "bm25_match_or2": (["data", "merge"], "or"),
    "bm25_match_or4": (["fast", "query", "batch", "value"], "or"),
    "bm25_match_and2": (["dup", "scan"], "and"),
    "bm25_match_head": (["scan"], "or"),
    "bm25_match_rare": (["dup"], "or"),
    "bm25_match_zerohit": (["zzmissingterm"], "or"),
}

_PHRASE_FIXTURE = "hash join"
# repeated-word sloppy phrase (Lucene collision rule: the two 'customer'
# slots must bind DISTINCT positions); "customer merge customer" occurs
# verbatim in the sf0.01 corpus, slop=2 admits nearby rearrangements
_PHRASE_SLOP_REPEAT_FIXTURE = "customer merge customer"
# phrase_prefix fixture: full words + trailing prefix (expands in the
# term dictionary, first 50 in term order — Lucene's default cap)
_PHRASE_PREFIX_FIXTURE = (["hash"], "jo")


def _match_query(terms: list[str], mode: str):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return bm25_topk(spark, index_for(spark, sf_dir), terms, k=10, mode=mode)

    return run


def _phrase_query(phrase: str):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return match_phrase(spark, index_for(spark, sf_dir), phrase, k=10)

    return run


def build_queries() -> dict:
    from .entries import all_entries

    def _pp(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .query.phrase import match_phrase_prefix

        full, prefix = _PHRASE_PREFIX_FIXTURE
        return match_phrase_prefix(spark, index_for(spark, sf_dir), " ".join(full) + " " + prefix, k=10)

    def _slop(spark: SparkSession, sf_dir: str) -> DataFrame:
        return match_phrase(spark, index_for(spark, sf_dir), _PHRASE_FIXTURE, k=10, slop=2)

    def _slop_repeat(spark: SparkSession, sf_dir: str) -> DataFrame:
        return match_phrase(
            spark, index_for(spark, sf_dir), _PHRASE_SLOP_REPEAT_FIXTURE, k=10, slop=2
        )

    q = {}
    t0, m0 = _MATCH_FIXTURES["bm25_match_or2"]
    q["bm25_match_or2"] = _match_query(t0, m0)
    q["bm25_phrase_prefix"] = _pp
    q["bm25_phrase_slop"] = _slop
    q["bm25_phrase_slop_repeat"] = _slop_repeat
    for name, (fn, _sql) in all_entries().items():
        q[name] = fn
    for name, (terms, mode) in _MATCH_FIXTURES.items():
        if name not in q:
            q[name] = _match_query(terms, mode)
    q["bm25_match_phrase"] = _phrase_query(_PHRASE_FIXTURE)
    return q


def build_oracles() -> dict[str, str]:
    from .entries import all_entries

    o = {}
    for name, (terms, mode) in _MATCH_FIXTURES.items():
        o[name] = bm25_oracle_sql(terms, mode=mode, k=10)
    pw = phrase_words(_PHRASE_FIXTURE)
    o["bm25_match_phrase"] = bm25_oracle_sql(
        list(dict.fromkeys(pw)), mode="phrase", k=10, phrase=pw
    )
    from .query.phrase import phrase_prefix_oracle_sql, phrase_slop_oracle_sql

    o["bm25_phrase_prefix"] = phrase_prefix_oracle_sql(*_PHRASE_PREFIX_FIXTURE, k=10)
    o["bm25_phrase_slop"] = phrase_slop_oracle_sql(pw, slop=2, k=10)
    o["bm25_phrase_slop_repeat"] = phrase_slop_oracle_sql(
        phrase_words(_PHRASE_SLOP_REPEAT_FIXTURE), slop=2, k=10
    )
    for name, (_fn, sql) in all_entries().items():
        if sql is not None:
            o[name] = sql
    return o
