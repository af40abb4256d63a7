"""S5/S9/S10 source utilities, K5 index settings, S8 schema evolution,
delete_by_query."""

import json
import os

import pytest
from pyspark.sql import functions as F

from go_mysql_elasticsearch_spark.index.build import build_index, build_segment
from go_mysql_elasticsearch_spark.index.reader import IndexReader
from go_mysql_elasticsearch_spark.query import ast as A
from go_mysql_elasticsearch_spark.query.phrase import match_phrase
from go_mysql_elasticsearch_spark.query.querystring import query_string_topk
from go_mysql_elasticsearch_spark.query.scoring import analyze_query, bm25_naive
from go_mysql_elasticsearch_spark.query.wand import bm25_topk
from go_mysql_elasticsearch_spark.sources.ingest import (
    describe_source,
    discover_tables,
    read_typed,
    union_tables,
)

from .conftest import SF_SMALL


def test_read_typed_skips_bad_pk_rows(spark):
    df = spark.createDataFrame(
        [("1", "9.5", "x"), ("oops", "2.0", "y"), ("3", "bad", "z")],
        "id string, score string, name string",
    )
    out = read_typed(df, {"id": "bigint", "score": "double", "name": "string"}, ["id"])
    rows = {r["id"]: (r["score"], r["name"]) for r in out.collect()}
    assert set(rows) == {1, 3}           # 'oops' PK row skipped (ErrSkip)
    assert rows[3] == (None, "z")        # non-PK failure → NULL


def test_wildcard_discovery_and_union(spark):
    base = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    for i in range(3):
        base.where(F.col("doc_id") % 3 == i).createOrReplaceTempView(f"t_river_{i:04d}")
    base.limit(1).createOrReplaceTempView("other_table")
    names = discover_tables(spark, r"t_river_\d+")
    assert names == ["t_river_0000", "t_river_0001", "t_river_0002"]
    u = union_tables(spark, r"t_river_\d+")
    assert u.count() == base.count()
    assert ("doc_id", "bigint") in describe_source(u)


CUSTOM = {"token_pattern": "[a-z]+", "bm25_k1": 0.9, "bm25_b": 0.4}


@pytest.fixture(scope="module")
def custom_idx(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("custom") / "custom_idx")
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    build_index(spark, docs, idx, n_segments=1, n_shards=2, settings=CUSTOM)
    return idx


def test_index_settings_persist_and_apply(spark, custom_idx):
    """K5: custom analyzer pattern + BM25 params persist with the index
    and drive both build and query; rank-identity holds under them for
    every query family: match, phrase (direct and as an AST leaf) and
    query_string."""
    idx = custom_idx
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    with open(os.path.join(idx, "settings.json")) as f:
        assert json.load(f)["bm25_k1"] == 0.9
    r = IndexReader(spark, idx)
    assert r.settings["token_pattern"] == "[a-z]+"

    def rows(df):
        return [(x["doc_id"], x["score"]) for x in df.collect()]

    def want(query):
        return rows(bm25_naive(docs, analyze_query(query, "[a-z]+"), k1=0.9, b=0.4,
                               pattern="[a-z]+"))

    assert rows(bm25_topk(spark, r, "data merge", k=10)) == want("data merge")
    single = want("data")
    assert len(single) == 10
    assert rows(match_phrase(spark, r, "data", k=10)) == single
    assert rows(A.topk(spark, r, A.Phrase("data"), k=10)) == single
    assert rows(query_string_topk(spark, r, "data", k=10)) == single


def test_query_string_analyzes_with_index_pattern(spark, custom_idx):
    """query_string terms go through the index's token_pattern: on a
    ``[a-z]+`` index ``+data2`` analyzes to the must term ``data`` (the
    default pattern would keep ``data2``, which no doc of this index can
    hold, and the gate would drop every hit)."""
    r = IndexReader(spark, custom_idx)

    def rows(q):
        return [(x["doc_id"], x["score"]) for x in query_string_topk(spark, r, q, k=10).collect()]

    got = rows("+data2 merge")
    assert got and got == rows("+data merge")


def test_settings_immutable_across_incremental_builds(spark, tmp_path):
    idx = str(tmp_path / "imm_idx")
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    build_segment(spark, docs, idx, segment_id=0, n_shards=2, settings={"bm25_k1": 0.9})
    # a later build with different settings must NOT change the index's
    m = build_segment(
        spark, docs.limit(10), idx, segment_id=1, n_shards=2, settings={"bm25_k1": 2.0}
    )
    assert m is not None
    with open(os.path.join(idx, "settings.json")) as f:
        assert json.load(f)["bm25_k1"] == 0.9


def test_schema_evolution_across_segments(spark, tmp_path):
    """S8: a column added between segments merges on read (ALTER TABLE
    ADD parity, canal/sync.go:105-141 / TestSchemaUpgrade)."""
    idx = str(tmp_path / "evo_idx")
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select("doc_id", "text")
    build_segment(spark, docs.where("doc_id < 100"), idx, segment_id=0, n_shards=2)
    evolved = docs.where("doc_id >= 100 and doc_id < 200").withColumn("lang", F.lit("xx"))
    build_segment(spark, evolved, idx, segment_id=1, n_shards=2)
    r = IndexReader(spark, idx)
    d = r.docstore()
    assert "lang" in d.columns
    assert d.where(F.col("doc_id") < 100).select("lang").first()["lang"] is None
    assert d.where(F.col("doc_id") == 150).first()["lang"] == "xx"
    # queries span both segments
    assert bm25_topk(spark, r, ["the"], k=5).count() == 5


def test_delete_by_query(spark, tmp_path):
    from go_mysql_elasticsearch_spark.streaming.incremental import delete_by_query

    idx = str(tmp_path / "dbq_idx")
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    build_index(spark, docs, idx, n_segments=1, n_shards=2)
    n = delete_by_query(spark, idx, ["dup"])
    assert n > 0
    r = IndexReader(spark, idx)
    assert bm25_topk(spark, r, ["dup"], k=10).count() == 0
    assert r.docstore().count() == 500 - n


def test_load_table_resolves_path_and_catalog_name(spark, tmp_path):
    """S1 source resolution (sources/ingest.py load_table): a path →
    parquet scan; a catalog name (how an Iceberg table arrives once its
    catalog is configured) → spark.read.table. Same frame either way."""
    from go_mysql_elasticsearch_spark.sources.ingest import load_table

    p = str(tmp_path / "lt.parquet")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, text string")
    df.write.parquet(p)
    by_path = load_table(spark, p)
    assert sorted(r["doc_id"] for r in by_path.collect()) == [1, 2]

    spark.read.parquet(p).createOrReplaceTempView("lt_view")
    by_name = load_table(spark, "lt_view")
    assert sorted(r["doc_id"] for r in by_name.collect()) == [1, 2]
    assert by_name.schema == by_path.schema


def test_settings_survive_compact_and_merge(spark, tmp_path):
    """ADVICE r3: compact()/merge_segments must rebuild live docs with
    the index's EFFECTIVE settings — not defaults — so query-time
    analysis and the compacted postings can never disagree. Rank
    identity under the custom analyzer must hold across a compact."""
    from go_mysql_elasticsearch_spark.streaming.incremental import (
        compact,
        merge_segments,
    )

    idx = str(tmp_path / "cust_compact_idx")
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    custom = {"token_pattern": "[a-z]+", "bm25_k1": 0.9, "bm25_b": 0.4}
    build_index(spark, docs, idx, n_segments=1, n_shards=2, settings=custom)
    before = [
        (x["doc_id"], x["score"])
        for x in bm25_topk(spark, IndexReader(spark, idx), "data merge", k=10).collect()
    ]
    compact(spark, idx, n_segments=1, n_shards=2)
    r = IndexReader(spark, idx)
    assert r.settings["token_pattern"] == "[a-z]+"
    assert r.settings["bm25_k1"] == 0.9
    after = [
        (x["doc_id"], x["score"])
        for x in bm25_topk(spark, r, "data merge", k=10).collect()
    ]
    assert before == after

    # merged segments inherit the analyzer too
    from go_mysql_elasticsearch_spark.index.build import gen_root

    build_segment(
        spark, docs.limit(20).withColumn("doc_id", F.col("doc_id") + 10**6),
        gen_root(idx), segment_id=7, n_shards=2,
    )
    build_segment(
        spark, docs.limit(20).withColumn("doc_id", F.col("doc_id") + 2 * 10**6),
        gen_root(idx), segment_id=8, n_shards=2,
    )
    merge_segments(spark, idx, [7, 8], n_shards=2)
    r2 = IndexReader(spark, idx)
    assert r2.settings["bm25_k1"] == 0.9
