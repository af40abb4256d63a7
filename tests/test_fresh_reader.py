"""Fresh (non-serving) readers — the read-your-write path after a change
batch: term hashing runs no Spark job, each segment relation is built
once per reader, and a query launches only the jobs that do search work
(the df lookup and the postings pull)."""

import pytest
from pyspark.sql import functions as F

from go_mysql_elasticsearch_spark.index.build import build_index
from go_mysql_elasticsearch_spark.index.reader import IndexReader
from go_mysql_elasticsearch_spark.query import wand
from go_mysql_elasticsearch_spark.query.phrase import match_phrase
from go_mysql_elasticsearch_spark.query.wand import bm25_topk, term_ids
from go_mysql_elasticsearch_spark.streaming.incremental import apply_changes

from .conftest import spark_jobs


def _text(i: int) -> str:
    words = [f"filler{i % 7}", "common", f"word{i % 5}"]
    if i % 3 == 0:
        words += ["freshleft", "freshright"]
    if i % 4 == 0:
        words += ["freshmatch"]
    return " ".join(words + [f"tail{i % 2}"])


@pytest.fixture(scope="module")
def cdc_index(spark, tmp_path_factory):
    """Three segments: a bootstrap build plus two change batches that
    insert, update and delete, so the index carries tombstones."""
    idx = str(tmp_path_factory.mktemp("freshidx") / "i")
    docs = spark.createDataFrame([(i, _text(i)) for i in range(40)], "doc_id long, text string")
    build_index(spark, docs, idx, n_segments=1, n_shards=2)
    schema = "action string, doc_id long, text string"
    apply_changes(spark, idx, spark.createDataFrame(
        [("insert", 100 + i, _text(i)) for i in range(12)]
        + [("update", 0, "freshmatch rewritten"), ("delete", 3, None)], schema), n_shards=2)
    apply_changes(spark, idx, spark.createDataFrame(
        [("insert", 200 + i, _text(i + 1)) for i in range(12)]
        + [("update", 6, "freshleft freshright again"), ("delete", 4, None)], schema), n_shards=2)
    return idx


def test_term_ids_equal_spark_xxhash64_without_a_job(spark):
    terms = ["data", "merge", "", "naïve", "日本語テキスト",
             "a" * 31, "b" * 32, "c" * 33, "é" * 40]
    # XXH64 reads 32-byte stripes: 31/32/33 straddle one, 80 (multi-byte
    # characters) spans two plus an 8/4/1-byte tail
    assert [len(t.encode("utf-8")) for t in terms[-4:]] == [31, 32, 33, 80]
    for t in terms:
        wand._TID_CACHE.pop(t, None)
    got, n_jobs = spark_jobs(spark, lambda: term_ids(spark, terms))
    want = {
        r["t"]: r["h"]
        for r in spark.createDataFrame([(t,) for t in terms], "t string")
        .select("t", F.xxhash64("t").alias("h"))
        .collect()
    }
    assert got == want
    assert n_jobs == 0


def test_fresh_reader_builds_postings_relation_once(spark, cdc_index):
    r = IndexReader(spark, cdc_index)
    assert len(r.manifests) == 3 and not r.serving_open
    first = r.postings()
    again, n_jobs = spark_jobs(spark, r.postings)
    assert again is first
    assert n_jobs == 0


def test_fresh_reader_builds_term_strings_once(spark, cdc_index):
    r = IndexReader(spark, cdc_index)
    first = r.term_strings()
    again, n_jobs = spark_jobs(spark, r.term_strings)
    assert again is first
    assert n_jobs == 0
    assert {x["term"] for x in first.where(F.col("term").startswith("fresh")).collect()} == {
        "freshleft", "freshright", "freshmatch"}


def test_fresh_reader_query_jobs(spark, cdc_index):
    """After one warm-up query (dictionary and tombstones cached), a
    match or a phrase with unseen terms runs the df lookup and the
    postings pull and nothing else: both rank their hits on the driver,
    whether or not the hits exceed k."""
    r = IndexReader(spark, cdc_index)
    bm25_topk(spark, r, "common", k=5).collect()
    for t in ("freshmatch", "word2", "freshleft", "freshright", "word1"):
        wand._TID_CACHE.pop(t, None)

    rows, n_match = spark_jobs(spark, lambda: bm25_topk(spark, r, "freshmatch word2", k=50).collect())
    assert n_match == 2
    few, n_few = spark_jobs(spark, lambda: match_phrase(spark, r, "freshleft freshright", k=5).collect())
    assert n_few == 2
    all_hits, n_all = spark_jobs(spark, lambda: match_phrase(spark, r, "common word1", k=50).collect())
    assert n_all == 2

    live = dict(r.docstore().select("doc_id", "text").collect())
    assert 0 in live and 3 not in live and 4 not in live
    assert {row["doc_id"] for row in rows} == {
        d for d, t in live.items() if {"freshmatch", "word2"} & set(t.split())
    }
    phrase_docs = {d for d, t in live.items() if "freshleft freshright" in t}
    assert len(phrase_docs) > 5
    assert len(few) == 5 and {row["doc_id"] for row in few} <= phrase_docs
    assert {row["doc_id"] for row in all_hits} == {d for d, t in live.items() if "common word1" in t}
