"""Fresh (non-serving) readers — the read-your-write path after a change
batch: term hashing runs no Spark job, per-segment state (relations, df
dictionaries and postings datasets) is built once per process and shared
by later readers, df comes from the driver-held segment dictionaries,
tombstones and the matched postings are read with pyarrow, and a query
launches no Spark job at all."""

import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from go_mysql_elasticsearch_spark.index.build import build_index, build_segment
from go_mysql_elasticsearch_spark.index.reader import IndexReader
from go_mysql_elasticsearch_spark.query import wand
from go_mysql_elasticsearch_spark.query.phrase import _PHRASE_COLS, match_phrase
from go_mysql_elasticsearch_spark.query.wand import bm25_topk, term_ids
from go_mysql_elasticsearch_spark.streaming.incremental import apply_changes, compact

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
    _changes(spark, idx, [("insert", 100 + i, _text(i)) for i in range(12)]
             + [("update", 0, "freshmatch rewritten"), ("delete", 3, None)])
    _changes(spark, idx, [("insert", 200 + i, _text(i + 1)) for i in range(12)]
             + [("update", 6, "freshleft freshright again"), ("delete", 4, None)])
    return idx


def _changes(spark, idx, events):
    apply_changes(spark, idx, spark.createDataFrame(
        events, "action string, doc_id long, text string"), n_shards=2)


@pytest.fixture()
def cdc_copy(cdc_index, tmp_path):
    """A private copy of ``cdc_index`` for tests that write to it."""
    d = str(tmp_path / "copy")
    shutil.copytree(cdc_index, d)
    return d


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
    """After one warm-up query, a match or a phrase with unseen terms
    runs no Spark job: df comes from the driver-held segment
    dictionaries, the postings from a pyarrow read of the segment files,
    and both rank their hits on the driver, whether or not the hits
    exceed k."""
    r = IndexReader(spark, cdc_index)
    bm25_topk(spark, r, "common", k=5).collect()
    for t in ("freshmatch", "word2", "freshleft", "freshright", "word1"):
        wand._TID_CACHE.pop(t, None)

    rows, n_match = spark_jobs(spark, lambda: bm25_topk(spark, r, "freshmatch word2", k=50).collect())
    assert n_match == 0
    few, n_few = spark_jobs(spark, lambda: match_phrase(spark, r, "freshleft freshright", k=5).collect())
    assert n_few == 0
    all_hits, n_all = spark_jobs(spark, lambda: match_phrase(spark, r, "common word1", k=50).collect())
    assert n_all == 0

    live = dict(r.docstore().select("doc_id", "text").collect())
    assert 0 in live and 3 not in live and 4 not in live
    assert {row["doc_id"] for row in rows} == {
        d for d, t in live.items() if {"freshmatch", "word2"} & set(t.split())
    }
    phrase_docs = {d for d, t in live.items() if "freshleft freshright" in t}
    assert len(phrase_docs) > 5
    assert len(few) == 5 and {row["doc_id"] for row in few} <= phrase_docs
    assert {row["doc_id"] for row in all_hits} == {d for d, t in live.items() if "common word1" in t}


def _dict_df(reader: IndexReader) -> dict[int, int]:
    return {r["tid"]: r["df"] for r in reader.global_dict().select("tid", "df").collect()}


def test_second_reader_shares_segment_state(spark, cdc_copy):
    """A reader over segments the process has already seen reads no
    schema and no dictionary again; after one more change batch a new
    reader's open plus first match runs no Spark job."""
    bm25_topk(spark, IndexReader(spark, cdc_copy), "common", k=5).collect()
    r = IndexReader(spark, cdc_copy)
    _, n_postings = spark_jobs(spark, r.postings)
    assert n_postings == 0
    unseen = list(term_ids(spark, ["filler3", "tail1", "nosuchterm"]).values())
    assert not any(t in r._df_cache for t in unseen)
    dfs, n_df = spark_jobs(spark, lambda: r.df_lookup(unseen))
    assert n_df == 0
    assert set(dfs) == set(unseen[:2]) and all(d > 0 for d in dfs.values())
    assert all(t in r._df_cache for t in unseen)

    _changes(spark, cdc_copy, [("insert", 300 + i, _text(i + 2)) for i in range(5)]
             + [("delete", 5, None)])
    rows, n_reopen = spark_jobs(
        spark, lambda: bm25_topk(spark, IndexReader(spark, cdc_copy), "freshmatch word2", k=50).collect())
    assert n_reopen == 0
    live = dict(IndexReader(spark, cdc_copy).docstore().select("doc_id", "text").collect())
    assert 5 not in live and 300 in live
    assert {row["doc_id"] for row in rows} == {
        d for d, t in live.items() if {"freshmatch", "word2"} & set(t.split())}


def test_df_lookup_equals_global_dict(spark, cdc_copy):
    """Every dictionary tid's df from the segment dictionaries equals the
    postings-block aggregate, on the 3-segment index and after compact."""
    for compacted in (False, True):
        if compacted:
            compact(spark, cdc_copy, n_shards=2)
        r = IndexReader(spark, cdc_copy)
        assert len(r.manifests) == (1 if compacted else 3)
        want = _dict_df(r)
        assert len(want) > 10
        got, n_jobs = spark_jobs(spark, lambda: r.df_lookup(list(want)))
        assert got == want
        assert n_jobs == 0


def test_rewritten_segment_serves_new_df(spark, tmp_path):
    """A segment rewritten in place gets a new manifest, so a new reader
    never serves the process-wide state cached for the old one."""
    idx = str(tmp_path / "rw")
    old = spark.createDataFrame([(i, f"alpha beta{i % 2}") for i in range(10)], "doc_id long, text string")
    build_segment(spark, old, idx, segment_id=0, n_shards=2)
    r0 = IndexReader(spark, idx)
    r0.postings()
    tids = term_ids(spark, ["alpha", "gamma"])
    assert r0.df_lookup(list(tids.values())) == {tids["alpha"]: 10}

    new = spark.createDataFrame([(i, f"gamma beta{i % 2}") for i in range(4)], "doc_id long, text string")
    build_segment(spark, new, idx, segment_id=0, n_shards=2, overwrite=True)
    r1 = IndexReader(spark, idx)
    assert r1.df_lookup(list(tids.values())) == {tids["gamma"]: 4}
    assert set(_dict_df(r1)) == set(term_ids(spark, ["gamma", "beta0", "beta1"]).values())
    assert {row["doc_id"] for row in bm25_topk(spark, r1, "gamma", k=10).collect()} == set(range(4))
    assert bm25_topk(spark, r1, "alpha", k=10).count() == 0


def test_driver_slice_equals_isin_filter(spark, cdc_index):
    """The tid-sorted resident copy sliced by binary search returns the
    rows the isin filter returns, in the same order, and the same row
    set as the pruned parquet pull."""
    r = IndexReader(spark, cdc_index)
    r.open_serving()
    try:
        dp = r.driver_postings()
        present = np.unique(dp["tid"].to_numpy())
        cols = wand._MATCH_COLS
        rng = np.random.default_rng(7)
        for _ in range(25):
            tids = [int(t) for t in rng.choice(present, size=int(rng.integers(0, 6)), replace=False)]
            tids += [int(t) for t in rng.integers(-2**63, 2**63 - 1, size=int(rng.integers(0, 3)))]
            tids += [wand._SENTINEL_TID] * int(rng.integers(0, 2)) + tids[:1]  # and a duplicate
            got = wand._driver_matched(r, tids, cols)
            want = dp.loc[dp["tid"].isin(tids), cols]
            assert got.equals(want) and list(got.index) == list(want.index)
            pulled = r._union("postings.parquet").where(F.col("tid").isin(tids)).select(*cols).toPandas()
            assert sorted(map(tuple, got.to_numpy().tolist())) == sorted(map(tuple, pulled.to_numpy().tolist()))
    finally:
        r.close_serving()


def _same_frame(got, want):
    """Same columns, dtypes, value types per column and row multiset."""
    assert list(got.columns) == list(want.columns)
    assert got.dtypes.to_dict() == want.dtypes.to_dict()
    for c in got.columns:
        assert {type(v) for v in got[c]} == {type(v) for v in want[c]}, c
    assert sorted(map(tuple, got.to_numpy().tolist())) == sorted(map(tuple, want.to_numpy().tolist()))


def test_arrow_postings_equal_spark_pull(spark, cdc_index):
    """The pyarrow read of the matched postings returns the Spark pull's
    rows field by field and dtype by dtype, with no Spark job, for sets
    with absent and duplicate tids."""
    r = IndexReader(spark, cdc_index)
    postings = r._union("postings.parquet")
    present = np.unique(r.arrow_postings(cols=["tid"])["tid"].to_numpy())
    rng = np.random.default_rng(11)
    for _ in range(25):
        tids = [int(t) for t in rng.choice(present, size=int(rng.integers(1, 6)), replace=False)]
        tids += [int(t) for t in rng.integers(-2**63, 2**63 - 1, size=int(rng.integers(0, 3)))]
        tids += tids[:1]  # a duplicate
        for cols in (wand._MATCH_COLS, _PHRASE_COLS):
            got, n_jobs = spark_jobs(spark, lambda: r.arrow_postings(tids, cols))
            assert n_jobs == 0
            _same_frame(got, postings.where(F.col("tid").isin(tids)).select(*cols).toPandas())


def test_driver_postings_equal_spark_copy(spark, cdc_index):
    """The serving copy is built with no Spark job and equals the copy
    Spark's ``toPandas()`` of all postings gives, sorted by tid."""
    r = IndexReader(spark, cdc_index)
    r.open_serving()
    try:
        dp, n_jobs = spark_jobs(spark, r.driver_postings)
        assert n_jobs == 0
        want = r._union("postings.parquet").toPandas().sort_values("tid", kind="stable")
        assert dp["tid"].tolist() == want["tid"].tolist()
        _same_frame(dp, want)
    finally:
        r.close_serving()


def test_tombstone_map_equals_spark_aggregate(spark, cdc_copy, monkeypatch):
    """The pyarrow tombstone map equals Spark's ``groupBy(doc_id)
    .max(upto_seg)`` and loads with no Spark job, before and after a
    change batch that tombstones doc 0 a second time. Over the raw-row
    threshold, the Spark path gives the same map."""
    for more in (False, True):
        if more:
            _changes(spark, cdc_copy, [("update", 0, "freshmatch again"), ("delete", 7, None)])
        r = IndexReader(spark, cdc_copy)
        got, n_jobs = spark_jobs(spark, r.tombstones_map)
        assert n_jobs == 0
        want = {row["doc_id"]: row["upto_seg"] for row in r.tombstones().collect()}
        assert got == want and r.tombstones_count() == len(want)
    assert want[0] == 2 and set(want) == {0, 3, 4, 6, 7}
    n_raw = spark.read.parquet(os.path.join(r.root, "tombstones.parquet")).count()
    assert n_raw > len(want)
    monkeypatch.setattr(IndexReader, "TOMBSTONE_DICT_MAX", len(want))
    spark_map, n_jobs = spark_jobs(spark, IndexReader(spark, cdc_copy).tombstones_map)
    assert n_jobs > 0 and spark_map == want
