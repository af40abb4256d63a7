"""Route matrix: every query family returns the same ``(doc_id, score)``
rows on each of the query executor's four routes, over an index with
deletes:

- resident-driver: serving open, the driver slices its resident copy;
- residency: serving open, ``mapInPandas`` over the cached partitions;
- pull-driver: serving closed, the driver reads the matched postings
  from the segment files with pyarrow;
- groupby: ``groupBy(segment, shard).applyInPandas`` with the deletes
  riding as sentinel rows (``TOMBSTONE_DICT_MAX = 0``).

Each run records which route it took, so a route change that silently
falls back to another one fails here too, and how many Spark jobs it
ran: the driver routes run none."""

import functools

import pytest
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame
from pyspark.sql.group import GroupedData

from go_mysql_elasticsearch_spark.index.build import build_index
from go_mysql_elasticsearch_spark.index.reader import IndexReader
from go_mysql_elasticsearch_spark.query import ast as A
from go_mysql_elasticsearch_spark.query import phrase as P
from go_mysql_elasticsearch_spark.query import wand as W
from go_mysql_elasticsearch_spark.streaming.incremental import apply_changes

from .conftest import SF_SMALL, spark_jobs

MSEARCH = [(["data", "merge"], "or"), (["dup", "scan"], "and"), (["scan"], "or"),
           (["zzznope"], "or"), ("merge scan dup", "or")]


def _rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


CASES = {
    "match_or": lambda s, r, st: _rows(W.bm25_topk(s, r, ["data", "merge"], k=10, strategy=st)),
    "match_and": lambda s, r, st: _rows(W.bm25_topk(s, r, ["dup", "scan"], k=10, mode="and",
                                                    strategy=st)),
    "min_should_2": lambda s, r, st: _rows(W.bm25_topk(s, r, ["dup", "scan", "merge"], k=10,
                                                       min_should=2, strategy=st)),
    # return_all skips the global sort on the distributed routes
    "return_all": lambda s, r, st: sorted(
        _rows(W.bm25_topk(s, r, ["data", "merge"], return_all=True, strategy=st)),
        key=lambda x: (-x[1], x[0])),
    "msearch": lambda s, r, st: [_rows(df) for df in W.bm25_topk_batch(s, r, MSEARCH, k=5)],
    "phrase_slop0": lambda s, r, st: _rows(P.match_phrase(s, r, "hash join", k=10, strategy=st)),
    "phrase_slop2": lambda s, r, st: _rows(P.match_phrase(s, r, "customer merge customer", k=10,
                                                          slop=2, strategy=st)),
    "phrase_prefix": lambda s, r, st: _rows(P.match_phrase_prefix(s, r, "hash jo", k=10)),
    # both query families with k=None (every hit, unordered on the
    # distributed routes), composed and ranked by Spark
    "ast_bool": lambda s, r, st: _rows(A.topk(
        s, r, A.Bool(must=(A.Match(("data",)),), should=(A.Phrase("hash join"),)), k=10)),
}

# route → (serving open, strategy, DRIVER_PATH_MAX_BYTES, TOMBSTONE_DICT_MAX)
ROUTES = {
    "resident": (True, "driver", W.DRIVER_PATH_MAX_BYTES, IndexReader.TOMBSTONE_DICT_MAX),
    "residency": (True, "distributed", 0, IndexReader.TOMBSTONE_DICT_MAX),
    "pull": (False, "driver", W.DRIVER_PATH_MAX_BYTES, IndexReader.TOMBSTONE_DICT_MAX),
    "groupby": (False, "auto", W.DRIVER_PATH_MAX_BYTES, 0),
}


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    """3 segments × 4 shards, then the top hits of several cases deleted,
    so every route has to apply tombstones to get them right. Returns
    (index dir, deleted doc ids)."""
    d = str(tmp_path_factory.mktemp("routes") / "idx")
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", F.concat(F.lit("u"), "doc_id").alias("url"), "lang", "text")
    build_index(spark, docs, d, n_segments=3, n_shards=4, block_size=32)
    r = IndexReader(spark, d)
    victims = set()
    for case in ("match_or", "match_and", "phrase_slop0", "phrase_prefix", "ast_bool"):
        victims |= {doc for doc, _ in CASES[case](spark, r, "auto")[:2]}
    dels = docs.where(F.col("doc_id").isin(sorted(victims))).withColumn("action", F.lit("delete"))
    apply_changes(spark, d, dels, n_shards=4)
    return d, victims


@pytest.fixture(scope="module")
def results(spark, index):
    """route → case → (rows, routes the case's queries took, Spark jobs
    the case ran)."""
    d, _ = index
    out = {}
    for route, (serving, strategy, max_bytes, dict_max) in ROUTES.items():
        taken: set[str] = set()
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(W, "DRIVER_PATH_MAX_BYTES", max_bytes)
            mp.setattr(IndexReader, "TOMBSTONE_DICT_MAX", dict_max)
            # match_phrase_prefix has no strategy argument: force it here
            mp.setattr(P, "_positional_hits",
                       functools.partial(P._positional_hits, strategy=strategy))
            _spy(mp, taken)
            r = IndexReader(spark, d)
            assert (r.tombstones_count() > r.TOMBSTONE_DICT_MAX) == (route == "groupby")
            if serving:
                r.open_serving()
            try:
                out[route] = {}
                for case, fn in CASES.items():
                    taken.clear()
                    rows, n_jobs = spark_jobs(spark, lambda: fn(spark, r, strategy))
                    out[route][case] = (rows, set(taken), n_jobs)
            finally:
                r.close_serving()
    return out


def _spy(mp, taken: set[str]) -> None:
    """Record the route of every executor run into ``taken``."""
    sliced, map_in, apply_in = W._driver_matched, DataFrame.mapInPandas, GroupedData.applyInPandas

    def driver_matched(*a, **kw):
        pdf = sliced(*a, **kw)
        taken.add("pull" if pdf is None else "resident")
        return pdf

    def map_in_pandas(self, *a, **kw):
        taken.add("residency")
        return map_in(self, *a, **kw)

    def apply_in_pandas(self, *a, **kw):
        taken.add("groupby")
        return apply_in(self, *a, **kw)

    mp.setattr(W, "_driver_matched", driver_matched)
    mp.setattr(DataFrame, "mapInPandas", map_in_pandas)
    mp.setattr(GroupedData, "applyInPandas", apply_in_pandas)


@pytest.mark.parametrize("case", list(CASES))
def test_routes_agree(results, index, case):
    _, victims = index
    want = results["resident"][case][0]
    assert want and any(want), case  # non-trivial fixture
    flat = [doc for rows in (want if case == "msearch" else [want]) for doc, _ in rows]
    assert not victims & set(flat), case
    for route in ROUTES:
        rows, taken, _ = results[route][case]
        assert taken == {route}, (case, route, taken)
        assert rows == want, (case, route, rows, want)


# phrase_prefix expands its prefix through Spark over the term
# dictionary before it reads any postings, and ast_bool joins, orders
# and limits its leaves' frames in Spark (topk's orderBy runs a job)
@pytest.mark.parametrize("case", [c for c in CASES if c not in ("phrase_prefix", "ast_bool")])
@pytest.mark.parametrize("route", ["resident", "pull"])
def test_driver_routes_run_no_spark_job(results, route, case):
    """With serving closed the driver reads postings with pyarrow, and
    with it open slices its resident copy: no Spark job either way."""
    assert results[route][case][2] == 0, (route, case)


@pytest.fixture(scope="module")
def serving(spark, index):
    r = IndexReader(spark, index[0])
    r.open_serving()
    yield r
    r.close_serving()


def test_auto_phrase_on_small_serving_index_is_resident_and_jobless(spark, serving, results,
                                                                   monkeypatch):
    """The index's phrase postings fit one serving partition, so ``auto``
    keeps the phrase on the driver: it slices the resident copy and
    ranks there, with no Spark job once the df memo is warm."""
    query = lambda: _rows(P.match_phrase(spark, serving, "hash join", k=10))
    query()  # warm the df memo
    taken: set[str] = set()
    _spy(monkeypatch, taken)
    rows, n_jobs = spark_jobs(spark, query)
    assert taken == {"resident"}
    assert n_jobs == 0
    assert rows == results["resident"]["phrase_slop0"][0]


def test_all_negative_query_string_runs_no_spark_job(spark, serving):
    """A query_string with no positive term returns the empty result
    frame, whose collect runs no Spark job."""
    from go_mysql_elasticsearch_spark.query.querystring import query_string_topk

    rows, n_jobs = spark_jobs(spark, lambda: query_string_topk(spark, serving, "-scan").collect())
    assert rows == [] and n_jobs == 0


@pytest.mark.parametrize("strategy,route", [("driver", "resident"), ("distributed", "residency")])
def test_single_word_match_and_phrase_rank_identically(spark, serving, monkeypatch, strategy,
                                                       route):
    """One word scores the same through the match and phrase kernels,
    and both round by Spark's rule on every route."""
    taken: set[str] = set()
    _spy(monkeypatch, taken)
    for w in ("data", "merge", "scan", "dup", "hash", "customer"):
        match = _rows(W.bm25_topk(spark, serving, w, k=10, strategy=strategy))
        phrase = _rows(P.match_phrase(spark, serving, w, k=10, strategy=strategy))
        assert match and match == phrase, (w, match, phrase)
    assert taken == {route}
