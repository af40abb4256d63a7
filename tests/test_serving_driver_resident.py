"""r6 optimization: while a serving session is open, a bytes-capped
index keeps a driver-side pandas copy of the postings and the DRIVER
query path slices it locally instead of reading the segment files per
query. Results must be bit-identical to the closed-serving path (a
pyarrow read of the matched postings), for match AND phrase, and the
copy must be released by close_serving()."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from go_mysql_elasticsearch_spark.index.build import build_index
from go_mysql_elasticsearch_spark.index.reader import IndexReader
from go_mysql_elasticsearch_spark.query.phrase import match_phrase
from go_mysql_elasticsearch_spark.query.wand import bm25_topk
from go_mysql_elasticsearch_spark.session import get_spark

from .test_routes import _spy

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    return get_spark(app_name="test-serving-resident", master="local[4]")


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("residx") / "idx")
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    build_index(spark, docs, d, n_segments=2, n_shards=4)
    return d


CASES = [
    (["data", "merge"], "or"),
    (["dup", "scan"], "and"),
    (["scan"], "or"),
]


def _run_cases(spark, r):
    """case → top-5 rows of every match case and of one phrase."""
    out = {
        ("match",) + tuple(terms): [
            tuple(x) for x in bm25_topk(spark, r, terms, k=5, mode=mode).collect()
        ]
        for terms, mode in CASES
    }
    out["phrase"] = [tuple(x) for x in match_phrase(spark, r, "data merge", k=5).collect()]
    return out


@pytest.fixture(scope="module")
def baseline(spark, idx):
    """Closed-serving rows under the default cap."""
    return _run_cases(spark, IndexReader(spark, idx))


def test_driver_resident_bit_identical(spark, idx, baseline):
    assert any(baseline.values())  # non-trivial fixture
    r = IndexReader(spark, idx)
    r.open_serving()
    try:
        assert r.driver_postings() is not None  # tiny index: under the cap
        assert _run_cases(spark, r) == baseline
    finally:
        r.close_serving()
    assert r._driver_postings is None  # released with the session
    assert r.driver_postings() is None  # closed serving: no copy


def test_over_cap_index_refuses_driver_copy(spark, idx, baseline, monkeypatch):
    """Past DRIVER_RESIDENT_MAX_BYTES no copy is held, and 'auto' keeps
    small queries on the driver: with serving open or closed, every
    case reads its postings with pyarrow (the pull route) and returns
    the under-cap rows."""
    monkeypatch.setattr(IndexReader, "DRIVER_RESIDENT_MAX_BYTES", 0)
    taken: set[str] = set()
    _spy(monkeypatch, taken)
    for serving in (False, True):
        r = IndexReader(spark, idx)
        if serving:
            r.open_serving()
        try:
            assert r.driver_postings() is None  # over the cap: no copy
            got = _run_cases(spark, r)
        finally:
            r.close_serving()
        assert taken == {"pull"}, serving
        assert got == baseline, serving
