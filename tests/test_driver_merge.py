"""The driver merge of ``compact`` and ``merge_segments`` against the
Spark rebuild.

Sources whose tokens fit ``DRIVER_MERGE_MAX_TOKENS`` are merged on the
driver (``merge_segments_local``: decode, drop dead versions, re-pack);
larger ones are rebuilt by ``build_segment`` from the live docstore.
Both must write the same segments: identical postings rows, docstore
rows and Arrow schemas, term dictionaries and manifest counters. The
index mixes a bootstrap segment built from a pandas-written parquet
file (``warc_ts`` as ``timestamp_ntz``) with change-batch segments
(``timestamp``) carrying updates, deletes, an empty and a null text,
and one segment whose every doc is dead."""

import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

from go_mysql_elasticsearch_spark.index.build import build_index, gen_root, segment_dir
from go_mysql_elasticsearch_spark.index.reader import IndexReader
from go_mysql_elasticsearch_spark.streaming import incremental
from go_mysql_elasticsearch_spark.streaming.incremental import (
    apply_changes,
    compact,
    merge_segments,
)

from .conftest import spark_jobs

WORDS = ["alpha", "beta", "gamma", "delta", "scan", "merge", "query", "dup", "x9", "café"]
TS0 = np.datetime64("2024-06-01T00:00:00", "us")
FILES = ("postings.parquet", "docs.parquet", "term_dict.parquet")
SORT_KEYS = {"postings.parquet": ["tid", "shard", "block_id"], "docs.parquet": ["doc_id"],
             "term_dict.parquet": ["term"]}


def _frame(events):
    """(action, doc_id, text) events in the perfbench change-batch shape."""
    ids = np.array([e[1] for e in events], dtype=np.int64)
    return pd.DataFrame({
        "action": [e[0] for e in events],
        "doc_id": ids,
        "url": [f"https://site.example/{i}" for i in ids.tolist()],
        "warc_ts": TS0 + ids * np.timedelta64(1, "s"),
        "lang": ["en"] * len(events),
        "text": [e[2] for e in events],
    })


def _text(rng, n):
    return " ".join(rng.choice(WORDS, size=n).tolist())


@pytest.fixture(scope="module")
def base(spark, tmp_path_factory):
    """Segment 0: 400 docs from a pandas-written parquet file (head terms
    span several blocks per shard). Segment 1: inserts, updates and
    deletes of bootstrap docs, an empty and a null text. Segment 2: ten
    inserts that segment 3 updates or deletes, so every doc of segment 2
    is dead."""
    d = tmp_path_factory.mktemp("drvmerge")
    rng = np.random.default_rng(5)
    corpus = str(d / "corpus.parquet")
    boot = _frame([("insert", i, _text(rng, int(rng.integers(1, 30)))) for i in range(400)])
    boot.drop(columns="action").to_parquet(corpus)
    idx = str(d / "base")
    build_index(spark, spark.read.parquet(corpus), idx, n_segments=1, n_shards=2)
    batches = [
        [("insert", 1000 + i, _text(rng, 12)) for i in range(40)]
        + [("update", i, _text(rng, 8)) for i in range(0, 60, 3)]
        + [("delete", i, None) for i in range(100, 140)]
        + [("insert", 1100, ""), ("insert", 1101, None)],
        [("insert", 2000 + i, _text(rng, 6)) for i in range(10)],
        [("update", 2000 + i, _text(rng, 5)) for i in range(5)]
        + [("delete", 2005 + i, None) for i in range(5)]
        + [("update", 1000 + i, "merge scan " + _text(rng, 4)) for i in range(10)]
        + [("delete", i, None) for i in range(1, 60, 3)],
    ]
    for ev in batches:
        apply_changes(spark, idx, spark.createDataFrame(_frame(ev)), n_shards=2)
    r = IndexReader(spark, idx)
    assert [m["segment_id"] for m in r.manifests] == ["0", "1", "2", "3"]
    assert r.docstore().where("segment = '2'").count() == 0
    return idx


def _both(spark, base, tmp_path, monkeypatch, op):
    """``op(index_dir)`` on two copies of ``base``: the Spark rebuild
    (cap 0) and the driver merge; returns (dir, manifests) per side."""
    out = []
    for side, cap in (("spark", 0), ("driver", None)):
        d = str(tmp_path / side)
        shutil.copytree(base, d)
        if cap is not None:
            monkeypatch.setattr(incremental, "DRIVER_MERGE_MAX_TOKENS", cap)
        out.append((d, op(d)))
        monkeypatch.undo()
    return out


def _table(seg, name):
    t = pq.read_table(os.path.join(seg, name))
    return t.schema.remove_metadata(), t.to_pandas().sort_values(SORT_KEYS[name],
                                                                 ignore_index=True)


def _assert_same_segments(spark, spark_side, driver_side):
    (d_spark, m_spark), (d_driver, m_driver) = spark_side, driver_side
    assert len(m_spark) == len(m_driver)

    def fields(m):
        return {k: v for k, v in m.items()
                if k not in ("bytes", "wall_time_sec", "phases", "term_count")}

    for a, b in zip(m_spark, m_driver):
        assert fields(a) == fields(b)
        assert a["phases"].keys() == b["phases"].keys()
        segs = [segment_dir(gen_root(d), a["segment_id"]) for d in (d_spark, d_driver)]
        for name in FILES:
            (schema_a, rows_a), (schema_b, rows_b) = (_table(s, name) for s in segs)
            assert schema_a == schema_b, name
            pd.testing.assert_frame_equal(rows_a, rows_b, obj=name)
            assert os.path.exists(os.path.join(segs[1], name, "_SUCCESS"))
            # the driver writes one file per parquet dir
            assert len([f for f in os.listdir(os.path.join(segs[1], name))
                        if f.endswith(".parquet")]) == 1
        with open(os.path.join(segs[1], "manifest.json")) as f:
            assert json.load(f) == b
    r_spark, r_driver = IndexReader(spark, d_spark), IndexReader(spark, d_driver)
    assert r_driver.docstore().schema == r_spark.docstore().schema
    assert (sorted(tuple(r) for r in r_driver.term_strings().collect())
            == sorted(tuple(r) for r in r_spark.term_strings().collect()))


@pytest.mark.parametrize("n_segments", [1, 2])
def test_compact_equals_spark_rebuild(spark, base, tmp_path, monkeypatch, n_segments):
    sides = _both(spark, base, tmp_path, monkeypatch,
                  lambda d: compact(spark, d, n_segments=n_segments, n_shards=2))
    _assert_same_segments(spark, *sides)
    m = sides[1][1]
    assert [x["segment_id"] for x in m] == [str(s) for s in range(n_segments)]
    assert sum(x["n_docs"] for x in m) == IndexReader(spark, base).docstore().count()
    # the bootstrap's timestamp_ntz and the batches' timestamp widen to
    # timestamp, as Spark's union does
    assert IndexReader(spark, sides[1][0]).docstore().schema["warc_ts"].dataType.typeName() \
        == "timestamp"


def test_merge_equals_spark_rebuild(spark, base, tmp_path, monkeypatch):
    """A merge of the bootstrap, a live batch segment and the all-dead one
    keeps ``merged_from`` and serves the same live docs."""
    sides = _both(spark, base, tmp_path, monkeypatch,
                  lambda d: [merge_segments(spark, d, [0, 1, 2], n_shards=2)])
    _assert_same_segments(spark, *sides)
    m = sides[1][1][0]
    assert m["segment_id"] == "4" and m["merged_from"] == ["0", "1", "2"]
    live = sorted(tuple(r) for r in IndexReader(spark, base).docstore().drop("segment").collect())
    assert sorted(tuple(r) for r in IndexReader(spark, sides[1][0]).docstore()
                  .drop("segment").collect()) == live


def test_merge_of_dead_segment_is_empty(spark, base, tmp_path, monkeypatch):
    """Merging only the all-dead segment writes an empty segment on both
    sides."""
    sides = _both(spark, base, tmp_path, monkeypatch,
                  lambda d: [merge_segments(spark, d, [2], n_shards=2)])
    _assert_same_segments(spark, *sides)
    m = sides[1][1][0]
    assert (m["n_docs"], m["n_postings"], m["doc_id_min"]) == (0, 0, None)


def test_small_compact_and_merge_run_no_spark_job(spark, base, tmp_path):
    idx = str(tmp_path / "jobs")
    shutil.copytree(base, idx)
    m, n_jobs = spark_jobs(spark, lambda: merge_segments(spark, idx, [1, 2, 3], n_shards=2))
    assert m["merged_from"] == ["1", "2", "3"] and n_jobs == 0
    ms, n_jobs = spark_jobs(spark, lambda: compact(spark, idx, n_segments=2, n_shards=2))
    assert len(ms) == 2 and n_jobs == 0
