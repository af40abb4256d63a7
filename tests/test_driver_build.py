"""The driver build of a small change batch against the Spark build.

``apply_changes`` builds a batch of at most ``DRIVER_BUILD_MAX_EVENTS``
events on the driver (``build_segment_local``) and a larger one with
``build_segment``. Both must write the same index: identical postings
rows, term dictionary, docstore rows and schema, tombstone rows and
manifest fields. The driver route runs no Spark job on a local
relation, and its tombstone file lands atomically."""

import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from go_mysql_elasticsearch_spark.index.build import build_index, segment_dir
from go_mysql_elasticsearch_spark.index.reader import IndexReader
from go_mysql_elasticsearch_spark.streaming import incremental
from go_mysql_elasticsearch_spark.streaming.incremental import apply_changes

from .conftest import spark_jobs

WORDS = ["alpha", "beta", "gamma", "delta", "scan", "merge", "query", "dup", "x9", "café"]
TS0 = np.datetime64("2024-06-01T00:00:00", "us")


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


def _batch():
    """Inserts, updates, deletes, update;update, insert;update,
    update;delete, a delete-only key, an empty-text doc and 300 inserts
    over a small vocabulary (so head terms span several blocks)."""
    rng = np.random.default_rng(7)
    ev = [("insert", 1000 + i, _text(rng, int(rng.integers(1, 40)))) for i in range(300)]
    ev += [
        ("insert", 500, "Fresh WORDS here, fresh words"),
        ("update", 1, "updated text one one"),
        ("delete", 2, None),
        ("update", 3, "first update"),
        ("update", 3, "second update wins"),
        ("insert", 501, "inserted then"),
        ("update", 501, "updated after insert"),
        ("update", 4, "soon gone"),
        ("delete", 4, None),
        ("delete", 99999, None),
        ("insert", 502, ""),
    ]
    return _frame(ev)


@pytest.fixture(scope="module")
def base(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("drvbuild") / "base")
    rng = np.random.default_rng(3)
    boot = _frame([("insert", i, _text(rng, 12)) for i in range(20)]).drop(columns="action")
    build_index(spark, spark.createDataFrame(boot), d, n_segments=1, n_shards=2)
    return d


def _apply(spark, base, dst, pdf):
    shutil.copytree(base, dst)
    return apply_changes(spark, dst, spark.createDataFrame(pdf), n_shards=2)


def _rows(spark, path):
    df = spark.read.parquet(path)
    return df.schema, sorted(tuple(r) for r in df.collect())


def test_driver_build_equals_spark_build(spark, base, tmp_path, monkeypatch):
    pdf = _batch()
    assert len(pdf) <= incremental.DRIVER_BUILD_MAX_EVENTS
    via_spark, via_driver = str(tmp_path / "spark"), str(tmp_path / "driver")
    monkeypatch.setattr(incremental, "DRIVER_BUILD_MAX_EVENTS", 0)
    m_spark = _apply(spark, base, via_spark, pdf)
    monkeypatch.undo()
    m_driver = _apply(spark, base, via_driver, pdf)
    assert m_driver["phases"].keys() == m_spark["phases"].keys()
    # the driver build writes one file per parquet dir; Spark writes one
    # per task
    assert len(os.listdir(os.path.join(segment_dir(via_driver, 1), "postings.parquet"))) == 2
    for name in ("postings.parquet", "term_dict.parquet", "docs.parquet"):
        a = _rows(spark, os.path.join(segment_dir(via_spark, 1), name))
        b = _rows(spark, os.path.join(segment_dir(via_driver, 1), name))
        assert a[0] == b[0], name
        assert a[1] == b[1], name
        # the files themselves share one Arrow schema, nullability and
        # timestamp encoding included, so pyarrow can concatenate them
        a, b = (pq.read_table(os.path.join(segment_dir(d, 1), name)).schema.remove_metadata()
                for d in (via_spark, via_driver))
        assert a == b, name
        assert os.path.exists(os.path.join(segment_dir(via_driver, 1), name, "_SUCCESS"))
    tomb = [_rows(spark, os.path.join(d, "tombstones.parquet")) for d in (via_spark, via_driver)]
    assert tomb[0] == tomb[1]
    assert {r[0]: r[2] for r in tomb[1][1]} == {1: False, 2: True, 3: False, 4: True,
                                                501: False, 99999: True}
    assert os.path.exists(os.path.join(via_driver, "tombstones.parquet", "_SUCCESS"))

    def fields(m):
        return {k: v for k, v in m.items()
                if k not in ("bytes", "wall_time_sec", "phases", "term_count")}

    assert fields(m_driver) == fields(m_spark)
    for d in (via_spark, via_driver):
        with open(os.path.join(segment_dir(d, 1), "manifest.json")) as f:
            assert json.load(f)["docs_schema"] == m_spark["docs_schema"]
    # readers over both indexes serve the same docs
    r_spark, r_driver = IndexReader(spark, via_spark), IndexReader(spark, via_driver)
    assert r_driver.docstore().schema == r_spark.docstore().schema
    assert (sorted(tuple(r) for r in r_driver.docstore().collect())
            == sorted(tuple(r) for r in r_spark.docstore().collect()))
    assert r_driver.tombstones_map() == r_spark.tombstones_map()


def test_small_batch_runs_no_spark_job(spark, base, tmp_path):
    """150 events: 0 Spark jobs from a local relation, 1 from a
    one-file parquet batch (a file source's micro-batch)."""
    rng = np.random.default_rng(11)
    pdf = _frame([("insert", 2000 + i, _text(rng, 30)) for i in range(100)]
                 + [("update", i, _text(rng, 30)) for i in range(10)]
                 + [("delete", i, None) for i in range(10, 15)]
                 + [("insert", 3000 + i, _text(rng, 30)) for i in range(35)])
    assert len(pdf) == 150
    local = str(tmp_path / "local")
    shutil.copytree(base, local)
    changes = spark.createDataFrame(pdf)
    m, n_jobs = spark_jobs(spark, lambda: apply_changes(spark, local, changes, n_shards=2))
    assert m is not None and m["n_docs"] == 145
    assert n_jobs == 0

    src = str(tmp_path / "batch.parquet")
    spark.createDataFrame(pdf).coalesce(1).write.parquet(src)
    from_file = str(tmp_path / "file")
    shutil.copytree(base, from_file)
    changes = spark.read.parquet(src)
    m, n_jobs = spark_jobs(spark, lambda: apply_changes(spark, from_file, changes, n_shards=2))
    assert m is not None and m["n_docs"] == 145
    assert n_jobs <= 1


def test_crash_after_temp_tombstone_write_hides_it(spark, base, tmp_path, monkeypatch):
    """A crash between the tombstone file's write and its rename leaves
    only the ``.``-prefixed temp file, which no reader sees."""
    idx = str(tmp_path / "crash")
    shutil.copytree(base, idx)
    live = IndexReader(spark, idx).docstore().count()

    def crash(src, dst):
        raise RuntimeError("injected crash before the tombstone rename")

    monkeypatch.setattr(incremental.os, "replace", crash)
    with pytest.raises(RuntimeError, match="tombstone rename"):
        apply_changes(spark, idx, spark.createDataFrame(_frame([("delete", 5, "")])), n_shards=2)
    monkeypatch.undo()
    r = IndexReader(spark, idx)
    assert r.tombstones() is None and r.tombstones_count() == 0
    assert r.docstore().count() == live
    assert r.docstore().where(F.col("doc_id") == 5).count() == 1
    written = [f for f in os.listdir(os.path.join(idx, "tombstones.parquet"))
               if f.endswith(".parquet")]
    assert len(written) == 1 and written[0].startswith(".")
