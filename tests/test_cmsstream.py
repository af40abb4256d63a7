"""Streaming CMS: cross-batch merge must equal the one-shot batch
sketch EXACTLY (linearity), and estimates must match the batch
estimator — bit-identity, not tolerance."""

import pytest
from pyspark.sql import functions as F

from go_mysql_elasticsearch_spark.pipeline.cms import estimate_df, sketch_df
from go_mysql_elasticsearch_spark.streaming.cmsstream import (
    CmsAccumulator,
    cms_batch_cells,
    cms_stream_sketch,
)

from .conftest import SF_SMALL

EV_SCHEMA = (
    "event_id long, user_id long, event_type string, ts timestamp, value double"
)


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF_SMALL}/events.parquet")


def test_stream_merge_equals_batch_sketch(spark, events, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("cms") / "ev")
    # several files → several micro-batches at maxFilesPerTrigger=1
    events.repartition(4).write.parquet(src)

    acc = cms_stream_sketch(spark, src, EV_SCHEMA)
    assert acc.n_batches >= 2, "merge must actually cross batches"

    batch = {
        (r["r"], r["bucket"]): r["c"]
        for r in cms_batch_cells(spark.read.parquet(src)).collect()
    }
    streamed = {
        (r["r"], r["bucket"]): r["c"] for r in acc.to_df(spark).collect()
    }
    assert streamed == batch  # cell-wise bit-identity


def test_stream_estimates_match_batch_estimator(spark, events, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("cms") / "ev2")
    events.repartition(3).write.parquet(src)
    acc = cms_stream_sketch(spark, src, EV_SCHEMA)

    types = [r["event_type"] for r in events.select("event_type").distinct().collect()]
    toks = events.select(F.col("event_type").alias("term"))
    batch_est = {r["term"]: r["est"] for r in estimate_df(spark, toks, types).collect()}
    for t in types:
        assert acc.estimate(t) == batch_est[t]
    # CMS guarantee: estimate >= exact count, always
    exact = {
        r["term"]: r["c"]
        for r in toks.groupBy("term").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    for t in types:
        assert acc.estimate(t) >= exact[t]


def test_accumulator_order_invariance(spark, events):
    """Linearity: folding batches in any order gives the same table."""
    halves = events.randomSplit([0.5, 0.5], seed=7)
    a1, a2 = CmsAccumulator(), CmsAccumulator()
    c0, c1 = (cms_batch_cells(h) for h in halves)
    a1.add(c0)
    a1.add(c1)
    a2.add(c1)
    a2.add(c0)
    assert a1.cells == a2.cells


def test_reused_uri_checkpoint_is_refused(spark, events, tmp_path_factory):
    """A durable checkpoint given as a ``file://`` URI is resolved
    through Hadoop's FileSystem, so a second run over it raises instead
    of returning a sketch that misses the already-processed files."""
    base = tmp_path_factory.mktemp("cms_uri")
    src = str(base / "ev")
    events.repartition(2).write.parquet(src)
    ckpt = (base / "ckpt").as_uri()
    acc = cms_stream_sketch(spark, src, EV_SCHEMA, checkpoint_dir=ckpt)
    assert acc.n_batches >= 1
    with pytest.raises(ValueError, match="prior stream progress"):
        cms_stream_sketch(spark, src, EV_SCHEMA, checkpoint_dir=ckpt)
