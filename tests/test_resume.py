"""M5: resumable build — per-segment manifests give kill/resume
semantics (reference: binlog checkpoint skip, canal/dump.go:103-126)."""

import os
import shutil

from go_mysql_elasticsearch_spark.index.build import build_index, build_segment, segment_dir
from go_mysql_elasticsearch_spark.index.reader import IndexReader

from .conftest import SF_SMALL


def _postings_snapshot(spark, idx):
    r = IndexReader(spark, idx)
    return sorted(
        (row["segment"], row["tid"], row["shard"], row["block_id"],
         bytes(row["docs_vb"]), bytes(row["tfs_vb"]), bytes(row["dls_vb"]))
        for row in r.postings().collect()
    )


def test_kill_resume_identical(spark, tmp_index):
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    build_index(spark, docs, tmp_index, n_segments=3, n_shards=2)
    full = _postings_snapshot(spark, tmp_index)

    # simulate a kill after segment 0: wipe segments 1,2 (incl. manifests)
    for s in (1, 2):
        shutil.rmtree(segment_dir(tmp_index, s))
    resumed = build_index(spark, docs, tmp_index, n_segments=3, n_shards=2)
    assert _postings_snapshot(spark, tmp_index) == full
    assert [m["segment_id"] for m in resumed] == ["0", "1", "2"]


def test_completed_segment_skipped(spark, tmp_index):
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    m1 = build_segment(spark, docs, tmp_index, segment_id=0, n_shards=2)
    assert set(m1["phases"]) == {"docstore", "postings", "term_dict"}
    # second call must return the stored manifest without rebuilding
    mtime = os.path.getmtime(os.path.join(segment_dir(tmp_index, 0), "manifest.json"))
    m2 = build_segment(spark, docs, tmp_index, segment_id=0, n_shards=2)
    assert m1 == m2
    assert os.path.getmtime(os.path.join(segment_dir(tmp_index, 0), "manifest.json")) == mtime


def test_partial_segment_invisible(spark, tmp_index):
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    build_segment(spark, docs, tmp_index, segment_id=0, n_shards=2)
    # a partial segment (no manifest) must not be visible to the reader
    os.makedirs(segment_dir(tmp_index, 7), exist_ok=True)
    r = IndexReader(spark, tmp_index)
    assert [m["segment_id"] for m in r.manifests] == ["0"]
