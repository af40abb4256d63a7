"""Format floor: IndexReader serves only segments that carry the
manifest byte counters (v4, written with pos_vb), a build-time
term_dict.parquet (v5) and the manifest's docs_schema (v6); an older
segment is refused at open with an error naming the segment and the
missing artifact."""

import json
import os
import shutil

import pytest

from go_mysql_elasticsearch_spark.index.build import build_index, segment_dir
from go_mysql_elasticsearch_spark.index.reader import IndexReader

from .conftest import SF_SMALL


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("floor") / "idx")
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").limit(200)
    build_index(spark, docs, d, n_segments=1, n_shards=2)
    return d


def _drop_term_dict(idx):
    shutil.rmtree(os.path.join(segment_dir(idx, 0), "term_dict.parquet"))


def _drop_manifest_key(idx, key):
    mp = os.path.join(segment_dir(idx, 0), "manifest.json")
    with open(mp) as f:
        m = json.load(f)
    del m[key]
    with open(mp, "w") as f:
        json.dump(m, f)


def _drop_postings_bytes(idx):
    _drop_manifest_key(idx, "postings_bytes")


def _drop_docs_schema(idx):
    _drop_manifest_key(idx, "docs_schema")


def test_intact_segment_opens(spark, built):
    assert [m["segment_id"] for m in IndexReader(spark, built).manifests] == ["0"]


@pytest.mark.parametrize(
    "mutate, artifact",
    [(_drop_term_dict, "term_dict.parquet"), (_drop_postings_bytes, "postings_bytes"),
     (_drop_docs_schema, "docs_schema")],
)
def test_pre_v5_segment_refused(spark, built, tmp_path, mutate, artifact):
    idx = str(tmp_path / "old")
    shutil.copytree(built, idx)
    mutate(idx)
    with pytest.raises(ValueError, match=rf"segment 0 .*{artifact}.*rebuild"):
        IndexReader(spark, idx)
