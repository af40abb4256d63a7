"""Model-based CDC testing: random insert/update/delete sequences
interleaved with maintenance (merge / forcemerge / compact) must keep
the packed index equivalent to a trivial Python dict model — both in
the live stored set and in BM25 rank order (vs the naive full-scan
scorer over the model's documents).

This is the whole-system analog of the reference's replication tests
(river/river_test.go runs insert/update/delete sequences against a
live ES and asserts doc state); here the sequence space is sampled
with a seeded RNG so failures replay exactly.
"""

import random

import pytest
from pyspark.sql import functions as F

from go_mysql_elasticsearch_spark.index.build import build_index
from go_mysql_elasticsearch_spark.index.indices import forcemerge
from go_mysql_elasticsearch_spark.index.reader import IndexReader
from go_mysql_elasticsearch_spark.query.scoring import bm25_naive
from go_mysql_elasticsearch_spark.query.wand import bm25_topk
from go_mysql_elasticsearch_spark.streaming import incremental
from go_mysql_elasticsearch_spark.streaming.incremental import (
    apply_changes,
    compact,
    merge_segments,
)

VOCAB = ["alpha", "beta", "gamma", "delta", "scan", "merge", "query", "dup"]


def _text(rng: random.Random) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(3, 12)))


def _assert_equiv(spark, idx, model: dict[int, str], strict: bool):
    """Live stored set must ALWAYS equal the model. Score/rank identity
    vs the naive live-docs scorer holds only when no tombstones are
    outstanding (``strict`` — fresh build / post-compact): the engine
    keeps Lucene-style collection stats (N, avgdl, df count tombstoned
    docs until their segments merge away — exactly ES's deleted-docs
    scoring drift), so mid-sequence we assert the stat-independent
    part: the MATCHED DOC SET per query."""
    reader = IndexReader(spark, idx)
    rows = reader.docstore().select("doc_id", "text").collect()
    assert len(rows) == len(model)  # duplicates must not hide in the dict
    live = {r["doc_id"]: r["text"] for r in rows}
    assert live == model
    mdocs = spark.createDataFrame(
        list(model.items()) or [(None, None)], "doc_id long, text string"
    ).where(F.col("doc_id").isNotNull())
    for terms, mode in ((["scan", "merge"], "or"), (["alpha"], "or"), (["dup", "query"], "and")):
        if strict:
            got = [tuple(x) for x in bm25_topk(spark, reader, terms, k=10, mode=mode).collect()]
            want = [tuple(x) for x in bm25_naive(mdocs, terms, mode=mode, k=10).collect()]
        else:
            got = sorted(
                x["doc_id"]
                for x in bm25_topk(spark, reader, terms, k=10, mode=mode, return_all=True).collect()
            )
            want = sorted(
                x["doc_id"] for x in bm25_naive(mdocs, terms, mode=mode, k=None).collect()
            )
        assert got == want, (terms, mode, got, want)


def test_insert_only_batches_write_no_tombstones(spark, tmp_path):
    """Code-review r5: an insert-only CDC stream must not grow the
    tombstone set (O(corpus) tombstones would flip every query onto
    the big-tombstone path); a same-batch delete→reinsert still
    tombstones its key."""
    idx = str(tmp_path / "ins_only")
    build_index(
        spark,
        spark.createDataFrame([(0, "alpha")], "doc_id long, text string"),
        idx, n_segments=1, n_shards=1,
    )
    apply_changes(
        spark, idx,
        spark.createDataFrame(
            [("insert", 1, "beta"), ("insert", 2, "gamma")],
            "action string, doc_id long, text string",
        ),
        n_shards=1,
    )
    r = IndexReader(spark, idx)
    assert r.tombstones() is None or r.tombstones_count() == 0
    # delete + reinsert of doc 0 in ONE batch: key must be tombstoned
    apply_changes(
        spark, idx,
        spark.createDataFrame(
            [("delete", 0, None), ("insert", 0, "alpha reborn")],
            "action string, doc_id long, text string",
        ),
        n_shards=1,
    )
    r2 = IndexReader(spark, idx)
    assert r2.tombstones_count() == 1
    rows = r2.docstore().select("doc_id", "text").collect()
    assert len(rows) == 3
    assert {x["doc_id"]: x["text"] for x in rows}[0] == "alpha reborn"


@pytest.mark.parametrize("seed,caps", [
    pytest.param(11, {}, id="11"),
    pytest.param(29, {}, id="29"),
    pytest.param(47, {}, id="47"),
    # every batch on apply_changes' Spark build, on the seed whose
    # update;update batch once duplicated a doc there
    pytest.param(47, {"DRIVER_BUILD_MAX_EVENTS": 0}, id="47-spark-build"),
    # every merge, forcemerge and compact on the Spark rebuild
    pytest.param(11, {"DRIVER_MERGE_MAX_TOKENS": 0}, id="11-spark-merge"),
])
def test_random_cdc_sequences_match_dict_model(spark, tmp_path, monkeypatch, seed, caps):
    for name, cap in caps.items():
        monkeypatch.setattr(incremental, name, cap)
    rng = random.Random(seed)
    idx = str(tmp_path / f"model_idx_{seed}")
    model = {i: _text(rng) for i in range(12)}
    build_index(
        spark,
        spark.createDataFrame(list(model.items()), "doc_id long, text string"),
        idx, n_segments=2, n_shards=2,
    )
    next_id = 100
    for step in range(6):
        ops = []
        for _ in range(rng.randint(1, 4)):
            choice = rng.random()
            if choice < 0.4 or not model:
                ops.append(("insert", next_id, _text(rng)))
                model[next_id] = ops[-1][2]
                next_id += 1
            elif choice < 0.75:
                did = rng.choice(sorted(model))
                ops.append(("update", did, _text(rng)))
                model[did] = ops[-1][2]
            else:
                did = rng.choice(sorted(model))
                ops.append(("delete", did, None))
                del model[did]
        apply_changes(
            spark,
            idx,
            spark.createDataFrame(ops, "action string, doc_id long, text string"),
            n_shards=2,
        )
        # sprinkle maintenance between batches
        if step == 2:
            reader = IndexReader(spark, idx)
            if len(reader.manifests) >= 2:
                ids = [m["segment_id"] for m in reader.manifests[:2]]
                merge_segments(spark, idx, ids, n_shards=2)
        if step == 4:
            forcemerge(spark, idx, max_num_segments=2)
        _assert_equiv(spark, idx, model, strict=False)
    # compaction drops tombstones and restores exact collection stats:
    # full score/rank identity with the naive live-docs scorer
    compact(spark, idx, n_shards=2)
    _assert_equiv(spark, idx, model, strict=True)
