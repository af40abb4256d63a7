"""M6: CDC-equivalent incremental path — the reference's E2E scenario
(river/river_test.go TestDumpAndReplication/TestUpdate/TestDelete)
translated: bootstrap build, then insert/update/delete batches, then
compaction == fresh build invariant."""

import pytest
from pyspark.sql import functions as F

from go_mysql_elasticsearch_spark.index.build import build_index
from go_mysql_elasticsearch_spark.index.reader import IndexReader
from go_mysql_elasticsearch_spark.query.wand import bm25_topk
from go_mysql_elasticsearch_spark.streaming.incremental import apply_changes, compact

from .conftest import SF_SMALL


def _mkdocs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, url string, lang string, text string")


def _base_docs(spark):
    return (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select("doc_id", F.concat(F.lit("u"), "doc_id").alias("url"), "lang", "text")
    )


@pytest.fixture()
def idx(spark, tmp_path):
    d = str(tmp_path / "inc_idx")
    build_index(spark, _base_docs(spark), d, n_segments=1, n_shards=2)
    return d


def _hits(spark, idx, terms, mode="or", k=10):
    return [
        (r["doc_id"], r["score"])
        for r in bm25_topk(spark, IndexReader(spark, idx), terms, k=k, mode=mode).collect()
    ]


def test_insert_visible(spark, idx):
    before = _hits(spark, idx, ["qqqnewterm"])
    assert before == []
    ch = _mkdocs(spark, [(90001, "u90001", "en", "qqqnewterm appears here qqqnewterm")])
    apply_changes(spark, idx, ch.withColumn("action", F.lit("insert")), n_shards=2)
    after = _hits(spark, idx, ["qqqnewterm"])
    assert [d for d, _ in after] == [90001]


def test_update_replaces_old_version(spark, idx):
    # doc 0 contains 'the' initially; update rewrites its text entirely
    assert 0 in {d for d, _ in _hits(spark, idx, ["the"], k=10**6)}
    ch = _mkdocs(spark, [(0, "u0", "en", "zzzreplaced content only")])
    apply_changes(spark, idx, ch.withColumn("action", F.lit("update")), n_shards=2)
    r = IndexReader(spark, idx)
    # old version invisible in queries and docstore
    assert 0 not in {d for d, _ in _hits(spark, idx, ["the"], k=10**6)}
    assert [x["doc_id"] for x in _hits_df(r, "zzzreplaced")] == [0]
    live_text = r.docstore().where(F.col("doc_id") == 0).select("text").collect()
    assert len(live_text) == 1 and live_text[0]["text"] == "zzzreplaced content only"


def _hits_df(reader, term):
    from go_mysql_elasticsearch_spark.query.wand import bm25_topk as t

    return t(reader.spark, reader, [term], k=10).collect()


def test_delete_invisible(spark, idx):
    ch = _mkdocs(spark, [(1, "u1", "en", "x")]).withColumn("action", F.lit("delete"))
    apply_changes(spark, idx, ch, n_shards=2)
    r = IndexReader(spark, idx)
    assert 1 not in {d for d, _ in _hits(spark, idx, ["the"], k=10**6)}
    assert r.docstore().where(F.col("doc_id") == 1).count() == 0


def test_reinsert_after_delete(spark, idx):
    apply_changes(
        spark, idx, _mkdocs(spark, [(2, "u2", "en", "x")]).withColumn("action", F.lit("delete")),
        n_shards=2,
    )
    apply_changes(
        spark, idx,
        _mkdocs(spark, [(2, "u2", "en", "backfromthedead doc")]).withColumn("action", F.lit("insert")),
        n_shards=2,
    )
    assert [d for d, _ in _hits(spark, idx, ["backfromthedead"])] == [2]


def test_spark_build_gives_same_reader_results(spark, idx, tmp_path, monkeypatch):
    """The update / delete / insert / delete-then-reinsert scenario
    through the driver build (the default cap) and again through the
    Spark build (cap 0): readers over both indexes give the same
    results."""
    import shutil

    from go_mysql_elasticsearch_spark.streaming import incremental

    other = str(tmp_path / "spark_build")
    shutil.copytree(idx, other)
    batches = [
        _mkdocs(spark, [(0, "u0", "en", "zzzreplaced content only"), (3, "u3", "en", "x")])
        .withColumn("action", F.when(F.col("doc_id") == 0, "update").otherwise("delete")),
        _mkdocs(spark, [(90001, "u90001", "en", "qqqnewterm appears here qqqnewterm")])
        .withColumn("action", F.lit("insert")),
        _mkdocs(spark, [(2, "u2", "en", "x"), (2, "u2", "en", "backfromthedead the data")])
        .withColumn("action", F.when(F.col("text") == "x", "delete").otherwise("insert")),
    ]

    def view(d):
        r = IndexReader(spark, d)
        hits = [_hits(spark, d, q, k=10) for q in (["the", "data"], ["qqqnewterm"],
                                                  ["zzzreplaced"], ["backfromthedead"])]
        docs = sorted(tuple(x) for x in r.docstore().collect())
        return hits, docs, r.n_docs, r.avgdl, r.tombstones_map()

    for b in batches:
        apply_changes(spark, idx, b, n_shards=2)
    monkeypatch.setattr(incremental, "DRIVER_BUILD_MAX_EVENTS", 0)
    for b in batches:
        apply_changes(spark, other, b, n_shards=2)
    monkeypatch.undo()
    got, want = view(idx), view(other)
    assert got == want
    assert [d for d, _ in got[0][3]] == [2] and 3 not in {x[0] for x in got[1]}


def _flat_postings_set(spark, idx):
    r = IndexReader(spark, idx)
    return {
        (row["tid"], row["doc_id"], row["tf"], row["dl"])
        for row in r.decode_postings().collect()
    }


def test_compaction_equals_fresh_build(spark, idx, tmp_path):
    """upserts + deletes → compact ≡ fresh build over the final doc set
    (exact stats restored; SURVEY §7 M6 invariant)."""
    apply_changes(
        spark, idx,
        _mkdocs(spark, [(0, "u0", "en", "totally new words here")]).withColumn("action", F.lit("update")),
        n_shards=2,
    )
    apply_changes(
        spark, idx, _mkdocs(spark, [(5, "u5", "en", "x")]).withColumn("action", F.lit("delete")),
        n_shards=2,
    )
    compact(spark, idx, n_segments=1, n_shards=2)

    fresh_dir = str(tmp_path / "fresh")
    final_docs = (
        _base_docs(spark)
        .where(~F.col("doc_id").isin(0, 5))
        .unionByName(_mkdocs(spark, [(0, "u0", "en", "totally new words here")]))
    )
    build_index(spark, final_docs, fresh_dir, n_segments=1, n_shards=2)

    assert _flat_postings_set(spark, idx) == _flat_postings_set(spark, fresh_dir)
    ri, rf = IndexReader(spark, idx), IndexReader(spark, fresh_dir)
    assert ri.n_docs == rf.n_docs and ri.avgdl == rf.avgdl
    assert _hits(spark, idx, ["the", "data"], k=10) == _hits(spark, fresh_dir, ["the", "data"], k=10)


def test_streaming_foreachbatch(spark, idx, tmp_path):
    """Structured Streaming file source → foreachBatch apply_changes
    (K6/K7 parity: offsets checkpointed, batch flushes)."""
    import json
    import os

    from go_mysql_elasticsearch_spark.streaming.incremental import stream_changes_into_index

    src = tmp_path / "changes_src"
    src.mkdir()
    with open(src / "batch0.json", "w") as f:
        for i in range(3):
            f.write(json.dumps({
                "action": "insert", "doc_id": 80000 + i, "url": f"u{i}",
                "lang": "en", "text": f"streamterm{i} streamed content",
            }) + "\n")
    stream = (
        spark.readStream.schema("action string, doc_id long, url string, lang string, text string")
        .json(str(src))
    )
    q = stream_changes_into_index(spark, stream, idx, str(tmp_path / "ckpt"), n_shards=2)
    q.awaitTermination(120)
    assert [d for d, _ in _hits(spark, idx, ["streamterm1"])] == [80001]
    # restart with no new data → checkpoint prevents re-application
    n_before = IndexReader(spark, idx).n_docs
    q2 = stream_changes_into_index(spark, stream, idx, str(tmp_path / "ckpt"), n_shards=2)
    q2.awaitTermination(120)
    assert IndexReader(spark, idx).n_docs == n_before


def test_mass_delete_distributed_tombstones(spark, idx, monkeypatch):
    """Delete >50% of the corpus by query, then force the sentinel-row
    tombstone path (threshold = 0): query results must be identical to
    the driver-dict path, and tombstones_map() must refuse to
    materialize the delete set on the driver."""
    import pytest as _pytest

    from go_mysql_elasticsearch_spark.streaming.incremental import delete_by_query

    n_total = IndexReader(spark, idx).n_docs
    n = delete_by_query(spark, idx, ["the"])  # head term: most docs die
    assert n > n_total * 0.5
    hits_dict = _hits(spark, idx, ["data"], k=10)
    assert bm25_topk(spark, IndexReader(spark, idx), ["the"], k=10).count() == 0

    monkeypatch.setattr(IndexReader, "TOMBSTONE_DICT_MAX", 0)
    r2 = IndexReader(spark, idx)
    hits_join = [
        (h["doc_id"], h["score"]) for h in bm25_topk(spark, r2, ["data"], k=10).collect()
    ]
    assert hits_dict == hits_join
    assert bm25_topk(spark, r2, ["the"], k=10).count() == 0
    with _pytest.raises(ValueError):
        r2.tombstones_map()


def test_phrase_respects_tombstones(spark, idx, monkeypatch):
    """Positional phrase serving must hide tombstoned docs via both the
    dict path and the sentinel-row path."""
    from go_mysql_elasticsearch_spark.query.phrase import match_phrase

    r = IndexReader(spark, idx)
    before = match_phrase(spark, r, "hash join", k=10**6).collect()
    assert before, "fixture should contain the phrase"
    victim = before[0]["doc_id"]
    apply_changes(
        spark, idx,
        _mkdocs(spark, [(victim, "u", "en", "x")]).withColumn("action", F.lit("delete")),
        n_shards=2,
    )
    after = {h["doc_id"] for h in match_phrase(spark, IndexReader(spark, idx), "hash join", k=10**6).collect()}
    assert victim not in after and after == {h["doc_id"] for h in before} - {victim}
    monkeypatch.setattr(IndexReader, "TOMBSTONE_DICT_MAX", 0)
    after2 = {h["doc_id"] for h in match_phrase(spark, IndexReader(spark, idx), "hash join", k=10**6).collect()}
    assert after2 == after


def test_compaction_policy(spark, idx):
    """maybe_compact is a no-op under thresholds, fires past them, and
    the compacted index loses its tombstones and extra segments."""
    from go_mysql_elasticsearch_spark.streaming.incremental import (
        maybe_compact,
        should_compact,
    )

    # grow: 3 insert batches → 4 segments; delete some docs → tombstones
    for i in range(3):
        apply_changes(
            spark, idx,
            _mkdocs(spark, [(70000 + i, f"u{i}", "en", f"growterm{i} content")])
            .withColumn("action", F.lit("insert")),
            n_shards=2,
        )
    apply_changes(
        spark, idx, _mkdocs(spark, [(1, "u1", "en", "x")]).withColumn("action", F.lit("delete")),
        n_shards=2,
    )
    r = IndexReader(spark, idx)
    assert len(r.manifests) == 4
    go, reason = should_compact(r, max_segments=8, max_tombstone_frac=0.5)
    assert not go, reason
    assert maybe_compact(spark, idx, max_segments=8, max_tombstone_frac=0.5) is None

    go, reason = should_compact(r, max_segments=3)
    assert go and "segments" in reason
    manifests = maybe_compact(spark, idx, n_segments=1, n_shards=2, max_segments=3)
    assert manifests is not None
    r2 = IndexReader(spark, idx)
    assert len(r2.manifests) == 1 and r2.tombstones() is None
    assert [d for d, _ in _hits(spark, idx, ["growterm1"])] == [70001]
    assert 1 not in {d for d, _ in _hits(spark, idx, ["the"], k=10**6)}


def test_kill_during_compact_never_loses_the_index(spark, idx):
    """VERDICT r2 #3/#6: the old compact() did rmtree(segments) then
    os.replace — a kill in between left NO index. The generation-pointer
    swap must leave a reader-complete index at every crash point:

    - crash AFTER the new generation dir lands but BEFORE the pointer
      flips → reader opens the OLD generation, tombstones intact;
    - crash AFTER the pointer flips but BEFORE old-gen GC → reader
      opens the NEW compacted generation;
    - a rerun after either crash completes normally."""
    apply_changes(
        spark, idx,
        _mkdocs(spark, [(7, "u7", "en", "x")]).withColumn("action", F.lit("delete")),
        n_shards=2,
    )
    r0 = IndexReader(spark, idx)
    live_before = r0.docstore().count()
    assert r0.tombstones_count() == 1

    # crash point A: generation built, pointer NOT flipped
    with pytest.raises(RuntimeError, match="pointer not flipped"):
        compact(spark, idx, n_segments=1, n_shards=2, _fail_point="after_gen_dir")
    rA = IndexReader(spark, idx)
    assert rA.root == idx  # still the old generation
    assert rA.tombstones_count() == 1  # delete NOT resurrected
    assert rA.docstore().count() == live_before
    assert 7 not in {d for d, _ in _hits(spark, idx, ["the"], k=10**6)}

    # crash point B: pointer flipped, old generation not GC'd
    with pytest.raises(RuntimeError, match="not GC'd"):
        compact(spark, idx, n_segments=1, n_shards=2, _fail_point="after_pointer")
    rB = IndexReader(spark, idx)
    assert rB.root != idx and rB.root.startswith(idx)
    assert rB.tombstones_count() == 0  # compacted away
    assert rB.docstore().count() == live_before
    assert 7 not in {d for d, _ in _hits(spark, idx, ["the"], k=10**6)}

    # full rerun GC's and produces the next generation
    compact(spark, idx, n_segments=1, n_shards=2)
    rC = IndexReader(spark, idx)
    import os

    # crash A's orphan gen dir was treated as stale and rebuilt in
    # place, so the counter advanced twice (B flip + rerun), not thrice
    assert os.path.basename(rC.root) == "gen-000002"
    assert not os.path.exists(rB.root)  # previous generation GC'd
    assert rC.docstore().count() == live_before


def test_incremental_changes_after_compact_land_in_new_generation(spark, idx):
    """apply_changes / delete_by_query after a generation swap must
    write to the LIVE generation root, not the legacy layout."""
    compact(spark, idx, n_segments=1, n_shards=2)
    ch = _mkdocs(spark, [(91001, "u", "en", "postswapterm lives here")])
    apply_changes(spark, idx, ch.withColumn("action", F.lit("insert")), n_shards=2)
    assert [d for d, _ in _hits(spark, idx, ["postswapterm"])] == [91001]

    from go_mysql_elasticsearch_spark.streaming.incremental import delete_by_query

    n = delete_by_query(spark, idx, ["postswapterm"])
    assert n == 1
    assert _hits(spark, idx, ["postswapterm"]) == []
