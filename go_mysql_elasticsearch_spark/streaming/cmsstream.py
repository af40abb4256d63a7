"""Streaming count-min sketch — mergeable heavy-hitter counts over an
unbounded event stream.

The CMS (pipeline/cms.py) is LINEAR: sketch(A ∪ B) = sketch(A) +
sketch(B) cell-wise. That makes the streaming form trivial-by-theorem
rather than approximately-right: each micro-batch reduces to its own
≤ d·w = 4096 cells map-side, the driver adds the cells into a running
accumulator, and the merged sketch is BIT-IDENTICAL to the one-shot
batch sketch over the union of all batches — asserted exactly in
tests/test_cmsstream.py, any drift is a bug, not noise.

This is the 100 TB stream-analytics shape: per-batch shuffle output is
capped at 4096 rows regardless of stream rate, driver state is one
fixed int64[4][1024] table forever (no watermark eviction needed — the
sketch never grows), and the merge is commutative so late/reordered
batches cannot change the result. The reference's ES terms-agg over a
synced stream (search_aggs_bucket_terms.go + river/sync.go) re-counts
per refresh; the sketch form answers the same "top event types so far"
with O(1) memory.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..pipeline.cms import D, W, probe_bucket


def cms_batch_cells(events, term_col: str = "event_type"):
    """(r, bucket, c) cells for one frame — delegates to the ONE
    sketch builder so batch and stream cannot diverge."""
    from ..pipeline.cms import sketch_df

    return sketch_df(events.select(F.col(term_col).alias("term")))


class CmsAccumulator:
    """Driver-side running sketch: a dense d×w int table (32 KiB).
    add() merges one micro-batch's cells; linearity makes the order
    irrelevant."""

    def __init__(self):
        self.cells = [[0] * W for _ in range(D)]
        self.n_batches = 0

    def add(self, cells_df) -> None:
        for row in cells_df.collect():  # ≤ 4096 rows by construction
            self.cells[row["r"]][row["bucket"]] += row["c"]
        self.n_batches += 1

    def estimate(self, term: str) -> int:
        return min(self.cells[r][probe_bucket(r, term)] for r in range(D))

    def to_df(self, spark):
        data = [
            (r, b, self.cells[r][b])
            for r in range(D)
            for b in range(W)
            if self.cells[r][b]
        ]
        return spark.createDataFrame(data, "r int, bucket int, c long")


def cms_stream_sketch(
    spark,
    src_dir: str,
    schema: str,
    term_col: str = "event_type",
    max_files_per_trigger: int | None = 1,
    checkpoint_dir: str | None = None,
) -> CmsAccumulator:
    """Run a file-source stream to completion (availableNow) folding
    every micro-batch into one CmsAccumulator. maxFilesPerTrigger=1
    forces one micro-batch per input file so the cross-batch merge is
    actually exercised. The checkpoint never lives inside ``src_dir``
    (the source may be read-only); default is a throwaway temp dir that
    is REMOVED after termination (ADVICE r5: it leaked one dir per
    invocation) — pass a durable path for a resumable production
    stream. NOTE: a durable checkpoint only makes the SOURCE resumable;
    the accumulator starts empty each call, so reusing a checkpoint
    whose files were already processed yields a partial sketch — this
    guard raises instead of returning one silently. The check resolves
    the checkpoint through Hadoop's FileSystem, as the stream itself
    does, so ``file://``, ``hdfs://`` and ``s3://`` checkpoints are
    guarded like local paths."""
    import shutil
    import tempfile

    if checkpoint_dir is not None:
        sources = spark._jvm.org.apache.hadoop.fs.Path(checkpoint_dir, "sources")
        if sources.getFileSystem(spark._jsc.hadoopConfiguration()).exists(sources):
            raise ValueError(
                "checkpoint_dir has prior stream progress; the fresh "
                "CmsAccumulator would silently miss already-processed files "
                "— use a new checkpoint, or persist/merge the prior sketch"
            )
    acc = CmsAccumulator()
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    src = reader.parquet(src_dir)

    def sink(bdf, _bid):
        acc.add(cms_batch_cells(bdf, term_col))

    ckpt = checkpoint_dir or tempfile.mkdtemp(prefix="cms_ckpt_")
    try:
        q = (
            src.writeStream.foreachBatch(sink)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()
    finally:
        if checkpoint_dir is None:
            shutil.rmtree(ckpt, ignore_errors=True)
    return acc
