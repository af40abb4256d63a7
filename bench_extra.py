"""Extra measurement probes for the r6 optimization round (guide §1).

NOT part of the driver contract — bench.py is the frozen measurement;
this file isolates individual phases so before/after deltas are
attributable. Numbers are cited in OPTIMIZATION_r06.md.

Probes:
  python bench_extra.py build-phases C [repeats]
      One warmed JVM at local[C]; per-phase build walls (docstore /
      postings / term_dict, read from each segment manifest's
      ``phases``) printed per repeat, best-of summary.
  python bench_extra.py queries [n_parts]
      Small-index headline latency + big-index latency with a serving
      residency of n_parts partitions (0 = reader default).
  python bench_extra.py plans OUTDIR [suffix]
      .explain("formatted") for every bench query path (driver +
      distributed + phrase) into OUTDIR/<name>_<suffix>.txt.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPLICATE = int(os.environ.get("SPARK_GRAFT_BENCH_REPLICATE", "128"))


def _replicated_docs(spark, sf_dir, r, parts=64):
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    reps = spark.range(r).withColumnRenamed("id", "rep")
    return (
        docs.crossJoin(reps)
        .withColumn("doc_id", F.col("doc_id") + F.col("rep") * n)
        .drop("rep")
        .repartition(parts)
    ), n * r


def build_phases(cores: int, repeats: int = 3) -> None:
    from go_mysql_elasticsearch_spark.index.build import build_index
    from go_mysql_elasticsearch_spark.session import get_spark

    spark = get_spark(app_name=f"phases-{cores}", master=f"local[{cores}]",
                      shuffle_partitions=32)
    docs, n_docs = _replicated_docs(spark, SF_DIR, REPLICATE)
    docs = docs.cache()
    docs.count()
    walls, phases = [], []
    for i in range(repeats):
        idx = tempfile.mkdtemp(prefix=f"phase_idx_{cores}_")
        try:
            t0 = time.time()
            manifests = build_index(spark, docs, idx, n_segments=1, n_shards=32)
            w = time.time() - t0
            walls.append(w)
            phases.append(manifests[0]["phases"])
            print(f"[repeat {i}] wall={w:.3f}s phases={phases[-1]}", file=sys.stderr)
        finally:
            shutil.rmtree(idx, ignore_errors=True)
    print(json.dumps({"cores": cores, "n_docs": n_docs,
                      "wall_best": round(min(walls), 3),
                      "walls": [round(w, 3) for w in walls],
                      "phases_best": phases[walls.index(min(walls))],
                      "docs_per_sec": round(n_docs / min(walls), 1)}))


def queries(n_parts: int = 0) -> None:
    from go_mysql_elasticsearch_spark import registry
    from go_mysql_elasticsearch_spark.index.build import build_index
    from go_mysql_elasticsearch_spark.index.reader import IndexReader
    from go_mysql_elasticsearch_spark.session import get_spark

    import bench

    spark = get_spark(app_name="qprobe", master=f"local[{CPUS}]")
    reader = registry.index_for(spark, SF_DIR)
    reader.open_serving(n_parts=n_parts or None)
    try:
        pq, stats = bench._timed_queries(spark, reader, bench.HEADLINE)
    finally:
        reader.close_serving()
    print(json.dumps({"small": pq, "small_stats": stats}))

    idx = tempfile.mkdtemp(prefix="qprobe_bigidx_")
    try:
        docs, n_docs = _replicated_docs(spark, SF_DIR, REPLICATE)
        build_index(spark, docs, idx, n_segments=1, n_shards=32)
        reader = IndexReader(spark, idx)
        reader.open_serving(n_parts=n_parts or None)
        try:
            pq, stats = bench._timed_queries(spark, reader, bench.BIG_HEADLINE)
        finally:
            reader.close_serving()
        print(json.dumps({"big": pq, "big_stats": stats, "n_docs": n_docs}))
    finally:
        shutil.rmtree(idx, ignore_errors=True)


def plans(outdir: str, suffix: str = "before") -> None:
    from go_mysql_elasticsearch_spark import registry
    from go_mysql_elasticsearch_spark.query.phrase import match_phrase
    from go_mysql_elasticsearch_spark.query.wand import bm25_topk
    from go_mysql_elasticsearch_spark.session import get_spark

    os.makedirs(outdir, exist_ok=True)
    spark = get_spark(app_name="plans", master=f"local[{CPUS}]")
    reader = registry.index_for(spark, SF_DIR)
    reader.open_serving()
    try:
        cases = {
            "q_or2_driver": lambda: bm25_topk(spark, reader, ["data", "merge"], k=10),
            "q_or2_dist": lambda: bm25_topk(spark, reader, ["data", "merge"], k=10,
                                            strategy="distributed"),
            "q_and2_dist": lambda: bm25_topk(spark, reader, ["dup", "scan"], k=10,
                                             mode="and", strategy="distributed"),
            "q_phrase_dist": lambda: match_phrase(spark, reader, "hash join", k=10,
                                                  strategy="distributed"),
        }
        for name, fn in cases.items():
            df = fn()
            p = os.path.join(outdir, f"{name}_{suffix}.txt")
            with open(p, "w") as f:
                f.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
            print(f"wrote {p}")
    finally:
        reader.close_serving()


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else ""
    if cmd == "build-phases":
        build_phases(int(sys.argv[2]), int(sys.argv[3]) if len(sys.argv) > 3 else 3)
    elif cmd == "queries":
        queries(int(sys.argv[2]) if len(sys.argv) > 2 else 0)
    elif cmd == "plans":
        plans(sys.argv[2], sys.argv[3] if len(sys.argv) > 3 else "before")
    else:
        print(__doc__)
        sys.exit(2)
