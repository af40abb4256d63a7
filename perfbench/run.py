"""Benchmark entry point: one run of one workload, one JSON line out.

Run from the root of a checkout of the engine:

    python3 perfbench/run.py --workload serve_small --seed 1 --seconds 10 --trace 0

The last line of stdout is ``{"correct", "attempted", "failed",
"metrics"}``; with ``--trace 0`` the metrics are the end-to-end ones of
BENCHMARK.json, with ``--trace 1`` the per-layer ones. Inputs come from
the seed; caches (corpus, serve index, oracle answers) live under
``.bench_build/perfbench`` and are made by a separate ``--prepare``
process the first time, before anything is timed. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = {"serve_small": "small", "ingest_cdc": "cdc"}
# The driver JVM's heap is fixed and pre-touched, so its share of
# driver_peak_rss_mb is constant and the metric moves with the Python
# process and off-heap memory instead of with GC timing.
DRIVER_MEM = "1g"

# name -> (unit, better); BENCHMARK.json lists the same names (a test checks it)
END_TO_END = {
    "setup_s": ("s", "lower"), "match_p50_ms": ("ms", "lower"), "phrase_p50_ms": ("ms", "lower"),
    "ops_per_s": ("1/s", "higher"), "index_bytes_per_text_byte": ("ratio", "lower"),
    "driver_peak_rss_mb": ("MB", "lower"),
}
_LO, _HI = "lower", "higher"
PER_LAYER = {
    "session.start_s": ("s", _LO), "session.first_job_s": ("s", _LO),
    "setup.reader_open_ms": ("ms", _LO), "setup.open_serving_s": ("s", _LO),
    "setup.global_dict_s": ("s", _LO), "setup.driver_postings_s": ("s", _LO),
    "setup.memo_warm_s": ("s", _LO), "setup.warm_queries_s": ("s", _LO),
    "setup.jit_warm_s": ("s", _LO),
    "reader.residency_parts": ("count", _LO), "reader.driver_copy_mb": ("MB", _LO),
    "reader.df_lookup_ms": ("ms", _LO), "reader.df_lookup_misses": ("count", _LO),
    "reader.tombstones_map_ms": ("ms", _LO),
    "scoring.analyze_ms": ("ms", _LO), "wand.term_ids_ms": ("ms", _LO),
    "wand.term_ids_misses": ("count", _LO), "memo.hit_share": ("ratio", _HI),
    "wand.driver_slice_ms": ("ms", _LO), "wand.driver_slice_rows": ("count", _LO),
    "wand.driver_slice_useful_ratio": ("ratio", _HI), "wand.kernel_ms": ("ms", _LO),
    "wand.postings_scored": ("count", _LO), "codec.decode_ms": ("ms", _LO),
    "wand.blocks_decoded_ratio": ("ratio", _LO),
    "wand.driver_route_share": ("ratio", _HI), "phrase.driver_route_share": ("ratio", _HI),
    "phrase.positional_hits_ms": ("ms", _LO), "phrase.positions_decoded_ratio": ("ratio", _LO),
    **{f"{name}.{fam}": (unit, _LO) for fam in ("match", "phrase") for name, unit in (
        ("query.plan_ms", "ms"), ("query.collect_ms", "ms"), ("spark.create_df_calls", "count"),
        ("spark.create_df_ms", "ms"), ("spark.to_pandas_ms", "ms"), ("spark.jobs_per_op", "count"),
        ("spark.stages_per_op", "count"), ("spark.tasks_per_op", "count"),
        ("trace.op_ms", "ms"), ("trace.unattributed_ms", "ms"), ("trace.overhead_ms", "ms"))},
    "match_tail_ms": ("ms", _LO), "match_tail_pct": ("%", _HI), "match_samples": ("count", _HI),
    "phrase_tail_ms": ("ms", _LO), "phrase_tail_pct": ("%", _HI), "phrase_samples": ("count", _HI),
    "build.build_segment_s": ("s", _LO), "build.docs_per_s": ("1/s", _HI),
    "build.postings_bytes_per_posting": ("B", _LO),
    "incremental.apply_changes_s": ("s", _LO), "incremental.tombstone_rows": ("count", _LO),
    "incremental.segments_live": ("count", _LO), "incremental.compact_s": ("s", _LO),
    "cdc_events_per_s": ("1/s", _HI), "visible_p50_ms": ("ms", _LO),
    "compact_docs_per_s": ("1/s", _HI), "op_error_rate": ("ratio", _LO),
    "host.load_avg_1m_start": ("load", _LO), "host.load_avg_1m_end": ("load", _LO),
    "host.cpu_steal_share": ("ratio", _LO),
}


def _env(root: str) -> str:
    """Keep every file the run writes inside the checkout, and point
    Spark's Python workers at the checkout's engine."""
    work = os.path.join(root, ".bench_build", "perfbench")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": os.pathsep.join([root] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        # every JVM (the launcher too): temp files in the checkout, no
        # hsperfdata under the system /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
            f"--conf 'spark.driver.extraJavaOptions=-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch' pyspark-shell"),
    })
    tempfile.tempdir = tmp
    return work


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_share(a: list[int], b: list[int]) -> float:
    """Share of host CPU time stolen by other guests between two samples."""
    d = [y - x for x, y in zip(a, b)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0


def _start_spark():
    from go_mysql_elasticsearch_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    spark.range(4).count()
    return spark, t1 - t0, time.perf_counter() - t1


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _cache(root: str, workload: str):
    import gen
    from cache import Cache

    spec = gen.CORPORA[WORKLOADS[workload]]
    return Cache(root, spec["n_docs"], spec["n_shards"])


def prepare(root: str, workload: str) -> None:
    """Make the workload's cached inputs (own process, nothing timed)."""
    c = _cache(root, workload)
    c.prepare_corpus()
    if workload == "serve_small":
        c.prepare_expected()
        if not c.serve_ready():
            spark, _, _ = _start_spark()
            try:
                c.prepare_index(spark)
            finally:
                _stop_spark(spark)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--prepare", action="store_true", help="only make the cached inputs")
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "go_mysql_elasticsearch_spark", "__init__.py")):
        print("perfbench: run from the root of an engine checkout "
              "(go_mysql_elasticsearch_spark/ not found)", file=sys.stderr)
        return 2
    work = _env(root)
    sys.path.insert(0, root)
    if args.prepare:
        prepare(root, args.workload)
        return 0

    cache = _cache(root, args.workload)
    ready = cache.serve_ready() if args.workload == "serve_small" else cache.corpus_ready()
    if not ready:
        subprocess.run([sys.executable, os.path.abspath(__file__), "--workload", args.workload,
                        "--prepare"], check=True, timeout=850, stdout=sys.stderr)

    import workloads

    load_start, cpu_start = os.getloadavg()[0], _cpu_times()
    t_run = time.perf_counter()
    spark, start_s, first_job_s = _start_spark()
    workloads.log(f"spark start {start_s:.2f} s, first job {first_job_s:.2f} s")
    try:
        run = workloads.Run(spark, args.seed, args.seconds, bool(args.trace), work)
        fn = workloads.serve if args.workload == "serve_small" else workloads.ingest
        metrics = fn(run, cache)
        metrics.update({k: v for k, v in run.latency_metrics().items() if k in END_TO_END})
        metrics["driver_peak_rss_mb"] = workloads.peak_rss_mb(spark)
        layer = dict(run.layer)
        if args.trace:
            layer.update(run.trace_metrics())
    finally:
        t_stop = time.perf_counter()
        _stop_spark(spark)
        workloads.log(f"stop {time.perf_counter() - t_stop:.2f} s, run {time.perf_counter() - t_run:.2f} s")
    layer.update({k: v for k, v in run.latency_metrics().items() if k in PER_LAYER})
    layer.update({
        "session.start_s": start_s, "session.first_job_s": first_job_s,
        "op_error_rate": run.failed / max(1, run.attempted),
        "host.load_avg_1m_start": load_start, "host.load_avg_1m_end": os.getloadavg()[0],
        "host.cpu_steal_share": _steal_share(cpu_start, _cpu_times()),
    })
    names = PER_LAYER if args.trace else END_TO_END
    values = layer if args.trace else metrics
    out = {name: {"value": float(values.get(name, 0.0)), "unit": unit}
           for name, (unit, _better) in names.items()}
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
