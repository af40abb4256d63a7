"""The two workloads: ``serve_small`` and ``ingest_cdc``.

Both are closed loops with one client: the driver program issues an
operation, waits for its collected reply, then issues the next. Every
answer is checked against the DuckDB oracle after it is timed.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np

import gen
from oracle import Oracle, same_result
from spans import Tracer, job_counts

SETUP_REPS = 3        # setup_s is the median of this many set-ups
# serve_small: untimed (but checked) rounds of the stream between the
# last set-up and the timed loop. The JVM's JIT is still compiling the
# query path for the first few seconds of a session; timing that would
# make each run's medians depend on how fast the host warmed it up.
WARM_ROUNDS = 2
CDC_BATCHES = 2       # fixed change schedule of ingest_cdc
CDC_EVENTS = 150      # events per batch
# query classes each batch reads with, and how many rounds of them each
# fresh reader runs. Each round takes the next member of every class in
# the seed's cyclic order (gen.query_stream), so no query repeats on a
# reader, and the CDC_BATCHES * CDC_READ_ROUNDS rounds read each member
# once: the seed changes the order of the reads, not their mix.
CDC_CLASSES = ("or2", "p2")
CDC_READ_ROUNDS = 2


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, int, int]:
    """(value, percentile, samples): the highest whole percentile with
    at least ten samples beyond it (nearest rank); (0, 0, n) when there
    are too few samples for one."""
    n = len(xs)
    if n <= 10:
        return 0.0, 0, n
    pct = (100 * (n - 10)) // n
    rank = max(1, -(-pct * n // 100))
    return sorted(xs)[rank - 1], int(pct), n


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs)


def peak_rss_mb(spark) -> float:
    """Peak RSS (VmHWM) of this Python process plus the driver JVM."""
    def hwm(pid) -> int:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0
    jvm = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return (hwm("self") + hwm(jvm)) / 1024.0


class Run:
    """State of one benchmark run: the session, the op counters, the
    latency pools and the per-layer numbers."""

    def __init__(self, spark, seed: int, seconds: float, traced: bool, work: str):
        self.spark, self.seed, self.seconds, self.work = spark, seed, seconds, work
        self.tracer = Tracer() if traced else None
        self.attempted = self.failed = 0
        self.lat: dict[str, list[float]] = {"match": [], "phrase": []}
        self.lat_untraced: dict[str, list[float]] = {"match": [], "phrase": []}
        self.layer: dict[str, float] = {}
        self.groups: list[tuple[str, str]] = []  # (family, job group) of traced ops
        self._n_ops = 0
        self._n_fam = {"match": 0, "phrase": 0}

    # ---- one query -------------------------------------------------------
    def _call(self, reader, q: dict, tr):
        from go_mysql_elasticsearch_spark.query.phrase import match_phrase
        from go_mysql_elasticsearch_spark.query.wand import bm25_topk

        def plan():
            if q["family"] == "match":
                return bm25_topk(self.spark, reader, " ".join(q["terms"]), k=10, mode=q["mode"])
            return match_phrase(self.spark, reader, q["text"], k=10)

        if tr is None:
            return plan().collect()
        with tr.span("op"):
            with tr.span("query.plan"):
                df = plan()
            with tr.span("query.collect"):
                return df.collect()

    def query(self, reader, q: dict, expected, timed: bool = True) -> None:
        """Run one match or phrase query through the public API, time it
        from the call through ``collect()``, then check it against
        ``expected`` (rows, or a callable returning them). In the traced
        run every other query of each family runs traced (so both
        families are traced whatever the order of the stream); the rest
        give the untraced latencies the tracing overhead is taken
        against."""
        from go_mysql_elasticsearch_spark.query import phrase, wand

        fam = q["family"]
        self._n_ops += 1
        self._n_fam[fam] += 1
        tr = self.tracer if (self.tracer is not None and timed and self._n_fam[fam] % 2 == 0) else None
        if tr is not None:
            install(tr)
            tr.op = (fam, self._n_ops)
            group = f"perfbench-op-{self._n_ops}"
            self.spark.sparkContext.setJobGroup(group, fam)
            self.groups.append((fam, group))
            dec0 = wand.DECODE_STATS["decoded"]
            pos0 = dict(phrase.POS_DECODE_STATS)
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            rows = self._call(reader, q, tr)
            ms = (time.perf_counter() - t0) * 1e3
        except Exception:  # an op that raises is counted, and the run goes on
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return
        finally:
            if tr is not None:
                tr.count("blocks_decoded", wand.DECODE_STATS["decoded"] - dec0)
                tr.count("pos_decoded", phrase.POS_DECODE_STATS["decoded"] - pos0["decoded"])
                tr.count("pos_blocks", phrase.POS_DECODE_STATS["blocks"] - pos0["blocks"])
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                tr.op = None
                tr.uninstall()
        if timed:
            untraced_in_traced_run = self.tracer is not None and tr is None
            (self.lat_untraced if untraced_in_traced_run else self.lat)[fam].append(ms)
        got = [(r["doc_id"], r["score"]) for r in rows]
        want = expected() if callable(expected) else expected
        if not same_result(got, want):
            self.failed += 1
            print(f"WRONG {q['qid']} {q.get('text') or q['terms']}: got {got[:3]} want {want[:3]}",
                  file=sys.stderr)

    def check(self, ok: bool, what: str) -> None:
        """Count a non-query correctness check as an operation."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"WRONG {what}", file=sys.stderr)

    # ---- results -----------------------------------------------------------
    def latency_metrics(self) -> dict[str, float]:
        out = {}
        for fam in ("match", "phrase"):
            xs = self.lat[fam] + self.lat_untraced[fam]
            out[f"{fam}_p50_ms"] = p50(xs)
            v, pct, n = tail(xs)
            out[f"{fam}_tail_ms"], out[f"{fam}_tail_pct"], out[f"{fam}_samples"] = v, pct, n
        return out

    def trace_metrics(self) -> dict[str, float]:
        """Per-layer numbers from the spans of the traced ops."""
        tr = self.tracer
        out: dict[str, float] = {}
        if tr is None:
            return out
        time.sleep(0.5)  # let the listener bus record the last jobs
        sc = self.spark.sparkContext
        per_fam = {"match": [], "phrase": []}
        for fam, g in self.groups:
            per_fam[fam].append(job_counts(sc, g))
        n_ops = {f: max(1, len(v)) for f, v in per_fam.items()}
        for fam, counts in per_fam.items():
            arr = np.array(counts, dtype=float).reshape(-1, 3) if counts else np.zeros((1, 3))
            out[f"spark.jobs_per_op.{fam}"] = float(arr[:, 0].mean())
            out[f"spark.stages_per_op.{fam}"] = float(arr[:, 1].mean())
            out[f"spark.tasks_per_op.{fam}"] = float(arr[:, 2].mean())
            d = tr.durations(fam)
            out[f"query.plan_ms.{fam}"] = sum(d["query.plan"]) / n_ops[fam]
            out[f"query.collect_ms.{fam}"] = sum(d["query.collect"]) / n_ops[fam]
            out[f"spark.create_df_calls.{fam}"] = len(d["spark.create_df"]) / n_ops[fam]
            out[f"spark.create_df_ms.{fam}"] = sum(d["spark.create_df"]) / n_ops[fam]
            out[f"spark.to_pandas_ms.{fam}"] = sum(d["spark.to_pandas"]) / n_ops[fam]
            total, rest = tr.unattributed_ms(fam)
            out[f"trace.op_ms.{fam}"] = total
            out[f"trace.unattributed_ms.{fam}"] = rest
            traced, untraced = self.lat[fam], self.lat_untraced[fam]
            out[f"trace.overhead_ms.{fam}"] = (p50(traced) - p50(untraced)) if traced and untraced else 0.0
            routes = [s["op"] for s in tr.spans if s["name"] == "wand.driver_slice"
                      and s["op"] is not None and s["op"][0] == fam]
            out[f"{'wand' if fam == 'match' else 'phrase'}.driver_route_share"] = (
                len(set(routes)) / len(per_fam[fam]) if per_fam[fam] else 0.0)
        # the layers a match op passes through, per match op; with the
        # boundary spans above and trace.unattributed_ms.match they add
        # up to trace.op_ms.match
        m, ph = tr.durations("match"), tr.durations("phrase")
        for key, name in (("scoring.analyze_ms", "scoring.analyze"), ("wand.term_ids_ms", "wand.term_ids"),
                          ("reader.df_lookup_ms", "reader.df_lookup"),
                          ("reader.tombstones_map_ms", "reader.tombstones_map"),
                          ("wand.driver_slice_ms", "wand.driver_slice"), ("wand.kernel_ms", "wand.kernel"),
                          ("codec.decode_ms", "codec.decode")):
            out[key] = sum(m[name]) / n_ops["match"]
        out["phrase.positional_hits_ms"] = sum(ph["phrase.positional_hits"]) / n_ops["phrase"]

        def count(name: str, fams=("match", "phrase")) -> float:
            return sum(tr.counts.get((f, name), 0.0) for f in fams)

        def ratio(num: float, den: float) -> float:
            return num / den if den else 0.0

        out["wand.term_ids_misses"] = count("term_ids_misses")
        out["reader.df_lookup_misses"] = count("df_lookup_misses")
        lookups = count("term_lookups") + count("df_lookups")
        out["memo.hit_share"] = ratio(lookups - out["wand.term_ids_misses"] - out["reader.df_lookup_misses"],
                                      lookups)
        out["wand.driver_slice_rows"] = count("slice_rows", ("match",)) / n_ops["match"]
        out["wand.driver_slice_useful_ratio"] = ratio(count("slice_rows", ("match",)),
                                                      count("slice_scanned", ("match",)))
        out["wand.postings_scored"] = count("postings_scored", ("match",)) / n_ops["match"]
        out["wand.blocks_decoded_ratio"] = ratio(count("blocks_decoded", ("match",)),
                                                 count("kernel_blocks", ("match",)))
        out["phrase.positions_decoded_ratio"] = ratio(count("pos_decoded", ("phrase",)),
                                                      count("pos_blocks", ("phrase",)))
        return out


# ---------------------------------------------------------------------------
# Wrappers around the engine's layer functions (traced run only)
# ---------------------------------------------------------------------------

def install(tr: Tracer) -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql.classic.dataframe import DataFrame  # defines its own toPandas

    from go_mysql_elasticsearch_spark.index import reader as reader_mod
    from go_mysql_elasticsearch_spark.query import phrase, wand

    def tid_misses(args):
        terms = args[1]
        tr.count("term_lookups", len(terms))
        tr.count("term_ids_misses", sum(t not in wand._TID_CACHE for t in terms))

    def df_misses(args):
        rdr, tids = args[0], args[1]
        tr.count("df_lookups", len(tids))
        tr.count("df_lookup_misses", sum(t not in rdr._df_cache for t in tids))

    def slice_rows(args, out):
        if out is not None:
            tr.count("slice_rows", len(out))
            tr.count("slice_scanned", len(args[0]._driver_postings))

    def kernel_in(args):
        pdf = args[0]
        tr.count("kernel_blocks", len(pdf))
        tr.count("postings_scored", float(pdf["n_docs"].sum()))

    def decoded(args):
        tr.count("blocks_decoded", len(args[0]))

    tr.wrap(wand, "analyze_query", "scoring.analyze")
    tr.wrap(phrase, "phrase_words", "scoring.analyze")
    tr.wrap(wand, "term_ids", "wand.term_ids", before=tid_misses)
    tr.wrap(reader_mod.IndexReader, "df_lookup", "reader.df_lookup", before=df_misses)
    tr.wrap(reader_mod.IndexReader, "tombstones_map", "reader.tombstones_map")
    tr.wrap(wand, "_driver_matched", "wand.driver_slice", after=slice_rows)
    tr.wrap(wand, "_score_matched_driver", "wand.kernel", before=kernel_in)
    # the match kernel's batch decode; the phrase path decodes through
    # its own module reference
    tr.wrap(wand, "unpack_blocks_batch", "codec.decode", before=decoded)
    tr.wrap(phrase, "unpack_blocks_batch", "codec.decode")
    tr.wrap(phrase, "unpack_positions_batch", "codec.decode_positions")
    tr.wrap(phrase, "_positional_hits", "phrase.positional_hits")
    tr.wrap(SparkSession, "createDataFrame", "spark.create_df")
    tr.wrap(DataFrame, "toPandas", "spark.to_pandas")


# ---------------------------------------------------------------------------
# serve_small
# ---------------------------------------------------------------------------

def serve(run: Run, cache) -> dict[str, float]:
    """Warm serving over the cached index: set up SETUP_REPS times (the
    last set-up stays open), then run the seeded interleaved stream in
    whole rounds until ``seconds`` have passed."""
    from go_mysql_elasticsearch_spark.index.reader import IndexReader
    from go_mysql_elasticsearch_spark.query.wand import term_ids

    spark = run.spark
    pool, expected = cache.load_expected()
    first = {}
    for q in pool:
        first.setdefault(q["family"], q)
    all_terms = sorted({t for q in pool for t in q["terms"]})
    setups = []
    parts = {k: [] for k in ("reader_open_ms", "open_serving_s", "global_dict_s",
                             "driver_postings_s", "memo_warm_s", "warm_queries_s")}
    reader = None
    for rep in range(SETUP_REPS):
        if reader is not None:
            reader.close_serving()
        t0 = time.perf_counter()
        reader = IndexReader(spark, cache.index)
        t1 = time.perf_counter()
        reader.open_serving()
        t2 = time.perf_counter()
        reader.global_dict()
        t3 = time.perf_counter()
        dp = reader.driver_postings()
        t4 = time.perf_counter()
        reader.df_lookup(list(term_ids(spark, all_terms).values()))
        t5 = time.perf_counter()
        for q in first.values():
            run.query(reader, q, expected[q["qid"]], timed=False)
        t6 = time.perf_counter()
        setups.append(t6 - t0)
        log(f"setup {rep}: {t6 - t0:.2f} s")
        for k, v in zip(parts, ((t1 - t0) * 1e3, t2 - t1, t3 - t2, t4 - t3, t5 - t4, t6 - t5)):
            parts[k].append(v)
    run.layer.update({f"setup.{k}": p50(v) for k, v in parts.items()})
    run.layer["reader.residency_parts"] = reader.postings().rdd.getNumPartitions()
    run.layer["reader.driver_copy_mb"] = (
        float(dp.memory_usage(deep=True).sum()) / 2**20 if dp is not None else 0.0)
    try:
        rounds = gen.query_stream(pool, run.seed, n_rounds=10_000)
        per_round = len({q["cls"] for q in pool})
        t0 = time.perf_counter()
        for q in rounds[:WARM_ROUNDS * per_round]:
            run.query(reader, q, expected[q["qid"]], timed=False)
        run.layer["setup.jit_warm_s"] = time.perf_counter() - t0
        rounds = rounds[WARM_ROUNDS * per_round:]
        deadline = time.perf_counter() + run.seconds
        # queries per second of each whole round; their median, like the
        # latency medians, is not moved by a host stall that covers a
        # minority of the rounds
        rates = []
        for i in range(0, len(rounds), per_round):
            t_round = time.perf_counter()
            if t_round >= deadline:
                break
            for q in rounds[i:i + per_round]:
                run.query(reader, q, expected[q["qid"]])
            rates.append(per_round / (time.perf_counter() - t_round))
    finally:
        reader.close_serving()
    return {"setup_s": p50(setups), "ops_per_s": p50(rates),
            "index_bytes_per_text_byte": dir_bytes(cache.index) / cache.text_bytes()}


# ---------------------------------------------------------------------------
# ingest_cdc
# ---------------------------------------------------------------------------

def ingest(run: Run, cache) -> dict[str, float]:
    """Bootstrap build (SETUP_REPS times, the last one kept), then the
    seeded change schedule. After each batch a fresh non-serving reader
    runs the read-your-write probe and a few match and phrase queries;
    the run ends with ``compact`` and a check of the live-doc set."""
    import pandas as pd

    from go_mysql_elasticsearch_spark.index.build import build_index
    from go_mysql_elasticsearch_spark.index.reader import IndexReader
    from go_mysql_elasticsearch_spark.query.wand import bm25_topk
    from go_mysql_elasticsearch_spark.streaming import incremental

    spark = run.spark
    base = os.path.join(run.work, f"ingest-{os.getpid()}")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)
    oracle = Oracle(threads=2, memory_limit="1GB", temp_dir=os.path.join(run.work, "tmp"))
    try:
        boot = spark.read.parquet(cache.corpus)
        setups, manifests = [], []
        for rep in range(SETUP_REPS):
            idx = os.path.join(base, f"boot{rep}")
            t0 = time.perf_counter()
            manifests = build_index(spark, boot, idx, n_shards=cache.n_shards)
            setups.append(time.perf_counter() - t0)
            log(f"bootstrap build {rep}: {setups[-1]:.2f} s")
            if rep:
                shutil.rmtree(os.path.join(base, f"boot{rep - 1}"))
        run.layer["build.build_segment_s"] = p50(setups)
        run.layer["build.docs_per_s"] = cache.n_docs / p50(setups)
        run.layer["build.postings_bytes_per_posting"] = (
            sum(m["postings_bytes"] for m in manifests) / sum(m["n_postings"] for m in manifests))

        corpus = pd.read_parquet(cache.corpus, columns=["doc_id", "text"])
        oracle.add(corpus)
        pool = gen.query_pool(gen.doc_tokens(cache.n_docs), gen.vocabulary())
        schedule = gen.change_schedule(cache.n_docs, run.seed, CDC_BATCHES, CDC_EVENTS)
        stream = gen.query_stream(pool, run.seed, n_rounds=CDC_BATCHES * CDC_READ_ROUNDS)
        per_round = len(stream) // (CDC_BATCHES * CDC_READ_ROUNDS)
        applies, visible, maint = [], [], 0.0
        n_events = 0
        reader = None
        for b, events in enumerate(schedule):
            changes = spark.createDataFrame(gen.change_frame(events))
            n_events += len(events)
            t0 = time.perf_counter()
            incremental.apply_changes(spark, idx, changes, n_shards=cache.n_shards)
            t1 = time.perf_counter()
            reader = IndexReader(spark, idx)
            probe = bm25_topk(spark, reader, f"zzvis{b}", k=10).collect()
            t2 = time.perf_counter()
            log(f"batch {b}: apply {t1 - t0:.2f} s, visible {t2 - t0:.2f} s")
            applies.append(t1 - t0)
            visible.append((t2 - t0) * 1e3)
            maint += t2 - t0
            # the model: last event per key wins; update/delete/repeated
            # keys tombstone the old version
            last, n_ev = {}, {}
            for e in events:
                last[e["doc_id"]] = e
                n_ev[e["doc_id"]] = n_ev.get(e["doc_id"], 0) + 1
            oracle.kill([d for d, e in last.items() if e["action"] != "insert" or n_ev[d] > 1])
            oracle.add(pd.DataFrame([{"doc_id": d, "text": e["text"]} for d, e in last.items()
                                     if e["action"] != "delete"]))
            marker = next(e["doc_id"] for e in events if e["text"] and e["text"].startswith(f"zzvis{b} "))
            want = oracle.topk([f"zzvis{b}"], "or")
            got = [(r["doc_id"], r["score"]) for r in probe]
            run.check(bool(want) and want[0][0] == marker and same_result(got, want),
                      f"read-your-write probe batch {b}")
            for r in range(b * CDC_READ_ROUNDS, (b + 1) * CDC_READ_ROUNDS):
                rnd = {q["cls"]: q for q in stream[r * per_round:(r + 1) * per_round]}
                for q in (rnd[c] for c in CDC_CLASSES):
                    run.query(reader, q, lambda q=q: oracle.topk(q["terms"], q["mode"]))
        run.layer["incremental.tombstone_rows"] = reader.tombstones_count()
        run.layer["incremental.segments_live"] = len(reader.manifests)
        t0 = time.perf_counter()
        incremental.compact(spark, idx, n_shards=cache.n_shards)
        t_compact = time.perf_counter() - t0
        maint += t_compact
        log(f"compact {t_compact:.2f} s")
        oracle.purge_dead()

        # final state: the live-doc set and its texts against the model
        model = gen.live_model(cache.n_docs, schedule)
        corpus_text = dict(zip(corpus["doc_id"].tolist(), corpus["text"].tolist()))
        want_docs = {d: (t if t is not None else corpus_text[d]) for d, t in model.items()}
        reader = IndexReader(spark, idx)
        got_docs = {r["doc_id"]: r["text"] for r in reader.docstore().select("doc_id", "text").collect()}
        run.check(got_docs == want_docs, "live-doc set after compact")
        q = stream[0]
        run.query(reader, q, oracle.topk(q["terms"], q["mode"]), timed=False)
        live_bytes = sum(len(t.encode("utf-8")) for t in want_docs.values())
        run.layer.update({
            "incremental.apply_changes_s": p50(applies),
            "incremental.compact_s": t_compact,
            "cdc_events_per_s": n_events / sum(applies),
            "visible_p50_ms": p50(visible),
            "compact_docs_per_s": len(want_docs) / t_compact,
        })
        return {"setup_s": p50(setups), "ops_per_s": n_events / maint,
                "index_bytes_per_text_byte": dir_bytes(idx) / live_bytes}
    finally:
        oracle.close()
        shutil.rmtree(base, ignore_errors=True)
