"""Tests of the benchmark's own machinery (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import math
import os
import re
import sys
from collections import Counter

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import workloads  # noqa: E402
from oracle import K1, TOKEN_RE, B, Oracle, same_result  # noqa: E402


def test_same_result_rejects_wrong_rows_and_order():
    want = [(3, 2.5), (1, 1.25), (2, 1.25)]
    assert same_result(list(want), want)
    assert not same_result([(3, 2.5), (1, 1.25), (4, 1.25)], want)   # wrong doc
    assert not same_result([(3, 2.5), (1, 1.25), (2, 1.2500001)], want)  # wrong score
    assert not same_result([(1, 1.25), (3, 2.5), (2, 1.25)], want)   # wrong rank order
    assert not same_result(want[:2], want)                           # missing row


class _FakeRun(workloads.Run):
    """A Run whose query call returns canned rows instead of calling Spark."""

    def __init__(self, rows):
        super().__init__(spark=None, seed=1, seconds=1, traced=False, work="")
        self._rows = rows

    def _call(self, reader, q, tr):
        if isinstance(self._rows, Exception):
            raise self._rows
        return [{"doc_id": d, "score": s} for d, s in self._rows]


Q = {"qid": "or2-0", "family": "match", "cls": "or2", "mode": "or", "terms": ["a", "b"]}


def test_wrong_result_is_counted_as_failure():
    want = [(7, 3.0), (5, 1.0)]
    good = _FakeRun(want)
    good.query(None, Q, want)
    assert (good.attempted, good.failed) == (1, 0)
    bad = _FakeRun([(7, 3.0), (6, 1.0)])
    bad.query(None, Q, want)
    assert (bad.attempted, bad.failed) == (1, 1)
    raised = _FakeRun(RuntimeError("boom"))
    raised.query(None, Q, want)
    assert (raised.attempted, raised.failed) == (1, 1)
    lazy = _FakeRun(want)
    lazy.query(None, Q, lambda: [(7, 3.0)])  # callable expected, evaluated after timing
    assert lazy.failed == 1


def test_tail_percentile_leaves_ten_samples_beyond():
    xs = list(range(1, 74))
    v, pct, n = workloads.tail(xs)
    assert n == 73 and pct == 86
    assert sum(x > v for x in xs) >= 10
    assert workloads.tail(list(range(10))) == (0.0, 0, 10)


def test_generators_are_seeded():
    a, b = gen.doc_tokens(1200), gen.doc_tokens(1200)
    assert all((x == y).all() for x, y in zip(a, b))
    # a prefix of a corpus is the smaller corpus (rare words aside)
    small = gen.doc_tokens(1000)
    assert all(x.size == y.size for x, y in zip(small, a[:1000]))
    pool = gen.query_pool(a, gen.vocabulary())
    assert pool == gen.query_pool(b, gen.vocabulary())
    assert gen.query_stream(pool, 3, 4) == gen.query_stream(pool, 3, 4)
    assert gen.query_stream(pool, 3, 4) != gen.query_stream(pool, 4, 4)
    assert gen.change_schedule(100, 5, 2, 30) == gen.change_schedule(100, 5, 2, 30)
    cls = Counter(q["cls"] for q in gen.query_stream(pool, 3, 4))
    assert set(cls.values()) == {4}  # one query of every class per round
    # any POOL_PER_CLASS consecutive rounds ask the whole pool once, and
    # ingest_cdc's reads are exactly that many rounds
    assert workloads.CDC_BATCHES * workloads.CDC_READ_ROUNDS == gen.POOL_PER_CLASS
    per_round, n = len(cls), gen.POOL_PER_CLASS
    stream = gen.query_stream(pool, 3, n + 2)
    for start in (0, 2):
        window = stream[start * per_round:(start + n) * per_round]
        assert sorted(q["qid"] for q in window) == sorted(q["qid"] for q in pool)


def test_rendered_text_tokenizes_back_to_the_ids():
    vocab = gen.vocabulary()
    toks = gen.doc_tokens(50)
    frame = gen.doc_frame(range(50), toks, vocab)
    for ids, text in zip(toks, frame["text"]):
        assert re.findall(TOKEN_RE, text.lower()) == [vocab[i] for i in ids]


def test_live_model_follows_last_event():
    sched = gen.change_schedule(40, 9, 3, 20)
    model = gen.live_model(40, sched)
    for events in sched:
        for e in events:
            if e["action"] == "delete":
                assert e["doc_id"] not in model
    assert all(f"zzvis{b}" in (model[next(e["doc_id"] for e in ev if e["text"]
                                          and e["text"].startswith(f"zzvis{b} "))] or "")
               for b, ev in enumerate(sched))


def _bm25_brute(docs: dict[int, list[str]], terms, mode):
    n = len(docs)
    avgdl = sum(len(t) for t in docs.values()) / n
    distinct = list(dict.fromkeys(terms))
    df = {t: sum(t in d for d in docs.values()) for t in distinct}
    out = []
    for doc, toks in docs.items():
        if mode == "phrase":
            m = len(terms)
            if not any(toks[i:i + m] == terms for i in range(len(toks) - m + 1)):
                continue
        hit = [t for t in distinct if t in toks]
        if not hit or (mode != "or" and len(hit) < len(distinct)):
            continue
        s = 0.0
        for t in hit:
            tf = toks.count(t)
            idf = math.log(1 + (n - df[t] + 0.5) / (df[t] + 0.5))
            s += idf * tf * (K1 + 1) / (tf + K1 * (1 - B + B * len(toks) / avgdl))
        out.append((doc, round(s, 6)))
    return sorted(out, key=lambda r: (-r[1], r[0]))[:10]


@pytest.mark.parametrize("terms,mode", [
    (["alpha"], "or"), (["alpha", "gamma"], "or"), (["alpha", "beta"], "and"),
    (["beta", "alpha"], "phrase"), (["alpha", "alpha"], "phrase"),
])
def test_oracle_matches_brute_force_bm25(terms, mode):
    texts = {1: "Alpha beta gamma.", 2: "beta alpha alpha beta", 3: "gamma gamma delta",
             4: "alpha, beta! alpha beta alpha", 5: "delta epsilon"}
    o = Oracle(threads=1, memory_limit="256MB")
    try:
        o.add(pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())}))
        got = o.topk(terms, mode)
    finally:
        o.close()
    want = _bm25_brute({d: t.lower().replace(",", " ").replace("!", " ").replace(".", " ").split()
                        for d, t in texts.items()}, terms, mode)
    assert same_result(got, want)


def test_oracle_between_compactions_counts_dead_versions():
    o = Oracle(threads=1, memory_limit="256MB")
    try:
        o.add(pd.DataFrame({"doc_id": [1, 2, 3], "text": ["a b", "a c", "c d"]}))
        o.kill([2])
        o.add(pd.DataFrame({"doc_id": [2], "text": ["c c"]}))
        smeared = o.topk(["a"], "or")
        assert [d for d, _ in smeared] == [1]  # doc 2's old version is dead
        o.purge_dead()
        exact = o.topk(["a"], "or")
        assert [d for d, _ in exact] == [1] and exact[0][1] != smeared[0][1]  # N and df shrank
    finally:
        o.close()


def test_benchmark_json_lists_the_metrics_run_prints():
    import json

    import run

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)
    e2e = {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]}
    assert e2e == run.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} == run.PER_LAYER
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)


def test_unattributed_remainder_closes_the_op_total():
    import spans

    tr = spans.Tracer()
    tr.op = ("match", 1)
    with tr.span("op"):
        with tr.span("query.plan"):
            with tr.span("wand.kernel"):
                with tr.span("codec.decode"):
                    pass
            with tr.span("spark.create_df"):
                pass
        with tr.span("query.collect"):
            pass
    total, rest = tr.unattributed_ms("match")
    d = tr.durations("match")
    named = sum(sum(d[n]) for n in ("wand.kernel", "spark.create_df", "query.collect"))
    assert total == pytest.approx(named + rest)
    assert rest >= 0
