"""Seeded web-text corpus, query-stream and change-stream generators.

Everything here is numpy over token ids: the engine is never used to
make an input. The shape follows FIXTURES.md section 1: a Zipf
vocabulary of ~10k words, 20-300 tokens per doc, and a set of planted
rare words that each occur in a handful of docs.

Determinism: doc ``i`` of a corpus is a pure function of
``(corpus seed, i)`` (docs are drawn in fixed-size chunks, each from its
own ``default_rng([seed, chunk])``), so corpora of different sizes share
their first docs and a prefix of a corpus is itself a valid corpus.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

CORPUS_SEED = 42
POOL_SEED = 7
VOCAB_SIZE = 10_000
N_RARE = 256          # planted rare words, each in 1-4 docs
ZIPF_S = 1.05
ZIPF_Q = 2.7          # Zipf-Mandelbrot offset: p(r) ~ 1 / (r + q)^s
DL_MIN, DL_MAX = 20, 300
CHUNK = 1000
N_SITES = 97

# The corpora. Sizes are fixed, not seeded: the serve index is built
# once per source tree and cached (see cache.py), and the run seed
# drives the query and change streams instead.
CORPORA = {
    "small": {"n_docs": 5_000, "n_shards": 8},
    "cdc": {"n_docs": 2_000, "n_shards": 8},
}

_CONS = list("bcdfghjklmnprstvwz")
_VOWS = list("aeiou")


def vocabulary(seed: int = CORPUS_SEED) -> np.ndarray:
    """VOCAB_SIZE + N_RARE unique lowercase [a-z] words. Index r < VOCAB_SIZE
    is the Zipf rank; the tail N_RARE entries are the planted rare words."""
    rng = np.random.default_rng([seed, 0xB0CA])
    seen: dict[str, None] = {}
    total = VOCAB_SIZE + N_RARE
    while len(seen) < total:
        n_syl = int(rng.integers(1, 5))
        w = "".join(_CONS[rng.integers(len(_CONS))] + _VOWS[rng.integers(len(_VOWS))]
                    for _ in range(n_syl))
        if len(seen) >= VOCAB_SIZE:
            w = "zq" + w + "x"  # rare words: disjoint from the Zipf words
        seen.setdefault(w, None)
    return np.array(list(seen), dtype=object)


def _zipf_cdf() -> np.ndarray:
    p = 1.0 / (np.arange(VOCAB_SIZE) + 1 + ZIPF_Q) ** ZIPF_S
    return np.cumsum(p / p.sum())


def _rare_hosts(seed: int, n_docs: int) -> tuple[np.ndarray, np.ndarray]:
    """(doc index, rare word index) pairs: rare word j is planted into
    1-4 docs chosen from [0, n_docs)."""
    rng = np.random.default_rng([seed, 0x5A5E, n_docs])
    reps = rng.integers(1, 5, size=N_RARE)
    words = np.repeat(np.arange(N_RARE) + VOCAB_SIZE, reps)
    docs = rng.integers(0, n_docs, size=words.size)
    return docs, words


def doc_tokens(n_docs: int, seed: int = CORPUS_SEED) -> list[np.ndarray]:
    """Token-id arrays, one per doc (int32 ids into ``vocabulary()``)."""
    cdf = _zipf_cdf()
    out: list[np.ndarray] = []
    for c in range(-(-n_docs // CHUNK)):
        rng = np.random.default_rng([seed, c])
        m = min(CHUNK, n_docs - c * CHUNK)
        dls = np.clip(np.round(rng.lognormal(np.log(110), 0.55, size=m)), DL_MIN, DL_MAX).astype(int)
        ids = np.searchsorted(cdf, rng.random(int(dls.sum())), side="right").astype(np.int32)
        out.extend(np.split(np.minimum(ids, VOCAB_SIZE - 1), np.cumsum(dls)[:-1]))
    hosts, words = _rare_hosts(seed, n_docs)
    for d, w in zip(hosts.tolist(), words.tolist()):
        t = out[d]
        # overwrite one position (doc length unchanged, stays in range)
        t[(d * 31 + w) % t.size] = w
    return out


def render(ids: np.ndarray, vocab: np.ndarray) -> str:
    """Token ids -> web-ish text: sentences of ~12 words, first word
    capitalised, ended by a period. The analyzer (lowercase, [a-z0-9]+)
    maps it back to exactly ``vocab[ids]``."""
    words = vocab[ids].tolist()
    for i in range(0, len(words), 12):
        words[i] = words[i].capitalize()
        j = min(i + 11, len(words) - 1)
        words[j] = words[j] + "."
    return " ".join(words)


def doc_frame(doc_ids: np.ndarray, token_lists: list[np.ndarray], vocab: np.ndarray) -> pd.DataFrame:
    """Rows in the engine's webpages shape: doc_id, url, warc_ts, lang, text."""
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    langs = np.array(["en"] * 18 + ["de", "fr"])
    return pd.DataFrame({
        "doc_id": doc_ids,
        "url": [f"https://site{i % N_SITES}.example/page/{i}" for i in doc_ids.tolist()],
        "warc_ts": np.datetime64("2024-01-01T00:00:00", "us") + doc_ids * np.timedelta64(17, "s"),
        "lang": langs[(doc_ids * 2654435761) % 20],
        "text": [render(t, vocab) for t in token_lists],
    })


def corpus_frame(n_docs: int, seed: int = CORPUS_SEED) -> pd.DataFrame:
    vocab = vocabulary(seed)
    return doc_frame(np.arange(n_docs), doc_tokens(n_docs, seed), vocab)


# ---------------------------------------------------------------------------
# Query pools
# ---------------------------------------------------------------------------

# One interleaved round of the stream takes one query of each class.
MATCH_CLASSES = {
    # name: (term bands, mode)
    "head1": (("head",), "or"),
    "mid1": (("mid",), "or"),
    "tail1": (("tail",), "or"),
    "or2": (("head", "mid"), "or"),
    "or3": (("mid", "mid", "tail"), "or"),
    "or4": (("head", "mid", "mid", "tail"), "or"),
    "and2": (("head", "mid"), "and"),
    "and3": (("head", "head", "mid"), "and"),
}
PHRASE_CLASSES = ("p2", "p2anchor", "p3")
POOL_PER_CLASS = 4


def df_bands(token_lists: list[np.ndarray]) -> dict[str, np.ndarray]:
    """Word ids per document-frequency band, from the generator's own
    token ids: head = the 24 most frequent words; mid = df in
    [0.5%, 5%] of docs; tail = df in [2, 0.2% of docs] plus the planted
    rare words."""
    n = len(token_lists)
    df = np.zeros(VOCAB_SIZE + N_RARE, dtype=np.int64)
    for t in token_lists:
        df[np.unique(t)] += 1
    order = np.argsort(-df[:VOCAB_SIZE], kind="stable")
    mid = np.flatnonzero((df >= 0.005 * n) & (df <= 0.05 * n))
    tail = np.flatnonzero((df >= 2) & (df <= max(2, 0.002 * n)))
    return {"head": order[:24], "mid": mid, "tail": tail}


def query_pool(token_lists: list[np.ndarray], vocab: np.ndarray, seed: int = POOL_SEED) -> list[dict]:
    """The fixed query pool of a corpus: POOL_PER_CLASS queries per class.
    Match terms are distinct words drawn from the class's df bands;
    phrases are 2-3 consecutive words copied from a random doc ('p2anchor'
    starts at a mid- or tail-band word)."""
    rng = np.random.default_rng([seed, len(token_lists)])
    bands = df_bands(token_lists)
    anchor = np.zeros(VOCAB_SIZE + N_RARE, dtype=bool)
    anchor[bands["mid"]] = anchor[bands["tail"]] = True
    pool = []
    for cls, (want, mode) in MATCH_CLASSES.items():
        for j in range(POOL_PER_CLASS):
            ids: list[int] = []
            for band in want:
                choices = [w for w in bands[band].tolist() if w not in ids]
                ids.append(int(rng.choice(choices)))
            pool.append({"qid": f"{cls}-{j}", "family": "match", "cls": cls, "mode": mode,
                         "terms": [str(vocab[w]) for w in ids]})
    for cls in PHRASE_CLASSES:
        m = 3 if cls == "p3" else 2
        j = 0
        while j < POOL_PER_CLASS:
            t = token_lists[int(rng.integers(len(token_lists)))]
            starts = np.arange(t.size - m + 1)
            if cls == "p2anchor":
                starts = starts[anchor[t[:t.size - m + 1]]]
                if not starts.size:
                    continue
            s = int(rng.choice(starts))
            words = [str(vocab[w]) for w in t[s:s + m]]
            pool.append({"qid": f"{cls}-{j}", "family": "phrase", "cls": cls, "mode": "phrase",
                         "terms": words, "text": " ".join(words)})
            j += 1
    return pool


def query_stream(pool: list[dict], seed: int, n_rounds: int) -> list[dict]:
    """Interleaved seeded stream: each round holds one pool query of every
    class, in a seeded order, so match and phrase share any drift. Each
    class walks its members in a seeded cyclic order, so any
    POOL_PER_CLASS consecutive rounds ask every pool query once and runs
    on different seeds time the same query mix in different orders."""
    rng = np.random.default_rng([seed, 0x51])
    by_cls: dict[str, list[dict]] = {}
    for q in pool:
        by_cls.setdefault(q["cls"], []).append(q)
    classes = sorted(by_cls)
    order = {c: rng.permutation(len(by_cls[c])) for c in classes}
    out = []
    for r in range(n_rounds):
        rnd = [by_cls[c][int(order[c][r % len(order[c])])] for c in classes]
        out.extend(rnd[i] for i in rng.permutation(len(rnd)))
    return out


# ---------------------------------------------------------------------------
# Change stream (ingest_cdc)
# ---------------------------------------------------------------------------

def change_schedule(n_boot: int, seed: int, n_batches: int, batch_events: int) -> list[list[dict]]:
    """Seeded CDC batches over a bootstrap of doc ids [0, n_boot).

    Each batch: ~40% inserts of new ids, ~40% updates and ~20% deletes of
    live ids, plus a few repeated keys (update;update, insert;update,
    update;delete) so the engine's last-event-wins collapse is exercised.
    Event text is fresh generator output; every batch's first insert
    carries a batch-unique marker word ('zzvis<b>') for the
    read-your-write probe. Events never touch a deleted id again."""
    rng = np.random.default_rng([seed, 0xCDC])
    vocab = vocabulary()
    cdf = _zipf_cdf()
    live = list(range(n_boot))
    live_set = set(live)
    next_id = n_boot
    batches = []

    def text() -> str:
        dl = int(np.clip(round(rng.lognormal(np.log(110), 0.55)), DL_MIN, DL_MAX))
        ids = np.minimum(np.searchsorted(cdf, rng.random(dl), side="right"), VOCAB_SIZE - 1)
        return render(ids, vocab)

    for b in range(n_batches):
        events: list[dict] = []
        n_ins = int(batch_events * 0.4)
        n_del = int(batch_events * 0.2)
        n_upd = batch_events - n_ins - n_del - 3
        new_ids = list(range(next_id, next_id + n_ins))
        next_id += n_ins
        for k, i in enumerate(new_ids):
            t = text()
            if k == 0:
                t = f"zzvis{b} " + t
            events.append({"action": "insert", "doc_id": i, "text": t})
        pick = rng.choice(len(live), size=n_upd + n_del, replace=False)
        targets = [live[i] for i in pick.tolist()]
        for i in targets[:n_upd]:
            events.append({"action": "update", "doc_id": i, "text": text()})
        dels = targets[n_upd:]
        for i in dels:
            events.append({"action": "delete", "doc_id": i, "text": None})
        # repeated keys inside the batch, appended after their first event
        upd_twice, ins_then_upd = targets[0], new_ids[1]
        events.append({"action": "update", "doc_id": upd_twice, "text": text()})
        events.append({"action": "update", "doc_id": ins_then_upd, "text": text()})
        upd_then_del = targets[1]
        events.append({"action": "delete", "doc_id": upd_then_del, "text": None})
        dels.append(upd_then_del)
        order = rng.permutation(len(events) - 3)
        events = [events[i] for i in order.tolist()] + events[-3:]
        for i in dels:
            live_set.discard(i)
        live_set.update(new_ids)
        live = sorted(live_set)
        batches.append(events)
    return batches


def change_frame(events: list[dict]) -> pd.DataFrame:
    """A change batch in apply_changes' input shape, in event order."""
    ids = np.array([e["doc_id"] for e in events], dtype=np.int64)
    return pd.DataFrame({
        "action": [e["action"] for e in events],
        "doc_id": ids,
        "url": [f"https://site{i % N_SITES}.example/page/{i}" for i in ids.tolist()],
        "warc_ts": np.datetime64("2024-06-01T00:00:00", "us") + ids * np.timedelta64(1, "s"),
        "lang": ["en"] * len(events),
        "text": [e["text"] if e["text"] is not None else "" for e in events],
    })


def live_model(n_boot: int, batches: list[list[dict]]) -> dict[int, str | None]:
    """doc_id -> current text after replaying every event in order;
    None marks a bootstrap doc whose text is the corpus text."""
    state: dict[int, str | None] = {i: None for i in range(n_boot)}
    for events in batches:
        for e in events:
            if e["action"] == "delete":
                state.pop(e["doc_id"], None)
            else:
                state[e["doc_id"]] = e["text"]
    return state
