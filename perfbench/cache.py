"""Input and index caches under ``.bench_build/perfbench`` of the checkout.

- ``corpus-<ckey>.parquet`` and ``corpus-<ckey>.json``: the generated
  corpus and its raw UTF-8 text bytes. ``ckey`` hashes the generator
  source and the corpus size.
- ``index-<ikey>/``: the serve index. ``ikey`` hashes the engine's
  source tree (``go_mysql_elasticsearch_spark/``), the corpus key and
  the build parameters, so a parent and a change never share an index.
- ``expected-<okey>.json``: the query pool and its oracle top-10s.
  ``okey`` hashes the corpus key and the oracle source.

Everything is written to a temporary name and renamed into place, so a
killed preparation leaves no half entry. ``prepare`` runs in its own
process before the measured one starts.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

HERE = os.path.dirname(os.path.abspath(__file__))
ENGINE = "go_mysql_elasticsearch_spark"


def _sha(*parts: bytes | str) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(p.encode() if isinstance(p, str) else p)
        h.update(b"\0")
    return h.hexdigest()[:16]


def _file(name: str) -> bytes:
    with open(os.path.join(HERE, name), "rb") as f:
        return f.read()


def engine_hash(root: str) -> str:
    """Hash of every file under the engine package (bytecode excluded)."""
    h = hashlib.sha256()
    base = os.path.join(root, ENGINE)
    for dirpath, dirnames, files in os.walk(base):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for fn in sorted(files):
            if fn.endswith((".pyc", ".pyo")):
                continue
            p = os.path.join(dirpath, fn)
            h.update(os.path.relpath(p, base).encode() + b"\0")
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


class Cache:
    def __init__(self, root: str, n_docs: int, n_shards: int):
        self.root = root
        self.work = os.path.join(root, ".bench_build", "perfbench")
        self.n_docs, self.n_shards = n_docs, n_shards
        ckey = _sha(_file("gen.py"), str(n_docs))
        self.corpus = os.path.join(self.work, f"corpus-{ckey}.parquet")
        self.corpus_meta = os.path.join(self.work, f"corpus-{ckey}.json")
        self.index = os.path.join(
            self.work, f"index-{_sha(engine_hash(root), ckey, json.dumps({'n_shards': n_shards}))}")
        self.expected = os.path.join(self.work, f"expected-{_sha(ckey, _file('oracle.py'))}.json")

    def corpus_ready(self) -> bool:
        return os.path.exists(self.corpus) and os.path.exists(self.corpus_meta)

    def serve_ready(self) -> bool:
        return (self.corpus_ready() and os.path.exists(self.expected)
                and os.path.exists(os.path.join(self.index, "READY")))

    def text_bytes(self) -> int:
        with open(self.corpus_meta) as f:
            return json.load(f)["text_bytes"]

    def load_expected(self) -> tuple[list[dict], dict[str, list]]:
        with open(self.expected) as f:
            d = json.load(f)
        return d["pool"], {k: [tuple(r) for r in v] for k, v in d["expected"].items()}

    # ---- preparation -----------------------------------------------------
    def prepare_corpus(self) -> None:
        import gen

        if self.corpus_ready():
            return
        os.makedirs(self.work, exist_ok=True)
        frame = gen.corpus_frame(self.n_docs)
        tmp = self.corpus + ".tmp"
        frame.to_parquet(tmp, index=False, row_group_size=20_000)
        text_bytes = int(sum(len(t.encode("utf-8")) for t in frame["text"]))
        with open(self.corpus_meta + ".tmp", "w") as f:
            json.dump({"n_docs": self.n_docs, "text_bytes": text_bytes}, f)
        os.replace(tmp, self.corpus)
        os.replace(self.corpus_meta + ".tmp", self.corpus_meta)

    def prepare_expected(self) -> None:
        import pandas as pd

        import gen
        from oracle import Oracle

        if os.path.exists(self.expected):
            return
        pool = gen.query_pool(gen.doc_tokens(self.n_docs), gen.vocabulary())
        o = Oracle(temp_dir=os.path.join(self.work, "tmp"))
        try:
            o.add(pd.read_parquet(self.corpus, columns=["doc_id", "text"]))
            expected = {q["qid"]: o.topk(q["terms"], q["mode"]) for q in pool}
        finally:
            o.close()
        with open(self.expected + ".tmp", "w") as f:
            json.dump({"pool": pool, "expected": expected}, f)
        os.replace(self.expected + ".tmp", self.expected)

    def prepare_index(self, spark) -> None:
        from go_mysql_elasticsearch_spark.index.build import build_index

        if os.path.exists(os.path.join(self.index, "READY")):
            return
        tmp = self.index + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(self.index, ignore_errors=True)
        build_index(spark, spark.read.parquet(self.corpus), tmp, n_shards=self.n_shards)
        open(os.path.join(tmp, "READY"), "w").close()
        os.replace(tmp, self.index)
