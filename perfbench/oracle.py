"""Engine-independent BM25 oracle in DuckDB, and the result comparison.

The SQL restates the scoring contract of ``bm25_oracle_sql`` (Lucene
BM25, k1=1.2, b=0.75; ``idf = ln(1 + (N - df + 0.5) / (df + 0.5))``;
scores rounded to 6 places; ranked by ``(score DESC, doc_id ASC)``;
tokens are lowercase ``[a-z0-9]+`` runs; phrase = the terms at
consecutive positions, scored as the BM25 sum of its distinct words),
but tokenizes the corpus once into a positions table so one query costs
a filtered scan instead of a corpus-wide re-tokenize. Nothing here
imports the engine.

Documents are *versions*: ``(vid, doc_id, text, live)``. Collection
statistics (N, avgdl, df) count every version, scoring only live ones —
the engine's between-compaction semantics, where tombstoned postings
keep counting until ``compact`` rebuilds from live docs. With every
version live this is plain BM25.
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd

K1, B, ROUND = 1.2, 0.75, 6
TOKEN_RE = "[a-z0-9]+"


class Oracle:
    def __init__(self, threads: int = 4, memory_limit: str = "3GB", temp_dir: str | None = None):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads={int(threads)}")
        self.con.execute(f"SET memory_limit='{memory_limit}'")
        if temp_dir:
            self.con.execute(f"SET temp_directory='{temp_dir}'")
        self.con.execute("CREATE TABLE versions (vid BIGINT, doc_id BIGINT, live BOOLEAN, dl INTEGER)")
        self.con.execute("CREATE TABLE pos (vid BIGINT, i INTEGER, term VARCHAR)")
        self._next_vid = 0

    def close(self) -> None:
        self.con.close()

    def add(self, docs: pd.DataFrame) -> None:
        """Append live versions of ``docs`` (doc_id, text)."""
        frame = pd.DataFrame({
            "vid": range(self._next_vid, self._next_vid + len(docs)),
            "doc_id": docs["doc_id"].to_numpy(),
            "text": docs["text"].to_numpy(),
        })
        self._next_vid += len(docs)
        self.con.register("_new", frame)
        self.con.execute(f"""
            CREATE OR REPLACE TEMP TABLE _toks AS
            SELECT vid, doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS t FROM _new""")
        self.con.execute("INSERT INTO versions SELECT vid, doc_id, TRUE, len(t) FROM _toks")
        self.con.execute("""
            INSERT INTO pos SELECT vid, generate_subscripts(t, 1) AS i, unnest(t) AS term
            FROM _toks ORDER BY term""")
        self.con.execute("DROP TABLE _toks")
        self.con.unregister("_new")

    def kill(self, doc_ids) -> None:
        """Mark every live version of ``doc_ids`` dead (tombstone)."""
        self.con.register("_kill", pd.DataFrame({"doc_id": list(doc_ids)}))
        self.con.execute("UPDATE versions SET live = FALSE WHERE doc_id IN (SELECT doc_id FROM _kill)")
        self.con.unregister("_kill")

    def purge_dead(self) -> None:
        """Drop dead versions: the collection after ``compact``."""
        self.con.execute("DELETE FROM pos WHERE vid IN (SELECT vid FROM versions WHERE NOT live)")
        self.con.execute("DELETE FROM versions WHERE NOT live")

    def topk(self, terms: list[str], mode: str, k: int = 10) -> list[tuple[int, float]]:
        """Top-k (doc_id, score) for a match ('or'/'and') or a phrase
        ('phrase': ``terms`` in order, duplicates kept)."""
        def quote(t: str) -> str:
            return "'" + t.replace("'", "''") + "'"

        distinct = list(dict.fromkeys(terms))
        lit = ", ".join(quote(t) for t in distinct)
        phrase_filter = ""
        if mode == "phrase":
            joins = " ".join(
                f"JOIN pos p{j} ON p{j}.vid = p0.vid AND p{j}.i = p0.i + {j}"
                for j in range(1, len(terms)))
            conds = " AND ".join(f"p{j}.term = {quote(w)}" for j, w in enumerate(terms))
            phrase_filter = f"AND s.vid IN (SELECT DISTINCT p0.vid FROM pos p0 {joins} WHERE {conds})"
        need = len(distinct) if mode in ("and", "phrase") else 1
        sql = f"""
WITH stats AS (SELECT count(*)::DOUBLE AS n, sum(dl)::DOUBLE / count(*) AS avgdl FROM versions),
tf AS (SELECT vid, term, count(*)::DOUBLE AS tf FROM pos WHERE term IN ({lit}) GROUP BY vid, term),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
s AS (
  SELECT tf.vid,
         sum(ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
             * tf.tf * ({K1} + 1) / (tf.tf + {K1} * (1 - {B} + {B} * v.dl / stats.avgdl))) AS raw,
         count(*) AS matched
  FROM tf JOIN dfreq USING (term) JOIN versions v USING (vid) CROSS JOIN stats
  WHERE v.live
  GROUP BY tf.vid
)
SELECT v.doc_id, round(s.raw, {ROUND}) AS score
FROM s JOIN versions v USING (vid)
WHERE s.matched >= {need} {phrase_filter}
ORDER BY score DESC, v.doc_id ASC
LIMIT {k}"""
        return [(int(d), float(sc)) for d, sc in self.con.execute(sql).fetchall()]


# ---------------------------------------------------------------------------
# Comparison: the normalisation of tools/check_oracle.py (9 significant
# digits per float cell, rows compared as a sorted multiset), plus the
# ranking order the engine promises.
# ---------------------------------------------------------------------------

def norm_cell(v) -> str:
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.9g}"
    return str(v)


def norm_rows(rows) -> list[tuple[str, ...]]:
    return sorted(tuple(norm_cell(c) for c in r) for r in rows)


def same_result(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> bool:
    """True iff ``got`` holds the oracle's rows and is ranked
    (score DESC, doc_id ASC)."""
    got = [(int(d), float(s)) for d, s in got]
    if norm_rows(got) != norm_rows(want):
        return False
    return got == sorted(got, key=lambda r: (-r[1], r[0]))
