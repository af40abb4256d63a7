"""query_string / simple_query_string mini-grammar.

Reference: search_queries_query_string.go:15,
search_queries_simple_query_string.go:19. Supported grammar (the
simple_query_string core):

    +term      must match (AND)
    -term      must not match
    term       should match (OR; contributes score)
    "a b c"    phrase (must match adjacently; terms contribute score)

Score = Σ BM25 over all positive terms present in the doc (should
terms count only when matched); docs failing a must/phrase/must_not
constraint are excluded. Deterministic ranking contract as everywhere:
round 6, (score DESC, doc_id ASC).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from ..analyzer import TOKEN_PATTERN

_TOKEN = re.compile(r'"([^"]*)"|(\S+)')


@dataclass
class ParsedQuery:
    must: list[str] = field(default_factory=list)
    must_not: list[str] = field(default_factory=list)
    should: list[str] = field(default_factory=list)
    phrases: list[list[str]] = field(default_factory=list)

    @property
    def positive_terms(self) -> list[str]:
        out: dict[str, None] = {}
        for t in self.must + self.should + [w for p in self.phrases for w in p]:
            out.setdefault(t, None)
        return list(out)


def render_template(source: str, params: dict) -> str:
    """Mustache-style {{param}} substitution (template query,
    search_queries_template_query.go:15 / search_template.go): ES
    renders a stored source with params then executes it; here the
    rendered string feeds the same mini-grammar."""
    out = source
    for k, v in params.items():
        out = out.replace("{{" + k + "}}", str(v))
    return out


def parse_query_string(q: str, pattern: str = TOKEN_PATTERN) -> ParsedQuery:
    """Parse ``q``, analyzing every word and phrase with the index's
    ``token_pattern``."""
    from .scoring import analyze_query

    out = ParsedQuery()
    for m in _TOKEN.finditer(q):
        phrase, word = m.group(1), m.group(2)
        if phrase is not None:
            words = analyze_query(phrase, pattern)
            if len(words) == 1:
                out.must.append(words[0])
            elif words:
                out.phrases.append(words)
        elif word.startswith("+"):
            out.must.extend(analyze_query(word[1:], pattern))
        elif word.startswith("-"):
            out.must_not.extend(analyze_query(word[1:], pattern))
        else:
            out.should.extend(analyze_query(word, pattern))
    return out


def query_string_topk(spark, reader, q: str, k: int = 10):
    """Compose the parsed query entirely from index structures: scores
    from WAND, must/must_not from postings doc membership (docs_vb-only
    pruned scan), phrase constraints from positional postings. The
    docstore is never scanned (round 1 re-tokenized it per query)."""
    from pyspark.sql import functions as F

    from .phrase import phrase_doc_filter
    from .scoring import ROUND_DIGITS
    from .wand import _empty_result, bm25_topk, term_ids

    pq = parse_query_string(q, reader.settings["token_pattern"])
    pos = pq.positive_terms
    if not pos:
        return _empty_result(spark)
    out = bm25_topk(spark, reader, pos, k=k, mode="or", return_all=True)
    gate_terms = list(dict.fromkeys(pq.must + pq.must_not))
    if gate_terms:
        tmap = term_ids(spark, gate_terms)
        member = reader.term_doc_ids(list(tmap.values())).cache()
        for t in pq.must:
            out = out.join(
                member.where(F.col("tid") == tmap[t]).select("doc_id"), "doc_id", "left_semi"
            )
        for t in pq.must_not:
            out = out.join(
                member.where(F.col("tid") == tmap[t]).select("doc_id"), "doc_id", "left_anti"
            )
    for p in pq.phrases:
        out = out.join(phrase_doc_filter(spark, reader, p), "doc_id", "left_semi")
    out = out.select("doc_id", F.round("score", ROUND_DIGITS).alias("score"))
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def query_string_oracle_sql(q: str, k: int = 10) -> str:
    from .scoring import ROUND_DIGITS, bm25_ctes

    pq = parse_query_string(q)
    pos = pq.positive_terms
    filters = []
    for t in pq.must:
        filters.append(f"list_contains(d.t, '{t}')")
    for t in pq.must_not:
        filters.append(f"NOT list_contains(d.t, '{t}')")
    for p in pq.phrases:
        m = len(p)
        conds = " AND ".join(f"d.t[i+{j}] = '{w}'" for j, w in enumerate(p))
        filters.append(
            f"EXISTS (SELECT 1 FROM unnest(range(1, len(d.t) - {m} + 2)) AS u(i) "
            f"WHERE len(d.t) >= {m} AND {conds})"
        )
    where = (" AND " + " AND ".join(filters)) if filters else ""
    return f"""WITH {bm25_ctes(pos)}
, sc AS (SELECT doc_id, round(sum(s), {ROUND_DIGITS}) AS score FROM persc GROUP BY doc_id)
SELECT sc.doc_id, round(sc.score, {ROUND_DIGITS}) AS score
FROM sc JOIN toks d ON d.doc_id = sc.doc_id
WHERE TRUE{where}
ORDER BY score DESC, sc.doc_id ASC LIMIT {k}"""
