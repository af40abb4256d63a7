"""Compound / scoring combinators + result-shaping services
(SURVEY.md §2.4).

Reference surface: search_queries_{bool,constant_score,dis_max,
boosting,fsq,match_all,more_like_this,common_terms,multi_match}.go,
highlight.go, percolate.go, explain.go.

Composition rule (matches ES/Lucene): every leaf clause produces a
(doc_id, score) frame; compound operators are joins/arithmetic over
those frames. Clause scores are rounded to 6 decimals (the engine's
deterministic-rank contract), and compound totals are re-rounded after
arithmetic — the oracle SQL applies the identical two-step rounding.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..query.scoring import ROUND_DIGITS, bm25_ctes
from ..query.wand import _empty_result, bm25_topk
from ..registry import index_for

K1B = ""  # parameters live in bm25_ctes


def _scored(spark, sf_dir, terms, mode="or"):
    """Leaf match clause → all matching (doc_id, score), score rounded."""
    return bm25_topk(spark, index_for(spark, sf_dir), terms, mode=mode, return_all=True)


def _docstore(spark, sf_dir):
    return index_for(spark, sf_dir).docstore()


# ---------------------------------------------------------------------------

def q_bool(spark, sf_dir):
    """bool: must match(data) + should match(merge) + lang != zh +
    filter n_chars>50, top 10 (search_queries_bool.go:13-120) —
    composed through the query AST (query/ast.py)."""
    from ..query import ast as A

    q = A.Bool(
        must=(A.Match(("data",)),),
        should=(A.Match(("merge",)),),
        filter=(A.Ne("lang", "zh"), A.Range("n_chars", gt=50)),
    )
    return A.topk(spark, index_for(spark, sf_dir), q, k=10)


def q_constant_score(spark, sf_dir):
    """constant_score (search_queries_constant_score.go:12): filter + boost."""
    from ..query import ast as A

    return A.all_hits(
        spark, index_for(spark, sf_dir), A.ConstantScore(A.Term("lang", "de"), boost=1.5)
    )


def q_dis_max(spark, sf_dir):
    """dis_max with tie_breaker=0.3 (search_queries_dis_max.go:14)."""
    from ..query import ast as A

    q = A.DisMax((A.Match(("data",)), A.Match(("merge",))), tie_breaker=0.3)
    return A.topk(spark, index_for(spark, sf_dir), q, k=10)


def q_boosting(spark, sf_dir):
    """boosting: demote docs matching the negative clause by 0.4
    (search_queries_boosting.go:11)."""
    from ..query import ast as A

    q = A.Boosting(A.Match(("data",)), A.Match(("dup",)), negative_boost=0.4)
    return A.topk(spark, index_for(spark, sf_dir), q, k=10)


def q_function_score(spark, sf_dir):
    """function_score with exp decay on n_chars around 128
    (search_queries_fsq.go:14, fsq_score_funcs.go)."""
    from ..query import ast as A

    q = A.FunctionScore(A.Match(("scan",)), (A.Decay("n_chars", 128, 200, "exp"),))
    return A.topk(spark, index_for(spark, sf_dir), q, k=10)


def q_function_score_fvf(spark, sf_dir):
    """function_score field_value_factor(log1p, factor .01) on n_chars
    (fsq_score_funcs.go field_value_factor)."""
    from ..query import ast as A

    q = A.FunctionScore(
        A.Match(("data",)),
        (A.FieldValueFactor("n_chars", factor=0.01, modifier="log1p"),),
    )
    return A.topk(spark, index_for(spark, sf_dir), q, k=10)


def q_function_score_weight(spark, sf_dir):
    """function_score weight + gauss decay, score_mode=multiply,
    boost_mode=sum (fsq_score_funcs.go weight/gauss): total = bm25 +
    0.5·gauss(n_chars; 100, 150)."""
    from ..query import ast as A

    q = A.FunctionScore(
        A.Match(("merge",)),
        (A.Weight(0.5), A.Decay("n_chars", 100, 150, "gauss")),
        score_mode="multiply",
        boost_mode="sum",
    )
    return A.topk(spark, index_for(spark, sf_dir), q, k=10)


def q_match_fuzzy(spark, sf_dir):
    """match with fuzziness (search_queries_match.go:16-214, Fuzziness
    knob): each query term expands against the term dictionary within
    levenshtein <= 1 (the Lucene fuzzy rewrite), then one OR match over
    the expanded term set — scores sum per expansion, exactly the
    blended multi-term rewrite. 'dta' matches only via expansion
    ('data'); the dictionary walk is a tiny driver-side lookup, the
    scoring path is the standard WAND/vectorized kernel."""
    r = index_for(spark, sf_dir)
    qterms = ["dta", "merge"]
    pred = None
    for t in qterms:
        c = F.levenshtein(F.col("term"), F.lit(t)) <= 1
        pred = c if pred is None else (pred | c)
    exp = sorted(row["term"] for row in r.term_strings().where(pred).select("term").collect())
    if not exp:
        return _empty_result(spark)
    return bm25_topk(spark, r, exp, mode="or", k=10)


def q_function_score_random(spark, sf_dir):
    """function_score random_score with a fixed seed, boost_mode=sum
    (fsq_score_funcs.go RandomFunction): total = bm25 + seeded
    uniform[0,1) hash of the doc id — deterministic, so the DuckDB twin
    reproduces it exactly from the same md5 recipe."""
    from ..query import ast as A

    q = A.FunctionScore(
        A.Match(("data",)),
        (A.RandomScore(seed=42),),
        boost_mode="sum",
    )
    return A.topk(spark, index_for(spark, sf_dir), q, k=10)


def q_bool_dis_max_nested(spark, sf_dir):
    """Nested composition through the AST: dis_max( bool(must=data,
    should=merge), phrase("hash join") ), tie_breaker 0.2 — arbitrary
    nesting like the reference's builder tree (search_source.go)."""
    from ..query import ast as A

    q = A.DisMax(
        (
            A.Bool(must=(A.Match(("data",)),), should=(A.Match(("merge",)),)),
            A.Phrase("hash join"),
        ),
        tie_breaker=0.2,
    )
    return A.topk(spark, index_for(spark, sf_dir), q, k=10)


def q_match_all(spark, sf_dir):
    """match_all (search_queries_match_all.go:12)."""
    return _docstore(spark, sf_dir).select("doc_id", F.lit(1.0).alias("score"))


def q_more_like_this(spark, sf_dir):
    """more_like_this (search_queries_more_like_this.go:17): top-3 tf
    terms of doc 7 → OR match, source doc excluded."""
    from ..analyzer import tokens_col

    d = _docstore(spark, sf_dir)
    toks = (
        d.where(F.col("doc_id") == 7)
        .select(F.explode(tokens_col("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .orderBy(F.desc("tf"), F.asc("term"))
        .limit(3)
        .collect()
    )
    terms = [r["term"] for r in toks]
    out = _scored(spark, sf_dir, terms).where(F.col("doc_id") != 7)
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)


def q_common_terms(spark, sf_dir):
    """common_terms (search_queries_common_terms.go:12): rare term
    'dup' required; high-df term 'the' contributes score only on docs
    already matching the rare term — i.e. bool(must=rare, should=high)
    through the AST."""
    from ..query import ast as A

    q = A.Bool(must=(A.Match(("dup",)),), should=(A.Match(("the",)),))
    return A.topk(spark, index_for(spark, sf_dir), q, k=10)


def q_multi_match(spark, sf_dir):
    """multi_match best_fields over (text, url) with tie_breaker=0
    (search_queries_multi_match.go): score = max of per-field BM25,
    each field served from its OWN inverted index (registry.url_index_for
    — ES's one-index-per-field model; the naive url-field corpus scan is
    gone)."""
    from ..query.wand import bm25_topk
    from ..registry import url_index_for

    terms = ["spark", "site42"]
    st = _scored(spark, sf_dir, terms).withColumnRenamed("score", "s_text")
    su = bm25_topk(
        spark, url_index_for(spark, sf_dir), terms, mode="or", return_all=True
    ).withColumnRenamed("score", "s_url")
    j = st.join(su, "doc_id", "full").select(
        "doc_id",
        F.coalesce("s_text", F.lit(0.0)).alias("s_text"),
        F.coalesce("s_url", F.lit(0.0)).alias("s_url"),
    )
    out = j.select(
        "doc_id", F.round(F.greatest("s_text", "s_url"), ROUND_DIGITS).alias("score")
    )
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)


_HL_TERMS = ["data", "merge"]


def highlight_col(terms: list[str], text_col: str = "text") -> F.Column:
    """ES-style highlight expression (highlight.go:10-330): one ±20-char
    fragment per TOKEN-BOUNDARY term occurrence ("data" inside
    "database" must not tag — ES highlights analyzed tokens, not raw
    substrings), every query term <em>-tagged inside every fragment,
    fragments joined by ' ... ' (the ES fragment separator). Terms
    absent from a doc contribute no fragment."""

    def frag(term: str):
        pos = F.regexp_instr(F.col(text_col), F.lit(rf"\b{term}\b"))
        raw = F.substring(F.col(text_col), F.greatest(pos - 20, F.lit(1)), 45)
        tagged = raw
        for t in terms:
            tagged = F.regexp_replace(tagged, rf"\b{t}\b", f"<em>{t}</em>")
        return F.when(pos > 0, tagged)

    frags = F.filter(F.array(*[frag(t) for t in terms]), lambda x: x.isNotNull())
    return F.array_join(frags, " ... ")


def q_highlight(spark, sf_dir):
    """highlight: MULTI-term, MULTI-fragment over the query's analyzed
    terms in each top-3 doc (see highlight_col)."""
    s = bm25_topk(spark, index_for(spark, sf_dir), _HL_TERMS, k=3)
    d = _docstore(spark, sf_dir).select("doc_id", "text")
    return s.join(d, "doc_id").select(
        "doc_id", "score", highlight_col(_HL_TERMS).alias("highlight")
    )


def q_percolate(spark, sf_dir):
    """percolate (percolate.go:18): a BATCH of docs (ids 50-59) probed
    against a stored-query table via the shuffle-on-term join operator
    (query/percolate.py) — reverse search with no doc × query cross."""
    from ..query.percolate import percolate

    stored = spark.createDataFrame(
        [(0, ["dup"], "or"), (1, ["data", "merge"], "and"), (2, ["zzznope"], "or")],
        "query_id int, terms array<string>, mode string",
    )
    docs = (
        _docstore(spark, sf_dir)
        .where((F.col("doc_id") >= 50) & (F.col("doc_id") < 60))
        .select("doc_id", "text")
    )
    return percolate(docs, stored).orderBy("doc_id", "query_id")


def q_percolate_filtered(spark, sf_dir):
    """percolate with structured constraints (ES percolator queries
    are full bool bodies — match + filter; percolate.go:18): stored
    queries carry optional lang / min-length filters evaluated on the
    candidate pairs after the term join (query/percolate.py)."""
    from ..query.percolate import percolate

    stored = spark.createDataFrame(
        [
            (0, ["dup"], "or", None, None),
            (1, ["data"], "or", "en", None),
            (2, ["data"], "or", None, 120),
            (3, ["data", "merge"], "and", "de", 60),
        ],
        "query_id int, terms array<string>, mode string, flt_lang string, flt_min_nchars long",
    )
    docs = (
        _docstore(spark, sf_dir)
        .where((F.col("doc_id") >= 40) & (F.col("doc_id") < 90))
        .select("doc_id", "text", "lang")
    )
    return percolate(docs, stored).orderBy("doc_id", "query_id")


def q_rescore(spark, sf_dir):
    """rescore (search `rescore` window, rescore.go): take the top-20
    window of match(data), re-rank it by query_weight·orig +
    rescore_query_weight·match(merge) — the expensive secondary scorer
    touches only the window, never the corpus."""
    r = index_for(spark, sf_dir)
    window = bm25_topk(spark, r, ["data"], k=20).withColumnRenamed("score", "orig")
    sec = _scored(spark, sf_dir, ["merge"]).withColumnRenamed("score", "sec")
    out = window.join(sec, "doc_id", "left").select(
        "doc_id",
        F.round(F.col("orig") + 0.7 * F.coalesce("sec", F.lit(0.0)), ROUND_DIGITS).alias("score"),
    )
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)


def q_collapse(spark, sf_dir):
    """field collapsing (search_source.go collapse): one best hit per
    lang for match(data) — dedupe-by-key over the scored frame via a
    window row_number, exactly Spark's top-1-per-group idiom."""
    from pyspark.sql import Window

    s = _scored(spark, sf_dir, ["data"])
    d = _docstore(spark, sf_dir).select("doc_id", "lang")
    w = Window.partitionBy("lang").orderBy(F.desc("score"), F.asc("doc_id"))
    out = (
        s.join(d, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("lang", "doc_id", "score")
    )
    return out.orderBy(F.desc("score"), F.asc("doc_id"))


def q_explain(spark, sf_dir):
    """explain (explain.go): per-term BM25 score components for
    query 'data merge' on doc 446."""
    reader = index_for(spark, sf_dir)
    from ..analyzer import tokens_col

    d = reader.docstore()
    n, avgdl = reader.n_docs, reader.avgdl
    tf = (
        d.select("doc_id", F.explode(tokens_col("text")).alias("term"))
        .where(F.col("term").isin("data", "merge"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    dl = d.select("doc_id", F.size(tokens_col("text")).alias("dl"))
    row = (
        tf.where(F.col("doc_id") == 446)
        .join(dfreq, "term")
        .join(dl, "doc_id")
        .withColumn("idf", F.round(F.log(1.0 + (F.lit(n) - F.col("df") + 0.5) / (F.col("df") + 0.5)), ROUND_DIGITS))
        .withColumn(
            "tfpart",
            F.round(
                F.col("tf") * 2.2 / (F.col("tf") + 1.2 * (1 - 0.75 + 0.75 * F.col("dl") / F.lit(avgdl))),
                ROUND_DIGITS,
            ),
        )
    )
    return row.select("term", "tf", "df", "idf", "tfpart")


_R = 6  # ROUND_DIGITS in SQL


ENTRIES = {
    "bool_query": (
        q_bool,
        f"""WITH {bm25_ctes(['data', 'merge'])}
, cl AS (
  SELECT doc_id,
         round(sum(s) FILTER (WHERE term = 'data'), {_R}) AS sm,
         round(sum(s) FILTER (WHERE term = 'merge'), {_R}) AS ss
  FROM persc GROUP BY doc_id
)
SELECT cl.doc_id, round(cl.sm + coalesce(cl.ss, 0), {_R}) AS score
FROM cl JOIN documents d ON d.doc_id = cl.doc_id
WHERE cl.sm IS NOT NULL AND d.lang <> 'zh' AND length(d.text) > 50
ORDER BY score DESC, cl.doc_id ASC LIMIT 10""",
    ),
    "constant_score": (
        q_constant_score,
        "SELECT doc_id, 1.5::DOUBLE AS score FROM documents WHERE lang = 'de'",
    ),
    "dis_max": (
        q_dis_max,
        f"""WITH {bm25_ctes(['data', 'merge'])}
, cl AS (
  SELECT doc_id,
         coalesce(round(sum(s) FILTER (WHERE term = 'data'), {_R}), 0) AS sa,
         coalesce(round(sum(s) FILTER (WHERE term = 'merge'), {_R}), 0) AS sb
  FROM persc GROUP BY doc_id
)
SELECT doc_id, round(greatest(sa, sb) + 0.3 * (sa + sb - greatest(sa, sb)), {_R}) AS score
FROM cl ORDER BY score DESC, doc_id ASC LIMIT 10""",
    ),
    "boosting": (
        q_boosting,
        f"""WITH {bm25_ctes(['data', 'dup'])}
, cl AS (
  SELECT doc_id,
         round(sum(s) FILTER (WHERE term = 'data'), {_R}) AS sp,
         count(*) FILTER (WHERE term = 'dup') AS neg
  FROM persc GROUP BY doc_id
)
SELECT doc_id, round(CASE WHEN neg > 0 THEN sp * 0.4 ELSE sp END, {_R}) AS score
FROM cl WHERE sp IS NOT NULL ORDER BY score DESC, doc_id ASC LIMIT 10""",
    ),
    "function_score_decay": (
        q_function_score,
        f"""WITH {bm25_ctes(['scan'])}
, cl AS (SELECT doc_id, round(sum(s), {_R}) AS sp FROM persc GROUP BY doc_id)
SELECT cl.doc_id, round(sp * exp(-abs(length(d.text) - 128) / 200.0), {_R}) AS score
FROM cl JOIN documents d ON d.doc_id = cl.doc_id
ORDER BY score DESC, cl.doc_id ASC LIMIT 10""",
    ),
    "function_score_fvf": (
        q_function_score_fvf,
        f"""WITH {bm25_ctes(['data'])}
, cl AS (SELECT doc_id, round(sum(s), {_R}) AS sp FROM persc GROUP BY doc_id)
SELECT cl.doc_id, round(sp * ln(1.0 + 0.01 * length(d.text)), {_R}) AS score
FROM cl JOIN documents d ON d.doc_id = cl.doc_id
ORDER BY score DESC, cl.doc_id ASC LIMIT 10""",
    ),
    "function_score_weight": (
        q_function_score_weight,
        f"""WITH {bm25_ctes(['merge'])}
, cl AS (SELECT doc_id, round(sum(s), {_R}) AS sp FROM persc GROUP BY doc_id)
SELECT cl.doc_id,
       round(sp + 0.5 * exp(-pow(length(d.text)::DOUBLE - 100, 2) / 45000.0), {_R}) AS score
FROM cl JOIN documents d ON d.doc_id = cl.doc_id
ORDER BY score DESC, cl.doc_id ASC LIMIT 10""",
    ),
    "match_fuzzy": (
        q_match_fuzzy,
        f"""WITH {bm25_ctes(None)}
, exps AS (
  SELECT DISTINCT term FROM dfreq
  WHERE levenshtein(term, 'dta') <= 1 OR levenshtein(term, 'merge') <= 1
)
, sc AS (
  SELECT doc_id, round(sum(s), {_R}) AS score FROM persc
  WHERE term IN (SELECT term FROM exps) GROUP BY doc_id
)
SELECT doc_id, score FROM sc ORDER BY score DESC, doc_id ASC LIMIT 10""",
    ),
    "function_score_random": (
        q_function_score_random,
        f"""WITH {bm25_ctes(['data'])}
, cl AS (SELECT doc_id, round(sum(s), {_R}) AS sp FROM persc GROUP BY doc_id)
SELECT cl.doc_id,
       round(sp + cast(('0x' || substr(md5('42:' || cl.doc_id), 1, 15)) AS BIGINT)
                  / 1152921504606846976.0, {_R}) AS score
FROM cl ORDER BY score DESC, cl.doc_id ASC LIMIT 10""",
    ),
    "bool_dis_max_nested": (
        q_bool_dis_max_nested,
        f"""WITH {bm25_ctes(['data', 'merge', 'hash', 'join'])}
, b AS (
  SELECT doc_id,
         round(round(sum(s) FILTER (WHERE term = 'data'), {_R})
               + coalesce(round(sum(s) FILTER (WHERE term = 'merge'), {_R}), 0), {_R}) AS score
  FROM persc GROUP BY doc_id
  HAVING sum(s) FILTER (WHERE term = 'data') IS NOT NULL
),
phrase_docs AS (
  SELECT DISTINCT doc_id FROM toks, unnest(range(1, len(t))) AS u(i)
  WHERE len(t) >= 2 AND t[i] = 'hash' AND t[i+1] = 'join'
),
ph AS (
  SELECT doc_id, round(sum(s), {_R}) AS score FROM persc
  WHERE term IN ('hash', 'join') AND doc_id IN (SELECT doc_id FROM phrase_docs)
  GROUP BY doc_id HAVING count(*) = 2
),
u AS (SELECT * FROM b UNION ALL SELECT * FROM ph),
agg AS (SELECT doc_id, max(score) AS best, sum(score) AS total FROM u GROUP BY doc_id)
SELECT doc_id, round(best + 0.2 * (total - best), {_R}) AS score
FROM agg ORDER BY score DESC, doc_id ASC LIMIT 10""",
    ),
    "rescore": (
        q_rescore,
        f"""WITH {bm25_ctes(['data', 'merge'])}
, w AS (
  SELECT doc_id, round(sum(s) FILTER (WHERE term = 'data'), {_R}) AS orig
  FROM persc GROUP BY doc_id
  HAVING sum(s) FILTER (WHERE term = 'data') IS NOT NULL
  ORDER BY orig DESC, doc_id ASC LIMIT 20
),
sec AS (
  SELECT doc_id, round(sum(s) FILTER (WHERE term = 'merge'), {_R}) AS sec
  FROM persc GROUP BY doc_id
)
SELECT w.doc_id, round(w.orig + 0.7 * coalesce(sec.sec, 0), {_R}) AS score
FROM w LEFT JOIN sec ON sec.doc_id = w.doc_id
ORDER BY score DESC, w.doc_id ASC LIMIT 10""",
    ),
    "collapse": (
        q_collapse,
        f"""WITH {bm25_ctes(['data'])}
, sc AS (SELECT doc_id, round(sum(s), {_R}) AS score FROM persc GROUP BY doc_id),
j AS (
  SELECT d.lang, sc.doc_id, sc.score,
         row_number() OVER (PARTITION BY d.lang ORDER BY sc.score DESC, sc.doc_id ASC) AS rn
  FROM sc JOIN documents d ON d.doc_id = sc.doc_id
)
SELECT lang, doc_id, score FROM j WHERE rn = 1 ORDER BY score DESC, doc_id ASC""",
    ),
    "match_all": (q_match_all, "SELECT doc_id, 1.0::DOUBLE AS score FROM documents"),
    "more_like_this": (
        q_more_like_this,
        f"""WITH {bm25_ctes(None)}
, mlt AS (
  SELECT term FROM (
    SELECT term, count(*) AS tf FROM (SELECT doc_id, unnest(t) AS term FROM toks)
    WHERE doc_id = 7 GROUP BY term
  ) ORDER BY tf DESC, term ASC LIMIT 3
)
SELECT doc_id, round(sum(s), {_R}) AS score
FROM persc WHERE term IN (SELECT term FROM mlt) AND doc_id <> 7
GROUP BY doc_id ORDER BY score DESC, doc_id ASC LIMIT 10""",
    ),
    "common_terms": (
        q_common_terms,
        f"""WITH {bm25_ctes(['dup', 'the'])}
, cl AS (
  SELECT doc_id,
         round(sum(s) FILTER (WHERE term = 'dup'), {_R}) AS sl,
         round(sum(s) FILTER (WHERE term = 'the'), {_R}) AS sh
  FROM persc GROUP BY doc_id
)
SELECT doc_id, round(sl + coalesce(sh, 0), {_R}) AS score
FROM cl WHERE sl IS NOT NULL ORDER BY score DESC, doc_id ASC LIMIT 10""",
    ),
    "multi_match": (
        q_multi_match,
        f"""WITH {bm25_ctes(['spark', 'site42'])}
, turl AS (
  SELECT doc_id, regexp_extract_all(lower('https://site' || (doc_id % 97) || '.example/page/' || doc_id), '[a-z0-9]+') AS t
  FROM documents
),
udl AS (SELECT doc_id, len(t) AS dl FROM turl),
ustats AS (SELECT count(*) AS n, sum(dl)::DOUBLE / count(*) AS avgdl FROM udl),
utf AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf
  FROM (SELECT doc_id, unnest(t) AS term FROM turl)
  WHERE term IN ('spark', 'site42') GROUP BY doc_id, term
),
udf_ AS (SELECT term, count(*)::DOUBLE AS df FROM utf GROUP BY term),
upersc AS (
  SELECT utf.doc_id,
         ln(1 + (ustats.n - udf_.df + 0.5) / (udf_.df + 0.5))
         * utf.tf * 2.2 / (utf.tf + 1.2 * (1 - 0.75 + 0.75 * udl.dl / ustats.avgdl)) AS s
  FROM utf JOIN udf_ USING (term) JOIN udl USING (doc_id) CROSS JOIN ustats
),
stext AS (SELECT doc_id, round(sum(s), {_R}) AS sv FROM persc GROUP BY doc_id),
surl AS (SELECT doc_id, round(sum(s), {_R}) AS sv FROM upersc GROUP BY doc_id),
bothf AS (
  SELECT coalesce(stext.doc_id, surl.doc_id) AS doc_id,
         coalesce(stext.sv, 0) AS s_text, coalesce(surl.sv, 0) AS s_url
  FROM stext FULL JOIN surl ON stext.doc_id = surl.doc_id
)
SELECT doc_id, round(greatest(s_text, s_url), {_R}) AS score
FROM bothf ORDER BY score DESC, doc_id ASC LIMIT 10""",
    ),
    "highlight": (
        q_highlight,
        f"""WITH {bm25_ctes(_HL_TERMS)}
, top3 AS (
  SELECT doc_id, round(sum(s), {_R}) AS score FROM persc
  GROUP BY doc_id ORDER BY score DESC, doc_id ASC LIMIT 3
),
fr AS (
  SELECT t.doc_id, t.score,
         list_filter([
           CASE WHEN regexp_matches(d.text, '\\bdata\\b') THEN
             regexp_replace(regexp_replace(substr(d.text, greatest(length(regexp_extract(d.text, '(?s)(.*?)\\bdata\\b', 1)) + 1 - 20, 1), 45), '\\bdata\\b', '<em>data</em>', 'g'), '\\bmerge\\b', '<em>merge</em>', 'g') END,
           CASE WHEN regexp_matches(d.text, '\\bmerge\\b') THEN
             regexp_replace(regexp_replace(substr(d.text, greatest(length(regexp_extract(d.text, '(?s)(.*?)\\bmerge\\b', 1)) + 1 - 20, 1), 45), '\\bdata\\b', '<em>data</em>', 'g'), '\\bmerge\\b', '<em>merge</em>', 'g') END
         ], x -> x IS NOT NULL) AS frags
  FROM top3 t JOIN documents d ON d.doc_id = t.doc_id
)
SELECT doc_id, score, array_to_string(frags, ' ... ') AS highlight FROM fr""",
    ),
    "percolate": (
        q_percolate,
        """WITH doct AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
  FROM documents WHERE doc_id >= 50 AND doc_id < 60
),
stored(query_id, terms, mode) AS (
  VALUES (0, ['dup'], 'or'), (1, ['data', 'merge'], 'and'), (2, ['zzznope'], 'or')
)
SELECT doc_id, query_id FROM stored, doct
WHERE CASE WHEN mode = 'and'
           THEN len(list_intersect(terms, t)) = len(terms)
           ELSE len(list_intersect(terms, t)) > 0 END
ORDER BY doc_id, query_id""",
    ),
    "percolate_filtered": (
        q_percolate_filtered,
        """WITH doct AS (
  SELECT doc_id, lang, length(text) AS nch,
         regexp_extract_all(lower(text), '[a-z0-9]+') AS t
  FROM documents WHERE doc_id >= 40 AND doc_id < 90
),
stored(query_id, terms, mode, flt_lang, flt_min_nchars) AS (
  VALUES (0, ['dup'], 'or', NULL, NULL),
         (1, ['data'], 'or', 'en', NULL),
         (2, ['data'], 'or', NULL, 120),
         (3, ['data', 'merge'], 'and', 'de', 60)
)
SELECT doc_id, query_id FROM stored, doct
WHERE CASE WHEN mode = 'and'
           THEN len(list_intersect(terms, t)) = len(terms)
           ELSE len(list_intersect(terms, t)) > 0 END
  AND (flt_lang IS NULL OR flt_lang = lang)
  AND (flt_min_nchars IS NULL OR nch >= flt_min_nchars)
ORDER BY doc_id, query_id""",
    ),
    "explain": (
        q_explain,
        f"""WITH {bm25_ctes(['data', 'merge'])}
SELECT tf.term, tf.tf, dfreq.df,
       round(ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5)), {_R}) AS idf,
       round(tf.tf * 2.2 / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl)), {_R}) AS tfpart
FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
WHERE tf.doc_id = 446""",
    ),
}
