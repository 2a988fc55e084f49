"""BM25 top-k retrieval — scan mode (index-free) plus the oracle-SQL builder.

Scan mode is the M0 semantics anchor: tokenize -> per-(doc,term) tf ->
df/avgdl stats -> BM25 column algebra -> distributed top-k
(``TakeOrderedAndProject``). It replaces the reference's per-query pgvector
full scan (``smse_backend/services/search.py:97-110`` — which has no ANN
index: exact scan + ORDER BY + LIMIT per query); the segment index in
``smse_backend_spark.index`` is the scale path, and MUST stay rank-identical
to this scorer (regression-tested).

The ``lang`` filter mirrors the reference's modality predicate
(``services/search.py:106``): it restricts the candidate corpus, and corpus
statistics (N, avgdl, df) are computed over the restricted set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from smse_backend_spark import DEFAULT_TOP_K
from smse_backend_spark.functions.bm25 import (
    bm25_term_score_col,
    bm25_term_score_sql,
    idf_col,
    idf_sql,
)
from smse_backend_spark.functions.tokenizer import (
    doc_len_col,
    stem_col,
    stem_duckdb_sql,
    stem_py,
    synonym_duckdb_sql,
    tokenize_col,
    tokenize_duckdb_sql,
    tokenize_py,
)
from smse_backend_spark.session import local_frame


def query_terms(query_text: str) -> list[str]:
    """Unique query terms, sorted — BM25 uses set semantics over the query."""
    return sorted(set(tokenize_py(query_text)))


def bm25_scored_scan(
    corpus: DataFrame,
    query_text: str,
    lang: str | None = None,
    stem: bool = False,
) -> DataFrame:
    """ALL matched docs as (doc_id, score, nmatch) — the uncut BM25 match
    set every scan-mode retrieval variant (top-k, collapse, search_after,
    grouped hits) builds on. Score rounded to 6 dp; nmatch = distinct
    query terms the doc matched.

    ``stem=True`` runs the Harman S-stemmer analyzer over both document
    tokens and query terms (plural folding; the df/idf space changes with
    the analyzer, exactly as a Lucene per-field analyzer would).
    """
    terms = query_terms(query_text)
    if stem:
        terms = sorted({stem_py(t) for t in terms})
    if lang is not None:
        corpus = corpus.filter(F.col("lang") == lang)
    empty = corpus.select(
        F.col("doc_id"), F.lit(0.0).alias("score"), F.lit(0).alias("nmatch")
    ).limit(0)
    if not terms:
        return empty

    toks = tokenize_col("content")
    if stem:
        toks = stem_col(toks)
    docs = corpus.select("doc_id", doc_len_col("content").alias("doc_len"),
                         toks.alias("toks"))
    n_docs, avgdl = docs.agg(
        F.count(F.lit(1)).cast("double"), F.avg("doc_len")
    ).first()
    if not n_docs:
        return empty

    tf = (
        docs.select("doc_id", "doc_len", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy("doc_id", "doc_len", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # df per query term over the candidate corpus; tiny (<= |q| rows) -> broadcast
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    return (
        tf.join(F.broadcast(df_t), "term")
        .withColumn("idf", idf_col(F.col("df"), n_docs))
        .withColumn(
            "contrib",
            bm25_term_score_col(F.col("tf"), F.col("idf"), F.col("doc_len"), float(avgdl)),
        )
        .groupBy("doc_id")
        .agg(
            F.round(F.sum("contrib"), 6).alias("score"),
            F.count(F.lit(1)).alias("nmatch"),
        )
    )


def bm25_topk_scan(
    corpus: DataFrame,
    query_text: str,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
    min_match: int | None = None,
    stem: bool = False,
) -> DataFrame:
    """Exact BM25 top-k over a corpus DataFrame with a ``content`` column.

    Returns (doc_id, score) — score rounded to 6 dp for cross-engine hash
    stability; ORDER is (score desc, doc_id asc) and the plan's top is
    ``TakeOrderedAndProject`` (no global sort materialization).

    ``min_match``: docs must match at least this many distinct query terms
    (Lucene minimumNumberShouldMatch — a filter, never a rescore); the
    default keeps OR semantics. ``stem``: Harman S-stemmer analyzer.
    """
    scored = bm25_scored_scan(corpus, query_text, lang, stem=stem)
    if min_match is not None:
        scored = scored.filter(F.col("nmatch") >= min_match)
    return (
        scored.select("doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def bm25_search_after(
    corpus: DataFrame,
    query_text: str,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
) -> DataFrame:
    """Keyset pagination (Lucene/Elasticsearch ``search_after``): page 2 of
    the top-k — fetch page 1's last (score, doc_id) cursor, then take the
    k best rows strictly after it in (score desc, doc_id asc) order.

    Cursor filtering beats OFFSET at scale: every page is one
    ``TakeOrderedAndProject`` over the filtered match set; a deep OFFSET
    would force page_number * k rows through the global top instead.
    The scored match set is computed ONCE (localCheckpoint) and serves
    both the cursor fetch and the page-2 filter — no second corpus pass.
    """
    scored = (
        bm25_scored_scan(corpus, query_text, lang)
        .select("doc_id", "score")
        .localCheckpoint()
    )
    cursor = (
        scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k).collect()
    )
    if len(cursor) < k:  # page 1 wasn't full -> nothing after it
        return scored.limit(0)
    last = cursor[-1]
    after = scored.filter(
        (F.col("score") < F.lit(last["score"]))
        | ((F.col("score") == F.lit(last["score"])) & (F.col("doc_id") > F.lit(last["doc_id"])))
    )
    return after.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def collapse_topk(
    corpus: DataFrame,
    query_text: str,
    k: int = DEFAULT_TOP_K,
    collapse_col: str = "repo",
    lang: str | None = None,
) -> DataFrame:
    """Field collapsing (Lucene grouping / ES ``collapse``): at most ONE
    hit — the best — per distinct ``collapse_col`` value, then the global
    top-k of those survivors. Diversifies code-search results so a single
    repo can't flood the page.

    Scale shape: the window shuffles only (doc_id, score, key) rows of the
    match set, never document text; the corpus join is column-pruned to
    (doc_id, key).
    """
    scored = bm25_scored_scan(corpus, query_text, lang).select("doc_id", "score")
    keys = corpus.select("doc_id", F.col(collapse_col).alias("group_key"))
    w = Window.partitionBy("group_key").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.join(keys, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("group_key", "doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def facet_top_hits(
    corpus: DataFrame,
    query_text: str,
    facet_col: str = "lang",
    per_facet: int = 3,
    lang: str | None = None,
) -> DataFrame:
    """Grouped top hits (ES ``top_hits`` aggregation): the best
    ``per_facet`` docs inside EVERY facet bucket of the match set, with
    their in-bucket rank. Output is bounded by n_facets * per_facet, so no
    global cut is needed.
    """
    scored = bm25_scored_scan(corpus, query_text, lang).select("doc_id", "score")
    keys = corpus.select("doc_id", F.col(facet_col).alias("facet"))
    w = Window.partitionBy("facet").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.join(keys, "doc_id")
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= per_facet)
        .select("facet", "rank", "doc_id", "score")
        .orderBy(F.asc("facet"), F.asc("rank"))
    )


def _stacked_fields(corpus: DataFrame, fields: list[str]) -> DataFrame:
    """ONE corpus scan -> (doc_id, field, toks, doc_len) with the fields
    stacked by an in-row explode; adding fields adds no extra scans."""
    stacked = F.array(*[
        F.struct(
            F.lit(f).alias("field"),
            tokenize_col(f).alias("toks"),
            doc_len_col(f).alias("doc_len"),
        )
        for f in fields
    ])
    return corpus.select("doc_id", F.explode(stacked).alias("x")).select(
        "doc_id", "x.field", "x.toks", "x.doc_len"
    )


def _field_weight_col(field_weights: dict[str, float]):
    return F.coalesce(
        *[
            F.when(F.col("field") == f, F.lit(float(w)))
            for f, w in sorted(field_weights.items())
        ]
    )


def _fielded_contribs(
    corpus: DataFrame,
    query_text: str,
    field_weights: dict[str, float],
    lang: str | None = None,
) -> DataFrame | None:
    """Shared frame of the fielded retrieval family: per-(doc, field, term)
    weighted BM25 contributions. Each field is its own BM25 space —
    field-local df, avgdl, doc_len — weighted by its boost.

    Per-(field, term) df stays tiny and broadcasts. Returns None when the
    query or the corpus is empty.
    """
    terms = query_terms(query_text)
    if lang is not None:
        corpus = corpus.filter(F.col("lang") == lang)
    if not terms or not field_weights:
        return None
    base = _stacked_fields(corpus, sorted(field_weights))
    stats = {
        r["field"]: (float(r["n"]), float(r["avgdl"]))
        for r in base.groupBy("field")
        .agg(F.count(F.lit(1)).alias("n"), F.avg("doc_len").alias("avgdl"))
        .collect()
    }
    if not stats:
        return None
    n_docs = next(iter(stats.values()))[0]  # identical across fields
    avgdl_c = F.coalesce(
        *[F.when(F.col("field") == f, F.lit(a)) for f, (_n, a) in stats.items()]
    )
    w_c = _field_weight_col(field_weights)
    tf = (
        base.select("doc_id", "field", "doc_len", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy("doc_id", "field", "doc_len", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = tf.groupBy("field", "term").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    return (
        tf.join(F.broadcast(df_t), ["field", "term"])
        .withColumn("idf", idf_col(F.col("df"), n_docs))
        .withColumn(
            "contrib",
            w_c
            * bm25_term_score_col(
                F.col("tf"), F.col("idf"), F.col("doc_len"), avgdl_c
            ),
        )
        .select("doc_id", "field", "contrib")
    )


def _empty_scores(corpus: DataFrame) -> DataFrame:
    return corpus.select("doc_id", F.lit(0.0).alias("score")).limit(0)


def multi_field_bm25_scan(
    corpus: DataFrame,
    query_text: str,
    field_weights: dict[str, float] | None = None,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
) -> DataFrame:
    """Fielded BM25 (Lucene multi-field query with per-field boosts): a
    doc's total is the weighted SUM of its per-field scores. The
    code-search shape: a hit in ``path`` (file/symbol name) usually
    deserves a higher boost than one in ``content``.
    """
    if field_weights is None:
        field_weights = {"content": 1.0, "path": 2.0}
    contribs = _fielded_contribs(corpus, query_text, field_weights, lang)
    if contribs is None:
        return _empty_scores(corpus)
    return (
        contribs.groupBy("doc_id")
        .agg(F.round(F.sum("contrib"), 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def dis_max_bm25_scan(
    corpus: DataFrame,
    query_text: str,
    field_weights: dict[str, float] | None = None,
    tie_breaker: float = 0.0,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
) -> DataFrame:
    """Lucene ``DisjunctionMaxQuery`` across fields: a doc scores its BEST
    field plus ``tie_breaker`` times the rest —
    ``max(fs) + tie_breaker * (sum(fs) - max(fs))`` over per-field scores
    ``fs``. The right semantics when fields are alternative descriptions
    of the same thing (a term hitting both path AND content shouldn't
    double-dip the way the weighted sum does).
    """
    if field_weights is None:
        field_weights = {"content": 1.0, "path": 2.0}
    contribs = _fielded_contribs(corpus, query_text, field_weights, lang)
    if contribs is None:
        return _empty_scores(corpus)
    per_field = contribs.groupBy("doc_id", "field").agg(
        F.sum("contrib").alias("fs")
    )
    tb = float(tie_breaker)
    return (
        per_field.groupBy("doc_id")
        .agg(
            F.round(
                F.max("fs") + F.lit(tb) * (F.sum("fs") - F.max("fs")), 6
            ).alias("score")
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def bm25f_scan(
    corpus: DataFrame,
    query_text: str,
    field_weights: dict[str, float] | None = None,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
) -> DataFrame:
    """True BM25F (Robertson/Zaragoza): POOL the fields before saturation
    instead of summing saturated per-field scores —

        tf~(d,t) = sum_f w_f * tf_f(d,t),   dl~(d) = sum_f w_f * len_f(d)
        df(t)    = docs where ANY field contains t
        score    = sum_t idf(df) * sat(tf~, dl~, avg(dl~))

    Unlike the weighted sum (:func:`multi_field_bm25_scan`), a term
    repeated across fields saturates ONCE, so field spam can't stack.

    Note: keep the contract's weights integral — dl~ then stays
    integer-valued, so avg(dl~) is bit-identical across engines (exact
    integer sums) and 6dp rounding is stable.
    """
    if field_weights is None:
        field_weights = {"content": 1.0, "path": 2.0}
    terms = query_terms(query_text)
    if lang is not None:
        corpus = corpus.filter(F.col("lang") == lang)
    if not terms or not field_weights:
        return _empty_scores(corpus)
    base = _stacked_fields(corpus, sorted(field_weights))
    w_c = _field_weight_col(field_weights)
    wdl = base.groupBy("doc_id").agg(
        F.sum(w_c * F.col("doc_len").cast("double")).alias("dl")
    )
    n_docs, avgdl = wdl.agg(
        F.count(F.lit(1)).cast("double"), F.avg("dl")
    ).first()
    if not n_docs:
        return _empty_scores(corpus)
    tfp = (
        base.select("doc_id", "field", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy("doc_id", "term")
        .agg(F.sum(w_c).alias("tf"))
    )
    df_t = tfp.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    return (
        tfp.join(F.broadcast(df_t), "term")
        .join(wdl, "doc_id")
        .withColumn("idf", idf_col(F.col("df"), n_docs))
        .withColumn(
            "contrib",
            bm25_term_score_col(F.col("tf"), F.col("idf"), F.col("dl"), float(avgdl)),
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum("contrib"), 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def cross_fields_bm25_scan(
    corpus: DataFrame,
    query_text: str,
    field_weights: dict[str, float] | None = None,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
) -> DataFrame:
    """ES ``multi_match type=cross_fields`` (term-centric blended-stats
    retrieval): each query term is looked up in EVERY field, the per-field
    saturated tf components are combined with MAX (a per-term dis-max —
    the term matched, whichever field carried it), and the idf uses
    BLENDED document frequency df~(t) = max over fields of df_f(t)
    (Lucene BlendedTermQuery's stat blend):

        score(d) = sum_t idf(df~(t)) * max_f [ w_f * sat(tf_f, dl_f, avgdl_f) ]

    Completes the fielded family: ``multi_field`` sums saturated
    per-field scores (field-centric), ``dis_max`` maxes WHOLE-query field
    scores, ``bm25f`` pools raw tf before saturation; cross_fields is the
    right shape when a query's terms are SPLIT across fields ("first
    name in one field, last name in the other" — ES's canonical example)
    because each term needs to match somewhere, not every field to match
    everything.

    Scale shape: identical to the other fielded scans — one stacked
    tokenize pass, per-(field,term) df is vocabulary-bounded and
    broadcast, per-term blend is a tiny driver-free groupBy, and the
    top-k is a TakeOrderedAndProject.
    """
    if field_weights is None:
        field_weights = {"content": 1.0, "path": 2.0}
    terms = query_terms(query_text)
    if lang is not None:
        corpus = corpus.filter(F.col("lang") == lang)
    if not terms or not field_weights:
        return _empty_scores(corpus)
    base = _stacked_fields(corpus, sorted(field_weights))
    stats = {
        r["field"]: (float(r["n"]), float(r["avgdl"]))
        for r in base.groupBy("field")
        .agg(F.count(F.lit(1)).alias("n"), F.avg("doc_len").alias("avgdl"))
        .collect()
    }
    if not stats:
        return _empty_scores(corpus)
    n_docs = next(iter(stats.values()))[0]  # identical across fields
    avgdl_c = F.coalesce(
        *[F.when(F.col("field") == f, F.lit(a)) for f, (_n, a) in stats.items()]
    )
    w_c = _field_weight_col(field_weights)
    tf = (
        base.select("doc_id", "field", "doc_len", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy("doc_id", "field", "doc_len", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # blended df: max over fields — vocabulary-bounded, broadcasts
    df_b = (
        tf.groupBy("field", "term")
        .agg(F.count(F.lit(1)).alias("df"))
        .groupBy("term")
        .agg(F.max("df").cast("double").alias("df"))
    )
    sat = bm25_term_score_col(
        F.col("tf"), F.lit(1.0), F.col("doc_len"), avgdl_c
    )
    per_term = (
        tf.withColumn("wsat", w_c * sat)
        .groupBy("doc_id", "term")
        .agg(F.max("wsat").alias("msat"))
    )
    return (
        per_term.join(F.broadcast(df_b), "term")
        .withColumn("contrib", idf_col(F.col("df"), n_docs) * F.col("msat"))
        .groupBy("doc_id")
        .agg(F.round(F.sum("contrib"), 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def cross_fields_oracle_sql(
    query_text: str,
    field_weights: dict[str, float] | None = None,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
    table: str = "documents",
    content_col: str = "text",
) -> str:
    """DuckDB twin of :func:`cross_fields_bm25_scan`: per-term MAX of
    weighted saturated per-field components, idf over the blended
    (max-over-fields) df, same rounding."""
    if field_weights is None:
        field_weights = {"content": 1.0, "path": 2.0}
    cte = _fielded_cte_sql(query_text, field_weights, lang, table, content_col)
    if cte is None:
        return f"SELECT doc_id, 0.0 AS score FROM {table} WHERE false"
    sat = bm25_term_score_sql("tf.tf", "1.0", "tf.doc_len", "stats.avgdl")
    return f"""{cte},
dfb AS (
  SELECT term, max(df) AS df FROM dfq GROUP BY term
),
n1 AS (SELECT max(n) AS n FROM stats),
pt AS (
  SELECT tf.doc_id AS doc_id, tf.term AS term, max(w.wt * ({sat})) AS msat
  FROM tf JOIN stats USING (field) JOIN w USING (field)
  GROUP BY tf.doc_id, tf.term
)
SELECT pt.doc_id AS doc_id,
       round(sum({idf_sql("dfb.df", "n1.n")} * pt.msat), 6) AS score
FROM pt JOIN dfb USING (term) CROSS JOIN n1
GROUP BY pt.doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def combined_fields_scan(
    corpus: DataFrame,
    query_text: str,
    field_weights: dict[str, float] | None = None,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
) -> DataFrame:
    """ES ``combined_fields`` query (Lucene sandbox ``CombinedFieldQuery``):
    term-centric BM25 over a single MERGED pseudo-field — Robertson,
    Zaragoza & Taylor's "Simple BM25 extension to multiple weighted
    fields" (CIKM 2004), the model Lucene implements:

        tf'(t,d) = sum_f w_f * tf_f(t,d)     (weighted freqs pooled)
        dl'(d)   = sum_f w_f * len_f(d)      (weighted norms pooled)
        avgdl'   = avg_d dl'(d)
        df'(t)   = max_f df_f(t)             (Lucene's mergeTermStates:
                                              docFreq maxed across fields)
        score(d) = sum_t idf(df') * sat(tf', dl', avgdl')   (ONE saturation)

    Same pooled model as :func:`bm25f_scan`; the semantic fork is the
    TERM-STAT MERGE — Lucene combines per-field TermStates by taking the
    MAX docFreq (the BlendedTermQuery discipline; the pseudo-field's df
    is never measured), while bm25f_scan counts the true union-presence
    df (docs where ANY field contains t). union-df >= max-df, so
    combined_fields systematically weights cross-field-split terms
    HIGHER (smaller df, larger idf) — the two agree exactly iff one
    field's match set contains the other's. Lucene's 1-byte norm
    quantization is dropped for exact lengths — the repo-wide discipline
    (same as the bm25 scan path).

    Scale shape: identical to the other fielded scans — one stacked
    in-row explode (no per-field scans), the pooled-dl agg and the tf
    agg are both map-side combined, per-term blended df is
    vocabulary-bounded and broadcast, top-k is TakeOrderedAndProject.
    Integer-valued weights keep tf'/dl' exactly representable, so the
    oracle's different summation order cannot drift (< 2^53).
    """
    if field_weights is None:
        field_weights = {"content": 1.0, "path": 2.0}
    terms = query_terms(query_text)
    if lang is not None:
        corpus = corpus.filter(F.col("lang") == lang)
    if not terms or not field_weights:
        return _empty_scores(corpus)
    base = _stacked_fields(corpus, sorted(field_weights))
    w_c = _field_weight_col(field_weights)
    cdl = base.groupBy("doc_id").agg(
        F.sum(w_c * F.col("doc_len")).alias("cdl")
    )
    row = cdl.agg(
        F.count(F.lit(1)).alias("n"), F.avg("cdl").alias("avgdl")
    ).first()
    if not row or not row["n"]:
        return _empty_scores(corpus)
    n_docs, avgdl = float(row["n"]), float(row["avgdl"])
    tf = (
        base.select("doc_id", "field", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy("doc_id", "field", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # blended df: per-field presence counts, max over fields — broadcasts
    df_b = (
        tf.groupBy("field", "term")
        .agg(F.count(F.lit(1)).alias("df"))
        .groupBy("term")
        .agg(F.max("df").cast("double").alias("df"))
    )
    pooled = (
        tf.withColumn("wtf", w_c * F.col("tf"))
        .groupBy("doc_id", "term")
        .agg(F.sum("wtf").alias("ctf"))
    )
    return (
        pooled.join(cdl, "doc_id")
        .join(F.broadcast(df_b), "term")
        .withColumn(
            "contrib",
            bm25_term_score_col(
                F.col("ctf"), idf_col(F.col("df"), n_docs), F.col("cdl"), avgdl
            ),
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum("contrib"), 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def combined_fields_oracle_sql(
    query_text: str,
    field_weights: dict[str, float] | None = None,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
    table: str = "documents",
    content_col: str = "text",
) -> str:
    """DuckDB twin of :func:`combined_fields_scan`: pooled weighted tf and
    doc length, single saturation, blended (max-over-fields) df, same
    rounding."""
    if field_weights is None:
        field_weights = {"content": 1.0, "path": 2.0}
    cte = _fielded_cte_sql(query_text, field_weights, lang, table, content_col)
    if cte is None:
        return f"SELECT doc_id, 0.0 AS score FROM {table} WHERE false"
    sat = bm25_term_score_sql(
        "ctf.ctf", idf_sql("dfb.df", "cstats.n"), "cdl.cdl", "cstats.avgdl"
    )
    return f"""{cte},
cdl AS (
  SELECT dl.doc_id AS doc_id, sum(w.wt * dl.doc_len) AS cdl
  FROM dl JOIN w USING (field) GROUP BY dl.doc_id
),
cstats AS (SELECT count(*)::DOUBLE AS n, avg(cdl) AS avgdl FROM cdl),
ctf AS (
  SELECT tf.doc_id AS doc_id, tf.term AS term, sum(w.wt * tf.tf) AS ctf
  FROM tf JOIN w USING (field) GROUP BY tf.doc_id, tf.term
),
dfb AS (SELECT term, max(df) AS df FROM dfq GROUP BY term)
SELECT ctf.doc_id AS doc_id, round(sum({sat}), 6) AS score
FROM ctf
JOIN cdl USING (doc_id)
JOIN dfb USING (term)
CROSS JOIN cstats
GROUP BY ctf.doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def bm25f_zaragoza_scan(
    corpus: DataFrame,
    query_text: str,
    field_weights: dict[str, float] | None = None,
    field_b: dict[str, float] | None = None,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
) -> DataFrame:
    """The ORIGINAL BM25F (Zaragoza, Craswell, Taylor, Saria & Robertson,
    "Microsoft Cambridge at TREC-13", 2004): per-field length
    normalization BEFORE pooling, with a per-field slope ``B_f`` —

        tfn_f(t,d) = tf_f / (1 + B_f * (len_f/avglen_f - 1))
        tf~(t,d)   = sum_f w_f * tfn_f(t,d)
        df(t)      = docs where ANY field contains t
        score(d)   = sum_t idf(df) * tf~ / (k1 + tf~)

    The third member of the pooled family: :func:`bm25f_scan` (Simple
    BM25F) pools RAW tf and normalizes once by the pooled length;
    :func:`combined_fields_scan` does the same with Lucene's max-df stat
    merge; Zaragoza-BM25F normalizes EACH field by its own length/slope
    so a verbose field can be damped (B_f→1) while a title-like field
    ignores length entirely (B_f→0) — the reason the original
    outperformed naive field concatenation at TREC. Final saturation is
    the paper's ``tf~/(k1+tf~)`` (no (k1+1) numerator — that constant
    is a Lucene presentation detail; kept as published).

    Scale shape: identical to the other fielded scans — one stacked
    in-row explode, per-field avglen is a vocabulary-free 2-row agg,
    per-term df broadcasts, top-k is TakeOrderedAndProject.
    """
    if field_weights is None:
        field_weights = {"content": 1.0, "path": 2.0}
    if field_b is None:
        field_b = {"content": 0.75, "path": 0.5}
    terms = query_terms(query_text)
    if lang is not None:
        corpus = corpus.filter(F.col("lang") == lang)
    if not terms or not field_weights:
        return _empty_scores(corpus)
    base = _stacked_fields(corpus, sorted(field_weights))
    stats = {
        r["field"]: (float(r["n"]), float(r["avgdl"]))
        for r in base.groupBy("field")
        .agg(F.count(F.lit(1)).alias("n"), F.avg("doc_len").alias("avgdl"))
        .collect()
    }
    if not stats:
        return _empty_scores(corpus)
    n_docs = next(iter(stats.values()))[0]
    avgdl_c = F.coalesce(
        *[F.when(F.col("field") == f, F.lit(a)) for f, (_n, a) in stats.items()]
    )
    w_c = _field_weight_col(field_weights)
    b_c = _field_weight_col(field_b)
    tf = (
        base.select("doc_id", "field", "doc_len", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy("doc_id", "field", "doc_len", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    tfn = w_c * F.col("tf").cast("double") / (
        F.lit(1.0) + b_c * (F.col("doc_len").cast("double") / avgdl_c - F.lit(1.0))
    )
    pooled = (
        tf.withColumn("tfn", tfn)
        .groupBy("doc_id", "term")
        .agg(F.sum("tfn").alias("tfq"))
    )
    df_t = pooled.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    from smse_backend_spark import K1

    return (
        pooled.join(F.broadcast(df_t), "term")
        .withColumn(
            "contrib",
            idf_col(F.col("df"), n_docs)
            * F.col("tfq") / (F.lit(float(K1)) + F.col("tfq")),
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum("contrib"), 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def bm25f_zaragoza_oracle_sql(
    query_text: str,
    field_weights: dict[str, float] | None = None,
    field_b: dict[str, float] | None = None,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
    table: str = "documents",
    content_col: str = "text",
) -> str:
    """DuckDB twin of :func:`bm25f_zaragoza_scan`: per-field soft length
    normalization, weighted pooling, union-presence df, ``tf~/(k1+tf~)``
    saturation, same rounding."""
    from smse_backend_spark import K1

    if field_weights is None:
        field_weights = {"content": 1.0, "path": 2.0}
    if field_b is None:
        field_b = {"content": 0.75, "path": 0.5}
    cte = _fielded_cte_sql(query_text, field_weights, lang, table, content_col)
    if cte is None:
        return f"SELECT doc_id, 0.0 AS score FROM {table} WHERE false"
    bvals = ", ".join(
        f"('{f}', {float(b)!r})" for f, b in sorted(field_b.items())
    )
    return f"""{cte},
bf AS (SELECT * FROM (VALUES {bvals}) AS bf(field, slope)),
pooled AS (
  SELECT tf.doc_id AS doc_id, tf.term AS term,
         sum(w.wt * tf.tf / (1.0 + bf.slope *
             (tf.doc_len / stats.avgdl - 1.0))) AS tfq
  FROM tf JOIN stats USING (field) JOIN w USING (field)
       JOIN bf USING (field)
  GROUP BY tf.doc_id, tf.term
),
dfu AS (SELECT term, count(*)::DOUBLE AS df FROM pooled GROUP BY term),
n1 AS (SELECT max(n) AS n FROM stats)
SELECT pooled.doc_id AS doc_id,
       round(sum({idf_sql("dfu.df", "n1.n")} *
                 pooled.tfq / ({float(K1)!r} + pooled.tfq)), 6) AS score
FROM pooled JOIN dfu USING (term) CROSS JOIN n1
GROUP BY pooled.doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def sort_by_field_topk(
    corpus: DataFrame,
    query_text: str,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
    descending: bool = True,
) -> DataFrame:
    """Sort-by-doc-value retrieval (ES ``sort: [{field: ...}]``): the match
    set ordered by a document value — here content length — instead of
    relevance; score still reported. One ``TakeOrderedAndProject`` top."""
    scored = bm25_scored_scan(corpus, query_text, lang).select("doc_id", "score")
    vals = corpus.select(
        "doc_id", F.length("content").cast("long").alias("n_chars")
    )
    first = F.desc("n_chars") if descending else F.asc("n_chars")
    return (
        scored.join(vals, "doc_id")
        .select("doc_id", "n_chars", "score")
        .orderBy(first, F.asc("doc_id"))
        .limit(k)
    )


def bm25_range_topk(
    corpus: DataFrame,
    query_text: str,
    lo: int,
    hi: int,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
) -> DataFrame:
    """BM25 top-k under a numeric doc-value range filter (Lucene FILTER
    context): the range restricts which docs may surface, but global
    stats (df, avgdl, N) stay corpus-wide — a filter, never a rescore."""
    scored = bm25_scored_scan(corpus, query_text, lang)
    rng = corpus.filter(
        F.length("content").between(F.lit(lo), F.lit(hi))
    ).select("doc_id")
    return (
        scored.join(rng, "doc_id")
        .select("doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def function_score_topk(
    corpus: DataFrame,
    query_text: str,
    origin: int = 140,
    scale: int = 80,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
) -> DataFrame:
    """ES ``function_score`` with a LINEAR decay on a numeric doc value
    (content length stands in for recency):

        decay(x) = max(0, 1 - |x - origin| / scale)
        final    = round(bm25 * decay, 6)

    Linear (not gauss/exp) keeps the arithmetic transcendental-free, so
    the DuckDB twin is bit-identical. Docs outside the decay window stay
    in the result with score 0 (they matched; the function only reweighs).
    """
    scored = bm25_scored_scan(corpus, query_text, lang).select("doc_id", "score")
    vals = corpus.select("doc_id", F.length("content").cast("long").alias("x"))
    decay = F.greatest(
        F.lit(0.0),
        F.lit(1.0) - F.abs(F.col("x") - F.lit(origin)) / F.lit(float(scale)),
    )
    return (
        scored.join(vals, "doc_id")
        .select("doc_id", F.round(F.col("score") * decay, 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def function_score_oracle_sql(
    query_text: str,
    origin: int = 140,
    scale: int = 80,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
    table: str = "documents",
    content_col: str = "text",
) -> str:
    """DuckDB twin of :func:`function_score_topk` (same linear decay,
    same rounding)."""
    scored = bm25_scan_oracle_sql(query_text, _ALL_ROWS, lang, table, content_col)
    return f"""
WITH scored AS ({scored})
SELECT s.doc_id AS doc_id,
       round(s.score * greatest(0.0,
             1.0 - abs(length(d.{content_col}) - {origin}) / {float(scale)!r}), 6)
         AS score
FROM scored s JOIN {table} d USING (doc_id)
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def _rank_feature_fn_col(function: str, pivot: int):
    """The three ES rank_feature functions as Column algebra over the
    integer feature ``x``. ``saturation`` = x/(x+pivot); ``log`` =
    ln(1 + x) (scaling_factor fixed at 1 — per-row ln parity is proven);
    ``sigmoid`` = x²/(x² + pivot²) — the exponent is FIXED at 2 so the
    expression stays pure integer arithmetic + one double division (an
    arbitrary exponent would ride libm ``pow``, the one transcendental
    with no cross-engine parity precedent here)."""
    xd = F.col("x").cast("double")
    if function == "saturation":
        return xd / (F.col("x") + F.lit(int(pivot))).cast("double")
    if function == "log":
        return F.log(F.lit(1.0) + xd)
    if function == "sigmoid":
        return (F.col("x") * F.col("x")).cast("double") / (
            F.col("x") * F.col("x") + F.lit(int(pivot) * int(pivot))
        ).cast("double")
    raise ValueError(f"unknown rank_feature function {function!r}")


def rank_feature_topk(
    corpus: DataFrame,
    query_text: str,
    pivot: int = 120,
    boost: float = 2.0,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
    function: str = "saturation",
) -> DataFrame:
    """ES ``rank_feature`` query (saturation function) blended into the
    BM25 should-clause sum — the static-signal boost every search engine
    ships (pagerank, stars, freshness; content length stands in here):

        sat(x) = x / (x + pivot)          (ES's default saturation)
        final  = floor((bm25 + boost * sat) * 1e6 + 0.5) / 1e6

    Unlike ``function_score`` (a multiplier over the query score), a
    rank_feature clause ADDS a bounded contribution, so a zero-feature
    doc keeps its full text score. Exact cross-engine: x and pivot are
    integers, so sat is one double division; the blend uses the shared
    half-up floor formula.

    Scale shape: the feature join is (doc_id, x) against the match set —
    column-pruned, never the corpus text; the add-then-round happens
    before the top-k cut (TakeOrderedAndProject).
    """
    scored = bm25_scored_scan(corpus, query_text, lang).select("doc_id", "score")
    vals = corpus.select("doc_id", F.length("content").cast("long").alias("x"))
    sat = _rank_feature_fn_col(function, pivot)
    blended = F.col("score") + F.lit(float(boost)) * sat
    return (
        scored.join(vals, "doc_id")
        .select(
            "doc_id",
            (F.floor(blended * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def rank_feature_oracle_sql(
    query_text: str,
    pivot: int = 120,
    boost: float = 2.0,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
    table: str = "documents",
    content_col: str = "text",
    function: str = "saturation",
) -> str:
    """DuckDB twin of :func:`rank_feature_topk` (same per-function
    expression, same floor formula)."""
    x = f"length(d.{content_col})"
    if function == "saturation":
        fn = f"({x}::DOUBLE / ({x} + {int(pivot)})::DOUBLE)"
    elif function == "log":
        fn = f"ln(1.0 + {x}::DOUBLE)"
    elif function == "sigmoid":
        fn = (f"(({x} * {x})::DOUBLE"
              f" / ({x} * {x} + {int(pivot) * int(pivot)})::DOUBLE)")
    else:
        raise ValueError(f"unknown rank_feature function {function!r}")
    scored = bm25_scan_oracle_sql(query_text, _ALL_ROWS, lang, table, content_col)
    return f"""
WITH scored AS ({scored})
SELECT s.doc_id AS doc_id,
       floor((s.score + {float(boost)!r} * {fn})
             * 1e6 + 0.5) / 1e6 AS score
FROM scored s JOIN {table} d USING (doc_id)
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def corpus_path_sql() -> str:
    """The synthesized ``path`` column as DuckDB SQL — the exact twin of
    the expression in :func:`smse_backend_spark.corpus.load_corpus`."""
    from smse_backend_spark.corpus import LANG_EXT

    whens = " ".join(f"WHEN '{lg}' THEN '{ex}'" for lg, ex in sorted(LANG_EXT.items()))
    ext = f"(CASE lang {whens} ELSE 'txt' END)"
    return (
        "('src/m' || (doc_id % 50)::VARCHAR || '/f' || doc_id::VARCHAR "
        f"|| '.' || {ext})"
    )


def _field_branches_sql(
    field_weights: dict[str, float],
    lang: str | None,
    table: str,
    content_col: str,
) -> tuple[str, str]:
    """Shared scaffolding of every fielded oracle: the UNION ALL of
    per-field tokenized branches and the boost VALUES table."""
    field_expr = {"content": content_col, "path": corpus_path_sql()}
    unknown = set(field_weights) - set(field_expr)
    if unknown:
        raise ValueError(f"oracle has no SQL source for fields {sorted(unknown)}")
    where_lang = f"WHERE lang = '{lang}'" if lang is not None else ""
    branches = "\n  UNION ALL\n".join(
        f"SELECT doc_id, '{f}' AS field, "
        f"{tokenize_duckdb_sql(field_expr[f])} AS toks FROM {table} {where_lang}"
        for f in sorted(field_weights)
    )
    wvals = ", ".join(
        f"('{f}', {float(w)!r})" for f, w in sorted(field_weights.items())
    )
    return branches, wvals


def _terms_in_list(terms: list[str]) -> str:
    return ", ".join("'" + t.replace("'", "''") + "'" for t in terms)


def _fielded_cte_sql(
    query_text: str,
    field_weights: dict[str, float],
    lang: str | None,
    table: str,
    content_col: str,
) -> str | None:
    """Shared WITH-body of the fielded oracles: per-(doc, field, term) tf,
    per-field df/stats, and the boost table ``w``. None when empty."""
    terms = query_terms(query_text)
    if not terms or not field_weights:
        return None
    in_list = _terms_in_list(terms)
    branches, wvals = _field_branches_sql(field_weights, lang, table, content_col)
    return f"""
WITH base AS (
  {branches}
),
dl AS (
  SELECT doc_id, field, toks, len(toks)::BIGINT AS doc_len FROM base
),
stats AS (
  SELECT field, count(*)::DOUBLE AS n, avg(doc_len) AS avgdl
  FROM dl GROUP BY field
),
tok AS (
  SELECT doc_id, field, doc_len, unnest(toks) AS term FROM dl
),
tf AS (
  SELECT doc_id, field, doc_len, term, count(*)::BIGINT AS tf
  FROM tok WHERE term IN ({in_list})
  GROUP BY doc_id, field, doc_len, term
),
dfq AS (
  SELECT field, term, count(*)::DOUBLE AS df FROM tf GROUP BY field, term
),
w AS (SELECT * FROM (VALUES {wvals}) AS w(field, wt))"""


def multi_field_oracle_sql(
    query_text: str,
    field_weights: dict[str, float] | None = None,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
    table: str = "documents",
    content_col: str = "text",
) -> str:
    """DuckDB twin of :func:`multi_field_bm25_scan` over the synthesized
    corpus fields (``content`` = text, ``path`` = the deterministic path
    expression). Per-field BM25 spaces, weighted sum, same rounding."""
    if field_weights is None:
        field_weights = {"content": 1.0, "path": 2.0}
    cte = _fielded_cte_sql(query_text, field_weights, lang, table, content_col)
    if cte is None:
        return f"SELECT doc_id, 0.0 AS score FROM {table} WHERE false"
    score = bm25_term_score_sql(
        "tf.tf", idf_sql("dfq.df", "stats.n"), "tf.doc_len", "stats.avgdl"
    )
    return f"""{cte}
SELECT tf.doc_id AS doc_id, round(sum(w.wt * ({score})), 6) AS score
FROM tf
JOIN dfq USING (field, term)
JOIN stats USING (field)
JOIN w USING (field)
GROUP BY tf.doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def dis_max_oracle_sql(
    query_text: str,
    field_weights: dict[str, float] | None = None,
    tie_breaker: float = 0.0,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
    table: str = "documents",
    content_col: str = "text",
) -> str:
    """DuckDB twin of :func:`dis_max_bm25_scan`: per-field weighted BM25
    scores, combined as max + tie_breaker * (sum - max)."""
    if field_weights is None:
        field_weights = {"content": 1.0, "path": 2.0}
    cte = _fielded_cte_sql(query_text, field_weights, lang, table, content_col)
    if cte is None:
        return f"SELECT doc_id, 0.0 AS score FROM {table} WHERE false"
    score = bm25_term_score_sql(
        "tf.tf", idf_sql("dfq.df", "stats.n"), "tf.doc_len", "stats.avgdl"
    )
    tb = float(tie_breaker)
    return f"""{cte},
fs AS (
  SELECT tf.doc_id AS doc_id, tf.field, sum(w.wt * ({score})) AS fs
  FROM tf
  JOIN dfq USING (field, term)
  JOIN stats USING (field)
  JOIN w USING (field)
  GROUP BY tf.doc_id, tf.field
)
SELECT doc_id, round(max(fs) + {tb!r} * (sum(fs) - max(fs)), 6) AS score
FROM fs
GROUP BY doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def bm25_scan_oracle_sql(
    query_text: str,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
    table: str = "documents",
    content_col: str = "text",
    exclude_where: str | None = None,
    min_match: int | None = None,
    stem: bool = False,
    synonyms: dict[str, str] | None = None,
    with_nmatch: bool = False,
) -> str:
    """DuckDB SQL computing the identical result (same tokenizer, same math).

    ``exclude_where``: doc predicate applied AFTER stats/df are computed —
    the soft-delete twin (tombstoned docs keep counting into global BM25
    stats, Lucene-style, but cannot appear in results). For a physically
    deleted corpus pass a filtered subquery as ``table`` instead, which
    recomputes stats over the survivors.

    ``min_match``: HAVING >= this many matched distinct terms per doc
    (the minimum-should-match / conjunctive twin; scoring unchanged).

    ``stem``: Harman S-stemmer analyzer over doc tokens and query terms.

    ``synonyms``: index-time synonym fold over doc tokens and query
    terms (the ``analyzer="synonym"`` twin)."""
    terms = query_terms(query_text)
    if stem:
        terms = sorted({stem_py(t) for t in terms})
    if synonyms:
        terms = sorted({synonyms.get(t, t) for t in terms})
    if not terms:
        return f"SELECT doc_id, 0.0 AS score FROM {table} WHERE false"
    in_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    where_lang = f"WHERE lang = '{lang}'" if lang is not None else ""
    toks = tokenize_duckdb_sql(content_col)
    if stem:
        toks = stem_duckdb_sql(toks)
    if synonyms:
        toks = synonym_duckdb_sql(toks, synonyms)
    score = bm25_term_score_sql(
        "tf.tf", idf_sql("dfq.df", "stats.n"), "tf.doc_len", "stats.avgdl"
    )
    return f"""
WITH docs AS (
  SELECT doc_id, {toks} AS toks FROM {table} {where_lang}
),
dl AS (
  SELECT doc_id, toks, len(toks)::BIGINT AS doc_len FROM docs
),
stats AS (
  SELECT count(*)::DOUBLE AS n, avg(doc_len) AS avgdl FROM dl
),
tok AS (
  SELECT doc_id, doc_len, unnest(toks) AS term FROM dl
),
tf AS (
  SELECT doc_id, doc_len, term, count(*)::BIGINT AS tf
  FROM tok WHERE term IN ({in_list})
  GROUP BY doc_id, doc_len, term
),
dfq AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term
)
SELECT tf.doc_id AS doc_id, round(sum({score}), 6) AS score{
    ", count(*)::BIGINT AS nmatch" if with_nmatch else ""}
FROM tf JOIN dfq USING (term) CROSS JOIN stats
{f"WHERE {exclude_where}" if exclude_where else ""}
GROUP BY tf.doc_id
{f"HAVING count(*) >= {min_match}" if min_match is not None else ""}
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def bm25f_oracle_sql(
    query_text: str,
    field_weights: dict[str, float] | None = None,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
    table: str = "documents",
    content_col: str = "text",
) -> str:
    """DuckDB twin of :func:`bm25f_scan`: pooled weighted tf and dl, any-
    field df, one saturation."""
    if field_weights is None:
        field_weights = {"content": 1.0, "path": 2.0}
    terms = query_terms(query_text)
    if not terms or not field_weights:
        return f"SELECT doc_id, 0.0 AS score FROM {table} WHERE false"
    in_list = _terms_in_list(terms)
    branches, wvals = _field_branches_sql(field_weights, lang, table, content_col)
    score = bm25_term_score_sql(
        "tfp.tf", idf_sql("dfq.df", "stats.n"), "wdl.dl", "stats.avgdl"
    )
    return f"""
WITH base AS (
  {branches}
),
fdl AS (
  SELECT doc_id, field, toks, len(toks)::BIGINT AS fdl FROM base
),
w AS (SELECT * FROM (VALUES {wvals}) AS w(field, wt)),
wdl AS (
  SELECT doc_id, sum(w.wt * fdl)::DOUBLE AS dl
  FROM fdl JOIN w USING (field) GROUP BY doc_id
),
stats AS (
  SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM wdl
),
tok AS (
  SELECT doc_id, field, unnest(toks) AS term FROM fdl
),
tfp AS (
  SELECT doc_id, term, sum(w.wt)::DOUBLE AS tf
  FROM tok JOIN w USING (field)
  WHERE term IN ({in_list})
  GROUP BY doc_id, term
),
dfq AS (
  SELECT term, count(*)::DOUBLE AS df FROM tfp GROUP BY term
)
SELECT tfp.doc_id AS doc_id, round(sum({score}), 6) AS score
FROM tfp
JOIN dfq USING (term)
JOIN wdl USING (doc_id)
CROSS JOIN stats
GROUP BY tfp.doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def sort_by_field_oracle_sql(
    query_text: str,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
    descending: bool = True,
    table: str = "documents",
    content_col: str = "text",
) -> str:
    """DuckDB twin of :func:`sort_by_field_topk` (doc value = content
    length in characters, identical in both engines)."""
    scored = bm25_scan_oracle_sql(query_text, _ALL_ROWS, lang, table, content_col)
    direction = "DESC" if descending else "ASC"
    return f"""
WITH scored AS ({scored})
SELECT s.doc_id AS doc_id, length(d.{content_col})::BIGINT AS n_chars,
       s.score AS score
FROM scored s JOIN {table} d USING (doc_id)
ORDER BY n_chars {direction}, doc_id ASC
LIMIT {k}
"""


def bm25_range_oracle_sql(
    query_text: str,
    lo: int,
    hi: int,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
    table: str = "documents",
    content_col: str = "text",
) -> str:
    """DuckDB twin of :func:`bm25_range_topk`: the range is a FILTER
    (candidates restricted after corpus-wide stats)."""
    return bm25_scan_oracle_sql(
        query_text, k, lang, table, content_col,
        exclude_where=(
            f"tf.doc_id IN (SELECT doc_id FROM {table} "
            f"WHERE length({content_col}) BETWEEN {lo} AND {hi})"
        ),
    )


_ALL_ROWS = 1_000_000_000  # "no cut" limit for full-match-set subqueries


def search_after_oracle_sql(
    query_text: str,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
    table: str = "documents",
    content_col: str = "text",
) -> str:
    """DuckDB twin of :func:`bm25_search_after`: the cursor is page 1's
    k-th row; page 2 is the k best rows strictly after it. An empty page 1
    tail (fewer than k hits) yields an empty page 2 via the empty cursor
    cross join."""
    scored = bm25_scan_oracle_sql(query_text, _ALL_ROWS, lang, table, content_col)
    return f"""
WITH scored AS ({scored}),
cur AS (
  SELECT score, doc_id FROM scored
  ORDER BY score DESC, doc_id ASC
  LIMIT 1 OFFSET {k - 1}
)
SELECT s.doc_id AS doc_id, s.score AS score
FROM scored s, cur c
WHERE s.score < c.score OR (s.score = c.score AND s.doc_id > c.doc_id)
ORDER BY s.score DESC, s.doc_id ASC
LIMIT {k}
"""


def collapse_oracle_sql(
    query_text: str,
    k: int = DEFAULT_TOP_K,
    collapse_expr: str = "source",
    lang: str | None = None,
    table: str = "documents",
    content_col: str = "text",
) -> str:
    """DuckDB twin of :func:`collapse_topk`. ``collapse_expr`` is the SQL
    source of the collapse key on the raw table (corpus ``repo`` =
    documents ``source``)."""
    scored = bm25_scan_oracle_sql(query_text, _ALL_ROWS, lang, table, content_col)
    return f"""
WITH scored AS ({scored}),
j AS (
  SELECT s.doc_id, s.score, d.{collapse_expr} AS group_key
  FROM scored s JOIN {table} d USING (doc_id)
),
r AS (
  SELECT group_key, doc_id, score,
         row_number() OVER (PARTITION BY group_key
                            ORDER BY score DESC, doc_id ASC) AS rn
  FROM j
)
SELECT group_key, doc_id, score FROM r
WHERE rn = 1
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def facet_top_hits_oracle_sql(
    query_text: str,
    facet_expr: str = "lang",
    per_facet: int = 3,
    lang: str | None = None,
    table: str = "documents",
    content_col: str = "text",
) -> str:
    """DuckDB twin of :func:`facet_top_hits`: best ``per_facet`` hits per
    facet bucket with in-bucket rank."""
    scored = bm25_scan_oracle_sql(query_text, _ALL_ROWS, lang, table, content_col)
    return f"""
WITH scored AS ({scored}),
j AS (
  SELECT s.doc_id, s.score, d.{facet_expr} AS facet
  FROM scored s JOIN {table} d USING (doc_id)
),
r AS (
  SELECT facet, doc_id, score,
         row_number() OVER (PARTITION BY facet
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM j
)
SELECT facet, rank, doc_id, score FROM r
WHERE rank <= {per_facet}
ORDER BY facet ASC, rank ASC
"""


def bm25_phrase_oracle_sql(
    phrase_text: str,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
    table: str = "documents",
    content_col: str = "text",
    stem: bool = False,
) -> str:
    """DuckDB twin of ``InvertedIndex.phrase_topk``: phrase tf counted by
    scanning each doc's token list for consecutive matches; phrase df
    (docs with >=1 occurrence) drives a single idf. ``stem=True`` twins a
    ``analyzer="stem"`` positional index: both the doc token list and the
    query terms are S-stemmed per token (positions are unaffected — the
    stem map is 1:1), matching the index's Arrow-pass stemming."""
    from smse_backend_spark.functions.tokenizer import stem_py, tokenize_py

    terms = tokenize_py(phrase_text)
    if stem:
        terms = [stem_py(t) for t in terms]
    if not terms:
        return f"SELECT doc_id, 0.0 AS score FROM {table} WHERE false"
    L = len(terms)
    cond = " AND ".join(
        f"toks[i + {j}] = '" + t.replace("'", "''") + "'"
        for j, t in enumerate(terms)
    )
    where_lang = f"WHERE lang = '{lang}'" if lang is not None else ""
    toks = tokenize_duckdb_sql(content_col)
    if stem:
        from smse_backend_spark.functions.tokenizer import stem_duckdb_sql

        toks = stem_duckdb_sql(toks)
    score = bm25_term_score_sql(
        "h.ptf", idf_sql("dfp.df", "stats.n"), "h.doc_len", "stats.avgdl"
    )
    return f"""
WITH docs AS (
  SELECT doc_id, {toks} AS toks FROM {table} {where_lang}
),
dl AS (
  SELECT doc_id, toks, len(toks)::BIGINT AS doc_len FROM docs
),
stats AS (
  SELECT count(*)::DOUBLE AS n, avg(doc_len) AS avgdl FROM dl
),
pm AS (
  SELECT doc_id, doc_len,
         CASE WHEN doc_len < {L} THEN 0 ELSE
           len(list_filter(generate_series(1, len(toks) - {L - 1}),
                           i -> {cond}))
         END::BIGINT AS ptf
  FROM dl
),
h AS (SELECT doc_id, doc_len, ptf FROM pm WHERE ptf > 0),
dfp AS (SELECT count(*)::DOUBLE AS df FROM h)
SELECT h.doc_id AS doc_id, round({score}, 6) AS score
FROM h CROSS JOIN dfp CROSS JOIN stats
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def _shingle_col(tcol):
    """Adjacent-pair shingle array ("a b" with ES's space separator) from
    a token-array Column — the search_as_you_type ``_2gram`` subfield's
    index-time analyzer, as in-row JVM Column algebra."""
    return F.when(
        F.size(tcol) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(tcol) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(tcol, i), F.element_at(tcol, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def sayt_scan(
    corpus: DataFrame,
    query_text: str,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
    max_expansions: int = 16,
) -> DataFrame:
    """ES ``search_as_you_type``: the recommended ``multi_match type=
    bool_prefix`` over the root field and its ``_2gram`` shingle
    subfield. Each field gets its own ``match_bool_prefix`` — complete
    tokens as OR terms, the trailing partial token as a dictionary
    prefix expansion (df desc / term asc, capped — Lucene's multi-term
    discipline) — and the field scores ADD (the bool_prefix type
    combines like most_fields). The ``_2gram`` field is its own BM25
    space: terms are adjacent-pair shingles ("a b", ES's space
    separator), doc length = shingle count, df/avgdl measured in
    shingle space; its prefix clause expands shingles matching
    ``"<last-complete-token> <partial>"`` — that is exactly why SAYT
    out-ranks plain bool_prefix on word-order-respecting prefixes.

    Scale shape: ONE stacked scan builds both token arrays in-row; the
    two expansion rankings are vocabulary-bounded aggs (at 10^12 files
    the dictionary of a built index replaces them — same ranking law);
    per-field tf/df aggs are map-side combined; the field-sum join is
    on doc_id after both sides shrank to matching docs only.
    """
    from smse_backend_spark.functions.tokenizer import tokenize_py

    seq = tokenize_py(query_text)
    if lang is not None:
        corpus = corpus.filter(F.col("lang") == lang)
    if not seq:
        return _empty_scores(corpus)
    tcol = tokenize_col("content")
    base = corpus.select(
        "doc_id", tcol.alias("rtoks"), _shingle_col(tcol).alias("stoks")
    )
    row = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.size("rtoks")).alias("ravg"),
        F.avg(F.size("stoks")).alias("savg"),
    ).first()
    if not row or not row["n"]:
        return _empty_scores(corpus)
    n_docs = float(row["n"])
    fixed, prefix = seq[:-1], seq[-1]

    def _expand(tok_frame, col, like_prefix):
        return [
            r["t"]
            for r in tok_frame.filter(F.col(col).startswith(like_prefix))
            .groupBy(F.col(col).alias("t"))
            .agg(F.count_distinct("doc_id").alias("df"))
            .orderBy(F.desc("df"), F.asc("t"))
            .limit(max_expansions)
            .collect()
        ]

    rtok = base.select("doc_id", F.explode("rtoks").alias("term"))
    root_terms = sorted(set(fixed) | set(_expand(rtok, "term", prefix)))
    stok = base.select("doc_id", F.explode("stoks").alias("term"))
    fixed_sh = [f"{a} {b}" for a, b in zip(seq, seq[1:])][:-1] if len(seq) >= 3 else []
    sh_terms: list[str] = []
    if len(seq) >= 2:
        sh_prefix = f"{seq[-2]} {prefix}"
        sh_terms = sorted(set(fixed_sh) | set(_expand(stok, "term", sh_prefix)))

    def _field_scores(tok_frame, terms, avgdl):
        if not terms or avgdl is None:
            return None
        tf = (
            tok_frame.filter(F.col("term").isin(terms))
            .groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
        dl = tok_frame.groupBy("doc_id").agg(
            F.count(F.lit(1)).cast("long").alias("doc_len")
        )
        df_t = tf.groupBy("term").agg(
            F.count(F.lit(1)).cast("double").alias("df")
        )
        return (
            tf.join(dl, "doc_id")
            .join(F.broadcast(df_t), "term")
            .withColumn(
                "contrib",
                bm25_term_score_col(
                    F.col("tf"), idf_col(F.col("df"), n_docs),
                    F.col("doc_len"), float(avgdl),
                ),
            )
            .groupBy("doc_id")
            .agg(F.sum("contrib").alias("fs"))
        )
    # NOTE: doc_len for the shingle field counts the doc's SHINGLE rows,
    # so a doc only appears in stok if it has >= 2 tokens — exactly the
    # docs that have the _2gram field at all (ES's per-field docCount is
    # approximated by the shared corpus n; documented, mirrored in SQL).
    rs = _field_scores(rtok, root_terms, row["ravg"])
    ss = _field_scores(stok, sh_terms, row["savg"])
    if rs is None and ss is None:
        return _empty_scores(corpus)
    if rs is None or ss is None:
        both = (rs or ss).withColumnRenamed("fs", "score")
        both = both.select("doc_id", F.round("score", 6).alias("score"))
    else:
        both = (
            rs.withColumnRenamed("fs", "rfs")
            .join(ss.withColumnRenamed("fs", "sfs"), "doc_id", "full_outer")
            .select(
                "doc_id",
                F.round(
                    F.coalesce(F.col("rfs"), F.lit(0.0))
                    + F.coalesce(F.col("sfs"), F.lit(0.0)),
                    6,
                ).alias("score"),
            )
        )
    return both.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def sayt_oracle_sql(
    query_text: str,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
    max_expansions: int = 16,
    table: str = "documents",
    content_col: str = "text",
) -> str:
    """DuckDB twin of :func:`sayt_scan`: both expansion rankings
    re-derived in SQL (df desc / term asc, capped), per-field BM25
    spaces (root tokens vs adjacent-pair shingles), field scores summed
    with the same rounding."""
    from smse_backend_spark.functions.tokenizer import tokenize_py

    seq = tokenize_py(query_text)
    if not seq:
        return f"SELECT doc_id, 0.0 AS score FROM {table} WHERE false"
    esc = lambda s: s.replace("'", "''")  # noqa: E731
    fixed, prefix = seq[:-1], seq[-1]
    where_lang = f"WHERE lang = '{lang}'" if lang is not None else ""
    toks = tokenize_duckdb_sql(content_col)
    fixed_list = ", ".join(f"'{esc(t)}'" for t in sorted(set(fixed)))
    fixed_sh = sorted({f"{a} {b}" for a, b in list(zip(seq, seq[1:]))[:-1]}) \
        if len(seq) >= 3 else []
    fixed_sh_list = ", ".join(f"'{esc(t)}'" for t in fixed_sh)
    sh_prefix = f"{seq[-2]} {prefix}" if len(seq) >= 2 else None
    score_r = bm25_term_score_sql(
        "rtf.tf", idf_sql("rdf.df", "stats.n"), "rtf.doc_len", "stats.ravg"
    )
    score_s = bm25_term_score_sql(
        "stf.tf", idf_sql("sdf.df", "stats.n"), "stf.doc_len", "stats.savg"
    )
    sh_branch = f"""
sexp AS (
  SELECT term FROM (
    SELECT term, count(DISTINCT doc_id) AS df FROM stok
    WHERE starts_with(term, '{esc(sh_prefix)}') GROUP BY term
  ) ORDER BY df DESC, term ASC LIMIT {max_expansions}
),
sterms AS (
  SELECT term FROM sexp
  {"UNION SELECT unnest([" + fixed_sh_list + "])" if fixed_sh else ""}
),
stf AS (
  SELECT s.doc_id, s.term, count(*)::BIGINT AS tf,
         any_value(sdl.doc_len) AS doc_len
  FROM stok s JOIN sterms USING (term)
       JOIN (SELECT doc_id, count(*)::BIGINT AS doc_len FROM stok
             GROUP BY doc_id) sdl ON s.doc_id = sdl.doc_id
  GROUP BY s.doc_id, s.term
),
sdf AS (SELECT term, count(*)::DOUBLE AS df FROM stf GROUP BY term),
sscore AS (
  SELECT stf.doc_id AS doc_id, sum({score_s}) AS fs
  FROM stf JOIN sdf USING (term) CROSS JOIN stats
  GROUP BY stf.doc_id
)""" if sh_prefix is not None else """
sscore AS (SELECT NULL::BIGINT AS doc_id, NULL::DOUBLE AS fs WHERE false)"""
    return f"""
WITH docs AS (
  SELECT doc_id, {toks} AS toks FROM {table} {where_lang}
),
dl AS (
  SELECT doc_id, toks, len(toks)::BIGINT AS doc_len,
         CASE WHEN len(toks) >= 2 THEN
           list_transform(generate_series(1, len(toks) - 1),
                          j -> toks[j] || ' ' || toks[j + 1])
         ELSE [] END AS shingles
  FROM docs
),
stats AS (
  SELECT count(*)::DOUBLE AS n, avg(doc_len) AS ravg,
         avg(len(shingles)) AS savg
  FROM dl
),
rtok AS (SELECT doc_id, doc_len, unnest(toks) AS term FROM dl),
stok AS (SELECT doc_id, unnest(shingles) AS term FROM dl),
rexp AS (
  SELECT term FROM (
    SELECT term, count(DISTINCT doc_id) AS df FROM rtok
    WHERE starts_with(term, '{esc(prefix)}') GROUP BY term
  ) ORDER BY df DESC, term ASC LIMIT {max_expansions}
),
rterms AS (
  SELECT term FROM rexp
  {"UNION SELECT unnest([" + fixed_list + "])" if fixed else ""}
),
rtf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf, any_value(doc_len) AS doc_len
  FROM rtok JOIN rterms USING (term)
  GROUP BY doc_id, term
),
rdf AS (SELECT term, count(*)::DOUBLE AS df FROM rtf GROUP BY term),
rscore AS (
  SELECT rtf.doc_id AS doc_id, sum({score_r}) AS fs
  FROM rtf JOIN rdf USING (term) CROSS JOIN stats
  GROUP BY rtf.doc_id
),{sh_branch}
SELECT coalesce(r.doc_id, s.doc_id) AS doc_id,
       round(coalesce(r.fs, 0.0) + coalesce(s.fs, 0.0), 6) AS score
FROM rscore r FULL OUTER JOIN sscore s ON r.doc_id = s.doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def phrase_slop_oracle_sql(
    phrase_text: str,
    slop: int,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
    table: str = "documents",
    content_col: str = "text",
) -> str:
    """DuckDB twin of ``InvertedIndex.phrase_slop_topk``: a RECURSIVE CTE
    simulates Lucene's ``SloppyPhraseMatcher`` queue algorithm step by
    step — per-term state (pointer, current adjusted position) is
    unrolled into scalar columns for the FIXED phrase, each recursion
    advances exactly the minimum phrase position, and the accumulated
    ``sum 1/(1+matchLength)`` frequency is numerically identical to the
    engine kernel because the additions happen in the same sequential
    order. Scored as (sum of per-term idfs, left-associated in phrase
    order) * BM25 saturation of the sloppy frequency."""
    from smse_backend_spark.functions.tokenizer import tokenize_py

    terms = tokenize_py(phrase_text)
    if len(terms) < 2 or len(set(terms)) != len(terms):
        raise ValueError("phrase_slop oracle: >=2 distinct tokens required")
    n = len(terms)
    idx = range(n)
    esc = [t.replace("'", "''") for t in terms]
    where_lang = f"WHERE lang = '{lang}'" if lang is not None else ""
    toks = tokenize_duckdb_sql(content_col)

    def ppi_case(cs: list[str]) -> str:
        whens = []
        for i in idx:
            conds = [
                f"{cs[i]} <= {cs[j]}" if j > i else f"{cs[i]} < {cs[j]}"
                for j in idx if j != i
            ]
            whens.append(f"WHEN {' AND '.join(conds) or 'TRUE'} THEN {i}")
        return "CASE " + " ".join(whens[:-1]) + f" ELSE {n - 1} END"

    def nxt_case(ppicol: str, cs: list[str]) -> str:
        whens = []
        for i in idx:
            others = [cs[j] for j in idx if j != i]
            v = others[0] if len(others) == 1 else f"least({', '.join(others)})"
            whens.append(f"WHEN {i} THEN {v}")
        return f"CASE {ppicol} " + " ".join(whens) + " END"

    def of_ppi(ppicol: str, vals: list[str]) -> str:
        whens = " ".join(f"WHEN {i} THEN {vals[i]}" for i in idx)
        return f"CASE {ppicol} {whens} END"

    lists_cols = ",\n         ".join(
        f"list_transform(list_filter(generate_series(1, len(toks)), "
        f"j -> toks[j] = '{esc[i]}'), j -> j - {i}) AS l{i}"
        for i in idx
    )
    nonempty = " AND ".join(f"len(l{i}) > 0" for i in idx)
    lcols = ", ".join(f"l{i}" for i in idx)
    init_inner = ", ".join(
        [f"1 AS p{i}" for i in idx]
        + [f"l{i}[1] AS c{i}" for i in idx]
        + [f"greatest({', '.join(f'l{j}[1]' for j in idx)}) AS endp"]
    )
    cs = [f"c{i}" for i in idx]
    csn = [f"c{i}n" for i in idx]
    # ::DOUBLE everywhere — DuckDB types the bare literal 0.0 as
    # DECIMAL(2,1) and the whole freq accumulator would silently round
    step_free = (
        f"CASE WHEN ml <= {int(slop)} THEN 1.0::DOUBLE / (1.0::DOUBLE + ml) "
        "ELSE 0.0::DOUBLE END"
    )
    proj_state = ", ".join(
        ["doc_id", lcols]
        + [f"p{i}n AS p{i}" for i in idx]
        + [f"c{i}n AS c{i}" for i in idx]
        + ["endpn AS endp", "ppin AS ppi", "nxtn AS nxt", "mln AS ml",
           "freqn AS freq", "donen AS done"]
    )
    idf_chain = f"(SELECT {idf_sql('df', 'stats.n')} FROM dfq, stats WHERE term = '{esc[0]}')"
    for e in esc[1:]:
        idf_chain = (
            f"({idf_chain} + (SELECT {idf_sql('df', 'stats.n')} "
            f"FROM dfq, stats WHERE term = '{e}'))"
        )
    score = bm25_term_score_sql(
        "res.freq", idf_chain, "dlen.doc_len", "stats.avgdl"
    )
    return f"""
WITH RECURSIVE docs AS (
  SELECT doc_id, {toks} AS toks FROM {table} {where_lang}
),
dl AS (
  SELECT doc_id, toks, len(toks)::BIGINT AS doc_len FROM docs
),
stats AS (
  SELECT count(*)::DOUBLE AS n, avg(doc_len) AS avgdl FROM dl
),
tok AS (
  SELECT doc_id, unnest(toks) AS term FROM dl
),
dfq AS (
  SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM tok
  WHERE term IN ({", ".join("'" + e + "'" for e in esc)}) GROUP BY term
),
lists AS (
  SELECT doc_id,
         {lists_cols}
  FROM dl
),
cand AS (SELECT * FROM lists WHERE {nonempty}),
init AS (
  SELECT doc_id, {lcols}, {", ".join(f"p{i}" for i in idx)},
         {", ".join(cs)}, endp, ppi,
         {nxt_case("ppi", cs)} AS nxt,
         endp - {of_ppi("ppi", cs)} AS ml,
         0.0::DOUBLE AS freq, FALSE AS done
  FROM (
    SELECT *, {ppi_case(cs)} AS ppi
    FROM (SELECT doc_id, {lcols}, {init_inner} FROM cand)
  )
),
sim AS (
  SELECT * FROM init
  UNION ALL
  SELECT {proj_state}
  FROM (
    SELECT *,
           CASE WHEN advanced THEN {nxt_case("ppin", csn)} ELSE nxt END AS nxtn,
           CASE WHEN advanced THEN endpn - {of_ppi("ppin", csn)}
                WHEN donen THEN ml
                ELSE least(ml, endp - cnew) END AS mln
    FROM (
      SELECT *,
             CASE WHEN advanced THEN {ppi_case(csn)} ELSE ppi END AS ppin,
             freq + CASE WHEN exhausted OR advanced
                         THEN {step_free} ELSE 0.0::DOUBLE END AS freqn,
             exhausted AS donen
      FROM (
        SELECT *,
               {", ".join(f"CASE WHEN NOT exhausted AND ppi = {i} THEN cnew ELSE c{i} END AS c{i}n" for i in idx)},
               CASE WHEN exhausted THEN endp
                    ELSE greatest(endp, cnew) END AS endpn,
               (NOT exhausted AND cnew > nxt) AS advanced
        FROM (
          SELECT *,
                 (pnext > llen) AS exhausted,
                 CASE WHEN pnext <= llen
                      THEN {of_ppi("ppi", [f"l{i}[pnext]" for i in idx])}
                 END AS cnew
          FROM (
            SELECT *,
                   {of_ppi("ppi", [f"p{i} + 1" for i in idx])} AS pnext,
                   {of_ppi("ppi", [f"len(l{i})" for i in idx])} AS llen,
                   {", ".join(f"CASE WHEN ppi = {i} THEN p{i} + 1 ELSE p{i} END AS p{i}n" for i in idx)}
            FROM (SELECT * FROM sim WHERE NOT done)
          )
        )
      )
    )
  )
),
res AS (SELECT doc_id, freq FROM sim WHERE done AND freq > 0.0),
dlen AS (SELECT doc_id, doc_len FROM dl)
SELECT res.doc_id AS doc_id, round({score}, 6) AS score
FROM res JOIN dlen ON res.doc_id = dlen.doc_id CROSS JOIN stats
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def boosting_oracle_sql(
    query_text: str,
    negative: list[str] | tuple[str, ...],
    negative_boost: float = 0.5,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
    table: str = "documents",
    content_col: str = "text",
    stem: bool = False,
    synonyms: dict[str, str] | None = None,
) -> str:
    """DuckDB twin of ``InvertedIndex.bm25_topk_boosting``: unrounded BM25
    sum, negative-match multiplier, then the shared half-up floor formula
    — written identically to the Spark side.

    ``stem`` / ``synonyms`` fold doc tokens AND both term lists through
    the index analyzer, exactly as the engine's ``_analyze`` does for
    positive and negative terms alike (the engine folds negatives too)."""

    def _fold(ts: list[str]) -> list[str]:
        if stem:
            ts = sorted({stem_py(t) for t in ts})
        if synonyms:
            ts = sorted({synonyms.get(t, t) for t in ts})
        return ts

    terms = _fold(query_terms(query_text))
    if not terms:
        return f"SELECT doc_id, 0.0 AS score FROM {table} WHERE false"
    neg_terms = _fold(sorted({t for raw in negative for t in query_terms(raw)}))
    in_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    neg_list = ", ".join("'" + t.replace("'", "''") + "'" for t in neg_terms)
    where_lang = f"WHERE lang = '{lang}'" if lang is not None else ""
    toks = tokenize_duckdb_sql(content_col)
    if stem:
        toks = stem_duckdb_sql(toks)
    if synonyms:
        toks = synonym_duckdb_sql(toks, synonyms)
    score = bm25_term_score_sql(
        "tf.tf", idf_sql("dfq.df", "stats.n"), "tf.doc_len", "stats.avgdl"
    )
    nb = repr(float(negative_boost))
    neg_cte = (
        f"neg AS (SELECT DISTINCT doc_id FROM tok WHERE term IN ({neg_list}))"
        if neg_terms
        else "neg AS (SELECT doc_id FROM docs WHERE false)"
    )
    return f"""
WITH docs AS (
  SELECT doc_id, {toks} AS toks FROM {table} {where_lang}
),
dl AS (
  SELECT doc_id, toks, len(toks)::BIGINT AS doc_len FROM docs
),
stats AS (
  SELECT count(*)::DOUBLE AS n, avg(doc_len) AS avgdl FROM dl
),
tok AS (
  SELECT doc_id, doc_len, unnest(toks) AS term FROM dl
),
tf AS (
  SELECT doc_id, doc_len, term, count(*)::BIGINT AS tf
  FROM tok WHERE term IN ({in_list})
  GROUP BY doc_id, doc_len, term
),
dfq AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term
),
s AS (
  SELECT tf.doc_id AS doc_id, sum({score}) AS raw
  FROM tf JOIN dfq USING (term) CROSS JOIN stats
  GROUP BY tf.doc_id
),
{neg_cte}
SELECT s.doc_id AS doc_id,
       floor((s.raw * (CASE WHEN neg.doc_id IS NOT NULL THEN {nb}
                            ELSE 1.0 END)) * 1e6 + 0.5) / 1e6 AS score
FROM s LEFT JOIN neg USING (doc_id)
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def phrase_prefix_oracle_sql(
    phrase_text: str,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
    max_expansions: int = 8,
    table: str = "documents",
    content_col: str = "text",
) -> str:
    """DuckDB twin of ``InvertedIndex.phrase_prefix_topk``: the last-token
    expansions re-derived from the corpus (df desc, term asc, capped —
    identical to the engine's dictionary walk), windows counted where the
    fixed tokens are followed by any expansion, blended df -> one idf."""
    from smse_backend_spark.functions.tokenizer import tokenize_py

    terms = tokenize_py(phrase_text)
    if not terms:
        return f"SELECT doc_id, 0.0 AS score FROM {table} WHERE false"
    fixed, prefix = terms[:-1], terms[-1]
    L = len(terms)
    conds = [
        f"toks[i + {j}] = '" + t.replace("'", "''") + "'"
        for j, t in enumerate(fixed)
    ]
    conds.append(f"list_contains(expl.terms, toks[i + {L - 1}])")
    cond = " AND ".join(conds)
    where_lang = f"WHERE lang = '{lang}'" if lang is not None else ""
    toks = tokenize_duckdb_sql(content_col)
    pre = prefix.replace("'", "''")
    score = bm25_term_score_sql(
        "h.ptf", idf_sql("dfp.df", "stats.n"), "h.doc_len", "stats.avgdl"
    )
    return f"""
WITH docs AS (
  SELECT doc_id, {toks} AS toks FROM {table} {where_lang}
),
dl AS (
  SELECT doc_id, toks, len(toks)::BIGINT AS doc_len FROM docs
),
stats AS (
  SELECT count(*)::DOUBLE AS n, avg(doc_len) AS avgdl FROM dl
),
tok AS (
  SELECT doc_id, unnest(toks) AS term FROM dl
),
exp AS (
  SELECT term, count(DISTINCT doc_id)::BIGINT AS df
  FROM tok WHERE starts_with(term, '{pre}') GROUP BY term
  ORDER BY df DESC, term ASC LIMIT {int(max_expansions)}
),
expl AS (SELECT list(term) AS terms FROM exp),
pm AS (
  SELECT dl.doc_id, dl.doc_len,
         CASE WHEN dl.doc_len < {L} THEN 0 ELSE
           len(list_filter(generate_series(1, len(dl.toks) - {L - 1}),
                           i -> {cond}))
         END::BIGINT AS ptf
  FROM dl CROSS JOIN expl
),
h AS (SELECT doc_id, doc_len, ptf FROM pm WHERE ptf > 0),
dfp AS (SELECT count(*)::DOUBLE AS df FROM h)
SELECT h.doc_id AS doc_id, round({score}, 6) AS score
FROM h CROSS JOIN dfp CROSS JOIN stats
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def rescore_phrase_oracle_sql(
    query_text: str,
    phrase_text: str,
    window_size: int = 30,
    weight: float = 2.0,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
    table: str = "documents",
    content_col: str = "text",
) -> str:
    """DuckDB twin of ``InvertedIndex.rescore_phrase_topk``: the base
    BM25 top-``window_size`` window (rounded like the engine's
    ``scored_matches``) left-joined with the exact-phrase match scores
    (rounded like ``phrase_topk``), combined as
    ``base + weight * phrase`` through the half-up floor formula."""
    from smse_backend_spark.functions.tokenizer import tokenize_py

    terms = query_terms(query_text)
    if not terms:
        return f"SELECT doc_id, 0.0 AS score FROM {table} WHERE false"
    pterms = tokenize_py(phrase_text)
    if not pterms:
        raise ValueError("rescore oracle needs a non-empty phrase")
    L = len(pterms)
    in_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    cond = " AND ".join(
        f"toks[i + {j}] = '" + t.replace("'", "''") + "'"
        for j, t in enumerate(pterms)
    )
    where_lang = f"WHERE lang = '{lang}'" if lang is not None else ""
    toks = tokenize_duckdb_sql(content_col)
    base_score = bm25_term_score_sql(
        "tf.tf", idf_sql("dfq.df", "stats.n"), "tf.doc_len", "stats.avgdl"
    )
    p_score = bm25_term_score_sql(
        "h.ptf", idf_sql("dfp.df", "stats.n"), "h.doc_len", "stats.avgdl"
    )
    return f"""
WITH docs AS (
  SELECT doc_id, {toks} AS toks FROM {table} {where_lang}
),
dl AS (
  SELECT doc_id, toks, len(toks)::BIGINT AS doc_len FROM docs
),
stats AS (
  SELECT count(*)::DOUBLE AS n, avg(doc_len) AS avgdl FROM dl
),
tok AS (
  SELECT doc_id, doc_len, unnest(toks) AS term FROM dl
),
tf AS (
  SELECT doc_id, doc_len, term, count(*)::BIGINT AS tf
  FROM tok WHERE term IN ({in_list})
  GROUP BY doc_id, doc_len, term
),
dfq AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term
),
win AS (
  SELECT tf.doc_id AS doc_id, round(sum({base_score}), 6) AS score
  FROM tf JOIN dfq USING (term) CROSS JOIN stats
  GROUP BY tf.doc_id
  ORDER BY score DESC, doc_id ASC
  LIMIT {int(window_size)}
),
pm AS (
  SELECT doc_id, doc_len,
         CASE WHEN doc_len < {L} THEN 0 ELSE
           len(list_filter(generate_series(1, len(toks) - {L - 1}),
                           i -> {cond}))
         END::BIGINT AS ptf
  FROM dl
),
h AS (SELECT doc_id, doc_len, ptf FROM pm WHERE ptf > 0),
dfp AS (SELECT count(*)::DOUBLE AS df FROM h),
ph AS (
  SELECT h.doc_id AS doc_id, round({p_score}, 6) AS pscore
  FROM h CROSS JOIN dfp CROSS JOIN stats
)
SELECT win.doc_id AS doc_id,
       floor((win.score + {float(weight)} * coalesce(ph.pscore, 0.0)) * 1e6
             + 0.5) / 1e6 AS score
FROM win LEFT JOIN ph ON win.doc_id = ph.doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def bm25_fuzzy_oracle_sql(
    term: str,
    max_edits: int = 1,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
    max_expansions: int = 64,
    table: str = "documents",
    content_col: str = "text",
    transpositions: bool = False,
) -> str:
    """DuckDB twin of ``InvertedIndex.bm25_topk_fuzzy``: the expansion set
    (terms within Levenshtein distance ``max_edits``, ranked df desc /
    term asc, capped) is derived from the corpus itself — identical to the
    index dictionary by construction — then scored as the OR of the
    expanded terms. DuckDB's ``levenshtein`` computes the same
    unit-cost metric as Spark's expression and the driver-side DP;
    ``transpositions=True`` switches both sides to the unrestricted
    Damerau-Levenshtein metric (DuckDB ``damerau_levenshtein`` ==
    the engine's ``_damerau_levenshtein`` DP — property-tested)."""
    toks = query_terms(term)
    if len(toks) != 1:
        raise ValueError(f"fuzzy oracle takes exactly one term, got {toks!r}")
    esc = toks[0].replace("'", "''")
    distfn = "damerau_levenshtein" if transpositions else "levenshtein"
    where_lang = f"WHERE lang = '{lang}'" if lang is not None else ""
    toksql = tokenize_duckdb_sql(content_col)
    score = bm25_term_score_sql(
        "tf.tf", idf_sql("dfq.df", "stats.n"), "tf.doc_len", "stats.avgdl"
    )
    return f"""
WITH docs AS (
  SELECT doc_id, {toksql} AS toks FROM {table} {where_lang}
),
dl AS (
  SELECT doc_id, toks, len(toks)::BIGINT AS doc_len FROM docs
),
stats AS (
  SELECT count(*)::DOUBLE AS n, avg(doc_len) AS avgdl FROM dl
),
tok AS (
  SELECT doc_id, doc_len, unnest(toks) AS term FROM dl
),
exp AS (
  SELECT term FROM (
    SELECT term, count(DISTINCT doc_id) AS df
    FROM tok WHERE {distfn}(term, '{esc}') <= {max_edits} GROUP BY term
  ) ORDER BY df DESC, term ASC LIMIT {max_expansions}
),
tf AS (
  SELECT doc_id, doc_len, term, count(*)::BIGINT AS tf
  FROM tok JOIN exp USING (term)
  GROUP BY doc_id, doc_len, term
),
dfq AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term
)
SELECT tf.doc_id AS doc_id, round(sum({score}), 6) AS score
FROM tf JOIN dfq USING (term) CROSS JOIN stats
GROUP BY tf.doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def match_fuzzy_auto_oracle_sql(
    query_text: str,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
    max_expansions: int = 16,
    table: str = "documents",
    content_col: str = "text",
    transpositions: bool = True,
) -> str:
    """DuckDB twin of ``InvertedIndex.bm25_topk_match_fuzzy``: one
    df-ranked capped expansion subselect per analyzed token under its
    AUTO edit budget (0/1/2 by token length), UNION'd (set semantics,
    like the engine's term-set union), then OR-scored."""
    from smse_backend_spark.index.query import InvertedIndex

    toks = query_terms(query_text)
    if not toks:
        return f"SELECT doc_id, 0.0 AS score FROM {table} WHERE false"
    distfn = "damerau_levenshtein" if transpositions else "levenshtein"
    where_lang = f"WHERE lang = '{lang}'" if lang is not None else ""
    toksql = tokenize_duckdb_sql(content_col)
    branches = []
    for i, t in enumerate(toks):
        esc = t.replace("'", "''")
        budget = InvertedIndex.auto_fuzziness(t)
        if budget == 0:
            branches.append(f"SELECT '{esc}' AS term")
        else:
            # per-branch ORDER BY/LIMIT must be wrapped — a bare ORDER BY
            # inside a UNION branch would bind to the whole union
            branches.append(f"""SELECT term FROM (
    SELECT term FROM (
      SELECT term, count(DISTINCT doc_id) AS df
      FROM tok WHERE {distfn}(term, '{esc}') <= {budget} GROUP BY term
    ) ORDER BY df DESC, term ASC LIMIT {int(max_expansions)}
  ) x{i}""")
    exp = "\n  UNION\n  ".join(branches)
    score = bm25_term_score_sql(
        "tf.tf", idf_sql("dfq.df", "stats.n"), "tf.doc_len", "stats.avgdl"
    )
    return f"""
WITH docs AS (
  SELECT doc_id, {toksql} AS toks FROM {table} {where_lang}
),
dl AS (
  SELECT doc_id, toks, len(toks)::BIGINT AS doc_len FROM docs
),
stats AS (
  SELECT count(*)::DOUBLE AS n, avg(doc_len) AS avgdl FROM dl
),
tok AS (
  SELECT doc_id, doc_len, unnest(toks) AS term FROM dl
),
exp AS (
  {exp}
),
tf AS (
  SELECT doc_id, doc_len, term, count(*)::BIGINT AS tf
  FROM tok JOIN exp USING (term)
  GROUP BY doc_id, doc_len, term
),
dfq AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term
)
SELECT tf.doc_id AS doc_id, round(sum({score}), 6) AS score
FROM tf JOIN dfq USING (term) CROSS JOIN stats
GROUP BY tf.doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def bm25_prefix_oracle_sql(
    prefix: str,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
    max_expansions: int = 64,
    table: str = "documents",
    content_col: str = "text",
) -> str:
    """DuckDB twin of ``InvertedIndex.bm25_topk_prefix``: the expansion set
    (terms starting with the prefix, ranked df desc / term asc, capped) is
    derived from the corpus itself — identical to the index dictionary by
    construction — then scored as the OR of the expanded terms."""
    esc = prefix.replace("'", "''")
    where_lang = f"WHERE lang = '{lang}'" if lang is not None else ""
    toks = tokenize_duckdb_sql(content_col)
    score = bm25_term_score_sql(
        "tf.tf", idf_sql("dfq.df", "stats.n"), "tf.doc_len", "stats.avgdl"
    )
    return f"""
WITH docs AS (
  SELECT doc_id, {toks} AS toks FROM {table} {where_lang}
),
dl AS (
  SELECT doc_id, toks, len(toks)::BIGINT AS doc_len FROM docs
),
stats AS (
  SELECT count(*)::DOUBLE AS n, avg(doc_len) AS avgdl FROM dl
),
tok AS (
  SELECT doc_id, doc_len, unnest(toks) AS term FROM dl
),
exp AS (
  SELECT term FROM (
    SELECT term, count(DISTINCT doc_id) AS df
    FROM tok WHERE starts_with(term, '{esc}') GROUP BY term
  ) ORDER BY df DESC, term ASC LIMIT {max_expansions}
),
tf AS (
  SELECT doc_id, doc_len, term, count(*)::BIGINT AS tf
  FROM tok JOIN exp USING (term)
  GROUP BY doc_id, doc_len, term
),
dfq AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term
)
SELECT tf.doc_id AS doc_id, round(sum({score}), 6) AS score
FROM tf JOIN dfq USING (term) CROSS JOIN stats
GROUP BY tf.doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""

def bm25_regex_oracle_sql(
    pattern: str,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
    max_expansions: int = 64,
    table: str = "documents",
    content_col: str = "text",
) -> str:
    """DuckDB twin of ``InvertedIndex.bm25_topk_regex``: the expansion set
    (dictionary terms fully matching the pattern, ranked df desc / term
    asc, capped) is derived from the corpus itself, then OR-scored.
    Patterns must stay in the RE2-compatible subset (see
    ``InvertedIndex.expand_regex``)."""
    esc = pattern.replace("'", "''")
    where_lang = f"WHERE lang = '{lang}'" if lang is not None else ""
    toks = tokenize_duckdb_sql(content_col)
    score = bm25_term_score_sql(
        "tf.tf", idf_sql("dfq.df", "stats.n"), "tf.doc_len", "stats.avgdl"
    )
    return f"""
WITH docs AS (
  SELECT doc_id, {toks} AS toks FROM {table} {where_lang}
),
dl AS (
  SELECT doc_id, toks, len(toks)::BIGINT AS doc_len FROM docs
),
stats AS (
  SELECT count(*)::DOUBLE AS n, avg(doc_len) AS avgdl FROM dl
),
tok AS (
  SELECT doc_id, doc_len, unnest(toks) AS term FROM dl
),
exp AS (
  SELECT term FROM (
    SELECT term, count(DISTINCT doc_id) AS df
    FROM tok WHERE regexp_full_match(term, '{esc}') GROUP BY term
  ) ORDER BY df DESC, term ASC LIMIT {max_expansions}
),
tf AS (
  SELECT doc_id, doc_len, term, count(*)::BIGINT AS tf
  FROM tok JOIN exp USING (term)
  GROUP BY doc_id, doc_len, term
),
dfq AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term
)
SELECT tf.doc_id AS doc_id, round(sum({score}), 6) AS score
FROM tf JOIN dfq USING (term) CROSS JOIN stats
GROUP BY tf.doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def hit_count_oracle_sql(
    query_text: str,
    lang: str | None = None,
    table: str = "documents",
    content_col: str = "text",
) -> str:
    """DuckDB twin of ``InvertedIndex.count_matches``: distinct docs
    containing >= 1 query term."""
    terms = query_terms(query_text)
    if not terms:
        return "SELECT 0::BIGINT AS n_hits"
    in_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    where_lang = f"WHERE lang = '{lang}'" if lang is not None else ""
    toks = tokenize_duckdb_sql(content_col)
    return f"""
WITH docs AS (
  SELECT doc_id, {toks} AS toks FROM {table} {where_lang}
),
tok AS (
  SELECT doc_id, unnest(toks) AS term FROM docs
)
SELECT count(DISTINCT doc_id)::BIGINT AS n_hits
FROM tok WHERE term IN ({in_list})
"""


def facet_counts_oracle_sql(
    query_text: str,
    facet_cols: tuple[tuple[str, str], ...] = (("lang", "lang"), ("source", "repo")),
    lang: str | None = None,
    table: str = "documents",
    content_col: str = "text",
) -> str:
    """DuckDB twin of ``InvertedIndex.facet_counts``: doc counts per facet
    value combination over the query's OR match set. ``facet_cols`` is a
    tuple of (documents-table column, output alias) pairs — the aliases
    must match the engine-side corpus column names (``source`` -> ``repo``
    under the corpus mapping in :mod:`smse_backend_spark.corpus`)."""
    terms = query_terms(query_text)
    in_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    where_lang = f"WHERE lang = '{lang}'" if lang is not None else ""
    toks = tokenize_duckdb_sql(content_col)
    fsel = ", ".join(f"d.{c} AS {a}" for c, a in facet_cols)
    fgrp = ", ".join(f"d.{c}" for c, _a in facet_cols)
    ford = ", ".join(f"{a} ASC" for _c, a in facet_cols)
    return f"""
WITH docs AS (
  SELECT doc_id, {toks} AS toks FROM {table} {where_lang}
),
tok AS (
  SELECT doc_id, unnest(toks) AS term FROM docs
),
m AS (
  SELECT DISTINCT doc_id FROM tok WHERE term IN ({in_list})
)
SELECT {fsel}, count(*)::BIGINT AS n_docs
FROM {table} d JOIN m USING (doc_id)
GROUP BY {fgrp}
ORDER BY n_docs DESC, {ford}
"""


def more_like_this_oracle_sql(
    doc_id: int,
    k: int = DEFAULT_TOP_K,
    max_terms: int = 8,
    lang: str | None = None,
    table: str = "documents",
    content_col: str = "text",
    unlike_doc_id: int | None = None,
) -> str:
    """DuckDB twin of ``InvertedIndex.more_like_this``: select the source
    doc's top ``max_terms`` terms by 6dp-floored tf*idf (weight desc, term
    asc), score them as an OR query, exclude the source doc. The floored
    rounding (``floor(x*1e6+0.5)/1e6``) is written identically on both
    sides — exact cross-engine tie behavior in the term ranking."""
    where_lang = f"WHERE lang = '{lang}'" if lang is not None else ""
    toksql = tokenize_duckdb_sql(content_col)
    sel_idf = idf_sql("dfall.df", "stats.n")
    unlike_cut = (
        f" AND term NOT IN (SELECT term FROM tok"
        f" WHERE doc_id = {int(unlike_doc_id)})"
        if unlike_doc_id is not None else ""
    )
    score = bm25_term_score_sql(
        "tf.tf", idf_sql("dfq.df", "stats.n"), "tf.doc_len", "stats.avgdl"
    )
    return f"""
WITH docs AS (
  SELECT doc_id, {toksql} AS toks FROM {table} {where_lang}
),
dl AS (
  SELECT doc_id, toks, len(toks)::BIGINT AS doc_len FROM docs
),
stats AS (
  SELECT count(*)::DOUBLE AS n, avg(doc_len) AS avgdl FROM dl
),
tok AS (
  SELECT doc_id, doc_len, unnest(toks) AS term FROM dl
),
src AS (
  SELECT term, count(*)::BIGINT AS tf FROM tok
  WHERE doc_id = {doc_id}{unlike_cut} GROUP BY term
),
dfall AS (
  SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM tok
  WHERE term IN (SELECT term FROM src) GROUP BY term
),
sel AS (
  SELECT s.term
  FROM src s JOIN dfall USING (term) CROSS JOIN stats
  ORDER BY floor(s.tf * {sel_idf} * 1e6 + 0.5) / 1e6 DESC, s.term ASC
  LIMIT {max_terms}
),
tf AS (
  SELECT doc_id, doc_len, term, count(*)::BIGINT AS tf
  FROM tok JOIN sel USING (term)
  GROUP BY doc_id, doc_len, term
),
dfq AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term
)
SELECT tf.doc_id AS doc_id, round(sum({score}), 6) AS score
FROM tf JOIN dfq USING (term) CROSS JOIN stats
WHERE tf.doc_id != {doc_id}
GROUP BY tf.doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def near_oracle_sql(
    query_text: str,
    window: int,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
    table: str = "documents",
    content_col: str = "text",
    in_order: bool = False,
) -> str:
    """DuckDB twin of ``InvertedIndex.near_topk``: docs where every distinct
    query term occurs and some choice of one occurrence per term spans at
    most ``window`` tokens (``in_order`` adds the strictly-increasing
    query-order constraint); scored as the conjunctive BM25 sum (global
    df, full doc tf) restricted to the proximity match set."""
    terms = query_terms(query_text)
    if not terms:
        return f"SELECT doc_id, 0.0 AS score FROM {table} WHERE false"
    # in-order spans constrain the QUERY token sequence (order and
    # duplicates preserved — Lucene SpanNearQuery clause order); the
    # unordered window picks one occurrence per DISTINCT term.
    pos_terms = tokenize_py(query_text) if in_order else terms
    in_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    where_lang = f"WHERE lang = '{lang}'" if lang is not None else ""
    toksql = tokenize_duckdb_sql(content_col)
    score = bm25_term_score_sql(
        "tf.tf", idf_sql("dfq.df", "stats.n"), "tf.doc_len", "stats.avgdl"
    )
    pos_ctes = ",\n".join(
        f"""p{i} AS (
  SELECT doc_id, unnest(list_filter(generate_series(1, len(toks)),
                                    j -> toks[j] = '{t.replace("'", "''")}')) AS p
  FROM dl
)"""
        for i, t in enumerate(pos_terms)
    )
    join_chain = " ".join(
        f"JOIN p{i} USING (doc_id)" for i in range(1, len(pos_terms))
    )
    ps = ", ".join(f"p{i}.p" for i in range(len(pos_terms)))
    win = (
        f"greatest({ps}) - least({ps}) <= {window}"
        if len(pos_terms) > 1
        else "TRUE"
    )
    if in_order and len(pos_terms) > 1:
        chain = " AND ".join(
            f"p{i}.p < p{i + 1}.p" for i in range(len(pos_terms) - 1)
        )
        win = f"({win}) AND {chain}"
    return f"""
WITH docs AS (
  SELECT doc_id, {toksql} AS toks FROM {table} {where_lang}
),
dl AS (
  SELECT doc_id, toks, len(toks)::BIGINT AS doc_len FROM docs
),
stats AS (
  SELECT count(*)::DOUBLE AS n, avg(doc_len) AS avgdl FROM dl
),
tok AS (
  SELECT doc_id, doc_len, unnest(toks) AS term FROM dl
),
tf AS (
  SELECT doc_id, doc_len, term, count(*)::BIGINT AS tf
  FROM tok WHERE term IN ({in_list})
  GROUP BY doc_id, doc_len, term
),
dfq AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term
),
{pos_ctes},
m AS (
  SELECT DISTINCT p0.doc_id FROM p0 {join_chain} WHERE {win}
)
SELECT tf.doc_id AS doc_id, round(sum({score}), 6) AS score
FROM tf JOIN dfq USING (term) CROSS JOIN stats JOIN m ON tf.doc_id = m.doc_id
GROUP BY tf.doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def intervals_allof_oracle_sql(
    sources: list[list[str] | tuple[str, ...]],
    max_gaps: int = 0,
    ordered: bool = True,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
    table: str = "documents",
    content_col: str = "text",
    not_containing: list[str] | tuple[str, ...] | None = None,
) -> str:
    """DuckDB twin of ``InvertedIndex.intervals_allof_topk`` (and of
    :meth:`intervals_prefix_topk` — a source written ``"prefix:sc"``
    becomes a ``starts_with`` position predicate, the expansion
    re-derived from the corpus itself): one position CTE per source
    (the UNION of its alternatives' occurrences), the span-near window
    ``max_gaps + n_sources - 1`` with the optional strictly-increasing
    order chain, scored as the BM25 sum over the distinct member terms
    present in each matching doc. ``not_containing`` (the ES intervals
    ``filter`` rule / ``InvertedIndex.intervals_not_containing_topk``)
    adds a NOT EXISTS over the filter terms' positions inside each
    combo's [least, greatest] span — filter terms never enter the tf /
    df CTEs, so scoring is untouched."""
    def _is_rule(s) -> bool:
        return isinstance(s, str) and ":" in s

    srcs = [s if _is_rule(s) else tuple(dict.fromkeys(s))
            for s in sources if s]
    if not srcs:
        return f"SELECT doc_id, 0.0 AS score FROM {table} WHERE false"
    terms = sorted({t for s in srcs if not _is_rule(s) for t in s})

    def _rule_pred(s: str, col: str) -> str:
        from smse_backend_spark.index.query import (
            InvertedIndex,
            wildcard_to_regex,
        )

        kind, _, arg = s.partition(":")
        esc = arg.replace("'", "''")
        if kind == "prefix":
            return f"starts_with({col}, '{esc}')"
        if kind == "wildcard":
            rx = wildcard_to_regex(arg).replace("'", "''")
            return f"regexp_full_match({col}, '{rx}')"
        if kind == "fuzzy":
            b = InvertedIndex.auto_fuzziness(arg)
            return f"damerau_levenshtein({col}, '{esc}') <= {b}"
        raise ValueError(f"unknown intervals rule {kind!r}")

    window = int(max_gaps) + len(srcs) - 1
    tf_preds = []
    if terms:
        tf_preds.append(
            "term IN (" + ", ".join(
                "'" + t.replace("'", "''") + "'" for t in terms
            ) + ")"
        )
    tf_preds += [_rule_pred(s, "term") for s in srcs if _is_rule(s)]
    tf_where = " OR ".join(tf_preds)
    where_lang = f"WHERE lang = '{lang}'" if lang is not None else ""
    toksql = tokenize_duckdb_sql(content_col)
    score = bm25_term_score_sql(
        "tf.tf", idf_sql("dfq.df", "stats.n"), "tf.doc_len", "stats.avgdl"
    )

    def _pos_pred(s) -> str:
        if _is_rule(s):
            return _rule_pred(s, "toks[j]")
        alts = ", ".join("'" + t.replace("'", "''") + "'" for t in s)
        return f"toks[j] IN ({alts})"

    pos_ctes = ",\n".join(
        f"""p{i} AS (
  SELECT doc_id, unnest(list_filter(generate_series(1, len(toks)),
                                    j -> {_pos_pred(s)})) AS p
  FROM dl
)"""
        for i, s in enumerate(srcs)
    )
    join_chain = " ".join(
        f"JOIN p{i} USING (doc_id)" for i in range(1, len(srcs))
    )
    ps = ", ".join(f"p{i}.p" for i in range(len(srcs)))
    win = (
        f"greatest({ps}) - least({ps}) <= {window}"
        if len(srcs) > 1
        else "TRUE"
    )
    if ordered and len(srcs) > 1:
        chain = " AND ".join(
            f"p{i}.p < p{i + 1}.p" for i in range(len(srcs) - 1)
        )
        win = f"({win}) AND {chain}"
    pf_cte = ""
    if not_containing:
        falts = ", ".join(
            "'" + t.replace("'", "''") + "'"
            for t in sorted(set(not_containing))
        )
        pf_cte = f""",
pf AS (
  SELECT doc_id, unnest(list_filter(generate_series(1, len(toks)),
                                    j -> toks[j] IN ({falts}))) AS p
  FROM dl
)"""
        win = (
            f"({win}) AND NOT EXISTS ("
            f"SELECT 1 FROM pf WHERE pf.doc_id = p0.doc_id"
            f" AND pf.p BETWEEN least({ps}) AND greatest({ps}))"
        )
    return f"""
WITH docs AS (
  SELECT doc_id, {toksql} AS toks FROM {table} {where_lang}
),
dl AS (
  SELECT doc_id, toks, len(toks)::BIGINT AS doc_len FROM docs
),
stats AS (
  SELECT count(*)::DOUBLE AS n, avg(doc_len) AS avgdl FROM dl
),
tok AS (
  SELECT doc_id, doc_len, unnest(toks) AS term FROM dl
),
tf AS (
  SELECT doc_id, doc_len, term, count(*)::BIGINT AS tf
  FROM tok WHERE {tf_where}
  GROUP BY doc_id, doc_len, term
),
dfq AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term
),
{pos_ctes}{pf_cte},
m AS (
  SELECT DISTINCT p0.doc_id FROM p0 {join_chain} WHERE {win}
)
SELECT tf.doc_id AS doc_id, round(sum({score}), 6) AS score
FROM tf JOIN dfq USING (term) CROSS JOIN stats JOIN m ON tf.doc_id = m.doc_id
GROUP BY tf.doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def suggest_oracle_sql(
    term: str,
    max_edits: int = 2,
    n: int = 10,
    lang: str | None = None,
    table: str = "documents",
    content_col: str = "text",
    mode: str = "always",
) -> str:
    """DuckDB twin of ``InvertedIndex.suggest``: corpus-derived dictionary
    terms within Levenshtein ``max_edits``, ranked (dist asc, df desc,
    term asc), capped. ``mode='popular'`` keeps only candidates whose df
    strictly exceeds the input term's own df; ``mode='missing'`` (ES's
    default) suggests only when the input term is absent (ES
    suggest_mode)."""
    if mode not in ("always", "popular", "missing"):
        raise ValueError(f"unknown suggest_mode {mode!r}")
    toks = query_terms(term)
    if len(toks) != 1:
        raise ValueError(f"suggest oracle takes exactly one term, got {toks!r}")
    esc = toks[0].replace("'", "''")
    where_lang = f"WHERE lang = '{lang}'" if lang is not None else ""
    toksql = tokenize_duckdb_sql(content_col)
    popular = (
        f"\n  AND df > (SELECT coalesce(max(df), 0) FROM dict"
        f" WHERE term = '{esc}')"
        if mode == "popular" else ""
    )
    if mode == "missing":
        popular = (
            f"\n  AND NOT EXISTS (SELECT 1 FROM dict WHERE term = '{esc}')"
        )
    return f"""
WITH docs AS (
  SELECT doc_id, {toksql} AS toks FROM {table} {where_lang}
),
tok AS (
  SELECT doc_id, unnest(toks) AS term FROM docs
),
dict AS (
  SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM tok GROUP BY term
)
SELECT term, df, levenshtein(term, '{esc}')::INT AS dist
FROM dict
WHERE levenshtein(term, '{esc}') <= {max_edits}{popular}
ORDER BY dist ASC, df DESC, term ASC
LIMIT {n}
"""

def phrase_suggest_oracle_sql(
    text: str,
    max_edits: int = 1,
    per_term: int = 8,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
    table: str = "documents",
    content_col: str = "text",
) -> str:
    """DuckDB twin of ``InvertedIndex.phrase_suggest``: per-position
    candidate sets from the corpus-derived dictionary (Levenshtein <=
    ``max_edits``, ranked df desc / term asc, capped — identical to the
    fuzzy-expansion oracle), cross-producted into candidate phrases and
    scored by the corpus bigram counts (sum over adjacent pairs, exact
    integer), ordered (score desc, suggestion asc). Token order and
    duplicates are PRESERVED (positions are positions — the engine's
    ``_analyze_seq`` discipline), and the input is capped at 6 tokens
    like the engine."""
    toks = tokenize_py(text)
    if len(toks) < 2:
        raise ValueError(f"phrase-suggest oracle needs >= 2 tokens, got {toks!r}")
    if len(toks) > 6:
        raise ValueError(f"phrase-suggest oracle caps at 6 tokens, got {len(toks)}")
    where_lang = f"WHERE lang = '{lang}'" if lang is not None else ""
    toksql = tokenize_duckdb_sql(content_col)
    cand_ctes = []
    for i, t in enumerate(toks):
        esc = t.replace("'", "''")
        cand_ctes.append(f"""c{i} AS (
  SELECT term FROM (
    SELECT term, count(DISTINCT doc_id) AS df
    FROM tok WHERE levenshtein(term, '{esc}') <= {int(max_edits)} GROUP BY term
  ) ORDER BY df DESC, term ASC LIMIT {int(per_term)}
)""")
    sel = ", ".join(f"c{i}.term AS t{i}" for i in range(len(toks)))
    src = " CROSS JOIN ".join(f"c{i}" for i in range(len(toks)))
    sugg = " || ' ' || ".join(f"cand.t{i}" for i in range(len(toks)))
    joins = "\n".join(
        f"LEFT JOIN bg b{i} ON b{i}.a = cand.t{i} AND b{i}.b = cand.t{i + 1}"
        for i in range(len(toks) - 1)
    )
    score = " + ".join(f"coalesce(b{i}.n, 0)" for i in range(len(toks) - 1))
    ctes = ",\n".join(cand_ctes)
    return f"""
WITH docs AS (
  SELECT doc_id, {toksql} AS toks FROM {table} {where_lang}
),
tok AS (
  SELECT doc_id, unnest(toks) AS term FROM docs
),
bg AS (
  SELECT toks[i] AS a, toks[i + 1] AS b, count(*)::BIGINT AS n
  FROM docs, unnest(range(1, len(toks))) AS u(i)
  WHERE len(toks) >= 2 GROUP BY 1, 2
),
{ctes},
cand AS (SELECT {sel} FROM {src})
SELECT {sugg} AS suggestion, ({score})::BIGINT AS score
FROM cand
{joins}
ORDER BY score DESC, suggestion ASC
LIMIT {k}
"""


def complete_oracle_sql(
    prefix: str,
    n: int = 10,
    lang: str | None = None,
    table: str = "documents",
    content_col: str = "text",
) -> str:
    """DuckDB twin of ``InvertedIndex.complete``: collection frequency
    (total occurrences) per prefix-matching term from a full re-tokenize,
    ranked (cf desc, term asc), capped."""
    toks = query_terms(prefix)
    if len(toks) != 1 or toks[0] != prefix:
        raise ValueError(
            f"complete oracle takes one analyzed token, got {prefix!r}"
        )
    esc = prefix.replace("'", "''")
    where_lang = f"WHERE lang = '{lang}'" if lang is not None else ""
    toksql = tokenize_duckdb_sql(content_col)
    return f"""
WITH docs AS (
  SELECT {toksql} AS toks FROM {table} {where_lang}
),
tok AS (
  SELECT unnest(toks) AS term FROM docs
)
SELECT term, count(*)::BIGINT AS cf
FROM tok
WHERE starts_with(term, '{esc}')
GROUP BY term
ORDER BY cf DESC, term ASC
LIMIT {n}
"""


def sliced_hits_oracle_sql(
    query_text: str,
    slice_id: int,
    max_slices: int,
    n: int = 1000,
    lang: str | None = None,
    table: str = "documents",
    content_col: str = "text",
) -> str:
    """DuckDB twin of ``InvertedIndex.sliced_hits``: conjunctive match
    set, the shared sha256-u60 hash modulo ``max_slices``, doc_id
    export order."""
    from smse_backend_spark.index.query import SLICE_SALT
    from smse_backend_spark.operators.sampling import _hash_u60_sql

    terms = sorted(set(query_terms(query_text)))
    if not terms:
        return f"SELECT doc_id, 0 AS slice FROM {table} WHERE false"
    where_lang = f"AND lang = '{lang}'" if lang is not None else ""
    toks = tokenize_duckdb_sql(content_col)
    conj = " AND ".join(
        f"list_contains({toks}, '" + t.replace("'", "''") + "')"
        for t in terms
    )
    h = _hash_u60_sql("doc_id", SLICE_SALT)
    return f"""
SELECT doc_id, {int(slice_id)} AS slice
FROM {table}
WHERE {conj} {where_lang}
  AND ({h} % {int(max_slices)}) = {int(slice_id)}
ORDER BY doc_id ASC
LIMIT {int(n)}
"""


def complete_fuzzy_oracle_sql(
    prefix: str,
    n: int = 10,
    lang: str | None = None,
    fuzziness: int = 1,
    prefix_length: int = 1,
    table: str = "documents",
    content_col: str = "text",
) -> str:
    """DuckDB twin of ``InvertedIndex.complete_fuzzy``: per-term best
    Levenshtein distance over the candidate prefix lengths
    ``len(input) ± fuzziness`` (DuckDB's ``levenshtein`` is the same
    unrestricted metric as the engine's band helper), exact
    ``prefix_length`` head, ranked (dist asc, cf desc, term asc)."""
    toks = query_terms(prefix)
    if len(toks) != 1 or toks[0] != prefix:
        raise ValueError(
            f"complete_fuzzy oracle takes one analyzed token, got {prefix!r}"
        )
    f, pl = int(fuzziness), int(prefix_length)
    L = len(prefix)
    esc = prefix.replace("'", "''")
    head = esc[:pl]
    where_lang = f"WHERE lang = '{lang}'" if lang is not None else ""
    toksql = tokenize_duckdb_sql(content_col)
    dist = "least(" + ", ".join(
        f"CASE WHEN len(term) >= {Lp} "
        f"THEN levenshtein(substr(term, 1, {Lp}), '{esc}') "
        f"ELSE {1 << 30} END"
        for Lp in range(max(1, L - f), L + f + 1)
    ) + ")"
    return f"""
WITH docs AS (
  SELECT {toksql} AS toks FROM {table} {where_lang}
),
tok AS (
  SELECT unnest(toks) AS term FROM docs
),
cf AS (
  SELECT term, count(*)::BIGINT AS cf FROM tok
  WHERE substr(term, 1, {pl}) = '{head}'
  GROUP BY term
)
SELECT term, {dist}::BIGINT AS dist, cf
FROM cf
WHERE {dist} <= {f}
ORDER BY dist ASC, cf DESC, term ASC
LIMIT {n}
"""


def snippets_for_hits(
    corpus: DataFrame,
    topk_rows: list,
    ordered_terms: list[str],
    window: int = 3,
    lang: str | None = None,
) -> DataFrame:
    """(doc_id, score, snippet) for an already-collected top-k hit list.

    The corpus read is PRUNED to the k hit doc_ids (an ``isin`` filter the
    parquet scan turns into row-group pruning), so only k documents are
    ever tokenized regardless of corpus size. ``ordered_terms`` is the
    rarest-first pick order (df asc, term asc — computed by the caller
    from scan stats or the index dictionary); everything after
    tokenization is JVM Column algebra (array_position / slice /
    transform) — no UDF.

    Snippet rule (deterministic on both engines): among the query terms
    present in the doc, pick the rarest; the snippet is the token window
    ``[p-window, p+window]`` around that term's FIRST occurrence, with
    every occurrence of the term inside the window wrapped in ``<em>``.
    """
    spark = corpus.sparkSession
    if not topk_rows or not ordered_terms:
        return local_frame(spark, "doc_id long, score double, snippet string")
    if lang is not None:
        corpus = corpus.filter(F.col("lang") == lang)
    ids = [int(r["doc_id"]) for r in topk_rows]
    hits = F.broadcast(
        spark.createDataFrame(
            [(int(r["doc_id"]), float(r["score"])) for r in topk_rows],
            "doc_id long, score double",
        )
    )
    toks_df = corpus.filter(F.col("doc_id").isin(ids)).select(
        "doc_id", tokenize_col("content").alias("toks")
    )
    chosen = F.coalesce(
        *[F.when(F.array_contains("toks", t), F.lit(t)) for t in ordered_terms]
    )
    joined = toks_df.join(hits, "doc_id").withColumn("pick", chosen)
    p = F.array_position("toks", F.col("pick"))
    lo = F.greatest(F.lit(1), p - window)
    length = p + window - lo + 1
    win = F.slice("toks", lo, length)
    snippet = F.array_join(
        F.transform(
            win,
            lambda x: F.when(
                x == F.col("pick"), F.concat(F.lit("<em>"), x, F.lit("</em>"))
            ).otherwise(x),
        ),
        " ",
    )
    return (
        joined.select("doc_id", "score", snippet.alias("snippet"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


def highlight_snippets(
    corpus: DataFrame,
    topk: DataFrame,
    query_text: str,
    window: int = 3,
    lang: str | None = None,
) -> DataFrame:
    """Attach a highlighted token-window snippet to each top-k hit:
    (doc_id, score, snippet) — the search-results display shape. Snippet
    semantics in :func:`snippets_for_hits`.

    Plan (scan mode): ONE full tokenize pass computes the query-term dfs
    for the rarest-term pick; the snippet pass then reads only the k hit
    documents (doc-id-pruned scan). The k-row ``topk`` frame is collected
    (bounded) so its plan is never re-executed. The index path
    (:meth:`InvertedIndex.highlight_snippets`) drops the df pass too —
    dfs come from the dictionary.
    """
    terms = query_terms(query_text)
    empty = local_frame(corpus.sparkSession, "doc_id long, score double, snippet string")
    if not terms:
        return empty
    scan = corpus.filter(F.col("lang") == lang) if lang is not None else corpus
    dfs = {
        r["term"]: r["df"]
        for r in scan.select(
            F.explode(
                F.array_distinct(tokenize_col("content"))
            ).alias("term")
        )
        .filter(F.col("term").isin(terms))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .collect()
    }
    ordered = sorted((t for t in terms if t in dfs), key=lambda t: (dfs[t], t))
    return snippets_for_hits(corpus, topk.collect(), ordered, window, lang)


def highlight_snippets_oracle_sql(
    query_text: str,
    k: int = DEFAULT_TOP_K,
    window: int = 3,
    lang: str | None = None,
    table: str = "documents",
    content_col: str = "text",
) -> str:
    """DuckDB twin of ``highlight_snippets`` over the scan top-k: same
    rarest-term pick (df asc, term asc), same first-occurrence token
    window, same <em> marking."""
    terms = query_terms(query_text)
    if not terms:
        return f"SELECT doc_id, 0.0 AS score, NULL AS snippet FROM {table} WHERE false"
    in_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    where_lang = f"WHERE lang = '{lang}'" if lang is not None else ""
    toksql = tokenize_duckdb_sql(content_col)
    score = bm25_term_score_sql(
        "tf.tf", idf_sql("dfq.df", "stats.n"), "tf.doc_len", "stats.avgdl"
    )
    return f"""
WITH docs AS (
  SELECT doc_id, {toksql} AS toks FROM {table} {where_lang}
),
dl AS (
  SELECT doc_id, toks, len(toks)::BIGINT AS doc_len FROM docs
),
stats AS (
  SELECT count(*)::DOUBLE AS n, avg(doc_len) AS avgdl FROM dl
),
tok AS (
  SELECT doc_id, doc_len, unnest(toks) AS term FROM dl
),
tf AS (
  SELECT doc_id, doc_len, term, count(*)::BIGINT AS tf
  FROM tok WHERE term IN ({in_list})
  GROUP BY doc_id, doc_len, term
),
dfq AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term
),
topk AS (
  SELECT tf.doc_id AS doc_id, round(sum({score}), 6) AS score
  FROM tf JOIN dfq USING (term) CROSS JOIN stats
  GROUP BY tf.doc_id
  ORDER BY score DESC, doc_id ASC
  LIMIT {k}
),
pick AS (
  SELECT doc_id, term,
         row_number() OVER (PARTITION BY doc_id ORDER BY df ASC, term ASC) AS rn
  FROM tf JOIN dfq USING (term)
),
snip AS (
  SELECT t.doc_id, t.score, p.term,
         list_position(d.toks, p.term) AS pos, d.toks
  FROM topk t JOIN pick p ON t.doc_id = p.doc_id AND p.rn = 1
  JOIN dl d ON d.doc_id = t.doc_id
)
SELECT doc_id, score,
       array_to_string(
         list_transform(
           toks[greatest(1, pos - {window}) : pos + {window}],
           x -> CASE WHEN x = term THEN '<em>' || x || '</em>' ELSE x END
         ), ' '
       ) AS snippet
FROM snip
ORDER BY score DESC, doc_id ASC
"""


def explain_scores_oracle_sql(
    query_text: str,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
    table: str = "documents",
    content_col: str = "text",
) -> str:
    """DuckDB twin of ``InvertedIndex.explain_scores``: per-(doc, term)
    BM25 contribution rows for the top-k docs, idf/contrib floored-half-
    rounded to 6dp identically on both engines."""
    terms = query_terms(query_text)
    if not terms:
        return (
            "SELECT doc_id, '' AS term, 0::BIGINT AS tf, 0.0 AS idf, "
            f"0.0 AS contrib, 0.0 AS score FROM {table} WHERE false"
        )
    in_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    where_lang = f"WHERE lang = '{lang}'" if lang is not None else ""
    toksql = tokenize_duckdb_sql(content_col)
    idf = idf_sql("dfq.df", "stats.n")
    score = bm25_term_score_sql("tf.tf", idf, "tf.doc_len", "stats.avgdl")
    return f"""
WITH docs AS (
  SELECT doc_id, {toksql} AS toks FROM {table} {where_lang}
),
dl AS (
  SELECT doc_id, toks, len(toks)::BIGINT AS doc_len FROM docs
),
stats AS (
  SELECT count(*)::DOUBLE AS n, avg(doc_len) AS avgdl FROM dl
),
tok AS (
  SELECT doc_id, doc_len, unnest(toks) AS term FROM dl
),
tf AS (
  SELECT doc_id, doc_len, term, count(*)::BIGINT AS tf
  FROM tok WHERE term IN ({in_list})
  GROUP BY doc_id, doc_len, term
),
dfq AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term
),
c AS (
  SELECT tf.doc_id AS doc_id, tf.term AS term, tf.tf AS tf,
         {idf} AS idf, {score} AS contrib
  FROM tf JOIN dfq USING (term) CROSS JOIN stats
),
tot AS (
  SELECT doc_id, round(sum(contrib), 6) AS score
  FROM c GROUP BY doc_id
  ORDER BY score DESC, doc_id ASC
  LIMIT {k}
)
SELECT c.doc_id AS doc_id, c.term AS term, c.tf AS tf,
       floor(c.idf * 1e6 + 0.5) / 1e6 AS idf,
       floor(c.contrib * 1e6 + 0.5) / 1e6 AS contrib,
       t.score AS score
FROM c JOIN tot t USING (doc_id)
ORDER BY score DESC, doc_id ASC, term ASC
"""


def bm25_synonyms_oracle_sql(
    groups: list[list[str] | str],
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
    table: str = "documents",
    content_col: str = "text",
) -> str:
    """DuckDB twin of ``InvertedIndex.bm25_topk_synonyms``: each group is
    one pseudo-term — tf summed over the group per doc, idf from the MAX
    per-term df in the group (Lucene SynonymQuery's blended docFreq)."""
    norm: list[list[str]] = []
    for g in groups:
        raws = g if isinstance(g, (list, tuple)) else [g]
        terms = sorted({t for raw in raws for t in query_terms(raw)})
        if terms:
            norm.append(terms)
    flat = [t for g in norm for t in g]
    if len(flat) != len(set(flat)):
        raise ValueError(f"synonym groups must be disjoint, got {norm!r}")
    if not flat:
        return f"SELECT doc_id, 0.0 AS score FROM {table} WHERE false"
    in_list = ", ".join("'" + t.replace("'", "''") + "'" for t in flat)
    gvals = ", ".join(
        f"('{t.replace(chr(39), chr(39) * 2)}', {gi})"
        for gi, g in enumerate(norm)
        for t in g
    )
    where_lang = f"WHERE lang = '{lang}'" if lang is not None else ""
    toksql = tokenize_duckdb_sql(content_col)
    score = bm25_term_score_sql(
        "gtf.tf", idf_sql("gdf.df", "stats.n"), "gtf.doc_len", "stats.avgdl"
    )
    return f"""
WITH docs AS (
  SELECT doc_id, {toksql} AS toks FROM {table} {where_lang}
),
dl AS (
  SELECT doc_id, toks, len(toks)::BIGINT AS doc_len FROM docs
),
stats AS (
  SELECT count(*)::DOUBLE AS n, avg(doc_len) AS avgdl FROM dl
),
tok AS (
  SELECT doc_id, doc_len, unnest(toks) AS term FROM dl
),
tf AS (
  SELECT doc_id, doc_len, term, count(*)::BIGINT AS tf
  FROM tok WHERE term IN ({in_list})
  GROUP BY doc_id, doc_len, term
),
gmap AS (SELECT * FROM (VALUES {gvals}) AS g(term, gid)),
dft AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term
),
gdf AS (
  SELECT gid, max(df) AS df FROM dft JOIN gmap USING (term) GROUP BY gid
),
gtf AS (
  SELECT doc_id, doc_len, gid, sum(tf)::BIGINT AS tf
  FROM tf JOIN gmap USING (term)
  GROUP BY doc_id, doc_len, gid
)
SELECT gtf.doc_id AS doc_id, round(sum({score}), 6) AS score
FROM gtf JOIN gdf USING (gid) CROSS JOIN stats
GROUP BY gtf.doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def bm25_boost_case_sql(boosts: dict[str, float]) -> str:
    """SQL CASE expression mapping a term to its boost (1.0 default)."""
    whens = " ".join(
        f"WHEN '{t}' THEN {float(w)!r}" for t, w in sorted(boosts.items())
    )
    return f"(CASE term {whens} ELSE 1.0 END)"


def bm25_boosted_oracle_sql(
    boosts: dict[str, float],
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
    table: str = "documents",
    content_col: str = "text",
) -> str:
    """DuckDB twin of ``InvertedIndex.bm25_topk_boosted``: per-term boost
    multiplies the term's BM25 contribution (Lucene ``term^boost``)."""
    terms = sorted({t for raw in boosts for t in query_terms(raw)})
    if not terms:
        return f"SELECT doc_id, 0.0 AS score FROM {table} WHERE false"
    in_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    where_lang = f"WHERE lang = '{lang}'" if lang is not None else ""
    toksql = tokenize_duckdb_sql(content_col)
    boost = bm25_boost_case_sql(
        {t: w for raw, w in boosts.items() for t in query_terms(raw)}
    )
    # boost*idf is grouped FIRST — the engine scales the idf dict before
    # scoring, so the oracle must associate identically for 6dp parity
    score = bm25_term_score_sql(
        "tf.tf",
        f"({boost} * {idf_sql('dfq.df', 'stats.n')})",
        "tf.doc_len",
        "stats.avgdl",
    )
    return f"""
WITH docs AS (
  SELECT doc_id, {toksql} AS toks FROM {table} {where_lang}
),
dl AS (
  SELECT doc_id, toks, len(toks)::BIGINT AS doc_len FROM docs
),
stats AS (
  SELECT count(*)::DOUBLE AS n, avg(doc_len) AS avgdl FROM dl
),
tok AS (
  SELECT doc_id, doc_len, unnest(toks) AS term FROM dl
),
tf AS (
  SELECT doc_id, doc_len, term, count(*)::BIGINT AS tf
  FROM tok WHERE term IN ({in_list})
  GROUP BY doc_id, doc_len, term
),
dfq AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term
)
SELECT tf.doc_id AS doc_id, round(sum({score}), 6) AS score
FROM tf JOIN dfq USING (term) CROSS JOIN stats
GROUP BY tf.doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def pinned_topk(
    corpus: DataFrame,
    query_text: str,
    pinned_ids: list[int],
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
) -> DataFrame:
    """ES ``pinned`` query: editorially promoted docs rank first, in the
    given order, ahead of the organic BM25 results — the merchandising /
    "official docs first" primitive. Pinned docs appear whether or not
    they match the text query (ES semantics), but only if they exist in
    the (lang-filtered) corpus; organic results exclude them.

    Scores follow ES's trick of synthetic descending sentinels for the
    pinned block: 1e9 - position (ES uses 1.7014122e38 - rank; any value
    above every possible BM25 score works and keeps (score desc, doc_id)
    a total order).

    Scale shape: the pinned list is a broadcast literal frame joined
    against the column-pruned doc_id projection (existence check); the
    organic side is the standard scan minus an isin filter. One union,
    one TakeOrderedAndProject.
    """
    if lang is not None:
        corpus = corpus.filter(F.col("lang") == lang)
    spark = corpus.sparkSession
    pinned_df = spark.createDataFrame(
        [(int(d), 1e9 - i) for i, d in enumerate(pinned_ids)],
        "doc_id long, score double",
    )
    present = corpus.select("doc_id").join(F.broadcast(pinned_df), "doc_id")
    organic = (
        bm25_scored_scan(corpus, query_text)
        .filter(~F.col("doc_id").isin([int(d) for d in pinned_ids]))
        .select("doc_id", "score")
    )
    return (
        present.select("doc_id", "score")
        .unionByName(organic)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def pinned_oracle_sql(
    query_text: str,
    pinned_ids: list[int],
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
    table: str = "documents",
    content_col: str = "text",
) -> str:
    """DuckDB twin of :func:`pinned_topk` (same sentinel scores)."""
    ids = ", ".join(str(int(d)) for d in pinned_ids)
    vals = ", ".join(
        f"({int(d)}, {1e9 - i!r})" for i, d in enumerate(pinned_ids)
    )
    where_lang = f"AND d.lang = '{lang}'" if lang is not None else ""
    scored = bm25_scan_oracle_sql(
        query_text, _ALL_ROWS, lang, table, content_col,
        exclude_where=f"tf.doc_id NOT IN ({ids})",
    )
    return f"""
WITH organic AS ({scored}),
pinned AS (
  SELECT v.doc_id, v.score
  FROM (VALUES {vals}) v(doc_id, score)
  JOIN {table} d ON d.doc_id = v.doc_id {where_lang}
)
SELECT doc_id, score FROM (
  SELECT doc_id, score FROM pinned
  UNION ALL
  SELECT doc_id, score FROM organic
)
ORDER BY score DESC, doc_id ASC
LIMIT {int(k)}
"""


def distance_feature_topk(
    corpus: DataFrame,
    query_text: str,
    origin: int = 200,
    pivot: int = 50,
    boost: float = 2.0,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
) -> DataFrame:
    """ES ``distance_feature`` query: an ADDITIVE proximity boost toward
    an origin on a numeric doc-value (recency / geo stand-in: content
    length):

        dist  = |x - origin|
        final = floor((bm25 + boost * pivot / (pivot + dist)) * 1e6
                      + 0.5) / 1e6

    The additive cousin of ``function_score``'s multiplicative decay and
    of ``rank_feature``'s saturation — a doc at the origin gains the full
    ``boost``, one ``pivot`` away gains ``boost/2``. x, origin, pivot are
    integers, so the feature is one double division (exact cross-engine).

    Scale shape: identical to :func:`rank_feature_topk` — a column-pruned
    (doc_id, x) join against the match set, blend before the top-k cut.
    """
    scored = bm25_scored_scan(corpus, query_text, lang).select("doc_id", "score")
    vals = corpus.select("doc_id", F.length("content").cast("long").alias("x"))
    dist = F.abs(F.col("x") - F.lit(int(origin)))
    feat = F.lit(float(boost)) * (
        F.lit(int(pivot)).cast("double") / (F.lit(int(pivot)) + dist).cast("double")
    )
    blended = F.col("score") + feat
    return (
        scored.join(vals, "doc_id")
        .select(
            "doc_id",
            (F.floor(blended * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def distance_feature_oracle_sql(
    query_text: str,
    origin: int = 200,
    pivot: int = 50,
    boost: float = 2.0,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
    table: str = "documents",
    content_col: str = "text",
) -> str:
    """DuckDB twin of :func:`distance_feature_topk`."""
    scored = bm25_scan_oracle_sql(query_text, _ALL_ROWS, lang, table, content_col)
    return f"""
WITH scored AS ({scored})
SELECT s.doc_id AS doc_id,
       floor((s.score + {float(boost)!r} *
              ({int(pivot)}::DOUBLE
               / ({int(pivot)} + abs(length(d.{content_col}) - {int(origin)}))::DOUBLE))
             * 1e6 + 0.5) / 1e6 AS score
FROM scored s JOIN {table} d USING (doc_id)
ORDER BY score DESC, doc_id ASC
LIMIT {int(k)}
"""


def terms_set_topk(
    corpus: DataFrame,
    query_text: str,
    chars_per_required: int = 150,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
) -> DataFrame:
    """ES ``terms_set`` query: a doc matches when it contains at least
    ``required(doc)`` of the query terms, where the requirement comes
    from a PER-DOC numeric field (ES ``minimum_should_match_field``) —
    unlike ``minimum_should_match``, which is one global constant. Here
    the field is derived from the stored length doc-value:

        required(doc) = least(|terms|, 1 + n_chars // chars_per_required)

    (longer docs must match more terms — the anti-keyword-stuffing use
    ES documents). Scoring is the standard BM25 sum of matched terms.

    Scale shape: ``bm25_scored_scan`` already carries nmatch; the
    requirement is a column-pruned (doc_id, x) join + one integer
    compare — no new aggregation.
    """
    n_terms = len(query_terms(query_text))
    scored = bm25_scored_scan(corpus, query_text, lang)
    vals = corpus.select("doc_id", F.length("content").cast("long").alias("x"))
    required = F.least(
        F.lit(n_terms).cast("long"),
        F.lit(1) + (F.col("x") / F.lit(int(chars_per_required))).cast("long"),
    )
    return (
        scored.join(vals, "doc_id")
        .filter(F.col("nmatch") >= required)
        .select("doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def terms_set_oracle_sql(
    query_text: str,
    chars_per_required: int = 150,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
    table: str = "documents",
    content_col: str = "text",
) -> str:
    """DuckDB twin of :func:`terms_set_topk` (same floor division — Spark
    long division truncates, so the SQL uses // semantics via floor)."""
    n_terms = len(query_terms(query_text))
    scored = bm25_scan_oracle_sql(
        query_text, _ALL_ROWS, lang, table, content_col, with_nmatch=True
    )
    return f"""
WITH scored AS ({scored})
SELECT s.doc_id AS doc_id, s.score AS score
FROM scored s JOIN {table} d USING (doc_id)
WHERE s.nmatch >= least({n_terms},
                        1 + length(d.{content_col}) // {int(chars_per_required)})
ORDER BY score DESC, doc_id ASC
LIMIT {int(k)}
"""


def match_bool_prefix_oracle_sql(
    query_text: str,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
    max_expansions: int = 16,
    table: str = "documents",
    content_col: str = "text",
) -> str:
    """DuckDB twin of ``InvertedIndex.bm25_topk_bool_prefix``: the last
    analyzed token's expansion set (starts_with, df desc / term asc,
    capped — identical to the dictionary by construction) UNIONed with
    the fixed leading terms, scored as a plain BM25 OR."""
    seq = tokenize_py(query_text)
    if not seq:
        return f"SELECT doc_id, 0.0 AS score FROM {table} WHERE false"
    fixed, last = seq[:-1], seq[-1]
    esc = last.replace("'", "''")
    fixed_sel = (
        "SELECT unnest(["
        + ", ".join("'" + t.replace("'", "''") + "'" for t in sorted(set(fixed)))
        + "]) AS term"
        if fixed
        else "SELECT term FROM (VALUES ('')) v(term) WHERE false"
    )
    where_lang = f"WHERE lang = '{lang}'" if lang is not None else ""
    toks = tokenize_duckdb_sql(content_col)
    score = bm25_term_score_sql(
        "tf.tf", idf_sql("dfq.df", "stats.n"), "tf.doc_len", "stats.avgdl"
    )
    return f"""
WITH docs AS (
  SELECT doc_id, {toks} AS toks FROM {table} {where_lang}
),
dl AS (
  SELECT doc_id, toks, len(toks)::BIGINT AS doc_len FROM docs
),
stats AS (
  SELECT count(*)::DOUBLE AS n, avg(doc_len) AS avgdl FROM dl
),
tok AS (
  SELECT doc_id, doc_len, unnest(toks) AS term FROM dl
),
exp AS (
  SELECT term FROM (
    SELECT term, count(DISTINCT doc_id) AS df
    FROM tok WHERE starts_with(term, '{esc}') GROUP BY term
  ) ORDER BY df DESC, term ASC LIMIT {int(max_expansions)}
),
qterms AS (
  SELECT term FROM exp UNION {fixed_sel}
),
tf AS (
  SELECT doc_id, doc_len, term, count(*)::BIGINT AS tf
  FROM tok JOIN qterms USING (term)
  GROUP BY doc_id, doc_len, term
),
dfq AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term
)
SELECT tf.doc_id AS doc_id, round(sum({score}), 6) AS score
FROM tf JOIN dfq USING (term) CROSS JOIN stats
GROUP BY tf.doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {int(k)}
"""


def span_first_oracle_sql(
    term_text: str,
    end: int,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
    table: str = "documents",
    content_col: str = "text",
) -> str:
    """DuckDB twin of ``InvertedIndex.span_first_topk``: span tf counted
    over the first ``end`` tokens, span df drives a single idf, BM25
    normalization against the FULL doc length — the
    :func:`bm25_phrase_oracle_sql` pattern with the boundary check in
    place of adjacency."""
    terms = tokenize_py(term_text)
    if len(terms) != 1:
        raise ValueError(f"span_first takes exactly one term, got {terms!r}")
    t = terms[0].replace("'", "''")
    where_lang = f"WHERE lang = '{lang}'" if lang is not None else ""
    toks = tokenize_duckdb_sql(content_col)
    score = bm25_term_score_sql(
        "h.stf", idf_sql("dfp.df", "stats.n"), "h.doc_len", "stats.avgdl"
    )
    return f"""
WITH docs AS (
  SELECT doc_id, {toks} AS toks FROM {table} {where_lang}
),
dl AS (
  SELECT doc_id, toks, len(toks)::BIGINT AS doc_len FROM docs
),
stats AS (
  SELECT count(*)::DOUBLE AS n, avg(doc_len) AS avgdl FROM dl
),
sm AS (
  SELECT doc_id, doc_len,
         len(list_filter(toks[1:{int(end)}], x -> x = '{t}'))::BIGINT AS stf
  FROM dl
),
h AS (SELECT doc_id, doc_len, stf FROM sm WHERE stf > 0),
dfp AS (SELECT count(*)::DOUBLE AS df FROM h)
SELECT h.doc_id AS doc_id, round({score}, 6) AS score
FROM h CROSS JOIN dfp CROSS JOIN stats
ORDER BY score DESC, doc_id ASC
LIMIT {int(k)}
"""


def classic_tfidf_oracle_sql(
    query_text: str,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
    table: str = "documents",
    content_col: str = "text",
) -> str:
    """DuckDB twin of ``InvertedIndex.classic_tfidf_topk``: the
    ClassicSimilarity formula written with the identical parenthesization
    (sqrt(tf) * (idf*idf) / sqrt(dl), idf = 1 + ln((N+1)/(df+1)))."""
    terms = query_terms(query_text)
    if not terms:
        return f"SELECT doc_id, 0.0 AS score FROM {table} WHERE false"
    in_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    where_lang = f"WHERE lang = '{lang}'" if lang is not None else ""
    toksql = tokenize_duckdb_sql(content_col)
    idf = "(1.0 + ln((stats.n + 1.0) / (dfq.df + 1.0)))"
    score = (f"sqrt(tf.tf::DOUBLE) * ({idf} * {idf}) "
             f"/ sqrt(tf.doc_len::DOUBLE)")
    return f"""
WITH docs AS (
  SELECT doc_id, {toksql} AS toks FROM {table} {where_lang}
),
dl AS (
  SELECT doc_id, toks, len(toks)::BIGINT AS doc_len FROM docs
),
stats AS (
  SELECT count(*)::DOUBLE AS n FROM dl
),
tok AS (
  SELECT doc_id, doc_len, unnest(toks) AS term FROM dl
),
tf AS (
  SELECT doc_id, doc_len, term, count(*)::BIGINT AS tf
  FROM tok WHERE term IN ({in_list})
  GROUP BY doc_id, doc_len, term
),
dfq AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term
)
SELECT tf.doc_id AS doc_id, round(sum({score}), 6) AS score
FROM tf JOIN dfq USING (term) CROSS JOIN stats
GROUP BY tf.doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {int(k)}
"""


def synonym_query_oracle_sql(
    groups: list[list[str]],
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
    table: str = "documents",
    content_col: str = "text",
) -> str:
    """DuckDB twin of ``InvertedIndex.synonym_query_topk``: per-doc group
    tf = sum of member tfs, group df = max of member dfs (each member's
    df = docs containing it), single idf per group, OR-sum of group
    scores."""
    members: list[tuple[str, int]] = []
    for gid, grp in enumerate(groups):
        for raw in grp:
            toks = query_terms(raw)
            if len(toks) != 1:
                raise ValueError(
                    f"synonym group members must be single terms, got {raw!r}"
                )
            members.append((toks[0], gid))
    in_list = ", ".join(
        "'" + t.replace("'", "''") + "'" for t, _g in members
    )
    vals = ", ".join(
        f"('{t.replace(chr(39), chr(39) * 2)}', {gid})" for t, gid in members
    )
    where_lang = f"WHERE lang = '{lang}'" if lang is not None else ""
    toksql = tokenize_duckdb_sql(content_col)
    score = bm25_term_score_sql(
        "gtf.tf", idf_sql("gdf.df", "stats.n"), "gtf.doc_len", "stats.avgdl"
    )
    return f"""
WITH docs AS (
  SELECT doc_id, {toksql} AS toks FROM {table} {where_lang}
),
dl AS (
  SELECT doc_id, toks, len(toks)::BIGINT AS doc_len FROM docs
),
stats AS (
  SELECT count(*)::DOUBLE AS n, avg(doc_len) AS avgdl FROM dl
),
tok AS (
  SELECT doc_id, doc_len, unnest(toks) AS term FROM dl
),
gmap (term, gid) AS (VALUES {vals}),
tf AS (
  SELECT doc_id, doc_len, term, count(*)::BIGINT AS tf
  FROM tok WHERE term IN ({in_list})
  GROUP BY doc_id, doc_len, term
),
gtf AS (
  SELECT tf.doc_id, tf.doc_len, gmap.gid, sum(tf.tf)::BIGINT AS tf
  FROM tf JOIN gmap USING (term)
  GROUP BY tf.doc_id, tf.doc_len, gmap.gid
),
gdf AS (
  SELECT gid, max(df)::DOUBLE AS df FROM (
    SELECT gmap.gid, tf.term, count(*)::BIGINT AS df
    FROM tf JOIN gmap USING (term)
    GROUP BY gmap.gid, tf.term
  ) GROUP BY gid
)
SELECT gtf.doc_id AS doc_id, round(sum({score}), 6) AS score
FROM gtf JOIN gdf USING (gid) CROSS JOIN stats
GROUP BY gtf.doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {int(k)}
"""


def span_not_oracle_sql(
    include_text: str,
    exclude_text: str,
    dist: int = 0,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
    table: str = "documents",
    content_col: str = "text",
) -> str:
    """DuckDB twin of ``InvertedIndex.span_not_topk``: include-term
    occurrences with no exclude occurrence within ``dist`` tokens survive
    (NOT EXISTS over the exclude position list); span tf = survivors,
    span df drives a single idf, BM25 normalization against the FULL doc
    length — the :func:`span_first_oracle_sql` pattern with the
    nearest-exclude check in place of the boundary check. Distances are
    base-invariant, so the 1-based ``generate_series`` positions here
    agree with the engine's 0-based token offsets."""
    inc_t = tokenize_py(include_text)
    exc_t = tokenize_py(exclude_text)
    if len(inc_t) != 1 or len(exc_t) != 1:
        raise ValueError(
            f"span_not oracle takes one include and one exclude term, "
            f"got {inc_t!r} / {exc_t!r}"
        )
    inc = inc_t[0].replace("'", "''")
    exc = exc_t[0].replace("'", "''")
    where_lang = f"WHERE lang = '{lang}'" if lang is not None else ""
    toks = tokenize_duckdb_sql(content_col)
    score = bm25_term_score_sql(
        "h.stf", idf_sql("dfp.df", "stats.n"), "h.doc_len", "stats.avgdl"
    )
    return f"""
WITH docs AS (
  SELECT doc_id, {toks} AS toks FROM {table} {where_lang}
),
dl AS (
  SELECT doc_id, toks, len(toks)::BIGINT AS doc_len FROM docs
),
stats AS (
  SELECT count(*)::DOUBLE AS n, avg(doc_len) AS avgdl FROM dl
),
pi AS (
  SELECT doc_id, unnest(list_filter(generate_series(1, len(toks)),
                                    j -> toks[j] = '{inc}')) AS p
  FROM dl
),
pe AS (
  SELECT doc_id, unnest(list_filter(generate_series(1, len(toks)),
                                    j -> toks[j] = '{exc}')) AS p
  FROM dl
),
sm AS (
  SELECT pi.doc_id, count(*)::BIGINT AS stf
  FROM pi
  WHERE NOT EXISTS (
    SELECT 1 FROM pe
    WHERE pe.doc_id = pi.doc_id AND abs(pe.p - pi.p) <= {int(dist)}
  )
  GROUP BY pi.doc_id
),
h AS (
  SELECT sm.doc_id, dl.doc_len, sm.stf FROM sm JOIN dl USING (doc_id)
),
dfp AS (SELECT count(*)::DOUBLE AS df FROM h)
SELECT h.doc_id AS doc_id, round({score}, 6) AS score
FROM h CROSS JOIN dfp CROSS JOIN stats
ORDER BY score DESC, doc_id ASC
LIMIT {int(k)}
"""


def span_multi_first_oracle_sql(
    prefix: str,
    end: int,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
    max_expansions: int = 64,
    table: str = "documents",
    content_col: str = "text",
) -> str:
    """DuckDB twin of ``InvertedIndex.span_multi_first_topk``: the prefix
    expansion (df desc, term asc, capped — identical to the dictionary
    ranking by construction) acts as one span source; span tf counts
    occurrences of ANY member within the first ``end`` tokens; span df
    drives one idf; BM25 against the full doc length."""
    esc = prefix.replace("'", "''")
    where_lang = f"WHERE lang = '{lang}'" if lang is not None else ""
    toks = tokenize_duckdb_sql(content_col)
    score = bm25_term_score_sql(
        "h.stf", idf_sql("dfp.df", "stats.n"), "h.doc_len", "stats.avgdl"
    )
    return f"""
WITH docs AS (
  SELECT doc_id, {toks} AS toks FROM {table} {where_lang}
),
dl AS (
  SELECT doc_id, toks, len(toks)::BIGINT AS doc_len FROM docs
),
stats AS (
  SELECT count(*)::DOUBLE AS n, avg(doc_len) AS avgdl FROM dl
),
tok AS (
  SELECT doc_id, unnest(toks) AS term FROM dl
),
dict AS (
  SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM tok GROUP BY term
),
exp AS (
  SELECT term FROM dict WHERE starts_with(term, '{esc}')
  ORDER BY df DESC, term ASC LIMIT {int(max_expansions)}
),
sm AS (
  SELECT doc_id, count(*)::BIGINT AS stf
  FROM (SELECT doc_id, unnest(toks[1:{int(end)}]) AS tkn FROM dl)
  WHERE tkn IN (SELECT term FROM exp)
  GROUP BY doc_id
),
h AS (
  SELECT sm.doc_id, dl.doc_len, sm.stf FROM sm JOIN dl USING (doc_id)
),
dfp AS (SELECT count(*)::DOUBLE AS df FROM h)
SELECT h.doc_id AS doc_id, round({score}, 6) AS score
FROM h CROSS JOIN dfp CROSS JOIN stats
ORDER BY score DESC, doc_id ASC
LIMIT {int(k)}
"""


def common_terms_oracle_sql(
    query_text: str,
    cutoff_freq: float = 0.3,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
    table: str = "documents",
    content_col: str = "text",
) -> str:
    """DuckDB twin of ``InvertedIndex.common_terms_topk``: the rare /
    common split is derived IN SQL from the same df/N comparison, so the
    oracle adapts to any scale factor; scoring is the standard BM25 sum
    over all matched terms, restricted to docs matching >= 1 rare term
    (or unrestricted when no term is rare)."""
    terms = query_terms(query_text)
    if not terms:
        return f"SELECT doc_id, 0.0 AS score FROM {table} WHERE false"
    in_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    where_lang = f"WHERE lang = '{lang}'" if lang is not None else ""
    toks = tokenize_duckdb_sql(content_col)
    score = bm25_term_score_sql(
        "tf.tf", idf_sql("dfq.df", "stats.n"), "tf.doc_len", "stats.avgdl"
    )
    return f"""
WITH docs AS (
  SELECT doc_id, {toks} AS toks FROM {table} {where_lang}
),
dl AS (
  SELECT doc_id, toks, len(toks)::BIGINT AS doc_len FROM docs
),
stats AS (
  SELECT count(*)::DOUBLE AS n, avg(doc_len) AS avgdl FROM dl
),
tok AS (
  SELECT doc_id, doc_len, unnest(toks) AS term FROM dl
),
tf AS (
  SELECT doc_id, doc_len, term, count(*)::BIGINT AS tf
  FROM tok WHERE term IN ({in_list})
  GROUP BY doc_id, doc_len, term
),
dfq AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term
),
rareq AS (
  SELECT term FROM dfq CROSS JOIN stats
  WHERE (df / stats.n) <= {float(cutoff_freq)!r}
),
keep AS (
  SELECT DISTINCT doc_id FROM tf WHERE term IN (SELECT term FROM rareq)
)
SELECT tf.doc_id AS doc_id, round(sum({score}), 6) AS score
FROM tf JOIN dfq USING (term) CROSS JOIN stats
WHERE tf.doc_id IN (SELECT doc_id FROM keep)
   OR (SELECT count(*) FROM rareq) = 0
GROUP BY tf.doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {int(k)}
"""


def span_or_oracle_sql(
    terms_text: str,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
    table: str = "documents",
    content_col: str = "text",
) -> str:
    """DuckDB twin of ``InvertedIndex.span_or_topk``: span tf = total
    occurrences of ANY member term per doc, span df = docs containing
    any member driving a single idf, BM25 against the full doc length."""
    terms = query_terms(terms_text)
    if not terms:
        return f"SELECT doc_id, 0.0 AS score FROM {table} WHERE false"
    in_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    where_lang = f"WHERE lang = '{lang}'" if lang is not None else ""
    toks = tokenize_duckdb_sql(content_col)
    score = bm25_term_score_sql(
        "h.stf", idf_sql("dfp.df", "stats.n"), "h.doc_len", "stats.avgdl"
    )
    return f"""
WITH docs AS (
  SELECT doc_id, {toks} AS toks FROM {table} {where_lang}
),
dl AS (
  SELECT doc_id, toks, len(toks)::BIGINT AS doc_len FROM docs
),
stats AS (
  SELECT count(*)::DOUBLE AS n, avg(doc_len) AS avgdl FROM dl
),
tok AS (
  SELECT doc_id, doc_len, unnest(toks) AS term FROM dl
),
h AS (
  SELECT doc_id, doc_len, count(*)::BIGINT AS stf
  FROM tok WHERE term IN ({in_list})
  GROUP BY doc_id, doc_len
),
dfp AS (SELECT count(*)::DOUBLE AS df FROM h)
SELECT h.doc_id AS doc_id, round({score}, 6) AS score
FROM h CROSS JOIN dfp CROSS JOIN stats
ORDER BY score DESC, doc_id ASC
LIMIT {int(k)}
"""


def span_contain_oracle_sql(
    big_text: str,
    little_text: str,
    window: int,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
    mode: str = "containing",
    table: str = "documents",
    content_col: str = "text",
) -> str:
    """DuckDB twin of ``InvertedIndex.span_contain_topk``: big spans are
    (pa, pb) pairs with ``abs(pa - pb) <= window``; containment is
    ``least(pa, pb) <= pc <= greatest(pa, pb)`` (base-invariant, so the
    1-based positions here agree with the engine's 0-based offsets).
    ``containing`` counts enclosing pairs; ``within`` counts enclosed
    little occurrences. Same span scoring as span_not."""
    if mode not in ("containing", "within"):
        raise ValueError(f"unknown span_contain mode {mode!r}")
    big = tokenize_py(big_text)
    little = tokenize_py(little_text)
    if len(big) != 2 or len(little) != 1:
        raise ValueError(
            f"span_contain oracle takes two big terms and one little, "
            f"got {big!r} / {little!r}"
        )
    ba = big[0].replace("'", "''")
    bb = big[1].replace("'", "''")
    lt = little[0].replace("'", "''")
    where_lang = f"WHERE lang = '{lang}'" if lang is not None else ""
    toks = tokenize_duckdb_sql(content_col)
    score = bm25_term_score_sql(
        "h.stf", idf_sql("dfp.df", "stats.n"), "h.doc_len", "stats.avgdl"
    )
    if mode == "containing":
        sm = f"""
sm AS (
  SELECT pa.doc_id, count(*)::BIGINT AS stf
  FROM pa JOIN pb ON pa.doc_id = pb.doc_id
       AND abs(pa.p - pb.p) <= {int(window)}
  WHERE EXISTS (
    SELECT 1 FROM pc
    WHERE pc.doc_id = pa.doc_id
      AND pc.p BETWEEN least(pa.p, pb.p) AND greatest(pa.p, pb.p)
  )
  GROUP BY pa.doc_id
)"""
    else:
        sm = f"""
sm AS (
  SELECT pc.doc_id, count(*)::BIGINT AS stf
  FROM pc
  WHERE EXISTS (
    SELECT 1 FROM pa JOIN pb ON pa.doc_id = pb.doc_id
         AND abs(pa.p - pb.p) <= {int(window)}
    WHERE pa.doc_id = pc.doc_id
      AND pc.p BETWEEN least(pa.p, pb.p) AND greatest(pa.p, pb.p)
  )
  GROUP BY pc.doc_id
)"""
    return f"""
WITH docs AS (
  SELECT doc_id, {toks} AS toks FROM {table} {where_lang}
),
dl AS (
  SELECT doc_id, toks, len(toks)::BIGINT AS doc_len FROM docs
),
stats AS (
  SELECT count(*)::DOUBLE AS n, avg(doc_len) AS avgdl FROM dl
),
pa AS (
  SELECT doc_id, unnest(list_filter(generate_series(1, len(toks)),
                                    j -> toks[j] = '{ba}')) AS p
  FROM dl
),
pb AS (
  SELECT doc_id, unnest(list_filter(generate_series(1, len(toks)),
                                    j -> toks[j] = '{bb}')) AS p
  FROM dl
),
pc AS (
  SELECT doc_id, unnest(list_filter(generate_series(1, len(toks)),
                                    j -> toks[j] = '{lt}')) AS p
  FROM dl
),{sm},
h AS (
  SELECT sm.doc_id, dl.doc_len, sm.stf FROM sm JOIN dl USING (doc_id)
),
dfp AS (SELECT count(*)::DOUBLE AS df FROM h)
SELECT h.doc_id AS doc_id, round({score}, 6) AS score
FROM h CROSS JOIN dfp CROSS JOIN stats
ORDER BY score DESC, doc_id ASC
LIMIT {int(k)}
"""


RANDOM_SCORE_SALT = "-random-score-v1-"
_TWO60_F = float(1 << 60)


def random_score_topk(
    corpus: DataFrame,
    query_text: str,
    seed: int = 42,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
) -> DataFrame:
    """ES ``function_score`` + ``random_score`` with ``boost_mode:
    replace`` — the "show me a random-but-reproducible page of matching
    docs" query (relevance-free sampling UIs, A/B result shuffling).
    Each matching doc draws a deterministic uniform score from
    sha256(doc_id, seed) — unlike ``rand()`` the draw is stable across
    runs, partitionings and engines, which is what ES's seeded
    random_score promises (consistent scores for the same seed+doc).

    Scale shape: map-only — match flag + hash per row, no shuffle before
    the TakeOrderedAndProject cut.
    """
    from smse_backend_spark.operators.aggregations import _match_flag_col
    from smse_backend_spark.operators.sampling import hash_u60

    terms = query_terms(query_text)
    if lang is not None:
        corpus = corpus.filter(F.col("lang") == lang)
    if not terms:
        return corpus.select(
            "doc_id", F.lit(0.0).alias("score")
        ).limit(0)
    r = hash_u60(F.col("doc_id"), f"{RANDOM_SCORE_SALT}{int(seed)}")
    return (
        corpus.filter(_match_flag_col(terms))
        .select(
            "doc_id",
            F.round(r.cast("double") / F.lit(_TWO60_F), 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def random_score_oracle_sql(
    query_text: str,
    seed: int = 42,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
    table: str = "documents",
    content_col: str = "text",
) -> str:
    """DuckDB twin of :func:`random_score_topk` (same sha-derived draw)."""
    from smse_backend_spark.operators.aggregations import _match_set_cte
    from smse_backend_spark.operators.sampling import _hash_u60_sql

    h = _hash_u60_sql("m.doc_id", f"{RANDOM_SCORE_SALT}{int(seed)}")
    return f"""{_match_set_cte(query_text, lang, table, content_col)}
SELECT m.doc_id AS doc_id,
       round({h}::DOUBLE / {_TWO60_F!r}, 6) AS score
FROM m
ORDER BY score DESC, doc_id ASC
LIMIT {int(k)}
"""


def collapse_inner_hits(
    corpus: DataFrame,
    query_text: str,
    k: int = DEFAULT_TOP_K,
    collapse_col: str = "repo",
    inner: int = 3,
    lang: str | None = None,
) -> DataFrame:
    """ES ``collapse`` with ``inner_hits``: the top-k GROUPS (ranked by
    their best hit, like :func:`collapse_topk`) each carry their own
    top-``inner`` hits — the "one card per repo, expandable" result page.
    Returns (group_key, rn, doc_id, score) ordered by (group best score
    desc, group_key asc, rn asc).

    Scale shape: ONE window over the match set's (doc_id, score, key)
    rows assigns in-group ranks; group leaders (rn = 1) cut to k via
    TakeOrderedAndProject; inner hits re-join the leaders on the key —
    at most shard_size×k rows after the cut. Document text never moves.
    """
    scored = bm25_scored_scan(corpus, query_text, lang).select("doc_id", "score")
    keys = corpus.select("doc_id", F.col(collapse_col).alias("group_key"))
    w = Window.partitionBy("group_key").orderBy(F.desc("score"), F.asc("doc_id"))
    ranked = (
        scored.join(keys, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= int(inner))
    )
    leaders = (
        ranked.filter(F.col("rn") == 1)
        .select(
            "group_key",
            F.col("score").alias("lead_score"),
            F.col("doc_id").alias("lead_doc"),
        )
        .orderBy(F.desc("lead_score"), F.asc("lead_doc"))
        .limit(k)
    )
    return (
        ranked.join(F.broadcast(leaders), "group_key")
        .select("group_key", F.col("rn").cast("long").alias("rn"),
                "doc_id", "score")
        .orderBy(F.desc("lead_score"), F.asc("lead_doc"), F.asc("rn"))
        .drop("lead_score", "lead_doc")
    )


def collapse_inner_hits_oracle_sql(
    query_text: str,
    k: int = DEFAULT_TOP_K,
    collapse_col: str = "source",
    inner: int = 3,
    lang: str | None = None,
    table: str = "documents",
    content_col: str = "text",
) -> str:
    """DuckDB twin of :func:`collapse_inner_hits` (``collapse_col`` in
    raw-table names — ``source`` backs ``repo``)."""
    scored = bm25_scan_oracle_sql(query_text, _ALL_ROWS, lang, table, content_col)
    return f"""
WITH scored AS ({scored}),
ranked AS (
  SELECT d.{collapse_col} AS group_key, s.doc_id, s.score,
         row_number() OVER (PARTITION BY d.{collapse_col}
                            ORDER BY s.score DESC, s.doc_id ASC) AS rn
  FROM scored s JOIN {table} d USING (doc_id)
),
leaders AS (
  SELECT group_key, score AS lead_score, doc_id AS lead_doc
  FROM ranked WHERE rn = 1
  ORDER BY lead_score DESC, lead_doc ASC
  LIMIT {int(k)}
)
SELECT r.group_key AS group_key, r.rn::BIGINT AS rn,
       r.doc_id AS doc_id, r.score AS score
FROM ranked r JOIN leaders l USING (group_key)
WHERE r.rn <= {int(inner)}
ORDER BY l.lead_score DESC, l.lead_doc ASC, r.rn ASC
"""


def sparse_vector_topk(
    corpus: DataFrame,
    query_weights: dict[str, float],
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
) -> DataFrame:
    """ES ``sparse_vector`` query (the ELSER / learned-sparse-retrieval
    shape): the query is a SPARSE weight vector over vocabulary terms;
    each doc scores the dot product of those weights against its stored
    per-term weights — here the classic ``tf * ln(N/df)`` tf-idf
    (matching :func:`functions.text_quality.tfidf_vectors`'s export), so
    the "model" is corpus-derived and deterministic. Unlike BM25 the
    per-term saturation and length normalization live in the WEIGHTS,
    not the formula — which is exactly why learned-sparse models ship
    their own weights.

    Scale shape: identical to the BM25 scan — one tokenize, a
    query-term-filtered (doc, term, tf) aggregate, a broadcast join of
    the |q|-row weight frame and the |q|-row df frame, one per-doc sum,
    TakeOrderedAndProject.
    """
    terms = sorted(query_weights)
    if lang is not None:
        corpus = corpus.filter(F.col("lang") == lang)
    empty = corpus.select("doc_id", F.lit(0.0).alias("score")).limit(0)
    if not terms:
        return empty
    n_docs = corpus.count()
    if not n_docs:
        return empty
    spark = corpus.sparkSession
    wdf = F.broadcast(spark.createDataFrame(
        [(t, float(query_weights[t])) for t in terms],
        "term string, w double",
    ))
    toks = corpus.select(
        "doc_id", F.explode(tokenize_col("content")).alias("term")
    )
    tf = (
        toks.filter(F.col("term").isin(terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    contrib = (
        F.col("w") * F.col("tf").cast("double")
        * F.log(F.lit(float(n_docs)) / F.col("df"))
    )
    return (
        tf.join(F.broadcast(df_t), "term")
        .join(wdf, "term")
        .groupBy("doc_id")
        .agg(F.round(F.sum(contrib), 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def sparse_vector_oracle_sql(
    query_weights: dict[str, float],
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
    table: str = "documents",
    content_col: str = "text",
) -> str:
    """DuckDB twin of :func:`sparse_vector_topk` (same tf-idf weights as
    ``tfidf_vectors_sql``, same dot product, same rounding)."""
    terms = sorted(query_weights)
    if not terms:
        return f"SELECT doc_id, 0.0 AS score FROM {table} WHERE false"
    in_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    vals = ", ".join(
        "('" + t.replace("'", "''") + f"', {float(query_weights[t])!r})"
        for t in terms
    )
    where_lang = f"WHERE lang = '{lang}'" if lang is not None else ""
    toks = tokenize_duckdb_sql(content_col)
    return f"""
WITH dl AS (
  SELECT doc_id, {toks} AS toks FROM {table} {where_lang}
),
n AS (SELECT count(*)::DOUBLE AS n_docs FROM dl),
tok AS (SELECT doc_id, unnest(toks) AS term FROM dl),
tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf
  FROM tok WHERE term IN ({in_list})
  GROUP BY doc_id, term
),
dfq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
qw(term, w) AS (VALUES {vals})
SELECT tf.doc_id AS doc_id,
       round(sum(qw.w * tf.tf::DOUBLE * ln(n.n_docs / dfq.df)), 6) AS score
FROM tf JOIN dfq USING (term) JOIN qw USING (term) CROSS JOIN n
GROUP BY tf.doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {int(k)}
"""
