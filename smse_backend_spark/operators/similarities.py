"""Additional Lucene similarity models served from the inverted index —
the remaining members of Lucene's pluggable-similarity family next to
BM25 (default), ``LMDirichletSimilarity`` (``operators/lmsim.py``) and
``ClassicSimilarity`` (``operators/search.py:classic_tfidf_oracle_sql``):

- ``LMJelinekMercerSimilarity`` (λ-smoothed query-likelihood LM):
  per matched (doc, term)::

      p(t|C)  = (cf_t + 1) / (T + 1)
      contrib = ln(1 + (((1-λ) * tf) / dl) / (λ * p(t|C)))

- ``DFRSimilarity(BasicModelIn, AfterEffectL, NormalizationH2)`` — the
  classic **InL2** divergence-from-randomness model (c = 1)::

      tfn     = tf * log2(1 + avgdl / dl)
      contrib = log2((N + 1) / (df + 0.5)) * (tfn / (tfn + 1))

- ``IBSimilarity(DistributionLL, LambdaDF, NormalizationH2)`` — the
  information-based log-logistic model::

      λ_w     = (df + 1) / (N + 1)
      contrib = log2((tfn + λ_w) / λ_w)          (same H2 tfn)

- ``DFISimilarity(IndependenceChiSquared)`` — divergence from
  independence::

      expected = ((cf + 1) * dl) / (T + 1)
      contrib  = log2(((tf-expected)^2 / expected) + 1)  if tf > expected
                 else 0

- ``BooleanSimilarity``: score = number of matched query terms (every
  term scores its boost = 1; tf/dl ignored).

The IB SPL, DFI saturated / standardized, Terrier PL2 and Axiomatic
F2EXP / F2LOG formulas are given with their SQL twins below.

Determinism discipline (the lm_dirichlet / bigram_pmi precedent): every
per-(doc, term) contribution is one identically-parenthesized expression
in numpy and in the SQL twin, log2 is ``ln(x) / LN2`` with the SAME
``LN2`` literal, and each contribution is floor-half-up quantized to 1e-6
BEFORE the per-doc sum, so the aggregate is an order-independent integer
sum (numpy's ``log``/``exp`` may differ from libm in the last bit; the
quantization absorbs it). Per-term constants (p(t|C), idf, λ_w, cf+1) are
computed ONCE driver-side with ``math`` from exact integer corpus stats —
the SQL twin derives the same doubles from the same integers.

Scale shape (index path): every model, BM25 included, is a
:class:`Similarity` record — per-term constants from (df or cf, N, T,
avgdl), a vectorized per-posting contribution and a summation rule —
scored by the one kernel ``index/query.py:_score_postings``.
``InvertedIndex.similarity_topk`` routes a model like
``bm25_topk(mode="auto")``: below ``INPROC_MAX_POSTINGS`` summed df the
query is answered on the driver with no Spark job; above it the
compressed blocks of the query terms shuffle by segment into the same
kernel. The postings of the query terms are the only input (build
metadata supplies N/T/avgdl); the corpus is never scanned.

Reference analog: the reference ranks with a single fixed similarity
(pgvector cosine, ``smse_backend/services/search.py:97-110``); the
pluggable similarity family is the Lucene-parity surface its search core
lacks.
"""

from __future__ import annotations

import math
from collections.abc import Callable
from dataclasses import dataclass
from typing import NamedTuple

import numpy as np

from smse_backend_spark import B, DEFAULT_TOP_K, K1
from smse_backend_spark.functions.bm25 import bm25_idf
from smse_backend_spark.functions.tokenizer import tokenize_duckdb_sql
from smse_backend_spark.operators.lmsim import DEFAULT_MU
from smse_backend_spark.operators.search import query_terms

LN2 = 0.6931471805599453  # repr(math.log(2.0)) — shared literal, both engines
DEFAULT_JM_LAMBDA = 0.1   # Lucene LMJelinekMercerSimilarity default for
                          # short queries (Zhai & Lafferty 2001 guidance)


def _scan_scaffold(
    terms: list[str],
    lang: str | None,
    table: str,
    content_col: str,
) -> str:
    """Shared DuckDB CTE scaffold: tokenized docs, per-doc length, corpus
    stats (n docs, avgdl, total tokens t), per-(doc, term) tf restricted
    to the query terms, and per-term df/cf over the matched set (equal to
    the dictionary's df/cf — every occurrence is in some matched doc)."""
    in_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    where_lang = f"WHERE lang = '{lang}'" if lang is not None else ""
    toks = tokenize_duckdb_sql(content_col)
    return f"""
WITH docs AS (
  SELECT doc_id, {toks} AS toks FROM {table} {where_lang}
),
dl AS (
  SELECT doc_id, toks, len(toks)::BIGINT AS doc_len FROM docs
),
stats AS (
  SELECT count(*)::DOUBLE AS n, avg(doc_len) AS avgdl,
         sum(doc_len)::DOUBLE AS t
  FROM dl
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
  SELECT term, count(*)::DOUBLE AS df, sum(tf)::DOUBLE AS cf
  FROM tf GROUP BY term
)"""


def _qsum_tail(contrib: str, k: int) -> str:
    """Quantize-then-integer-sum final SELECT shared by all models."""
    return f"""
SELECT tf.doc_id AS doc_id,
       (sum(floor(({contrib}) * 1e6 + 0.5)::BIGINT)::DOUBLE / 1e6) AS score
FROM tf JOIN dfq USING (term) CROSS JOIN stats
GROUP BY tf.doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {int(k)}
"""


_EMPTY = "SELECT doc_id, 0.0 AS score FROM {table} WHERE false"

# H2 normalization (c = 1) — written once, duplicated textually where it
# appears twice in a formula (same value, same rounding).
_TFN = "(tf.tf::DOUBLE * (ln(1.0 + stats.avgdl / tf.doc_len::DOUBLE) / {ln2}))"


def lm_jelinek_mercer_oracle_sql(
    query_text: str,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
    lam: float = DEFAULT_JM_LAMBDA,
    table: str = "documents",
    content_col: str = "text",
) -> str:
    """DuckDB twin of the ``jm`` record."""
    terms = query_terms(query_text)
    if not terms:
        return _EMPTY.format(table=table)
    om, lm = repr(1.0 - float(lam)), repr(float(lam))
    contrib = (
        f"ln(1.0 + (({om} * tf.tf::DOUBLE) / tf.doc_len::DOUBLE)"
        f" / ({lm} * ((dfq.cf + 1.0) / (stats.t + 1.0))))"
    )
    return _scan_scaffold(terms, lang, table, content_col) + _qsum_tail(
        contrib, k
    )


def dfr_inl2_oracle_sql(
    query_text: str,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
    table: str = "documents",
    content_col: str = "text",
) -> str:
    """DuckDB twin of the ``inl2`` record."""
    terms = query_terms(query_text)
    if not terms:
        return _EMPTY.format(table=table)
    tfn = _TFN.format(ln2=repr(LN2))
    idf = f"(ln((stats.n + 1.0) / (dfq.df + 0.5)) / {LN2!r})"
    contrib = f"{idf} * ({tfn} / ({tfn} + 1.0))"
    return _scan_scaffold(terms, lang, table, content_col) + _qsum_tail(
        contrib, k
    )


def dfr_pl2_oracle_sql(
    query_text: str,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
    table: str = "documents",
    content_col: str = "text",
) -> str:
    """DuckDB twin of the ``pl2`` record (Terrier PL2):
    identically parenthesized Poisson/Laplace/H2 expression, λ_t from the
    same integer cf/N division, shared LN2/log2(e)/2π literals."""
    terms = query_terms(query_text)
    if not terms:
        return _EMPTY.format(table=table)
    tfn = _TFN.format(ln2=repr(LN2))
    lam = "(dfq.cf / stats.n)"
    log2e = repr(1.0 / LN2)
    two_pi = repr(2.0 * math.pi)
    contrib = (
        f"(1.0 / ({tfn} + 1.0)) * ({tfn} * (ln({tfn} / {lam}) / {LN2!r})"
        f" + ({lam} - {tfn}) * {log2e}"
        f" + 0.5 * (ln({two_pi} * {tfn}) / {LN2!r}))"
    )
    return _scan_scaffold(terms, lang, table, content_col) + _qsum_tail(
        contrib, k
    )


def ib_ll_oracle_sql(
    query_text: str,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
    table: str = "documents",
    content_col: str = "text",
) -> str:
    """DuckDB twin of the ``ib`` record."""
    terms = query_terms(query_text)
    if not terms:
        return _EMPTY.format(table=table)
    tfn = _TFN.format(ln2=repr(LN2))
    lw = "((dfq.df + 1.0) / (stats.n + 1.0))"
    contrib = f"(ln(({tfn} + {lw}) / {lw}) / {LN2!r})"
    return _scan_scaffold(terms, lang, table, content_col) + _qsum_tail(
        contrib, k
    )


def dfi_chi2_oracle_sql(
    query_text: str,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
    table: str = "documents",
    content_col: str = "text",
) -> str:
    """DuckDB twin of the ``dfi`` record."""
    terms = query_terms(query_text)
    if not terms:
        return _EMPTY.format(table=table)
    e = "(((dfq.cf + 1.0) * tf.doc_len::DOUBLE) / (stats.t + 1.0))"
    m = f"(((tf.tf::DOUBLE - {e}) * (tf.tf::DOUBLE - {e})) / {e})"
    contrib = (
        f"CASE WHEN tf.tf::DOUBLE > {e}"
        f" THEN (ln({m} + 1.0) / {LN2!r}) ELSE 0.0 END"
    )
    return _scan_scaffold(terms, lang, table, content_col) + _qsum_tail(
        contrib, k
    )


def ib_spl_oracle_sql(
    query_text: str,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
    table: str = "documents",
    content_col: str = "text",
) -> str:
    """DuckDB twin of the ``ib_spl`` record — the power written
    as ``exp(q * ln(λ))`` exactly like the record (pow differs between
    engines; exp∘ln composed identically, then quantized, does not)."""
    terms = query_terms(query_text)
    if not terms:
        return _EMPTY.format(table=table)
    tfn = _TFN.format(ln2=repr(LN2))
    lw = "((dfq.df + 1.0) / (stats.n + 1.0))"
    powed = f"exp(({tfn} / ({tfn} + 1.0)) * ln({lw}))"
    contrib = f"(-(ln(({powed} - {lw}) / (1.0 - {lw})) / {LN2!r}))"
    return _scan_scaffold(terms, lang, table, content_col) + _qsum_tail(
        contrib, k
    )


def _dfi_variant_oracle_sql(
    query_text: str,
    kind: str,
    k: int,
    lang: str | None,
    table: str,
    content_col: str,
) -> str:
    """Shared DuckDB twin of the saturated / standardized DFI variants
    (same expected-tf, same tf > expected gate, same log2 as chi2)."""
    terms = query_terms(query_text)
    if not terms:
        return _EMPTY.format(table=table)
    e = "(((dfq.cf + 1.0) * tf.doc_len::DOUBLE) / (stats.t + 1.0))"
    if kind == "saturated":
        m = f"((tf.tf::DOUBLE - {e}) / {e})"
    else:
        m = f"((tf.tf::DOUBLE - {e}) / sqrt({e}))"
    contrib = (
        f"CASE WHEN tf.tf::DOUBLE > {e}"
        f" THEN (ln({m} + 1.0) / {LN2!r}) ELSE 0.0 END"
    )
    return _scan_scaffold(terms, lang, table, content_col) + _qsum_tail(
        contrib, k
    )


def dfi_saturated_oracle_sql(
    query_text: str,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
    table: str = "documents",
    content_col: str = "text",
) -> str:
    """DuckDB twin of the ``dfi_saturated`` record."""
    return _dfi_variant_oracle_sql(
        query_text, "saturated", k, lang, table, content_col
    )


def dfi_standardized_oracle_sql(
    query_text: str,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
    table: str = "documents",
    content_col: str = "text",
) -> str:
    """DuckDB twin of the ``dfi_standardized`` record."""
    return _dfi_variant_oracle_sql(
        query_text, "standardized", k, lang, table, content_col
    )


AX_S = 0.5   # Lucene Axiomatic* growth-function default (s)
AX_K = 0.35  # Lucene AxiomaticF2EXP idf exponent default (k)

# F2 length-normalized tf (Fang & Zhai 2005, Lucene AxiomaticF2EXP /
# AxiomaticF2LOG): tf / (tf + s + s·dl/avgdl) — written once, same
# parenthesization on both engines.
_AX_TFN = (
    "(tf.tf::DOUBLE / (tf.tf::DOUBLE + {s}"
    " + {s} * tf.doc_len::DOUBLE / stats.avgdl))"
)


def axiomatic_f2exp_oracle_sql(
    query_text: str,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
    table: str = "documents",
    content_col: str = "text",
) -> str:
    """DuckDB twin of the ``f2exp`` record (Lucene
    ``AxiomaticF2EXP``): ``((N+1)/df)^k * tf/(tf + s + s·dl/avgdl)``
    with the Lucene defaults s=0.5, k=0.35. ``pow`` over the same
    integer-derived doubles on both engines (libm on this host)."""
    terms = query_terms(query_text)
    if not terms:
        return _EMPTY.format(table=table)
    tfn = _AX_TFN.format(s=repr(AX_S))
    idf = f"pow((stats.n + 1.0) / dfq.df, {AX_K!r})"
    return _scan_scaffold(terms, lang, table, content_col) + _qsum_tail(
        f"{idf} * {tfn}", k
    )


def axiomatic_f2log_oracle_sql(
    query_text: str,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
    table: str = "documents",
    content_col: str = "text",
) -> str:
    """DuckDB twin of the ``f2log`` record (Lucene
    ``AxiomaticF2LOG``): ``ln((N+1)/df) * tf/(tf + s + s·dl/avgdl)``,
    s=0.5."""
    terms = query_terms(query_text)
    if not terms:
        return _EMPTY.format(table=table)
    tfn = _AX_TFN.format(s=repr(AX_S))
    idf = "ln((stats.n + 1.0) / dfq.df)"
    return _scan_scaffold(terms, lang, table, content_col) + _qsum_tail(
        f"{idf} * {tfn}", k
    )


def boolean_sim_oracle_sql(
    query_text: str,
    k: int = DEFAULT_TOP_K,
    lang: str | None = None,
    table: str = "documents",
    content_col: str = "text",
) -> str:
    """DuckDB twin of the ``boolean`` record: score = count of
    distinct matched query terms (each term's boost = 1; exact integers,
    no quantization needed)."""
    terms = query_terms(query_text)
    if not terms:
        return _EMPTY.format(table=table)
    scaffold = _scan_scaffold(terms, lang, table, content_col)
    return scaffold + f"""
SELECT doc_id, count(DISTINCT term)::DOUBLE AS score
FROM tf
GROUP BY doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {int(k)}
"""




# -- the records the index path scores -------------------------------------


class CorpusStats(NamedTuple):
    """Corpus-wide stats of one (possibly lang-restricted, possibly
    time-traveled) reader, all from build metadata: doc count N, mean doc
    length and the exact total token count T."""

    n: float
    avgdl: float
    t: float


@dataclass(frozen=True)
class Similarity:
    """One ranking function as data. ``const(v, st)`` is a query term's
    constant, computed on the driver with ``math`` from its dictionary
    stat ``v`` (``stat``: the term's df or its cf) and the corpus stats;
    ``contrib(tf, dl, c, st)`` is the per-posting contribution over numpy
    arrays (tf, dl: postings x 1; c: the postings' term constants,
    postings x queries). ``quantized`` is the summation rule: each
    contribution floor-half-up quantized to 1e-6 and the integers summed
    (exact whatever the order), else a float sum rounded to 6 dp."""

    lucene: str
    stat: str
    const: Callable[[int, CorpusStats], float]
    contrib: Callable[..., np.ndarray]
    quantized: bool = True


LOG2E = 1.0 / LN2
TWO_PI = 2.0 * math.pi


def _h2(tf, dl, st):
    """DFR normalization H2 (c = 1): tf * log2(1 + avgdl/dl)."""
    return tf * (np.log(1.0 + st.avgdl / dl) / LN2)


def _bm25_contrib(tf, dl, c, st):
    tfn = tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / st.avgdl))
    return tfn * c


def _inl2_contrib(tf, dl, c, st):
    tfn = _h2(tf, dl, st)
    return c * (tfn / (tfn + 1.0))


def _pl2_contrib(tf, dl, c, st):
    tfn = _h2(tf, dl, st)
    return (1.0 / (tfn + 1.0)) * (
        tfn * (np.log(tfn / c) / LN2)
        + (c - tfn) * LOG2E
        + 0.5 * (np.log(TWO_PI * tfn) / LN2)
    )


def _ib_lambda(df, st):
    return (float(df) + 1.0) / (st.n + 1.0)


def _spl_const(df, st):
    if df >= st.n:
        # lambda_w = 1 makes the distribution undefined (Lucene: Infinity)
        raise ValueError(
            f"IB-SPL is undefined for terms in every document (df = N = {df})"
        )
    return _ib_lambda(df, st)


def _spl_contrib(tf, dl, c, st):
    tfn = _h2(tf, dl, st)
    powed = np.exp((tfn / (tfn + 1.0)) * np.log(c))
    return -(np.log((powed - c) / (1.0 - c)) / LN2)


def _dfi(lucene, measure) -> Similarity:
    """A DFI record: expected tf under independence is
    ((cf+1)·dl)/(T+1); a term scores log2(measure + 1) only where tf
    exceeds it."""

    def contrib(tf, dl, c, st):
        e = (c * dl) / (st.t + 1.0)
        return np.where(tf > e, np.log(measure(tf, e) + 1.0) / LN2, 0.0)

    return Similarity(lucene, "cf", lambda cf, st: float(cf) + 1.0, contrib)


def _axiomatic(lucene, idf) -> Similarity:
    """An Axiomatic F2 record: idf(df, st) times the F2 normalized tf
    tf / (tf + s + s·dl/avgdl)."""
    return Similarity(
        lucene, "df", idf,
        lambda tf, dl, c, st: c * (tf / (tf + AX_S + AX_S * dl / st.avgdl)),
    )


def lm_dirichlet(mu: float = DEFAULT_MU) -> Similarity:
    """Lucene ``LMDirichletSimilarity`` (``operators/lmsim.py``): per term
    mu·p(t|C), contribution ln(1 + tf/(mu·p)) + ln(mu/(dl+mu)) clamped at
    0 (clamping before the quantization equals clamping after it)."""
    mu = float(mu)
    return Similarity(
        "LMDirichletSimilarity", "cf",
        lambda cf, st: mu * ((float(cf) + 1.0) / (st.t + 1.0)),
        lambda tf, dl, c, st: np.maximum(
            np.log(1.0 + tf / c) + np.log(mu / (dl + mu)), 0.0),
    )


_JM_OM, _JM_LM = 1.0 - DEFAULT_JM_LAMBDA, DEFAULT_JM_LAMBDA

BM25 = Similarity(
    "BM25Similarity", "df", lambda df, st: bm25_idf(st.n, df),
    _bm25_contrib, quantized=False,
)

# the index-path similarity family, keyed by its ``cli.py query
# --similarity`` name
SIMILARITIES: dict[str, Similarity] = {
    "bm25": BM25,
    "lm": lm_dirichlet(),
    "jm": Similarity(
        "LMJelinekMercerSimilarity", "cf",
        lambda cf, st: (float(cf) + 1.0) / (st.t + 1.0),
        lambda tf, dl, c, st: np.log(
            1.0 + ((_JM_OM * tf) / dl) / (_JM_LM * c)),
    ),
    "tfidf": Similarity(
        "ClassicSimilarity", "df",
        lambda df, st: 1.0 + math.log((st.n + 1.0) / (df + 1.0)),
        lambda tf, dl, c, st: np.sqrt(tf) * (c * c) / np.sqrt(dl),
        quantized=False,
    ),
    "inl2": Similarity(
        "DFRSimilarity(In, L, H2)", "df",
        lambda df, st: math.log((st.n + 1.0) / (float(df) + 0.5)) / LN2,
        _inl2_contrib,
    ),
    "pl2": Similarity(
        "Terrier PL2", "cf", lambda cf, st: float(cf) / st.n, _pl2_contrib,
    ),
    "ib": Similarity(
        "IBSimilarity(LL, DF, H2)", "df", _ib_lambda,
        lambda tf, dl, c, st: np.log((_h2(tf, dl, st) + c) / c) / LN2,
    ),
    "ib_spl": Similarity(
        "IBSimilarity(SPL, DF, H2)", "df", _spl_const, _spl_contrib,
    ),
    "dfi": _dfi("DFISimilarity(ChiSquared)",
                lambda tf, e: ((tf - e) * (tf - e)) / e),
    "dfi_saturated": _dfi("DFISimilarity(Saturated)",
                          lambda tf, e: (tf - e) / e),
    "dfi_standardized": _dfi("DFISimilarity(Standardized)",
                             lambda tf, e: (tf - e) / np.sqrt(e)),
    "boolean": Similarity(
        "BooleanSimilarity", "df", lambda df, st: 1.0,
        lambda tf, dl, c, st: c, quantized=False,
    ),
    "f2exp": _axiomatic(
        "AxiomaticF2EXP",
        lambda df, st: math.pow((st.n + 1.0) / float(df), AX_K)),
    "f2log": _axiomatic(
        "AxiomaticF2LOG", lambda df, st: math.log((st.n + 1.0) / float(df))),
}
