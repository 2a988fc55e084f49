"""Code-aware tokenizer — the engine's single tokenization truth.

The reference tokenizes only inside its embedding model worker (ImageBind
BPE, ``smse_backend/tasks.py:88-103``); a BM25 engine needs an explicit,
deterministic tokenizer. Semantics (applied in this exact order):

1. split CamelCase runs:   ``([A-Z]+)([A-Z][a-z])`` -> ``\\1 \\2``
     (``XMLHttp`` -> ``XML Http``)
2. split lower->Upper:     ``([a-z0-9])([A-Z])``    -> ``\\1 \\2``
     (``fooBar`` -> ``foo Bar``)
3. lowercase
4. split on ``[^a-z0-9]+`` (snake_case, punctuation, whitespace), drop empties

Four interchangeable implementations MUST stay in lockstep (tests assert
equality): a pure Column expression (JVM codegen — the fast default), a
vectorized pandas UDF that additionally folds term-frequency counting into
the same pass (saves one full-token-stream shuffle in the index build), a
plain-Python/regex version (the numpy oracle), and a DuckDB SQL fragment
(the driver's correctness oracle).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# The reference algorithm (readable form; also the DuckDB oracle, whose RE2
# engine lacks lookahead): split CamelCase runs, split lower->Upper,
# lowercase, split on non-alnum.
_RE_CAMEL_RUN = "([A-Z]+)([A-Z][a-z])"
_RE_LOWER_UPPER = "([a-z0-9])([A-Z])"
_RE_NON_ALNUM = "[^a-z0-9]+"

# Single-pass equivalent used on the hot paths (Java + Python regex): extract
# tokens directly from the ORIGINAL text instead of rewriting it three times
# (two boundary-space insertions + a full lowercase are ~4 extra copies of
# every document — measurable memory-bandwidth cost at 16-32 concurrent
# tokenizer workers). The reference splits an alnum run ONLY before an
# uppercase letter (after lower/digit, or inside a caps-run when the next
# pair is cap+lower) — so tokens are: a caps run whose end is not a
# cap-before-lower, plus any lower/digit tail (XML of XMLHttp; HTML2 and
# even AB2c stay whole); one cap + lower/digit tail (Http, Bar); or a
# lower/digit run (foo2, 123). Equality with the reference algorithm is
# asserted by the lockstep + property tests.
_RE_TOKEN = "[A-Z]+(?![a-z])[a-z0-9]*|[A-Z][a-z0-9]*|[a-z0-9]+"
_PY_TOKEN = re.compile(_RE_TOKEN)

# Pre-fold (step 0 of the spec, applied by ALL implementations): the only
# two codepoints whose str.lower() CONTAINS ASCII letters — U+0130 (İ,
# lowers to 'i' + combining dot) and U+212A (Kelvin K, lowers to 'k') —
# fold to their ASCII look-alikes. Without this, lowercase-then-split
# (reference form) emits ASCII tokens from them while ASCII-class
# extraction (hot path) cannot see them; folding makes the two forms
# equivalent on ALL input, not just ASCII (property-tested incl. these
# codepoints).
_FOLD_FROM, _FOLD_TO = "\u0130\u212a", "IK"
_FOLD_TRANS = str.maketrans(_FOLD_FROM, _FOLD_TO)
_PY_FOLD_NEEDED = re.compile("[\u0130\u212a]")


def _fold_series(s: pd.Series) -> pd.Series:
    """Apply the step-0 fold to a string Series with a cheap fast path:
    per-character dict translate is ~5-10x slower than a char-class regex
    scan, and real corpora virtually never contain the two codepoints \u2014
    so scan first and translate only the rows that need it."""
    mask = s.str.contains(_PY_FOLD_NEEDED, na=False)
    if mask.any():
        s = s.copy()
        s[mask] = s[mask].str.translate(_FOLD_TRANS)
    return s

_PY_CAMEL_RUN = re.compile(_RE_CAMEL_RUN)
_PY_LOWER_UPPER = re.compile(_RE_LOWER_UPPER)
_PY_NON_ALNUM = re.compile(_RE_NON_ALNUM)


# ---------------------------------------------------------------------------
# 1. Column-native (whole-stage-codegen, no Python in the plan)
# ---------------------------------------------------------------------------

def tokenize_col(content: Column | str) -> Column:
    """``array<string>`` of terms; entirely JVM-side (regexp_extract_all)."""
    c = F.col(content) if isinstance(content, str) else content
    c = F.translate(c, _FOLD_FROM, _FOLD_TO)
    return F.transform(
        F.regexp_extract_all(c, F.lit(_RE_TOKEN), F.lit(0)), F.lower
    )


def term_counts_df(df, content: str = "content", analyzer: str = "standard",
                   synonyms: dict[str, str] | None = None):
    """All-JVM per-document term frequencies: (doc_id, content[, lang])
    -> (doc_id, term, tf, doc_len[, lang]) — the zero-Python twin of
    :func:`term_counts_map_in_pandas` (lockstep-tested row-equal;
    zero-token docs emit no rows).

    ``analyzer="stem"`` applies the Harman S-stemmer (:func:`stem_col`)
    to the token array BEFORE the sort, so stem collisions ("table" +
    "tables" in one doc) merge into one (term, tf) row for free — the
    sort groups them — while ``doc_len`` stays the raw token count (a
    stemmer maps tokens 1:1, never drops them). Zero-Python twin of
    :func:`stemmed_term_counts_map_in_pandas`.

    Mechanism: sort the token array, find group starts (positions whose
    token differs from its predecessor), then each group's tf is the gap
    to the next start. Everything is Column algebra (``array_sort`` +
    higher-order ``filter``/``transform``), so the posting pass needs no
    Arrow transfer, no Python workers, and no GIL — the tokenize+count
    stage stays inside the JVM.

    Each intermediate (sorted tokens, group starts) is materialized in
    its OWN projection: inside higher-order-function lambdas a repeated
    subexpression is re-evaluated per element (no CSE across lambda
    scopes), so referencing an un-projected ``array_sort(tokenize(...))``
    from the ``transform`` lambda would re-tokenize the document once per
    distinct term. Staged projections make every reference a bound
    column read. Uses 0-based ``F.get`` (null-safe out of bounds) rather
    than ``element_at`` so the expression is ANSI-mode clean.
    """
    extra = ["lang"] if "lang" in df.columns else []
    c = F.col(content)
    s = F.col("s")
    n = F.col("doc_len")
    starts = F.col("starts")
    toks = tokenize_col(c)
    if analyzer == "stem":
        toks = stem_col(toks)
    elif analyzer == "synonym":
        toks = synonym_col(toks, synonyms or {})
    staged = (
        df.select(
            "doc_id", *extra, F.array_sort(toks).alias("s")
        )
        .select("doc_id", *extra, "s", F.size("s").cast("long").alias("doc_len"))
        .select(
            "doc_id", *extra, "s", "doc_len",
            F.when(
                n > 0,
                F.filter(
                    F.sequence(F.lit(0), (n - 1).cast("int")),
                    lambda i: (i == 0) | (F.get(s, i) != F.get(s, i - 1)),
                ),
            ).otherwise(F.array().cast("array<int>")).alias("starts"),
        )
    )
    pairs = F.when(
        F.size(starts) > 0,
        F.transform(
            F.sequence(F.lit(0), F.size(starts) - 1),
            lambda j: F.struct(
                F.get(s, F.get(starts, j)).alias("term"),
                (F.coalesce(F.get(starts, j + 1), n.cast("int")) - F.get(starts, j))
                .cast("long")
                .alias("tf"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<term:string,tf:long>>"))
    return (
        staged.select("doc_id", *extra, "doc_len", F.explode(pairs).alias("p"))
        .select(
            "doc_id",
            F.col("p.term").alias("term"),
            F.col("p.tf").alias("tf"),
            "doc_len",
            *extra,
        )
    )


def doc_len_col(content: Column | str) -> Column:
    """Token count (BM25 ``dl``) as a pure Column expression (no lowering —
    the count is case-independent; ``regexp_count`` counts the same
    non-overlapping matches ``regexp_extract_all`` would return without
    materializing the token strings)."""
    c = F.col(content) if isinstance(content, str) else content
    c = F.translate(c, _FOLD_FROM, _FOLD_TO)
    return F.regexp_count(c, F.lit(_RE_TOKEN))


# ---------------------------------------------------------------------------
# 2. Vectorized pandas implementation (tokens + per-doc tf in one pass)
# ---------------------------------------------------------------------------

def tokenize_series(s: pd.Series) -> pd.Series:
    """Series[str] -> Series[list[str]] (lowered terms)."""
    toks = _fold_series(s.fillna("")).str.findall(_PY_TOKEN)
    return toks.apply(lambda ts: [t.lower() for t in ts])


def term_counts_frame(doc_ids: pd.Series, contents: pd.Series) -> pd.DataFrame:
    """Vectorized per-doc term frequency: (doc_id, term, tf, doc_len).

    Explode + two groupbys — pandas C kernels throughout. Emitting tf here
    (while the whole document is still in one Arrow batch) means the index
    build never shuffles the raw token stream, only (doc, term) pairs.
    """
    toks = _fold_series(contents.fillna("")).str.findall(_PY_TOKEN)
    dl = toks.str.len().astype("int64")
    frame = pd.DataFrame({"doc_id": doc_ids.values, "term": toks.values, "doc_len": dl.values})
    frame = frame.explode("term", ignore_index=True)
    frame = frame.dropna(subset=["term"])
    if frame.empty:
        return pd.DataFrame(
            {"doc_id": pd.Series(dtype="int64"), "term": pd.Series(dtype="object"),
             "tf": pd.Series(dtype="int64"), "doc_len": pd.Series(dtype="int64")}
        )
    # lowering AFTER the explode keeps it one vectorized pass over tokens
    frame["term"] = frame["term"].str.lower()
    out = (
        frame.groupby(["doc_id", "term", "doc_len"], sort=False)
        .size()
        .rename("tf")
        .reset_index()
    )
    return out[["doc_id", "term", "tf", "doc_len"]]


def term_counts_map_in_pandas(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """``mapInPandas`` kernel: (doc_id, content[, lang]) -> (doc_id[, lang], term, tf, doc_len)."""
    for pdf in batches:
        out = term_counts_frame(pdf["doc_id"], pdf["content"])
        if "lang" in pdf.columns:
            out = out.merge(pdf[["doc_id", "lang"]], on="doc_id", how="left")
        yield out


def stemmed_term_counts_map_in_pandas(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """:func:`term_counts_map_in_pandas` with the Harman S-stemmer applied
    inside the Arrow batch (index-time analyzer): stems are computed once
    per DISTINCT term, and tf is re-merged where stems collide ("tables" +
    "table" in one doc become one posting). ``doc_len`` is the raw token
    count — a stemmer never changes it."""
    for out in term_counts_map_in_pandas(batches):
        if out.empty:
            yield out
            continue
        m = {t: stem_py(t) for t in pd.unique(out["term"])}
        out = out.assign(term=out["term"].map(m))
        keys = [c for c in ("doc_id", "doc_len", "lang") if c in out.columns]
        out = out.groupby(keys + ["term"], as_index=False, sort=False)["tf"].sum()
        cols = ["doc_id", "term", "tf", "doc_len"]
        if "lang" in out.columns:
            cols.append("lang")
        yield out[cols]


TERM_COUNTS_SCHEMA = "doc_id long, term string, tf long, doc_len long"
TERM_COUNTS_LANG_SCHEMA = "doc_id long, term string, tf long, doc_len long, lang string"
TERM_POSITIONS_LANG_SCHEMA = (
    "doc_id long, term string, tf long, doc_len long, lang string, "
    "positions array<long>"
)


def term_positions_map_in_pandas(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """``mapInPandas`` kernel for POSITIONAL index builds:
    (doc_id, content, lang) -> (doc_id, term, tf, doc_len, lang,
    positions) where ``positions`` is the ascending 0-based token offsets
    of the term in the doc (len == tf). Same tokenizer truth as
    :func:`term_counts_frame`; the extra cost (a cumcount + list agg) is
    why positions are an opt-in build flag."""
    empty = pd.DataFrame(
        {"doc_id": pd.Series(dtype="int64"), "term": pd.Series(dtype="object"),
         "tf": pd.Series(dtype="int64"), "doc_len": pd.Series(dtype="int64"),
         "lang": pd.Series(dtype="object"),
         "positions": pd.Series(dtype="object")}
    )
    for pdf in batches:
        toks = _fold_series(pdf["content"].fillna("")).str.findall(_PY_TOKEN)
        dl = toks.str.len().astype("int64")
        frame = pd.DataFrame(
            {"doc_id": pdf["doc_id"].values, "term": toks.values,
             "doc_len": dl.values,
             "lang": pdf["lang"].values if "lang" in pdf.columns else ""}
        ).explode("term", ignore_index=True)
        frame["pos"] = frame.groupby("doc_id").cumcount()
        frame = frame.dropna(subset=["term"])
        if frame.empty:
            yield empty
            continue
        frame["term"] = frame["term"].str.lower()
        out = (
            frame.groupby(["doc_id", "term", "doc_len", "lang"], sort=False)
            .agg(tf=("pos", "size"), positions=("pos", list))
            .reset_index()
        )
        yield out[["doc_id", "term", "tf", "doc_len", "lang", "positions"]]


def stemmed_term_positions_map_in_pandas(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """:func:`term_positions_map_in_pandas` with the Harman S-stemmer
    applied in the SAME Arrow pass (the Lucene analyzed-positional-field
    rule: stemming maps tokens, never positions). Where stems collide in
    one doc ("table"+"tables"), the posting's position list is the merged
    ascending offsets of ALL surface forms — exactly what a phrase/span
    query over a stemmed index needs. ``doc_len`` stays the raw count."""
    empty = pd.DataFrame(
        {"doc_id": pd.Series(dtype="int64"), "term": pd.Series(dtype="object"),
         "tf": pd.Series(dtype="int64"), "doc_len": pd.Series(dtype="int64"),
         "lang": pd.Series(dtype="object"),
         "positions": pd.Series(dtype="object")}
    )
    for pdf in batches:
        toks = _fold_series(pdf["content"].fillna("")).str.findall(_PY_TOKEN)
        dl = toks.str.len().astype("int64")
        frame = pd.DataFrame(
            {"doc_id": pdf["doc_id"].values, "term": toks.values,
             "doc_len": dl.values,
             "lang": pdf["lang"].values if "lang" in pdf.columns else ""}
        ).explode("term", ignore_index=True)
        frame["pos"] = frame.groupby("doc_id").cumcount()
        frame = frame.dropna(subset=["term"])
        if frame.empty:
            yield empty
            continue
        lowered = frame["term"].str.lower()
        stems = {t: stem_py(t) for t in pd.unique(lowered)}
        frame["term"] = lowered.map(stems)
        # explode preserves document order, so within a (doc, stem) group
        # the rows arrive in ascending pos — the list agg stays sorted
        # even when two surface forms merge
        out = (
            frame.groupby(["doc_id", "term", "doc_len", "lang"], sort=False)
            .agg(tf=("pos", "size"), positions=("pos", list))
            .reset_index()
        )
        yield out[["doc_id", "term", "tf", "doc_len", "lang", "positions"]]


# ---------------------------------------------------------------------------
# 3. Plain-Python (numpy-oracle side)
# ---------------------------------------------------------------------------

def tokenize_py(text: str) -> list[str]:
    return [
        t.lower() for t in _PY_TOKEN.findall((text or "").translate(_FOLD_TRANS))
    ]


def tokenize_py_reference(text: str) -> list[str]:
    """The replace-based reference algorithm (with the same step-0 fold),
    kept as the property-test witness that ``_RE_TOKEN`` extraction is
    semantically identical."""
    text = _PY_CAMEL_RUN.sub(r"\1 \2", (text or "").translate(_FOLD_TRANS))
    text = _PY_LOWER_UPPER.sub(r"\1 \2", text)
    return [t for t in _PY_NON_ALNUM.split(text.lower()) if t]


# ---------------------------------------------------------------------------
# 4. DuckDB SQL fragment (driver oracle)
# ---------------------------------------------------------------------------

def tokenize_duckdb_sql(expr: str) -> str:
    r"""DuckDB expression producing the identical ``list<varchar>`` of terms."""
    folded = f"replace(replace({expr}, '\u0130', 'I'), '\u212a', 'K')"
    return (
        "list_filter(regexp_split_to_array(lower("
        f"regexp_replace(regexp_replace({folded}, '([A-Z]+)([A-Z][a-z])', '\\1 \\2', 'g'),"
        " '([a-z0-9])([A-Z])', '\\1 \\2', 'g')), '[^a-z0-9]+'), t -> t <> '')"
    )


# ---------------------------------------------------------------------------
# 5. Harman "S" stemmer \u2014 the minimal plural folder (Harman 1991, "How
# effective is suffixing?"). Three lockstep impls: Python (oracle/driver),
# Column (JVM plan), DuckDB SQL (driver oracle). Tokens are ASCII [a-z0-9]+
# by construction, so char/byte length functions agree across engines.
# ---------------------------------------------------------------------------

def stem_py(t: str) -> str:
    """ies->y (unless -eies/-aies) | -es -> -e drop s (unless -aes/-ees/-oes)
    | -s drop (unless -us/-ss); minimum lengths keep 'is'/'ties' sane."""
    if len(t) > 4 and t.endswith("ies") and not t.endswith(("eies", "aies")):
        return t[:-3] + "y"
    if len(t) > 3 and t.endswith("es") and not t.endswith(("aes", "ees", "oes")):
        return t[:-1]
    if len(t) > 3 and t.endswith("s") and not t.endswith(("us", "ss")):
        return t[:-1]
    return t


def stem_col(toks: Column) -> Column:
    """array<string> -> array<string>, stemmed; pure Column algebra."""

    def one(t: Column) -> Column:
        n = F.length(t)
        return (
            F.when(
                (n > 4) & t.endswith("ies") & ~t.endswith("eies") & ~t.endswith("aies"),
                F.concat(F.substr(t, F.lit(1), n - 3), F.lit("y")),
            )
            .when(
                (n > 3) & t.endswith("es") & ~t.endswith("aes")
                & ~t.endswith("ees") & ~t.endswith("oes"),
                F.substr(t, F.lit(1), n - 1),
            )
            .when(
                (n > 3) & t.endswith("s") & ~t.endswith("us") & ~t.endswith("ss"),
                F.substr(t, F.lit(1), n - 1),
            )
            .otherwise(t)
        )

    return F.transform(toks, one)


def stem_duckdb_sql(toks_expr: str) -> str:
    """DuckDB twin of :func:`stem_col` over a list<varchar> expression."""
    return (
        f"list_transform({toks_expr}, t -> CASE "
        "WHEN length(t) > 4 AND t LIKE '%ies' "
        "AND t NOT LIKE '%eies' AND t NOT LIKE '%aies' "
        "THEN substr(t, 1, length(t) - 3) || 'y' "
        "WHEN length(t) > 3 AND t LIKE '%es' "
        "AND t NOT LIKE '%aes' AND t NOT LIKE '%ees' AND t NOT LIKE '%oes' "
        "THEN substr(t, 1, length(t) - 1) "
        "WHEN length(t) > 3 AND t LIKE '%s' "
        "AND t NOT LIKE '%us' AND t NOT LIKE '%ss' "
        "THEN substr(t, 1, length(t) - 1) "
        "ELSE t END)"
    )


# ---------------------------------------------------------------------------
# Synonym analyzer (Lucene SynonymGraphFilter, contract flavor): tokens are
# folded to their group's canonical term at INDEX time, so a group scores as
# one term with pooled tf/df. 1:1 token mapping — doc_len is unchanged, like
# the stemmer. A Column impl and its DuckDB twin, same discipline as the
# stemmer above (the driver-side fold is a plain ``dict.get``).
# ---------------------------------------------------------------------------

def synonym_col(toks: Column, synonyms: dict[str, str]) -> Column:
    """array<string> -> array<string>, each token folded through the
    synonym map (missing keys pass through); pure Column algebra."""
    if not synonyms:
        return toks
    m = F.create_map(*[F.lit(x) for kv in sorted(synonyms.items()) for x in kv])
    return F.transform(toks, lambda t: F.coalesce(F.element_at(m, t), t))


def synonym_duckdb_sql(toks_expr: str, synonyms: dict[str, str]) -> str:
    """DuckDB twin of :func:`synonym_col` over a list<varchar> expression."""
    if not synonyms:
        return toks_expr
    whens = " ".join(
        "WHEN '{}' THEN '{}'".format(k.replace("'", "''"), v.replace("'", "''"))
        for k, v in sorted(synonyms.items())
    )
    return f"list_transform({toks_expr}, t -> CASE t {whens} ELSE t END)"
