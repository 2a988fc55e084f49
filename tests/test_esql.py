"""ES|QL front-end: one parser, two emitters (DataFrame + DuckDB SQL)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from smse_backend_spark.operators.esql import (
    esql_to_sql,
    parse_esql,
    run_esql,
)


def _both(spark, sf, q):
    con = duckdb.connect()
    for t in ("documents", "events", "orders", "customer", "embeddings"):
        con.execute(f"create view {t} as select * from '{sf}/{t}.parquet'")
    s = sorted(map(tuple, run_esql(spark, sf, q).collect()))
    o = sorted(map(tuple, con.execute(esql_to_sql(q)).fetchall()))
    return s, o


def test_esql_stats_by_matches_oracle(spark, sf_smoke):
    q = ('FROM documents | WHERE lang == "en" AND n_chars >= 200 '
         "| STATS count() AS n, avg(n_chars) AS avg_chars BY source "
         "| SORT n DESC, source ASC | LIMIT 10")
    s, o = _both(spark, sf_smoke, q)
    assert s == o and len(s) > 0


def test_esql_match_filter_semantics(spark, sf_smoke):
    """match() in WHERE is the unscored conjunctive token match: every
    returned doc contains EVERY query term as a token."""
    from smse_backend_spark.functions.tokenizer import tokenize_py

    q = ('FROM documents | WHERE match(text, "hash join") '
         "| KEEP doc_id, text | SORT doc_id ASC | LIMIT 50")
    rows = run_esql(spark, sf_smoke, q).collect()
    assert rows
    for r in rows:
        toks = set(tokenize_py(r["text"]))
        assert {"hash", "join"} <= toks
    s, o = _both(spark, sf_smoke, q)
    assert s == o


def test_esql_eval_arith_and_grouping(spark, sf_smoke):
    q = ("FROM events | EVAL vb = value * 2.0 + 1.0 "
         '| WHERE event_type == "purchase" OR event_type == "view" '
         "| STATS count() AS n, min(vb) AS lo, max(vb) AS hi BY event_type "
         "| SORT event_type ASC | LIMIT 5")
    s, o = _both(spark, sf_smoke, q)
    assert s == o and len(s) == 2


def test_esql_parser_rejects_malformed():
    with pytest.raises(ValueError, match="must start with FROM"):
        parse_esql('WHERE lang == "en"')
    with pytest.raises(ValueError, match="FROM must be the first"):
        parse_esql('FROM documents | FROM events')
    with pytest.raises(ValueError, match="STATS expects an aggregate"):
        parse_esql("FROM documents | STATS n_chars AS x")
    with pytest.raises(ValueError, match="trailing tokens"):
        parse_esql("FROM documents extra")
    with pytest.raises(ValueError, match="unknown command"):
        parse_esql("FROM documents | FROBNICATE 3")
    with pytest.raises(ValueError, match="unknown function"):
        esql_to_sql('FROM documents | WHERE frob(text) == 1')


def test_esql_where_pushes_to_scan(spark, sf_correct):
    """The compiled WHERE must reach the parquet scan as a pushed filter
    and the STATS+SORT+LIMIT plan must end in TakeOrderedAndProject —
    the front-end adds no pass over a hand-written pipeline."""
    q = ('FROM documents | WHERE lang == "en" AND n_chars >= 200 '
         "| STATS count() AS n BY source | SORT n DESC, source ASC "
         "| LIMIT 5")
    df = run_esql(spark, sf_correct, q)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "EqualTo(lang,en)" in plan
    assert "GreaterThanOrEqual(n_chars,200)" in plan
    assert "TakeOrderedAndProject" in plan


def test_esql_dissect_and_grok(spark, sf_smoke):
    qd = ('FROM documents | DISSECT text "%{first} %{second} %{rest}" '
          "| STATS count() AS n BY first | SORT n DESC, first ASC | LIMIT 10")
    qg = ('FROM events | GROK props "%{NUMBER:k:int}" '
          '| WHERE event_type == "purchase" '
          "| STATS count() AS n, avg(k) AS avg_k BY event_type "
          "| SORT event_type ASC | LIMIT 3")
    for q in (qd, qg):
        s, o = _both(spark, sf_smoke, q)
        assert s == o and len(s) > 0


def test_esql_dissect_splitting_semantics(spark, tmp_path):
    """Left-to-right minimal splitting: the first field never swallows a
    delimiter, the last extends to the end; non-matching rows yield
    empty fields (and NULL after an :int grok cast)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = pd.DataFrame({
        "doc_id": [0, 1],
        "text": ["alpha beta gamma delta", "single"],
        "lang": ["en", "en"], "source": ["s", "s"], "n_chars": [22, 6],
    })
    sf = str(tmp_path)
    pq.write_table(pa.Table.from_pandas(pdf), f"{sf}/documents.parquet")
    from smse_backend_spark.operators.esql import run_esql

    rows = {r["doc_id"]: (r["a"], r["b"], r["c"]) for r in run_esql(
        spark, sf,
        'FROM documents | DISSECT text "%{a} %{b} %{c}" '
        "| KEEP doc_id, a, b, c | SORT doc_id ASC | LIMIT 10",
    ).collect()}
    assert rows[0] == ("alpha", "beta", "gamma delta")
    assert rows[1] == ("", "", "")  # pattern needs two spaces: no match


def test_esql_grok_unknown_pattern_rejected():
    from smse_backend_spark.operators.esql import esql_to_sql

    with pytest.raises(ValueError, match="unknown pattern"):
        esql_to_sql('FROM events | GROK props "%{BOGUS:x}" | LIMIT 1')


def test_cli_esql(tmp_path, spark, sf_smoke, capsys):
    import json

    from smse_backend_spark import cli

    out = str(tmp_path / "esql_out")
    cli.main([
        "esql", "--sf-dir", sf_smoke, "--out", out,
        "--query",
        'FROM documents | WHERE lang == "en" | STATS count() AS n BY source '
        "| SORT n DESC, source ASC | LIMIT 5",
        "--master", "local[4]",
    ])
    meta = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert meta["rows"] == 5
    rows = spark.read.parquet(out).collect()
    assert {r["source"] for r in rows} and all(r["n"] > 0 for r in rows)


def test_esql_rename_drop(spark, sf_smoke):
    q = ('FROM orders | RENAME o_totalprice AS price '
         "| DROP o_orderdate, o_orderpriority "
         '| WHERE o_orderstatus == "F" '
         "| STATS count() AS n, avg(price) AS avg_price BY o_orderstatus "
         "| SORT o_orderstatus ASC | LIMIT 3")
    s, o = _both(spark, sf_smoke, q)
    assert s == o and len(s) == 1
    # dropped/renamed columns are really gone
    from smse_backend_spark.operators.esql import run_esql

    cols = run_esql(
        spark, sf_smoke,
        "FROM orders | RENAME o_totalprice AS price | DROP o_orderdate "
        "| LIMIT 1",
    ).columns
    assert "price" in cols and "o_totalprice" not in cols
    assert "o_orderdate" not in cols


def test_esql_enrich_broadcast_join(spark, sf_correct):
    """ENRICH == a left broadcast lookup join: values match the SQL twin
    and the physical plan broadcasts the dimension (the fact stream
    never shuffles for the enrichment)."""
    from smse_backend_spark.operators.esql import run_esql

    q = ('FROM orders | ENRICH customer ON o_custkey == c_custkey '
         "WITH c_mktsegment "
         "| STATS count() AS n, avg(o_totalprice) AS avg_price "
         "BY c_mktsegment | SORT n DESC, c_mktsegment ASC | LIMIT 10")
    s, o = _both(spark, sf_correct, q)
    assert s == o and len(s) > 1
    plan = run_esql(spark, sf_correct, q) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_esql_string_functions(spark, sf_smoke):
    q = ('FROM documents '
         '| EVAL tag = concat(to_upper(lang), "_", source) '
         '| WHERE starts_with(tag, "EN") AND ends_with(source, "0") '
         "| STATS count() AS n BY tag | SORT n DESC, tag ASC | LIMIT 5")
    s, o = _both(spark, sf_smoke, q)
    assert s == o and len(s) > 0
    assert all(t.startswith("EN") for t, _ in s)


def test_esql_metadata_score_rank_identical_to_bm25(spark, sf_smoke):
    """Relevance search through ES|QL: _score is the engine's BM25 and
    the ranked prefix equals bm25_topk_scan for the conjunctive match
    subset — the query language fronts the search core, it does not
    reimplement it."""
    from smse_backend_spark.corpus import load_corpus
    from smse_backend_spark.operators.esql import run_esql
    from smse_backend_spark.operators.search import bm25_topk_scan

    q = ('FROM documents METADATA _score '
         '| WHERE match(text, "hash join merge scan") '
         "| KEEP doc_id, _score | SORT _score DESC, doc_id ASC | LIMIT 10")
    got = [(r["doc_id"], r["_score"]) for r in run_esql(
        spark, sf_smoke, q).collect()]
    s, o = _both(spark, sf_smoke, q)
    assert s == o
    # conjunctive subset of the OR-mode ranking keeps relative order and
    # scores: every (doc, score) pair must appear in the scan ranking
    scan = {(r["doc_id"], r["score"]) for r in bm25_topk_scan(
        load_corpus(spark, sf_smoke), "hash join merge scan", 1000).collect()}
    assert set(got) <= scan and len(got) == 10


def test_esql_metadata_score_requires_one_match():
    from smse_backend_spark.operators.esql import esql_to_sql

    with pytest.raises(ValueError, match="exactly ONE match"):
        esql_to_sql("FROM documents METADATA _score | LIMIT 5")
    with pytest.raises(ValueError, match="exactly ONE match"):
        esql_to_sql(
            'FROM documents METADATA _score | WHERE match(text, "a") '
            '| WHERE match(text, "b") | LIMIT 5')


def test_esql_split_mv_expand(spark, sf_smoke):
    """split() + MV_EXPAND: multivalue explode with identical
    empty-string and consecutive-separator semantics on both engines."""
    q = ('FROM documents | EVAL words = split(text, " ") | MV_EXPAND words '
         "| STATS count() AS n BY words | SORT n DESC, words ASC | LIMIT 10")
    s, o = _both(spark, sf_smoke, q)
    assert s == o and len(s) == 10


# --- round-5 ADVICE fixes ---------------------------------------------------

def test_esql_pipe_inside_quoted_pattern(spark, tmp_path):
    """A literal `|` inside a quoted string (pipe is a common dissect
    delimiter) must not split the query into bogus stages."""
    import pandas as pd

    pd.DataFrame({"doc_id": [1, 2], "line": ["a|b", "x|y"]}).to_parquet(
        f"{tmp_path}/logs.parquet"
    )
    q = ('FROM logs | DISSECT line "%{lhs}|%{rhs}" '
         "| KEEP doc_id, lhs, rhs | SORT doc_id ASC | LIMIT 5")
    rows = run_esql(spark, str(tmp_path), q).collect()
    assert [(r["lhs"], r["rhs"]) for r in rows] == [("a", "b"), ("x", "y")]
    con = duckdb.connect()
    con.execute(f"create view logs as select * from '{tmp_path}/logs.parquet'")
    o = con.execute(esql_to_sql(q)).fetchall()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, o))


def test_esql_midstream_sort_limit_twin(spark, sf_smoke):
    """SORT|LIMIT in PIPELINE position (before STATS) must aggregate the
    top-n on BOTH engines — the SQL emitter may not hoist it to the end."""
    q = ("FROM events | SORT value DESC, event_id ASC | LIMIT 100 "
         "| STATS count() AS n, sum(value) AS sv BY event_type "
         "| SORT event_type ASC | LIMIT 20")
    s, o = _both(spark, sf_smoke, q)
    assert s == o and sum(r[1] for r in s) == 100


def test_esql_repeated_limit_stages(spark, sf_smoke):
    """Two LIMIT stages compose (min), not overwrite."""
    q = ("FROM events | SORT event_id ASC | LIMIT 50 "
         "| WHERE value >= 0.0 | SORT event_id DESC | LIMIT 7")
    s, o = _both(spark, sf_smoke, q)
    assert s == o and len(s) <= 7


def test_esql_enrich_same_key_rejected():
    with pytest.raises(ValueError, match="distinct fact/dimension key"):
        parse_esql("FROM orders | ENRICH customer ON c_custkey == c_custkey "
                   "WITH c_name")


def test_esql_dissect_trailing_newline_twin(spark, tmp_path):
    """\\z anchoring: a doc ending in '\\n' must fail the dissect match on
    BOTH engines (Java $ would sneak a match before the newline)."""
    import pandas as pd

    pd.DataFrame(
        {"doc_id": [1, 2], "line": ["k=v", "k=w\n"]}
    ).to_parquet(f"{tmp_path}/logs.parquet")
    q = ('FROM logs | DISSECT line "%{key}=%{val}" '
         "| KEEP doc_id, key, val | SORT doc_id ASC | LIMIT 5")
    rows = run_esql(spark, str(tmp_path), q).collect()
    con = duckdb.connect()
    con.execute(f"create view logs as select * from '{tmp_path}/logs.parquet'")
    o = con.execute(esql_to_sql(q)).fetchall()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, o))
    byid = {r["doc_id"]: (r["key"], r["val"]) for r in rows}
    assert byid[1] == ("k", "v")
    assert byid[2] == ("", "")  # no match: empty extract on both engines


def test_esql_grok_int_on_decimal_capture_twin(spark, tmp_path):
    """%{NUMBER:k:int} over a decimal capture floors identically on both
    engines (was: Spark null vs DuckDB round)."""
    import pandas as pd

    pd.DataFrame(
        {"doc_id": [1, 2, 3], "line": ["t=3.7", "t=12", "t=oops"]}
    ).to_parquet(f"{tmp_path}/logs.parquet")
    q = ('FROM logs | GROK line "t=%{NUMBER:t:int}" '
         "| KEEP doc_id, t | SORT doc_id ASC | LIMIT 5")
    rows = run_esql(spark, str(tmp_path), q).collect()
    con = duckdb.connect()
    con.execute(f"create view logs as select * from '{tmp_path}/logs.parquet'")
    o = con.execute(esql_to_sql(q)).fetchall()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, o))
    byid = {r["doc_id"]: r["t"] for r in rows}
    assert byid[1] == 3 and byid[2] == 12 and byid[3] is None


def test_esql_mv_expand_preserves_column_position(spark, sf_smoke):
    """REPLACE-based unnest keeps the exploded column in place on the
    oracle side, matching Spark's withColumn-in-place schema."""
    q = ('FROM documents | WHERE doc_id < 5 | EVAL parts = split(text, " ") '
         "| MV_EXPAND parts | KEEP doc_id, parts | SORT doc_id ASC, parts ASC "
         "| LIMIT 40")
    s, o = _both(spark, sf_smoke, q)
    assert s == o and len(s) > 0


# --- round-5 widening: IN/LIKE/RLIKE/CASE/DATE_TRUNC/aggs/CATEGORIZE --------

def test_esql_in_like_rlike_twins(spark, sf_smoke):
    for q in [
        ('FROM events | WHERE event_type IN ("purchase", "view") '
         "| STATS n = count() BY event_type | SORT event_type ASC | LIMIT 5"),
        ('FROM documents | WHERE source LIKE "web*" '
         "| STATS n = count() | LIMIT 1"),
        ('FROM documents | WHERE lang RLIKE "e.|d." '
         "| STATS n = count() BY lang | SORT lang ASC | LIMIT 10"),
        ('FROM documents | WHERE lang NOT IN ("en") AND source NOT LIKE "b*" '
         "| STATS n = count() BY lang | SORT lang ASC | LIMIT 10"),
    ]:
        s, o = _both(spark, sf_smoke, q)
        assert s == o and len(s) > 0, q


def test_esql_in_list_takes_literals_only(spark, sf_smoke):
    """A bare name in an IN list would compare with the string on Spark
    but with the column in SQL, so the parser rejects it; a literal list
    (strings and integers) matches on both emitters."""
    with pytest.raises(ValueError, match="IN expects a list of literals"):
        parse_esql("FROM events | WHERE event_type IN (a) | LIMIT 1")
    with pytest.raises(ValueError, match="IN expects a list of literals"):
        parse_esql('FROM events | WHERE event_type IN ("view", a) | LIMIT 1')
    q = ('FROM documents | WHERE lang IN ("en", "de") AND doc_id IN (1, 2, 3) '
         "| KEEP doc_id, lang | SORT doc_id ASC | LIMIT 10")
    s, o = _both(spark, sf_smoke, q)
    assert s == o and len(s) == 2


def test_esql_rlike_is_whole_string(spark, sf_smoke):
    """RLIKE follows the ES regexp query: the pattern must match the
    ENTIRE value, not a substring."""
    rows = run_esql(
        spark, sf_smoke,
        'FROM documents | WHERE lang RLIKE "e" | STATS n = count() | LIMIT 1'
    ).collect()
    assert rows[0]["n"] == 0  # "en" does not whole-string-match /e/


def test_esql_case_date_trunc_twin(spark, sf_smoke):
    q = ('FROM events | EVAL wk = DATE_TRUNC("week", ts), '
         'sz = CASE(value < 50.0, "s", value < 200.0, "m", "l") '
         "| STATS n = count() BY wk, sz | SORT wk ASC, sz ASC | LIMIT 40")
    s, o = _both(spark, sf_smoke, q)
    assert s == o and len(s) > 0


def test_esql_new_aggs_twin(spark, sf_smoke):
    q = ("FROM events | STATS u = count_distinct(user_id), "
         "med = median(value), n = count() BY event_type "
         "| SORT event_type ASC | LIMIT 10")
    s, o = _both(spark, sf_smoke, q)
    assert s == o and len(s) > 0


def test_esql_top_and_values_twin(spark, sf_smoke):
    for q in [
        ('FROM events | STATS t = top(value, 3, "desc") BY event_type '
         "| MV_EXPAND t | SORT event_type ASC, t DESC | LIMIT 30"),
        ("FROM events | STATS v = values(event_type) | MV_EXPAND v "
         "| SORT v ASC | LIMIT 20"),
    ]:
        s, o = _both(spark, sf_smoke, q)
        assert s == o and len(s) > 0, q


def test_esql_categorize_matches_categorize_text_agg(spark, sf_smoke):
    """STATS BY CATEGORIZE(text) reuses the deterministic prefix-skeleton
    categorizer — top buckets must agree with the standalone
    categorize_text aggregation."""
    from smse_backend_spark.operators.aggregations import categorize_text

    q = ("FROM documents | STATS doc_count = count() BY CATEGORIZE(text) "
         "| SORT doc_count DESC, category ASC | LIMIT 10")
    s, o = _both(spark, sf_smoke, q)
    assert s == o and len(s) == 10
    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    agg = categorize_text(
        docs.withColumnRenamed("text", "content"), n_tokens=4, size=10
    ).select("category", "doc_count").collect()
    assert sorted((r["category"], r["doc_count"]) for r in agg) == sorted(s)


def test_esql_stats_rejects_non_aggregate():
    with pytest.raises(ValueError, match="STATS expects an aggregate"):
        parse_esql("FROM events | STATS n = length(props)")


def test_esql_mv_functions_twin(spark, sf_smoke):
    """MV_COUNT / MV_MIN / MV_MAX / MV_SUM / MV_AVG / MV_JOIN over a
    split() multivalue — IEEE-identical fold order on both engines."""
    q = ('FROM documents | WHERE doc_id < 20 '
         '| EVAL parts = split(text, " "), n = mv_count(parts), '
         'lo = mv_min(parts), hi = mv_max(parts), '
         'joined = mv_join(parts, "-") '
         "| KEEP doc_id, n, lo, hi, joined | SORT doc_id ASC | LIMIT 20")
    s, o = _both(spark, sf_smoke, q)
    assert s == o and len(s) == 20
    q2 = ('FROM documents | WHERE doc_id < 20 '
          '| EVAL lens = split(text, " "), sub = mv_count(lens) * 1.0 '
          "| STATS tot = sum(sub) AS t2 | LIMIT 1")
    # numeric mv_sum / mv_avg over a double array column
    q3 = ("FROM embeddings | WHERE vec_id < 10 "
          "| EVAL s = mv_sum(embedding), a = mv_avg(embedding) "
          "| KEEP vec_id, s, a | SORT vec_id ASC | LIMIT 10")
    s3, o3 = _both(spark, sf_smoke, q3)
    assert s3 == o3 and len(s3) == 10


def test_esql_scalar_functions_twin(spark, sf_smoke):
    """substring/trim/replace/left/right/to_*/greatest/least/pow/sqrt/
    log10/floor/ceil + IS [NOT] NULL — identical on both engines."""
    q = ('FROM documents | WHERE text IS NOT NULL AND doc_id < 30 '
         '| EVAL head = substring(text, 1, 12), l3 = left(source, 3), '
         'r2 = right(source, 2), rep = replace(lang, "e", "E"), '
         'su = to_string(doc_id), fl = floor(n_chars / 7.0), '
         'ce = ceil(n_chars / 7.0), rt = sqrt(n_chars * 1.0), '
         'lg = log10(n_chars * 1.0), pw = pow(doc_id * 1.0, 2.0), '
         'gi = greatest(doc_id, n_chars), li = least(doc_id, n_chars), '
         'ti = to_integer(su), td = to_double(su) '
         "| KEEP doc_id, head, l3, r2, rep, su, fl, ce, rt, lg, pw, gi, li, "
         "ti, td | SORT doc_id ASC | LIMIT 30")
    s, o = _both(spark, sf_smoke, q)
    assert s == o and len(s) == 30


def test_esql_is_null_twin(spark, sf_smoke):
    q = ("FROM documents | WHERE lang IS NULL "
         "| STATS n = count() | LIMIT 1")
    s, o = _both(spark, sf_smoke, q)
    assert s == o and s[0][0] == 0


def test_esql_to_integer_truncates_toward_zero(spark, tmp_path):
    """ES TO_INTEGER truncates; DuckDB's bare cast would round — the
    oracle must use trunc()."""
    import pandas as pd

    pd.DataFrame({"doc_id": [1, 2, 3],
                  "v": ["3.9", "12", "oops"]}).to_parquet(
        f"{tmp_path}/vals.parquet")
    q = ("FROM vals | EVAL i = to_integer(v) "
         "| KEEP doc_id, i | SORT doc_id ASC | LIMIT 5")
    rows = run_esql(spark, str(tmp_path), q).collect()
    con = duckdb.connect()
    con.execute(f"create view vals as select * from '{tmp_path}/vals.parquet'")
    o = con.execute(esql_to_sql(q)).fetchall()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, o))
    byid = {r["doc_id"]: r["i"] for r in rows}
    assert byid[1] == 3 and byid[2] == 12 and byid[3] is None


def test_esql_percentile_weighted_avg_twin(spark, sf_smoke):
    q = ("FROM events | STATS p50 = percentile(value, 0.5), "
         "p90 = percentile(value, 0.9), "
         "wa = weighted_avg(value, user_id) BY event_type "
         "| SORT event_type ASC | LIMIT 10")
    s, o = _both(spark, sf_smoke, q)
    assert s == o and len(s) > 0
