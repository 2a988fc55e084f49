"""Oracle-identity tests for the round-4 additions: combined_fields
(Lucene CombinedFieldQuery), intervals combinators, search_as_you_type,
fuzzy completion, and line-level dedup."""

from __future__ import annotations

import duckdb
import pytest

from smse_backend_spark.corpus import load_corpus
from smse_backend_spark.operators.search import (
    bm25f_scan,
    combined_fields_oracle_sql,
    combined_fields_scan,
)


@pytest.fixture(scope="module")
def corpus(spark, sf_smoke):
    c = load_corpus(spark, sf_smoke).cache()
    c.count()
    return c


@pytest.fixture(scope="module")
def con(sf_smoke):
    c = duckdb.connect()
    c.execute(
        f"create view documents as select * from '{sf_smoke}/documents.parquet'"
    )
    return c


@pytest.mark.parametrize("query,lang", [
    ("py f42 hash join", None),
    ("hash join merge scan", "en"),
    ("nonexistentterm", None),
    ("", None),
])
def test_combined_fields_vs_duckdb(corpus, con, query, lang):
    got = sorted(
        tuple(r)
        for r in combined_fields_scan(corpus, query, None, 10, lang).collect()
    )
    want = sorted(
        tuple(w)
        for w in con.execute(
            combined_fields_oracle_sql(query, None, 10, lang)
        ).fetchall()
    )
    assert got == want


def test_combined_fields_df_merge_differs_from_bm25f(spark):
    """combined_fields (Lucene max-df stat merge) vs bm25f_scan
    (union-presence df): on a corpus where a term's match sets are
    DISJOINT across fields (union-df 2, max-df 1), the idfs — and hence
    the scores — must diverge; docs and ranks stay identical."""
    micro = spark.createDataFrame(
        [
            (1, "alpha beta gamma", "x/y.py", "en"),
            (2, "delta beta", "alpha/z.py", "en"),
            (3, "epsilon", "q/r.py", "en"),
        ],
        "doc_id long, content string, path string, lang string",
    )
    cf = {r["doc_id"]: r["score"]
          for r in combined_fields_scan(micro, "alpha", None, 10).collect()}
    bf = {r["doc_id"]: r["score"]
          for r in bm25f_scan(micro, "alpha", None, 10).collect()}
    assert set(cf) == set(bf) == {1, 2}
    # max-df (1) < union-df (2) -> strictly larger idf -> larger scores
    assert all(cf[d] > bf[d] for d in cf)


def test_bm25f_zaragoza_vs_duckdb(corpus, con):
    from smse_backend_spark.operators.search import (
        bm25f_zaragoza_oracle_sql,
        bm25f_zaragoza_scan,
    )

    for q, lang in [("py f42 hash join", None), ("window scan", "en"),
                    ("", None)]:
        got = sorted(
            tuple(r)
            for r in bm25f_zaragoza_scan(corpus, q, None, None, 10, lang)
            .collect()
        )
        want = sorted(
            tuple(w)
            for w in con.execute(
                bm25f_zaragoza_oracle_sql(q, None, None, 10, lang)
            ).fetchall()
        )
        assert got == want, q


def test_bm25f_zaragoza_slope_zero_ignores_field_length(spark):
    """B_f = 0 turns off length normalization for that field: two docs
    whose path fields differ only in length must score identically when
    the path slope is 0 and differently when it is 1."""
    from smse_backend_spark.operators.search import bm25f_zaragoza_scan

    micro = spark.createDataFrame(
        [
            (1, "zz", "alpha/b.py", "en"),
            (2, "zz", "alpha/very/long/extra/pieces/b.py", "en"),
        ],
        "doc_id long, content string, path string, lang string",
    )
    flat = {r["doc_id"]: r["score"] for r in bm25f_zaragoza_scan(
        micro, "alpha", None, {"content": 0.0, "path": 0.0}, 10).collect()}
    sloped = {r["doc_id"]: r["score"] for r in bm25f_zaragoza_scan(
        micro, "alpha", None, {"content": 0.0, "path": 1.0}, 10).collect()}
    assert flat[1] == flat[2]
    assert sloped[1] != sloped[2]


# ---------------------------------------------------------------------------
# intervals all_of / any_of combinators


@pytest.fixture(scope="module")
def pos_index(spark, corpus, tmp_path_factory):
    from smse_backend_spark.index.build import build_index
    from smse_backend_spark.index.query import InvertedIndex

    out = str(tmp_path_factory.mktemp("idx_pos_r4"))
    build_index(spark, corpus, out, segment_size=64, n_buckets=4,
                block_size=16, n_batches=2, with_positions=True)
    return InvertedIndex(spark, out)


@pytest.mark.parametrize("sources,max_gaps,ordered", [
    ([["table"], ["scan", "merge"]], 2, True),
    ([["table"], ["scan", "merge"]], 0, False),
    ([["hash", "sort"], ["join"], ["batch", "window"]], 4, True),
    ([["zzqq"], ["scan"]], 3, True),
])
def test_intervals_allof_vs_oracle(pos_index, con, sources, max_gaps, ordered):
    from smse_backend_spark.operators.search import intervals_allof_oracle_sql

    got = [(r["doc_id"], r["score"])
           for r in pos_index.intervals_allof_topk(
               sources, max_gaps, ordered, 10).collect()]
    want = [tuple(r) for r in con.execute(
        intervals_allof_oracle_sql(sources, max_gaps, ordered, 10)).fetchall()]
    assert got == want, (sources, got[:3], want[:3])


def test_intervals_allof_singletons_equals_intervals_match(pos_index):
    """all_of over singleton sources IS the plain intervals match rule —
    the combinator must collapse to intervals_topk exactly."""
    a = [(r["doc_id"], r["score"]) for r in pos_index.intervals_allof_topk(
        [["table"], ["scan"]], max_gaps=2, ordered=True, k=10).collect()]
    b = [(r["doc_id"], r["score"]) for r in pos_index.intervals_topk(
        "table scan", max_gaps=2, ordered=True, k=10).collect()]
    assert a == b
    assert a


def test_intervals_anyof_supersets_each_alternative(pos_index):
    """any_of's match set contains each single-alternative match set."""
    union = {r["doc_id"] for r in pos_index.intervals_allof_topk(
        [["table"], ["scan", "merge"]], 2, True, 10_000).collect()}
    for alt in ("scan", "merge"):
        solo = {r["doc_id"] for r in pos_index.intervals_allof_topk(
            [["table"], [alt]], 2, True, 10_000).collect()}
        assert solo <= union


# ---------------------------------------------------------------------------
# Lucene sloppy phrase (match_phrase slop)


@pytest.mark.parametrize("phrase,slop,lang", [
    ("table scan", 0, None),
    ("table scan", 2, None),
    ("table scan", 5, "en"),
    ("hash join merge", 4, None),
    ("zzqq nohit", 3, None),
])
def test_phrase_slop_vs_oracle(pos_index, con, phrase, slop, lang):
    from smse_backend_spark.operators.search import phrase_slop_oracle_sql

    got = [(r["doc_id"], r["score"])
           for r in pos_index.phrase_slop_topk(phrase, slop, 10, lang).collect()]
    want = [tuple(r) for r in con.execute(
        phrase_slop_oracle_sql(phrase, slop, 10, lang)).fetchall()]
    assert got == want, (phrase, slop, got[:3], want[:3])


def test_phrase_slop_zero_matches_exact_phrase_set(pos_index):
    """slop=0 degenerates to the exact phrase: same match set as
    phrase_topk (scores differ by design — phrase-df idf vs summed
    term idfs)."""
    sloppy = {r["doc_id"] for r in
              pos_index.phrase_slop_topk("table scan", 0, 10_000).collect()}
    exact = {r["doc_id"] for r in
             pos_index.phrase_topk("table scan", 10_000).collect()}
    assert sloppy == exact
    assert sloppy


def test_phrase_slop_match_set_monotone_in_slop(pos_index):
    prev: set = set()
    for slop in (0, 1, 3, 6):
        cur = {r["doc_id"] for r in
               pos_index.phrase_slop_topk("table scan", slop, 10_000).collect()}
        assert prev <= cur, slop
        prev = cur


def test_sloppy_freq_slop0_counts_exact_alignments():
    """At slop=0 Lucene's sloppy frequency is exactly the number of
    positions where every adjusted list aligns (each contributing
    1/(1+0)) — check against a set-intersection count on random lists."""
    import random

    import numpy as np

    from smse_backend_spark.index.query import _sloppy_phrase_freq

    rng = random.Random(42)
    for _ in range(300):
        n = rng.randint(2, 4)
        lists = []
        for _i in range(n):
            m = rng.randint(1, 8)
            lists.append(np.array(sorted(rng.sample(range(0, 30), m)),
                                  dtype=np.int64))
        want = len(set.intersection(*[set(l.tolist()) for l in lists]))
        got = _sloppy_phrase_freq(lists, 0)
        assert got == float(want), (lists, got, want)


def test_phrase_slop_rejects_repeats(pos_index):
    with pytest.raises(ValueError):
        pos_index.phrase_slop_topk("scan scan", 2, 10)


# ---------------------------------------------------------------------------
# search_as_you_type (multi_match bool_prefix over root + _2gram)


@pytest.mark.parametrize("query,lang", [
    ("table sc", None),
    ("hash jo", "en"),
    ("merge", None),           # single partial token: root field only
    ("zzq qqz", None),         # no expansions anywhere
])
def test_sayt_vs_oracle(corpus, con, query, lang):
    from smse_backend_spark.operators.search import sayt_oracle_sql, sayt_scan

    got = sorted(tuple(r) for r in sayt_scan(corpus, query, 10, lang).collect())
    want = sorted(tuple(w) for w in
                  con.execute(sayt_oracle_sql(query, 10, lang)).fetchall())
    assert got == want, (query, got[:3], want[:3])


def test_sayt_shingle_field_rewards_adjacency(spark):
    """The _2gram subfield is the whole point of search_as_you_type:
    with identical root-field stats, the doc where the typed words are
    ADJACENT must out-score the doc where they are separated."""
    from smse_backend_spark.operators.search import sayt_scan

    micro = spark.createDataFrame(
        [
            (1, "table scan runs fast", "en"),
            (2, "table runs scan fast", "en"),
        ],
        "doc_id long, content string, lang string",
    )
    scores = {r["doc_id"]: r["score"]
              for r in sayt_scan(micro, "table sc", 10).collect()}
    assert scores[1] > scores[2]


# ---------------------------------------------------------------------------
# fuzzy completion suggester


@pytest.fixture(scope="module")
def plain_index(spark, corpus, tmp_path_factory):
    from smse_backend_spark.index.build import build_index
    from smse_backend_spark.index.query import InvertedIndex

    out = str(tmp_path_factory.mktemp("idx_plain_r4"))
    build_index(spark, corpus, out, segment_size=64, n_buckets=4,
                block_size=16, n_batches=2)
    return InvertedIndex(spark, out)


@pytest.mark.parametrize("prefix,fuzz,pl", [
    ("sca", 1, 1),
    ("tabl", 1, 1),
    ("tabl", 2, 1),
    ("wind", 1, 2),
    ("jion", 1, 1),   # exact head 'j' kills everything
])
def test_complete_fuzzy_vs_oracle(plain_index, con, prefix, fuzz, pl):
    from smse_backend_spark.operators.search import complete_fuzzy_oracle_sql

    got = [tuple(r) for r in
           plain_index.complete_fuzzy(prefix, 10, fuzziness=fuzz,
                                      prefix_length=pl).collect()]
    want = [tuple(w) for w in con.execute(complete_fuzzy_oracle_sql(
        prefix, 10, fuzziness=fuzz, prefix_length=pl)).fetchall()]
    assert got == want, (prefix, fuzz, pl, got[:3], want[:3])


def test_complete_fuzzy_contains_exact_completions(plain_index):
    """Every exact-prefix completion is a fuzzy completion at dist 0."""
    exact = {r["term"] for r in plain_index.complete("sc", 100).collect()}
    fuzzy = {r["term"]: r["dist"]
             for r in plain_index.complete_fuzzy("sc", 100, fuzziness=1)
             .collect()}
    for t in exact:
        assert fuzzy.get(t) == 0, t


# ---------------------------------------------------------------------------
# SemDeDup


def test_semdedup_vs_oracle_smoke(spark, sf_smoke):
    import duckdb

    from smse_backend_spark.operators.dedup import semdedup, semdedup_sql

    con2 = duckdb.connect()
    con2.execute("create view embeddings as select * from "
                 f"'{sf_smoke}/embeddings.parquet'")
    emb = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    for tau in (0.4, 0.6):
        got = sorted(tuple(r) for r in semdedup(emb, 8, 1, tau).collect())
        want = sorted(tuple(w)
                      for w in con2.execute(semdedup_sql(64, 8, tau)).fetchall())
        assert got == want, tau


def test_semdedup_keeps_low_centroid_sim_member(spark):
    """The paper's keep rule: of a duplicate pair, the member MORE
    similar to its centroid is the one dropped."""
    from smse_backend_spark.operators.dedup import semdedup

    # centroid seeds are vec_id < n_centroids; vectors 2 and 3 are a
    # near-duplicate pair close to centroid 0, with 3 closer to it
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.9, 0.10, 0.43589, 0.0]),
        (3, [0.95, 0.05, 0.31225, 0.0]),
    ]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in rows],
        "vec_id long, embedding array<float>, label int",
    )
    dropped = {r["vec_id"] for r in
               semdedup(emb, 2, 0, 0.97).collect()}
    assert dropped == {3}


# ---------------------------------------------------------------------------
# suggest_mode=missing and sliced scroll


def test_suggest_missing_mode(plain_index, con):
    from smse_backend_spark.operators.search import suggest_oracle_sql

    # absent term -> suggestions; present term -> NO rows (both engines)
    got = [tuple(r) for r in
           plain_index.suggest("tabel", 2, 10, mode="missing").collect()]
    want = [tuple(w) for w in con.execute(
        suggest_oracle_sql("tabel", 2, 10, mode="missing")).fetchall()]
    assert got == want and got
    assert plain_index.suggest("table", 2, 10, mode="missing").count() == 0
    assert con.execute(
        suggest_oracle_sql("table", 2, 10, mode="missing")).fetchall() == []


def test_sliced_hits_vs_oracle_and_partition(plain_index, con):
    from smse_backend_spark.operators.search import sliced_hits_oracle_sql

    seen: dict[int, int] = {}
    total = 0
    for sid in range(4):
        got = [tuple(r) for r in
               plain_index.sliced_hits("hash join", sid, 4, 100_000).collect()]
        want = [tuple(w) for w in con.execute(
            sliced_hits_oracle_sql("hash join", sid, 4, 100_000)).fetchall()]
        assert got == want, sid
        for d, _s in got:
            assert d not in seen, (d, sid, seen.get(d))
            seen[d] = sid
        total += len(got)
    # the four slices are pairwise disjoint (asserted above) and their
    # union re-derives every hit the unsliced oracle sees
    full = con.execute(
        sliced_hits_oracle_sql("hash join", 0, 1, 100_000)).fetchall()
    assert total == len(seen) == len(full) > 0


# ---------------------------------------------------------------------------
# DFR PL2 similarity


@pytest.mark.parametrize("query,lang", [
    ("hash join merge scan", None),
    ("batch stream spark window", "en"),
    ("zzqq", None),
])
def test_dfr_pl2_vs_oracle(plain_index, con, query, lang):
    from smse_backend_spark.operators.similarities import dfr_pl2_oracle_sql

    got = [(r["doc_id"], r["score"])
           for r in plain_index.similarity_topk(query, "pl2", 10, lang).collect()]
    want = [tuple(w) for w in
            con.execute(dfr_pl2_oracle_sql(query, 10, lang)).fetchall()]
    assert got == want, (query, got[:3], want[:3])


# ---------------------------------------------------------------------------
# CLI surface for the round-4 additions


def test_cli_slop_export_suggest_mode(tmp_path, spark, sf_smoke, capsys):
    import json

    from smse_backend_spark import cli

    out = str(tmp_path / "pidx_r4")
    cli.main([
        "build", "--corpus", sf_smoke, "--out", out, "--with-positions",
        "--segment-size", "256", "--n-buckets", "8", "--n-batches", "1",
        "--master", "local[4]",
    ])
    capsys.readouterr()

    cli.main(["query", "--index", out, "--text", "table scan",
              "--slop", "2", "--master", "local[4]"])
    hits = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert hits and all(h["score"] > 0 for h in hits)

    cli.main(["suggest", "--index", out, "--text", "tabel",
              "--mode", "missing", "--master", "local[4]"])
    sug = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert sug and sug[0]["term"] == "table"

    cli.main(["export", "--index", out, "--text", "hash join",
              "--slice", "0", "--slices", "2", "--n", "100000",
              "--master", "local[4]"])
    s0 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    cli.main(["export", "--index", out, "--text", "hash join",
              "--slice", "1", "--slices", "2", "--n", "100000",
              "--master", "local[4]"])
    s1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    ids0 = {h["doc_id"] for h in s0}
    ids1 = {h["doc_id"] for h in s1}
    assert ids0 and ids1 and not (ids0 & ids1)


def test_cli_semdedup(tmp_path, spark, sf_smoke, capsys):
    import json

    from smse_backend_spark import cli

    out = str(tmp_path / "sdd")
    cli.main(["dedup", "--docs", f"{sf_smoke}/embeddings.parquet",
              "--out", out, "--mode", "semdedup", "--n-centroids", "8",
              "--threshold", "0.4", "--master", "local[4]"])
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["mode"] == "semdedup" and summary["rows"] >= 0


# ---------------------------------------------------------------------------
# WIMBD duplicate n-gram fraction


def test_dup_ngram_fraction_vs_oracle(spark, sf_smoke, con):
    from smse_backend_spark.operators.dedup import (
        dup_ngram_fraction,
        dup_ngram_fraction_sql,
    )

    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    for n, mf in ((8, 0.3), (5, 0.0), (8, 0.99)):
        got = sorted(tuple(r)
                     for r in dup_ngram_fraction(docs, n, mf, 1000).collect())
        want = sorted(tuple(w) for w in
                      con.execute(dup_ngram_fraction_sql(n, mf, 1000))
                      .fetchall())
        assert got == want, (n, mf)


def test_dup_ngram_fraction_exact_dups_hit_one(spark):
    """Two verbatim-identical docs: every window duplicated -> frac 1.0;
    a unique doc never appears."""
    from smse_backend_spark.operators.dedup import dup_ngram_fraction

    text = "a b c d e f g h i j k l"
    docs = spark.createDataFrame(
        [(1, text), (2, text), (3, "z y x w v u t s r q p o")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r["dup_frac"]
            for r in dup_ngram_fraction(docs, 8, 0.0, 10).collect()}
    assert rows[1] == rows[2] == 1.0
    assert rows[3] == 0.0


# ---------------------------------------------------------------------------
# match fuzziness=AUTO


@pytest.mark.parametrize("query,lang", [
    ("py tabel jion", None),
    ("window scna", "en"),
    ("zz", None),              # < 3 chars: exact-only budget, no match
])
def test_match_fuzzy_auto_vs_oracle(plain_index, con, query, lang):
    from smse_backend_spark.operators.search import match_fuzzy_auto_oracle_sql

    got = [(r["doc_id"], r["score"]) for r in
           plain_index.bm25_topk_match_fuzzy(query, 10, lang).collect()]
    want = [tuple(w) for w in con.execute(
        match_fuzzy_auto_oracle_sql(query, 10, lang)).fetchall()]
    assert got == want, (query, got[:3], want[:3])


def test_auto_fuzziness_ladder():
    from smse_backend_spark.index.query import InvertedIndex

    assert [InvertedIndex.auto_fuzziness(t) for t in
            ("a", "py", "abc", "tabel", "tables")] == [0, 0, 1, 1, 2]


# ---------------------------------------------------------------------------
# percentiles_bucket sibling pipeline agg


def test_event_percentiles_bucket_vs_oracle(spark, sf_smoke):
    import duckdb

    from smse_backend_spark.operators.relational import (
        event_percentiles_bucket,
        event_percentiles_bucket_sql,
    )

    con2 = duckdb.connect()
    con2.execute(
        f"create view events as select * from '{sf_smoke}/events.parquet'"
    )
    got = [tuple(r) for r in event_percentiles_bucket(spark, sf_smoke).collect()]
    want = [tuple(w)
            for w in con2.execute(event_percentiles_bucket_sql()).fetchall()]
    assert got == want and len(got) == 4


# ---------------------------------------------------------------------------
# significant_terms mutual_information heuristic


def test_significant_terms_mi_vs_oracle(corpus, con):
    from smse_backend_spark.operators.aggregations import (
        significant_terms,
        significant_terms_sql,
    )

    for q, lang in [("vector window", None), ("hash", "en")]:
        got = [tuple(r) for r in significant_terms(
            corpus, q, 20, lang, heuristic="mutual_information").collect()]
        want = [tuple(w) for w in con.execute(significant_terms_sql(
            q, 20, lang, heuristic="mutual_information")).fetchall()]
        assert got == want, q
    assert got


# ---------------------------------------------------------------------------
# random_sampler aggregation


def test_random_sampler_facets_vs_oracle(corpus, con):
    from smse_backend_spark.operators.aggregations import (
        random_sampler_facets,
        random_sampler_facets_sql,
    )

    for p in (0.25, 0.5, 1.0):
        got = sorted(tuple(r)
                     for r in random_sampler_facets(corpus, p).collect())
        want = sorted(tuple(w) for w in
                      con.execute(random_sampler_facets_sql(p)).fetchall())
        assert got == want, p
    # p=1.0 degenerates to exact facet counts (est == sampled)
    assert all(s == e for _f, s, e in got)


def test_random_sampler_estimates_track_truth(corpus):
    """The inflated estimates approximate the true facet counts (within
    a loose band at sf-smoke sizes) — the point of the agg."""
    from smse_backend_spark.operators.aggregations import random_sampler_facets

    truth = {r["facet"]: r["est_n"]
             for r in random_sampler_facets(corpus, 1.0).collect()}
    est = {r["facet"]: r["est_n"]
           for r in random_sampler_facets(corpus, 0.25).collect()}
    for f, t in truth.items():
        assert abs(est.get(f, 0) - t) <= max(20, 0.5 * t), (f, est.get(f), t)


# ---------------------------------------------------------------------------
# combined_fields on the index path


def test_combined_fields_indexed_rank_identical_to_scan(spark, corpus,
                                                        tmp_path_factory):
    from pyspark.sql import functions as F

    from smse_backend_spark.index.build import build_index
    from smse_backend_spark.index.query import (
        InvertedIndex,
        combined_fields_indexed_topk,
    )
    from smse_backend_spark.operators.search import combined_fields_scan

    idxs = {}
    for fname, col in (("content", "content"), ("path", "path")):
        out = str(tmp_path_factory.mktemp(f"cfidx_{fname}"))
        src = corpus if col == "content" else corpus.withColumn(
            "content", F.col("path"))
        build_index(spark, src, out, segment_size=64, n_buckets=4,
                    block_size=16, n_batches=2)
        idxs[fname] = InvertedIndex(spark, out)
    for q in ("py f42 hash join", "table scan"):
        got = [(r["doc_id"], r["score"]) for r in
               combined_fields_indexed_topk(idxs, q, None or
                                            {"content": 1.0, "path": 2.0},
                                            10).collect()]
        want = [(r["doc_id"], r["score"]) for r in
                combined_fields_scan(corpus, q, None, 10).collect()]
        assert got == want, q
    assert got


# ---------------------------------------------------------------------------
# intervals prefix rule


@pytest.mark.parametrize("sources,max_gaps,ordered", [
    ([["table"], "prefix:sc"], 2, True),
    (["prefix:ta", ["scan", "merge"]], 3, False),
    ([["zzqq"], "prefix:sc"], 2, True),
])
def test_intervals_prefix_vs_oracle(pos_index, con, sources, max_gaps,
                                    ordered):
    from smse_backend_spark.operators.search import intervals_allof_oracle_sql

    got = [(r["doc_id"], r["score"]) for r in pos_index.intervals_prefix_topk(
        sources, max_gaps, ordered, 10).collect()]
    want = [tuple(r) for r in con.execute(intervals_allof_oracle_sql(
        sources, max_gaps, ordered, 10)).fetchall()]
    assert got == want, (sources, got[:3], want[:3])


def test_intervals_prefix_expansion_equals_explicit_anyof(pos_index):
    """The prefix rule IS an any_of over the dictionary expansion."""
    exp = pos_index.expand_prefix("sc", None, 128)
    a = [(r["doc_id"], r["score"]) for r in pos_index.intervals_prefix_topk(
        [["table"], "prefix:sc"], 2, True, 10).collect()]
    b = [(r["doc_id"], r["score"]) for r in pos_index.intervals_allof_topk(
        [["table"], exp], 2, True, 10).collect()]
    assert a == b and a


def test_intervals_prefix_cap_rejects_wide_expansion(pos_index):
    with pytest.raises(ValueError):
        pos_index.intervals_prefix_topk(
            [["table"], "prefix:sc"], 2, True, 10, max_expansions=0)


@pytest.mark.parametrize("sources", [
    [["table"], "wildcard:sc?n"],
    [["table"], "fuzzy:scna"],
    ["prefix:ta", "wildcard:*oin*"],
])
def test_intervals_wildcard_fuzzy_vs_oracle(pos_index, con, sources):
    from smse_backend_spark.operators.search import intervals_allof_oracle_sql

    got = [(r["doc_id"], r["score"]) for r in pos_index.intervals_prefix_topk(
        sources, 3, True, 10).collect()]
    want = [tuple(r) for r in con.execute(intervals_allof_oracle_sql(
        sources, 3, True, 10)).fetchall()]
    assert got == want, (sources, got[:3], want[:3])


def test_intervals_rule_rejects_bare_string(pos_index):
    with pytest.raises(ValueError):
        pos_index.intervals_prefix_topk([["table"], "scan"], 2, True, 10)


# ---------------------------------------------------------------------------
# Axiomatic similarities (Lucene AxiomaticF2EXP / AxiomaticF2LOG)


@pytest.mark.parametrize("query,lang", [
    ("hash join merge scan", None),
    ("batch stream spark window", "en"),
    ("zzqq", None),
])
def test_axiomatic_vs_oracle(plain_index, con, query, lang):
    from smse_backend_spark.operators.similarities import (
        axiomatic_f2exp_oracle_sql,
        axiomatic_f2log_oracle_sql,
    )

    for name, osql in [
        ("f2exp", axiomatic_f2exp_oracle_sql),
        ("f2log", axiomatic_f2log_oracle_sql),
    ]:
        got = [(r["doc_id"], r["score"]) for r in
               plain_index.similarity_topk(query, name, 10, lang).collect()]
        want = [tuple(w) for w in con.execute(osql(query, 10, lang)).fetchall()]
        assert got == want, (query, got[:3], want[:3])


def test_axiomatic_f2_tfn_bounded(plain_index):
    # the F2 growth function is < 1 for every tf, so no per-term
    # contribution can exceed its idf — scores stay finite and ordered
    rows = plain_index.similarity_topk("hash join", "f2exp", 5).collect()
    assert rows == sorted(rows, key=lambda r: (-r["score"], r["doc_id"]))
    assert all(r["score"] > 0 for r in rows)


# ---------------------------------------------------------------------------
# ES sampler aggregation (best-docs)


# corpus column -> raw documents-table column (repo is stored as source)
@pytest.mark.parametrize("shard_size,facet,raw_facet", [
    (5, "lang", "lang"), (50, "repo", "source"),
])
def test_sampler_facets_vs_oracle(spark, corpus, con, shard_size, facet,
                                  raw_facet):
    from smse_backend_spark.operators import aggregations as AG

    got = [tuple(r) for r in AG.sampler_facets(
        corpus, "hash join merge scan", shard_size, facet).collect()]
    want = [tuple(r) for r in con.execute(AG.sampler_facets_sql(
        "hash join merge scan", shard_size, raw_facet,
        table="documents")).fetchall()]
    assert got == want


def test_sampler_total_is_min_of_matchset_and_cap(spark, corpus):
    from smse_backend_spark.operators import aggregations as AG
    from smse_backend_spark.operators.search import bm25_scored_scan

    nmatch = bm25_scored_scan(corpus, "hash join").count()
    rows = AG.sampler_facets(corpus, "hash join", 7, "lang").collect()
    assert sum(r["n"] for r in rows) == min(7, nmatch)


# ---------------------------------------------------------------------------
# GND significance heuristic


@pytest.mark.parametrize("query", ["vector window", "hash"])
def test_significant_terms_gnd_vs_oracle(spark, corpus, con, query):
    from smse_backend_spark.operators import aggregations as AG

    got = [tuple(r) for r in AG.significant_terms(
        corpus, query, 15, heuristic="gnd").collect()]
    want = [tuple(r) for r in con.execute(AG.significant_terms_sql(
        query, 15, heuristic="gnd", table="documents")).fetchall()]
    assert got == want


def test_significant_terms_gnd_query_term_scores_high(spark, corpus):
    # a query term co-occurs perfectly with its own foreground, so it
    # should sit at/near the top with score near exp(0) bounds (0, 1]
    from smse_backend_spark.operators import aggregations as AG

    rows = AG.significant_terms(corpus, "vector", 5, heuristic="gnd").collect()
    assert rows and rows[0]["term"] == "vector"
    assert all(0.0 <= r["score"] <= 1.0 for r in rows)


# ---------------------------------------------------------------------------
# ES scripted_metric (map/combine/reduce == partial aggregation)


def test_event_scripted_metric_vs_oracle(spark, sf_smoke):
    import duckdb

    from smse_backend_spark.operators import relational as R

    got = [tuple(r) for r in R.event_scripted_metric(spark, sf_smoke).collect()]
    c = duckdb.connect()
    c.execute(f"create view events as select * from '{sf_smoke}/events.parquet'")
    want = [tuple(r) for r in c.execute(R.event_scripted_metric_sql()).fetchall()]
    assert got == want and got


def test_event_scripted_metric_partition_invariant(spark, sf_smoke):
    # the reduce is an integer-cent sum: any repartitioning (ES "shard
    # count") must produce the identical frame
    from pyspark.sql import functions as F

    from smse_backend_spark.operators import relational as R

    base = R.event_scripted_metric(spark, sf_smoke).collect()
    e = spark.read.parquet(f"{sf_smoke}/events.parquet").repartition(17)
    e.createOrReplaceTempView("___smx")
    epoch = F.col("ts").cast("timestamp").cast("long")
    day = ((F.floor(epoch / F.lit(86400))) * F.lit(86400)).cast("long")
    cents = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")
    signed = F.when(F.col("event_type").isin(["click", "view"]), cents).otherwise(-cents)
    re = (e.groupBy(day.alias("day_start"))
          .agg(F.count(F.lit(1)).cast("long").alias("n_tx"),
               (F.sum(signed).cast("double") / F.lit(100.0)).alias("profit"))
          .orderBy("day_start").collect())
    assert [tuple(r) for r in base] == [tuple(r) for r in re]


# ---------------------------------------------------------------------------
# intervals filter.not_containing


@pytest.mark.parametrize("sources,filt,max_gaps,ordered", [
    ([["table"], ["scan", "merge"]], ["hash"], 4, True),
    ([["table"], ["scan"]], ["join"], 6, False),
    ([["hash"], ["join"]], ["zznothere"], 3, True),
])
def test_intervals_not_containing_vs_oracle(pos_index, con, sources, filt,
                                            max_gaps, ordered):
    from smse_backend_spark.operators.search import intervals_allof_oracle_sql

    got = [(r["doc_id"], r["score"])
           for r in pos_index.intervals_not_containing_topk(
               sources, filt, max_gaps, ordered, 10).collect()]
    want = [tuple(r) for r in con.execute(intervals_allof_oracle_sql(
        sources, max_gaps, ordered, 10,
        not_containing=filt)).fetchall()]
    assert got == want, (sources, filt, got[:3], want[:3])


def test_intervals_not_containing_is_subset_and_strict(pos_index):
    """The filtered match set is a subset of the unfiltered one, and on
    the smoke corpus the filter must actually drop someone (else the
    test data can't witness the semantics)."""
    base = {r["doc_id"] for r in pos_index.intervals_allof_topk(
        [["table"], ["scan", "merge"]], 4, True, 100_000).collect()}
    kept = {r["doc_id"] for r in pos_index.intervals_not_containing_topk(
        [["table"], ["scan", "merge"]], ["hash"], 4, True,
        100_000).collect()}
    assert kept <= base
    assert kept < base, "filter term never fell inside any interval span"


def test_intervals_not_containing_absent_filter_is_identity(pos_index):
    a = [(r["doc_id"], r["score"]) for r in pos_index.intervals_allof_topk(
        [["table"], ["scan"]], 3, True, 10).collect()]
    b = [(r["doc_id"], r["score"])
         for r in pos_index.intervals_not_containing_topk(
             [["table"], ["scan"]], ["zznothere"], 3, True, 10).collect()]
    assert a == b


# ---------------------------------------------------------------------------
# cumulative_cardinality + normalize pipeline aggs


def test_event_cumulative_cardinality_vs_oracle(spark, sf_smoke):
    import duckdb

    from smse_backend_spark.operators import relational as R

    got = [tuple(r) for r in
           R.event_cumulative_cardinality(spark, sf_smoke).collect()]
    c = duckdb.connect()
    c.execute(f"create view events as select * from '{sf_smoke}/events.parquet'")
    want = [tuple(r) for r in
            c.execute(R.event_cumulative_cardinality_sql()).fetchall()]
    assert got == want and got
    # the cumulative column is the prefix sum of new_users and its last
    # value equals the total distinct-user count (exactness, not HLL)
    total = spark.read.parquet(f"{sf_smoke}/events.parquet") \
        .select("user_id").distinct().count()
    assert got[-1][2] == total
    assert all(b[2] - a[2] == b[1] for a, b in zip(got, got[1:]))


def test_event_normalize_vs_oracle(spark, sf_smoke):
    import duckdb

    from smse_backend_spark.operators import relational as R

    got = [tuple(r) for r in R.event_normalize_agg(spark, sf_smoke).collect()]
    c = duckdb.connect()
    c.execute(f"create view events as select * from '{sf_smoke}/events.parquet'")
    want = [tuple(r) for r in c.execute(R.event_normalize_agg_sql()).fetchall()]
    assert got == want and got
    vals = [r[2] for r in got]
    assert min(vals) == 0.0 and max(vals) == 1.0
