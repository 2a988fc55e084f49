"""Dirichlet-smoothed LM similarity: DuckDB parity, scan==index rank
identity, and an analytical hand-computed check of the Lucene formula."""

from __future__ import annotations

import math
import tempfile

import duckdb
import pytest
from pyspark.sql import functions as F

from smse_backend_spark.corpus import load_corpus
from smse_backend_spark.operators.lmsim import (
    lm_dirichlet_oracle_sql,
    lm_dirichlet_scan,
)

Q = "hash join merge scan"


def test_lm_scan_vs_duckdb(spark, sf_smoke):
    got = sorted(
        map(tuple, lm_dirichlet_scan(load_corpus(spark, sf_smoke), Q, 10).collect())
    )
    con = duckdb.connect()
    con.execute(
        f"create view documents as select * from '{sf_smoke}/documents.parquet'"
    )
    want = sorted(map(tuple, con.execute(lm_dirichlet_oracle_sql(Q, 10)).fetchall()))
    assert got == want and len(got) == 10


def test_lm_index_rank_identical_to_scan(spark, sf_smoke):
    from smse_backend_spark.index.build import build_index
    from smse_backend_spark.index.query import InvertedIndex

    corpus = load_corpus(spark, sf_smoke)
    out = tempfile.mkdtemp(prefix="lmidx_")
    build_index(spark, corpus, out, segment_size=256, n_buckets=8,
                block_size=64, n_batches=2)
    idx = InvertedIndex(spark, out)
    kernel = InvertedIndex(spark, out)
    kernel.INPROC_MAX_POSTINGS = 0  # route to the Spark kernel
    for lang in (None, "python"):
        scan = sorted(map(tuple, lm_dirichlet_scan(corpus, Q, 10, lang=lang).collect()))
        served = sorted(map(tuple, idx.similarity_topk(Q, "lm", 10, lang=lang).collect()))
        assert scan == served, lang
        if lang is None:
            served = sorted(map(tuple, kernel.similarity_topk(Q, "lm", 10).collect()))
            assert scan == served, "spark kernel"


def test_lm_formula_analytical(spark):
    """Three tiny docs, scores recomputed by hand with math.log: the
    engine must reproduce ln(1 + tf/(mu*p)) + ln(mu/(dl+mu)) per term,
    clamped at 0, quantized at 1e-6 half-up, summed."""
    rows = [
        (0, "alpha beta beta gamma", "en"),
        (1, "alpha alpha alpha delta", "en"),
        (2, "beta gamma gamma gamma", "en"),
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, content string, lang string")
    mu = 10.0  # small mu so the dl-penalty term matters
    got = {
        r["doc_id"]: r["score"]
        for r in lm_dirichlet_scan(corpus, "alpha gamma", 10, mu=mu).collect()
    }

    T = 12  # total tokens
    cf = {"alpha": 4, "gamma": 4}
    tf = {0: {"alpha": 1, "gamma": 1}, 1: {"alpha": 3}, 2: {"gamma": 3}}
    dl = {0: 4, 1: 4, 2: 4}
    want = {}
    for d, tfs in tf.items():
        s = 0
        for t, f_ in tfs.items():
            p = (cf[t] + 1.0) / (T + 1.0)
            raw = math.log(1.0 + f_ / (mu * p)) + math.log(mu / (dl[d] + mu))
            s += max(0, math.floor(raw * 1e6 + 0.5))
        want[d] = s / 1e6
    assert got == pytest.approx(want, abs=0)


def test_lm_clamp_never_negative(spark):
    """A stop-wordy term in a long doc yields a negative raw contribution;
    the per-term clamp must floor it at zero (Lucene's rule), so every
    score is >= 0 and a doc matching ONLY penalized terms scores 0.0."""
    rows = [
        (0, "the " * 50 + "rare", "en"),  # 'the' tf=50, dl=51
        (1, "the word", "en"),
        (2, "word word word", "en"),
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, content string, lang string")
    out = lm_dirichlet_scan(corpus, "the", 10, mu=5.0).collect()
    assert all(r["score"] >= 0.0 for r in out)
    # doc 1: tf=1 of a term with p=(51+1)/(56+1) -> ln(1+1/(5*p)) + ln(5/7) < 0 -> clamps to 0
    by_id = {r["doc_id"]: r["score"] for r in out}
    assert by_id[1] == 0.0
