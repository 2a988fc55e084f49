"""The in-process path (``mode="auto"`` below
``InvertedIndex.INPROC_MAX_POSTINGS``) against the Spark paths and the numpy
oracle, its zero-job property for BM25 and every similarity record, the
records' soft-delete answers on all three paths (in-process, Spark kernel,
tombstone fallback), and the driver-side reads behind it: row-group-pruned
term lookups and lineage-committed batches only."""

from __future__ import annotations

import shutil
from collections import Counter

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pytest

from smse_backend_spark.corpus import load_corpus
from smse_backend_spark.functions.tokenizer import stem_py, tokenize_py
from smse_backend_spark.index import deletes
from smse_backend_spark.index import lineage as lin
from smse_backend_spark.index.build import build_index
from smse_backend_spark.index.query import InvertedIndex, _terms_filter
from smse_backend_spark.operators.similarities import SIMILARITIES
from smse_backend_spark.oracle.bm25_numpy import bm25_topk_py

MODES = ("auto", "single_pass", "exhaustive", "pruned")
QUERIES = [
    ("hash join merge scan", None, 10),
    ("batch stream spark window", "en", 10),   # lang filter
    ("nonexistentterm zzzqqq", None, 10),      # absent terms
    ("window", None, 1000),                    # k above the number of hits
]


@pytest.fixture(scope="module")
def corpus(spark, sf_smoke):
    c = load_corpus(spark, sf_smoke).cache()
    c.count()
    yield c
    c.unpersist()


@pytest.fixture(scope="module")
def pydocs(corpus):
    return [(r["doc_id"], r["content"], r["lang"]) for r in corpus.collect()]


def _build(spark, corpus, out, **kw):
    build_index(spark, corpus, out, segment_size=64, n_buckets=4,
                block_size=16, n_batches=2, **kw)
    return out


@pytest.fixture(scope="module")
def plain_dir(spark, corpus, tmp_path_factory):
    return _build(spark, corpus, str(tmp_path_factory.mktemp("inproc")))


def _oracle(pydocs, query, lang, k, keep=lambda d: True, analyze=None):
    """bm25_topk_py over the docs ``keep`` selects (stats included), in
    the index's term space when ``analyze`` folds the tokens."""
    fold = analyze or (lambda text: text)
    docs = [(d, fold(c)) for d, c, lg in pydocs
            if keep(d) and (lang is None or lg == lang)]
    return bm25_topk_py(docs, fold(query), k=k)


def _ranked(idx, query, lang, k, mode):
    return [(r["doc_id"], r["score"])
            for r in idx.bm25_topk(query, k, lang, mode=mode).collect()]


def _assert_modes_equal(idx, query, lang, k, want):
    for mode in MODES:
        got = _ranked(idx, query, lang, k, mode)
        assert [d for d, _ in got] == [d for d, _ in want], (query, mode)
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, abs=1e-6), (query, mode)


def _jobs(spark, group, fn):
    """Result of ``fn()`` and the number of Spark jobs it started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("query,lang,k", QUERIES)
def test_all_paths_match_oracle(spark, plain_dir, pydocs, query, lang, k):
    idx = InvertedIndex(spark, plain_dir)
    _assert_modes_equal(idx, query, lang, k, _oracle(pydocs, query, lang, k))


def test_stemmed_index_paths_match_oracle(spark, corpus, pydocs, tmp_path):
    idx = InvertedIndex(spark, _build(spark, corpus, str(tmp_path / "stem"),
                                      analyzer="stem"))

    def stem_text(text):
        return " ".join(stem_py(t) for t in tokenize_py(text))

    for query in ("hashes joins merging scans", "windows batches"):
        want = _oracle(pydocs, query, None, 10, analyze=stem_text)
        assert want
        _assert_modes_equal(idx, query, None, 10, want)


def _copy(src, tmp_path, name):
    """A private copy of a built index (cheaper than a rebuild)."""
    return shutil.copytree(src, str(tmp_path / name))


def test_deleted_docs_paths_match_oracle(spark, plain_dir, pydocs, tmp_path):
    out = _copy(plain_dir, tmp_path, "del")
    gone = {d for d, _c, _l in pydocs if d % 5 == 0}
    deletes.delete_docs(spark, out, sorted(gone))
    idx = InvertedIndex(spark, out)
    for query, lang, k in QUERIES:
        # soft delete: stats still count the deleted docs
        full = _oracle(pydocs, query, lang, 100_000)
        want = [(d, s) for d, s in full if d not in gone][:k]
        _assert_modes_equal(idx, query, lang, k, want)


def test_as_of_reader_paths_match_oracle(spark, plain_dir, pydocs):
    rows = lin.read_lineage(plain_dir)
    frontier = rows[1]["doc_lo"]  # batches are doc-id ranges
    idx = InvertedIndex(spark, plain_dir, as_of_batch=0)
    for query, lang, k in QUERIES:
        want = _oracle(pydocs, query, lang, k, keep=lambda d: d < frontier)
        _assert_modes_equal(idx, query, lang, k, want)


def test_auto_runs_no_job_below_the_constant(spark, plain_dir, pydocs):
    idx = InvertedIndex(spark, plain_dir)
    query = "hash join merge scan"
    want = _oracle(pydocs, query, None, 10)
    rows, n_jobs = _jobs(spark, "inproc-auto",
                         lambda: idx.bm25_topk(query, 10).collect())
    assert n_jobs == 0
    assert [r["doc_id"] for r in rows] == [d for d, _ in want]
    empty, n_jobs = _jobs(spark, "inproc-absent",
                          lambda: idx.bm25_topk("nonexistentterm", 10).collect())
    assert empty == [] and n_jobs == 0

    idx.INPROC_MAX_POSTINGS = 0  # on the instance: route to the Spark kernel
    rows, n_jobs = _jobs(spark, "inproc-off",
                         lambda: idx.bm25_topk(query, 10).collect())
    assert n_jobs > 0
    assert [r["doc_id"] for r in rows] == [d for d, _ in want]


def test_batch_chunk_of_one_ranks_only_its_own_docs(spark, plain_dir, pydocs):
    """The batch kernel scores queries in chunks of 64, so the 65th query
    is a chunk of one over partitions that still hold the other queries'
    postings. It (a rare term, fewer than k hits) and an absent-term query
    must rank only docs with their own terms, as ``bm25_topk`` does."""
    df = Counter(t for _d, c, _l in pydocs for t in set(tokenize_py(c)))
    terms = [t for t, _n in df.most_common()]
    rare, k = terms[-1], df[terms[-1]] + 10
    queries = {i: f"{terms[i % 20]} {terms[(3 * i + 1) % 20]}"
               for i in range(63)}
    queries[63] = "nonexistentterm"
    queries[64] = rare
    idx = InvertedIndex(spark, plain_dir)
    got = {}
    for r in idx.bm25_topk_batch(queries, k).collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for qid, text in queries.items():
        want = _ranked(idx, text, None, k, "auto")
        assert [(d, s) for _r, d, s in sorted(got.get(qid, []))] == want, qid
    assert 63 not in got
    assert 0 < len(got[64]) < k


def test_similarity_runs_no_job_below_the_constant(spark, plain_dir):
    idx = InvertedIndex(spark, plain_dir)
    for name in SIMILARITIES:
        rows, n_jobs = _jobs(
            spark, f"inproc-sim-{name}",
            lambda: idx.similarity_topk("hash join merge scan", name, 10).collect(),
        )
        assert rows and n_jobs == 0, name


@pytest.fixture(scope="module")
def tiny_dir(spark, tmp_path_factory):
    """24 short docs over five shared words (none in every doc, so IB-SPL
    is defined) plus one private word each, in two langs."""
    words = ["alpha", "beta", "gamma", "delta", "omega"]
    rows = []
    for i in range(24):
        toks = [words[(i + j) % 5] for j in range(1 + i % 4)]
        toks += [f"w{i}"] * (1 + i % 3)
        rows.append((i, "r", f"p{i}", "c", "en" if i % 3 else "py",
                     " ".join(toks)))
    corpus = spark.createDataFrame(
        rows, "doc_id long, repo string, path string, commit string, "
              "lang string, content string",
    )
    out = str(tmp_path_factory.mktemp("tinysim"))
    build_index(spark, corpus, out, segment_size=8, n_buckets=2,
                block_size=4, n_batches=2)
    return out


def test_similarity_soft_delete_on_every_path(spark, tiny_dir, tmp_path):
    """Soft deletes keep the stats, so after ``delete_docs`` each record's
    answer is its pre-delete list minus the deleted docs — in process,
    on the Spark kernel, and on the tombstone fallback (set over
    ``TOMB_ARRAY_CAP``: decode, anti-join, the same kernel)."""
    out = _copy(tiny_dir, tmp_path, "simdel")
    query = "alpha gamma omega"
    before = {
        name: [(r["doc_id"], r["score"]) for r in
               InvertedIndex(spark, out).similarity_topk(query, name, 100).collect()]
        for name in SIMILARITIES
    }
    gone = {0, 4, 9, 14, 20}
    deletes.delete_docs(spark, out, sorted(gone))
    kernel = InvertedIndex(spark, out)
    kernel.INPROC_MAX_POSTINGS = 0
    fallback = InvertedIndex(spark, out)
    fallback.TOMB_ARRAY_CAP = 0
    for name, was in before.items():
        want = [(d, sc) for d, sc in was if d not in gone]
        assert len(want) < len(was), name
        for path, ix in (("inproc", InvertedIndex(spark, out)),
                         ("kernel", kernel), ("fallback", fallback)):
            got = [(r["doc_id"], r["score"]) for r in
                   ix.similarity_topk(query, name, 100).collect()]
            assert got == want, (name, path, got[:3], want[:3])
    assert fallback._tomb_df is not None and fallback._tomb_arr is None


def test_uncommitted_batch_dir_is_never_read(spark, plain_dir, tmp_path):
    """A ``batch=N`` dir without its lineage JSON (a crashed extend) must
    not surface on either path."""
    out = _copy(plain_dir, tmp_path, "crash")
    queries = [q for q, _l, _k in QUERIES]

    def answers():
        idx = InvertedIndex(spark, out)
        return {(q, mode): _ranked(idx, q, None, 10, mode)
                for q in queries for mode in ("auto", "single_pass")}

    before = answers()
    shutil.copytree(f"{out}/postings/batch=0", f"{out}/postings/batch=7")
    assert 7 not in lin.committed_batches(out)
    assert answers() == before


def test_term_lookup_prunes_row_groups(tmp_path):
    """The OR-of-equalities term predicate keeps only the row groups that
    hold a query term in a term-sorted file (pyarrow does not prune on
    ``is_in``)."""
    terms = [f"t{i:05d}" for i in range(4000)]
    path = str(tmp_path / "sorted.parquet")
    pq.write_table(pa.table({"term": terms, "df": list(range(4000))}), path,
                   row_group_size=100)
    frag = next(ds.dataset(path, format="parquet").get_fragments())
    assert frag.num_row_groups == 40
    kept = frag.split_by_row_group(_terms_filter(["t00150", "t02001", "t02050"]))
    assert sorted(f.row_groups[0].id for f in kept) == [1, 20]
    assert len(frag.split_by_row_group(_terms_filter(["zzz"]))) == 0
    # a long term list (a big expansion) switches to is_in: same rows
    many = terms[::2] + [f"x{i}" for i in range(10_000)]
    got = ds.dataset(path, format="parquet").to_table(filter=_terms_filter(many))
    assert got["term"].to_pylist() == terms[::2]
