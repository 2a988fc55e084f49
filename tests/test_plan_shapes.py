"""Physical-plan shape guards.

The VERDICT audits plans by hand ("PushedFilters on the postings scan",
"no per-row Python UDFs", "the dedup exchange carries hashes, not text").
These tests pin each of those properties as a string assertion on the
executed plan, so a regression — a lost pushdown, an accidental
row-at-a-time UDF, a shuffle that starts carrying document bodies —
fails in CI instead of on a 100 TB run.

Plan strings come from ``df._jdf.queryExecution().executedPlan()``:
with AQE on this is the *initial* physical plan (no job is triggered),
which is exactly what these guards are about.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from smse_backend_spark.corpus import load_corpus
from smse_backend_spark.index.build import build_index
from smse_backend_spark.index.query import InvertedIndex
from smse_backend_spark.operators.dedup import dedup_exact
from smse_backend_spark.operators.search import bm25_topk_scan

Q = "hash join merge scan"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def corpus(spark, sf_smoke):
    c = load_corpus(spark, sf_smoke).cache()
    c.count()
    return c


@pytest.fixture(scope="module")
def index(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("planidx"))
    build_index(spark, corpus, out, segment_size=64, n_buckets=4,
                block_size=16, n_batches=2)
    return InvertedIndex(spark, out)


# -- index query path ------------------------------------------------------

def test_postings_scan_pushes_term_filters(index):
    """The postings parquet scan must receive the term/bucket predicates
    (partition + row-group pruning at 100 TB; a full postings scan per
    query would be the single worst regression possible)."""
    plan = plan_of(index.bm25_topk(Q, 10, mode="single_pass"))
    assert "PushedFilters" in plan
    assert "term_bucket" in plan, "bucket predicate lost from the scan"
    # the In(term, ...) filter itself must reach the scan too
    assert "In(term" in plan or "EqualTo(term" in plan


def test_index_topk_ends_in_take_ordered(index):
    for mode in ("exhaustive", "pruned"):
        plan = plan_of(index.bm25_topk(Q, 10, mode=mode))
        assert "TakeOrderedAndProject" in plan, mode
        assert "Checkpoint" not in plan, mode


def test_single_pass_kernel_has_no_join(index):
    """The Spark top-k path for mid-size queries is the single-pass batch
    kernel (``auto`` answers small ones in-process, with no plan): idf is
    computed inside the Arrow kernel, so the plan has NO join node at all
    — one postings scan, one segment repartition, the kernel, the top-k.
    A join (re)appearing here means the kernel path was lost."""
    plan = plan_of(index.bm25_topk(Q, 10, mode="single_pass"))
    assert "SortMergeJoin" not in plan
    assert "hashpartitioning(segment#" in plan, "segment repartition lost"


def test_score_path_idf_join_is_broadcast(index):
    """Paths built on ``_score`` (range filter, boolean) join decoded
    postings to a |query-terms|-row idf frame — that join must broadcast,
    never shuffle the postings side."""
    plan = plan_of(index.bm25_topk_range(Q, 1, 10_000, 10))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_index_path_python_is_arrow_only(index):
    """The only Python crossing on the query path is the Arrow-vectorized
    block decode — a row-at-a-time BatchEvalPython stage is forbidden."""
    plan = plan_of(index.bm25_topk(Q, 10, mode="single_pass"))
    assert "BatchEvalPython" not in plan


# -- scan (oracle) path ----------------------------------------------------

def test_scan_topk_is_codegen_and_take_ordered(corpus):
    plan = plan_of(bm25_topk_scan(corpus, Q, 10))
    assert "TakeOrderedAndProject" in plan
    # tokenize/tf algebra stays inside whole-stage codegen ("*(n)" spans)
    assert "*(1)" in plan
    assert "BatchEvalPython" not in plan


# -- dedup shuffle payload ---------------------------------------------------

def test_dedup_exchange_carries_hash_not_text(spark, sf_smoke):
    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    plan = plan_of(dedup_exact(docs))
    # the window shuffle is keyed on the projected sha2 hash column
    assert "hashpartitioning(h#" in plan
    # column pruning reached the scan: n_chars is never read
    assert "n_chars" not in plan
    # text is consumed by the hash projection below the exchange; the
    # exchange input (the Project feeding hashpartitioning) must not
    # carry the raw text column upward
    exchange_at = plan.index("Exchange hashpartitioning(h#")
    above_exchange = plan[:exchange_at]
    assert "text#" not in above_exchange, (
        "document text flows through the dedup shuffle"
    )


# -- contract entries: no row-UDFs anywhere ---------------------------------

def test_contract_entries_have_no_row_python_udfs(spark, sf_smoke):
    """Spot-battery over representative queries() entries: every Python
    crossing must be Arrow-vectorized (ArrowEvalPython / MapInPandas /
    FlatMapGroupsInPandas), never BatchEvalPython."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", "/root/repo/__spark_entry__.py"
    )
    E = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(E)
    qs = E.queries()
    battery = [
        "bm25_topk", "cosine_topk", "dedup_exact", "minhash_lsh_dups",
        "token_stats", "quality_filter", "ann_brute_force", "doc_chunks",
    ]
    for name in battery:
        if name not in qs:
            continue
        plan = plan_of(qs[name](spark, sf_smoke))
        assert "BatchEvalPython" not in plan, f"{name} has a row-UDF stage"


# -- final-session ops ------------------------------------------------------

def _kernel_plan(index, sim):
    """Plan of a ``sim`` query pinned to the Spark kernel (a small query
    answers in-process, which has no plan)."""
    ix = InvertedIndex(index.spark, index.path)
    ix.INPROC_MAX_POSTINGS = 0
    return plan_of(ix.similarity_topk(Q, sim, 10))


def _assert_postings_only(plan):
    """A similarity served from the index alone: the postings scan with
    its pushed term predicates, no documents read, no row-at-a-time
    Python UDF, no sort-merge join."""
    assert "postings" in plan and "PushedFilters" in plan
    assert "In(term" in plan or "EqualTo(term" in plan
    assert "documents.parquet" not in plan
    assert "BatchEvalPython" not in plan
    assert "SortMergeJoin" not in plan


def test_lm_dirichlet_index_path_never_reads_corpus(index):
    """The LM similarity serves entirely from postings + dictionary +
    lineage stats: the kernel plan reads no documents/corpus."""
    _assert_postings_only(_kernel_plan(index, "lm"))


def test_composite_after_key_filter_applies_before_aggregate(spark, corpus,
                                                             tmp_path_factory):
    """The after-key predicate references only grouping keys, so Catalyst
    must push it below the aggregation — later composite pages aggregate
    strictly fewer rows. Guard: in the executed plan string the Filter on
    the key columns appears BELOW (after, in print order) the first
    HashAggregate, i.e. on its input side."""
    out = str(tmp_path_factory.mktemp("planidx_dv"))
    build_index(spark, corpus, out, segment_size=64, n_buckets=4,
                block_size=16, n_batches=2, docvalues=("repo", "n_chars"))
    idx = InvertedIndex(spark, out)
    plan = plan_of(idx.composite_agg(Q, 256, 5, after=("src12", 256)))
    agg_pos = plan.find("HashAggregate")
    filt_pos = plan.find("Filter (repo")
    if filt_pos == -1:
        # column naming may differ; find any filter mentioning repo > src12
        filt_pos = plan.find("src12")
    assert agg_pos != -1 and filt_pos != -1
    assert filt_pos > agg_pos, "after-key filter did not push below the agg"
    assert "TakeOrderedAndProject" in plan


# -- round-5 session additions ----------------------------------------------

def test_combined_fields_df_blend_is_broadcast(corpus):
    """combined_fields joins the pooled-tf frame to a vocabulary-sized
    blended-df frame — that join must broadcast, and no per-row Python
    may appear (the whole scoring path is Column algebra)."""
    from smse_backend_spark.operators.search import combined_fields_scan

    plan = plan_of(combined_fields_scan(corpus, "py f42 hash join", None, 10))
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan


def test_dup_ngram_fraction_has_no_pair_join(corpus, spark, sf_smoke):
    """The WIMBD duplicate n-gram rate must stay linear: window-df agg +
    per-doc rollup, never a window self-join or cartesian product."""
    from smse_backend_spark.operators.dedup import dup_ngram_fraction

    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    plan = plan_of(dup_ngram_fraction(docs, 8, 0.3, 100))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # exactly one equi-join: windows back to their corpus-wide df
    assert plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") <= 1


def test_semdedup_pair_join_is_keyed_on_cluster(spark, sf_smoke):
    """SemDeDup's quadratic stage must be keyed on c_id (the design
    point of clustering first) — a cartesian product means the cluster
    key was lost."""
    from smse_backend_spark.operators.dedup import semdedup

    emb = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    plan = plan_of(semdedup(emb, 8, 0, 0.4))
    assert "CartesianProduct" not in plan


def test_sliced_hits_slice_filter_precedes_sort(index):
    """The slice residue filter is a map-side predicate: it must sit
    below the final sort/limit, and the plan carries no corpus scan
    (postings only)."""
    plan = plan_of(index.sliced_hits(Q, 1, 4, 100))
    assert "TakeOrderedAndProject" in plan
    assert "sha2" in plan  # the residue-class hash runs in the plan


def test_axiomatic_index_path_never_reads_corpus(index):
    """F2EXP/F2LOG run from postings + dictionary only: the kernel plan
    has the postings scan with pushed term filters and NO scan of the
    documents parquet."""
    _assert_postings_only(_kernel_plan(index, "f2exp"))


def test_sampler_cap_is_take_ordered(corpus):
    """The ES sampler agg's best-docs cap must compile to a distributed
    top-k (TakeOrderedAndProject), never a global Sort of the match
    set."""
    from smse_backend_spark.operators.aggregations import sampler_facets

    plan = plan_of(sampler_facets(corpus, Q, 100, "lang"))
    assert "TakeOrderedAndProject" in plan


def test_intervals_not_containing_single_block_scan(spark, corpus,
                                                    tmp_path_factory):
    """The not_containing filter rides the SAME positional block scan as
    the sources — exactly one mapInPandas (the interval kernel), no
    extra join or corpus read for the exclusion."""
    out = str(tmp_path_factory.mktemp("planposidx"))
    build_index(spark, corpus, out, segment_size=64, n_buckets=4,
                block_size=16, with_positions=True)
    idx = InvertedIndex(spark, out)
    plan = plan_of(idx.intervals_not_containing_topk(
        [["table"], ["scan"]], ["hash"], 3, True, 10))
    assert plan.count("MapInPandas") == 1
    assert "documents.parquet" not in plan


def test_cumulative_cardinality_window_is_over_buckets(spark, sf_smoke):
    """The serial running-sum window must sit ABOVE the two hash
    aggregations (per-user min, per-bucket count) — i.e. the window's
    input is bucket rows, never raw events."""
    from smse_backend_spark.operators.relational import (
        event_cumulative_cardinality,
    )

    plan = plan_of(event_cumulative_cardinality(spark, sf_smoke))
    w = plan.index("Window")
    # both aggregates appear below (later in the string = deeper child)
    aggs = [i for i in range(len(plan)) if plan.startswith("HashAggregate", i)]
    assert aggs and min(aggs) > w, "window is not the top of the plan"


def test_query_string_scan_is_one_pass_no_python(corpus):
    """The scan-path query_string evaluates every leaf (term, phrase,
    prefix, wildcard, fuzzy, keyword, range) inside ONE projection over
    the corpus: no explode/Generate, no Python evaluation, a single
    TakeOrderedAndProject tail."""
    from smse_backend_spark.operators.luceneqs import query_string_topk

    q = 'lang:en +hash "table scan"^2 hsh~1 tabl* -repo:src18 n_chars:[100 TO 400]'
    plan = plan_of(query_string_topk(corpus, q, 10))
    assert "Generate" not in plan          # no explode
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan


def test_query_string_index_path_never_reads_corpus(spark, corpus,
                                                    tmp_path_factory):
    """The index-served query_string reads postings + doc-values only —
    the corpus parquet must not appear anywhere in the plan, and the
    doc-values join input must not carry document text."""
    from smse_backend_spark.index.query import InvertedIndex

    out = str(tmp_path_factory.mktemp("planidx_qs"))
    build_index(spark, corpus, out, segment_size=64, n_buckets=4,
                block_size=16, n_batches=2, with_positions=True,
                docvalues=("repo", "n_chars"))
    idx = InvertedIndex(spark, out)
    q = 'lang:en +hash "table scan"^2 -repo:src18 n_chars:[100 TO 400]'
    plan = plan_of(idx.query_string_topk(q, 10))
    assert "documents.parquet" not in plan
    assert "postings" in plan and "docstats" in plan
    assert "TakeOrderedAndProject" in plan
    assert "content" not in plan           # no text column anywhere


def test_range_agg_empty_buckets_join_is_broadcast(spark, corpus,
                                                   tmp_path_factory):
    """The constant range frame (len(bounds)+1 rows) must join broadcast —
    a shuffle keyed on 3 rows would be a plan bug."""
    out = str(tmp_path_factory.mktemp("planidx_rng"))
    build_index(spark, corpus, out, segment_size=64, n_buckets=4,
                block_size=16, n_batches=2, docvalues=("repo", "n_chars"))
    idx = InvertedIndex(spark, out)
    plan = plan_of(idx.range_agg(Q, (200, 350)))
    assert "BroadcastHashJoin" in plan
    assert "documents.parquet" not in plan


def test_moving_percentiles_day_join_is_broadcast(spark, sf_smoke):
    """The distinct-day frame is bucket-sized and must broadcast; events
    must never shuffle on a non-equi condition."""
    from smse_backend_spark.operators.relational import (
        event_moving_percentiles,
    )

    plan = plan_of(event_moving_percentiles(spark, sf_smoke, 3))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


# -- round-4 session-5 additions -------------------------------------------

def test_hll_is_all_jvm_and_shuffles_registers(spark, sf_smoke):
    """The HLL register build must stay in whole-stage codegen (no
    Python crossing at all — the rank comes from bin()/length Column
    algebra) and its aggregation exchange must be keyed on the register
    index, never on the raw key column."""
    from smse_backend_spark.operators.sketches import hll_cardinality

    ev = spark.read.parquet(f"{sf_smoke}/events.parquet")
    plan = plan_of(hll_cardinality(ev, "user_id", 10))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "hashpartitioning(idx#" in plan


def test_bloom_dedup_exchange_carries_bits_not_text(spark, sf_smoke):
    """The Bloom state shuffle is keyed on bit ids; document text is
    consumed by the hash projection below every exchange."""
    from smse_backend_spark.operators.dedup import bloom_dedup_flags

    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    plan = plan_of(bloom_dedup_flags(docs))
    first_exchange = plan.index("Exchange")
    assert "text#" not in plan[:first_exchange], (
        "document text flows through a Bloom shuffle"
    )


def test_weighted_reservoir_is_take_ordered(spark, sf_smoke):
    """A-ES has no global state: the sample must be one
    TakeOrderedAndProject over a row-local key projection — any full
    sort or extra exchange is a regression."""
    from smse_backend_spark.operators.sampling import weighted_reservoir

    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    plan = plan_of(weighted_reservoir(docs, 16))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan


def test_nb_model_joins_broadcast(spark, sf_smoke):
    """The NB model and class-constant frames are vocabulary-sized and
    must broadcast into the scoring explode; BatchEvalPython is
    forbidden anywhere."""
    from smse_backend_spark.operators.classify import nb_lang_confusion

    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    plan = plan_of(nb_lang_confusion(docs))
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_graph_explore_vertices_broadcast_pairs_keyed_on_doc(
    spark, sf_smoke
):
    """The vertex list must broadcast into the edge build and the pair
    self-join must be keyed on doc_id (never a cartesian)."""
    from smse_backend_spark.operators.aggregations import graph_explore

    plan = plan_of(
        graph_explore(load_corpus(spark, sf_smoke), "vector window", 8, 20)
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "doc_id" in plan
