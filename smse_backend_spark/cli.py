"""spark-submit entry point for the index build / query / verify jobs.

Cluster usage (the ``--py-files`` deployment contract from the target spec —
the package has no native deps, so one zip is the whole deployment):

    python -m smse_backend_spark.zipdist dist/   # writes smse_backend_spark.zip
    spark-submit --py-files dist/smse_backend_spark.zip \
        dist/cli.py build --corpus s3a://bucket/corpus --out s3a://bucket/index \
        --n-buckets 1024 --segment-size 1000000 --n-batches 64
    spark-submit --py-files dist/smse_backend_spark.zip \
        dist/cli.py query --index s3a://bucket/index --text "hash join" --k 10

Local smoke (same code path, local master):

    python -m smse_backend_spark.cli build --corpus /root/testdata/sf0.001 \
        --out /tmp/idx --master "local[4]"

The build is resumable: rerunning the same command skips batches whose
lineage rows are already committed (reference analog: the Celery task-status
table, smse_backend/models/task.py:6-34, re-expressed as data-plane lineage).
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark(args):
    from pyspark.sql import SparkSession

    b = SparkSession.builder.appName(f"smse-{args.cmd}")
    if getattr(args, "master", None):
        # local/dev runs; under spark-submit the cluster manager provides it
        from smse_backend_spark.session import get_spark

        return get_spark(f"smse-{args.cmd}", master=args.master)
    spark = b.getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark


def cmd_build(args) -> None:
    from smse_backend_spark.corpus import load_corpus
    from smse_backend_spark.index.build import build_index

    spark = _spark(args)
    corpus = (
        load_corpus(spark, args.corpus)
        if not args.raw
        else spark.read.parquet(args.corpus)
    )
    meta = build_index(
        spark, corpus, args.out,
        segment_size=args.segment_size, n_buckets=args.n_buckets,
        block_size=args.block_size, n_batches=args.n_batches,
        with_positions=args.with_positions,
        analyzer=args.analyzer,
        docvalues=tuple(args.docvalues.split(",")) if args.docvalues else (),
        sort_field=args.sort_field,
        shingles=args.shingles,
        synonyms=json.loads(args.synonyms) if args.synonyms else None,
    )
    print(json.dumps(meta))


def cmd_query(args) -> None:
    from smse_backend_spark.index.query import InvertedIndex

    spark = _spark(args)
    idx = InvertedIndex(spark, args.index)
    if args.slop is not None:
        out = idx.phrase_slop_topk(args.text, args.slop, args.k, args.lang)
    elif args.phrase:
        out = idx.phrase_topk(args.text, args.k, args.lang)
    elif args.near is not None:
        out = idx.near_topk(args.text, args.near, args.k, args.lang,
                            in_order=args.in_order)
    elif args.rank_feature is not None:
        out = idx.rank_feature_topk(args.text, args.rank_feature,
                                    args.boost, args.k, args.lang)
    elif args.min_match is not None or args.all_terms:
        out = idx.bm25_topk_msm(
            args.text, None if args.all_terms else args.min_match,
            args.k, args.lang,
        )
    elif args.prefix:
        out = idx.bm25_topk_prefix(args.text, args.k, args.lang,
                                   args.max_expansions, mode=args.mode)
    elif args.wildcard:
        out = idx.bm25_topk_wildcard(args.text, args.k, args.lang,
                                     args.max_expansions, mode=args.mode)
    elif args.bool_prefix:
        out = idx.bm25_topk_bool_prefix(args.text, args.k, args.lang,
                                        args.max_expansions, mode=args.mode)
    elif args.span_first is not None:
        out = idx.span_first_topk(args.text, args.span_first, args.k,
                                  args.lang)
    elif args.fuzzy is not None:
        out = idx.bm25_topk_fuzzy(args.text, args.fuzzy, args.k, args.lang,
                                  args.max_expansions, mode=args.mode)
    elif args.phrase_prefix:
        out = idx.phrase_prefix_topk(args.text, args.k, args.lang,
                                     min(args.max_expansions, 64))
    elif args.boosting:
        out = idx.bm25_topk_boosting(
            args.text, args.boosting.split(","), args.negative_boost,
            args.k, args.lang,
        )
    elif args.similarity != "bm25":
        from smse_backend_spark.operators.similarities import (
            SIMILARITIES,
            lm_dirichlet,
        )

        sim = (lm_dirichlet(args.mu) if args.similarity == "lm"
               else SIMILARITIES[args.similarity])
        out = idx.similarity_topk(args.text, sim, args.k, args.lang)
    else:
        out = idx.bm25_topk(args.text, args.k, args.lang, mode=args.mode)
    rows = out.collect()
    print(json.dumps([{"doc_id": r["doc_id"], "score": r["score"]} for r in rows]))


def cmd_verify(args) -> None:
    """Rank-identity check of the built index vs the full-scan reference
    pipeline on the same corpus — the per-deploy smoke the reference lacks."""
    from smse_backend_spark.corpus import load_corpus
    from smse_backend_spark.index.query import InvertedIndex
    from smse_backend_spark.operators.search import bm25_topk_scan

    spark = _spark(args)
    idx = InvertedIndex(spark, args.index)
    corpus = load_corpus(spark, args.corpus)
    ok = True
    for q in args.text:
        got = [(r["doc_id"], r["score"]) for r in idx.bm25_topk(q, args.k).collect()]
        want = [(r["doc_id"], r["score"]) for r in bm25_topk_scan(corpus, q, args.k).collect()]
        match = got == want
        ok &= match
        print(json.dumps({"query": q, "rank_identical": match}))
    sys.exit(0 if ok else 1)


def cmd_suggest(args) -> None:
    """Did-you-mean: dictionary terms near --text by edit distance."""
    from smse_backend_spark.index.query import InvertedIndex

    spark = _spark(args)
    idx = InvertedIndex(spark, args.index)
    rows = idx.suggest(args.text, args.max_edits, args.n, args.lang,
                       mode=args.mode).collect()
    print(json.dumps(
        [{"term": r["term"], "df": r["df"], "dist": r["dist"]} for r in rows]
    ))


def cmd_export(args) -> None:
    """Sliced scroll (parallel export): print this worker's slice of the
    conjunctive hit set in doc_id order."""
    from smse_backend_spark.index.query import InvertedIndex

    spark = _spark(args)
    idx = InvertedIndex(spark, args.index)
    rows = idx.sliced_hits(args.text, args.slice_id, args.max_slices,
                           args.n, args.lang).collect()
    print(json.dumps(
        [{"doc_id": r["doc_id"], "slice": r["slice"]} for r in rows]
    ))


def cmd_browse(args) -> None:
    """Early-terminated match-all sorted retrieval (requires an index
    built with sort_field=...)."""
    from smse_backend_spark.index.query import InvertedIndex

    spark = _spark(args)
    rows = InvertedIndex(spark, args.index).browse_topk(args.k).collect()
    print(json.dumps([dict(zip(r.__fields__, r)) for r in rows]))


def cmd_aggs(args) -> None:
    """Query-context aggregations over the match set from doc-values:
    histogram | stats | cardinality | facets-free histogram buckets."""
    from smse_backend_spark.index.query import InvertedIndex

    spark = _spark(args)
    idx = InvertedIndex(spark, args.index)
    if args.agg == "histogram":
        rows = idx.histogram_agg(args.text, args.interval, lang=args.lang)
    elif args.agg == "stats":
        rows = idx.stats_agg(args.text, lang=args.lang)
    elif args.agg == "cardinality":
        rows = idx.cardinality_agg(args.text, lang=args.lang)
    elif args.agg == "percentiles":
        rows = idx.percentiles_agg(args.text, lang=args.lang)
    elif args.agg == "composite":
        after = None
        if args.after:
            repo, _, bucket = args.after.rpartition(":")
            after = (repo, int(bucket))
        rows = idx.composite_agg(args.text, args.interval, args.size,
                                 after=after, lang=args.lang)
    elif args.agg == "terms_stats":
        rows = idx.terms_stats_agg(args.text, k=args.size, lang=args.lang)
    else:
        raise SystemExit(f"unknown agg {args.agg!r}")
    print(json.dumps([dict(zip(r.__fields__, r)) for r in rows.collect()]))


def cmd_merge(args) -> None:
    """Merge disjoint same-config indexes into one at --out."""
    from smse_backend_spark.index.build import merge_indexes

    spark = _spark(args)
    print(json.dumps(merge_indexes(spark, args.src, args.out)))


def cmd_compact(args) -> None:
    """Rewrite an index's accumulated batches (base build + incremental
    extensions) into one batch at a fresh dir — swap pointers afterwards."""
    from smse_backend_spark.index.build import compact_index

    spark = _spark(args)
    meta = compact_index(spark, args.index, args.out)
    print(json.dumps(meta))


def cmd_check(args) -> None:
    """Integrity audit: recount data files vs lineage/meta counters."""
    from smse_backend_spark.index.build import check_index

    spark = _spark(args)
    result = check_index(spark, args.index)
    print(json.dumps(result))
    sys.exit(0 if result["ok"] else 1)


def cmd_stats(args) -> None:
    """Index introspection from metadata only (no Spark session): config,
    corpus stats, per-batch lineage, tombstone commits."""
    from smse_backend_spark.index import deletes
    from smse_backend_spark.index import lineage as lin

    meta = lin.read_meta(args.index)
    print(json.dumps({
        "meta": meta,
        "batches": lin.read_lineage(args.index),
        "tombstone_commits": deletes.committed_deletes(args.index),
        "tombstones": deletes.tombstone_count(args.index),
    }))


def cmd_delete(args) -> None:
    """Tombstone docs out of an index (soft delete — queries stop returning
    them immediately; `compact` applies the deletes physically)."""
    from smse_backend_spark.index.deletes import delete_docs

    spark = _spark(args)
    ids = (
        spark.read.parquet(args.ids_parquet).select("doc_id")
        if args.ids_parquet
        else [int(x) for x in args.ids.split(",")]
    )
    print(json.dumps(delete_docs(spark, args.index, ids)))


def cmd_search(args) -> None:
    """Scan-mode retrieval over a corpus dir (no index): plain / stemmed
    BM25, the boolean DSL, and the fielded family (sum / dis-max / BM25F)."""
    from smse_backend_spark.corpus import load_corpus
    from smse_backend_spark.operators.boolquery import boolean_query_topk
    from smse_backend_spark.operators.search import (
        bm25_topk_scan,
        bm25f_scan,
        dis_max_bm25_scan,
        multi_field_bm25_scan,
    )

    if (args.dismax is not None or args.bm25f) and not args.fields:
        sys.exit("search: --dismax/--bm25f require --fields")
    if args.dismax is not None and args.bm25f:
        sys.exit("search: --dismax and --bm25f are mutually exclusive")
    if args.stem and (args.bool_query or args.fields or args.lucene_qs):
        sys.exit("search: --stem applies only to plain BM25 "
                 "(boolean/fielded/lucene stemming not supported)")
    spark = _spark(args)
    corpus = load_corpus(spark, args.corpus)
    if args.bool_query:
        out = boolean_query_topk(corpus, args.text, args.k, args.lang)
    elif args.simple_qs:
        from smse_backend_spark.operators.querystring import (
            simple_query_string_topk,
        )

        out = simple_query_string_topk(corpus, args.text, args.k,
                                       args.lang, args.default_operator)
    elif args.lucene_qs:
        from smse_backend_spark.operators.luceneqs import query_string_topk

        out = query_string_topk(corpus, args.text, args.k,
                                args.default_operator)
    elif args.pin:
        from smse_backend_spark.operators.search import pinned_topk

        out = pinned_topk(corpus, args.text,
                          [int(x) for x in args.pin.split(",")],
                          args.k, args.lang)
    elif args.random_seed is not None:
        from smse_backend_spark.operators.search import random_score_topk

        out = random_score_topk(corpus, args.text, args.random_seed,
                                args.k, args.lang)
    elif args.fields:
        wts = {
            f: float(w)
            for f, w in (kv.split("=", 1) for kv in args.fields.split(","))
        }
        if args.dismax is not None:
            out = dis_max_bm25_scan(corpus, args.text, wts, args.dismax,
                                    args.k, args.lang)
        elif args.bm25f:
            out = bm25f_scan(corpus, args.text, wts, args.k, args.lang)
        else:
            out = multi_field_bm25_scan(corpus, args.text, wts, args.k, args.lang)
    else:
        out = bm25_topk_scan(corpus, args.text, args.k, args.lang,
                             stem=args.stem)
    rows = out.collect()
    print(json.dumps([{"doc_id": r["doc_id"], "score": r["score"]} for r in rows]))


def cmd_ann(args) -> None:
    """ANN search as a spark-submit job over an embeddings parquet
    (columns ``vec_id, embedding``): query vectors are rows named by
    ``--query-ids``; writes (query_id, rank, vec_id, score) to ``--out``
    and prints a one-line JSON summary. Modes map to the engine's ANN
    family: exact brute force, hyperplane LSH, IVF (optionally trained),
    PQ, IVF-PQ, the ES dense_vector metrics (``l2``/``mip``), and
    ``hardneg`` (per-anchor different-label mining; output carries the
    extra ``label`` column, ``query_id`` = the anchor)."""
    from pyspark.sql import functions as F

    from smse_backend_spark.operators import ann as A

    spark = _spark(args)
    emb = spark.read.parquet(args.emb)
    qids = [int(x) for x in args.query_ids.split(",")]
    rows = emb.filter(F.col("vec_id").isin(qids)).collect()
    queries = {int(r["vec_id"]): [float(x) for x in r["embedding"]] for r in rows}
    missing = sorted(set(qids) - set(queries))
    if missing:
        raise SystemExit(f"query vec_ids not in {args.emb}: {missing}")
    if args.mode == "brute":
        out = A.brute_force_topk(emb, queries, args.k)
    elif args.mode == "lsh":
        out = A.lsh_topk(emb, queries, args.k)
    elif args.mode == "ivf":
        out = A.ivf_topk(emb, queries, args.k, args.n_centroids,
                         args.n_probe, train_iters=args.train_iters,
                         filter_label=args.filter_label)
    elif args.mode == "pq":
        out = A.pq_topk(emb, queries, args.k, args.m, args.ks,
                        train_iters=args.train_iters)
    elif args.mode in ("l2", "mip"):
        metric = "l2_norm" if args.mode == "l2" else "max_inner_product"
        out = A.metric_topk(emb, queries, args.k, metric)
    elif args.mode == "hardneg":
        out = A.hard_negatives_topk(emb, qids, args.k).withColumnRenamed(
            "anchor_id", "query_id"
        )
    else:  # ivfpq
        out = A.ivfpq_topk(emb, queries, args.k, args.n_centroids,
                           args.n_probe, args.m, args.ks)
    out.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(json.dumps({"mode": args.mode, "rows": n, "out": args.out}))


def cmd_dedup(args) -> None:
    """Training-data dedup as a spark-submit job over a documents parquet
    (columns ``doc_id, text[, lang, source]``): writes the survivor view or
    candidate-pair table to ``--out`` and prints a one-line JSON summary."""
    from pyspark.sql import functions as F

    from smse_backend_spark.operators import dedup as D
    from smse_backend_spark.operators.simhash import simhash_neardup_pairs

    spark = _spark(args)
    docs = spark.read.parquet(args.docs)
    if args.mode == "exact":
        cols = [c for c in ("doc_id", "lang", "source") if c in docs.columns]
        for missing in {"lang", "source"} - set(docs.columns):
            docs = docs.withColumn(missing, F.lit(None).cast("string"))
        out = D.dedup_exact(docs)
        if cols != ["doc_id", "lang", "source"]:
            out = out.select(*cols)
    elif args.mode == "groups":
        out = D.exact_dup_groups(docs)
    elif args.mode == "minhash":
        out = D.minhash_lsh_pairs(docs, args.num_hashes, args.bands)
    elif args.mode == "jaccard":
        out = D.ngram_jaccard_pairs(docs, args.ngram, args.threshold,
                                    max_df=args.max_df)
    elif args.mode == "semdedup":
        out = D.semdedup(docs, args.n_centroids, args.train_iters,
                         args.threshold)
    else:  # simhash
        out = simhash_neardup_pairs(docs, max_hamming=args.max_hamming)
    out.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(json.dumps({"mode": args.mode, "rows": n, "out": args.out}))


def cmd_curate(args) -> None:
    """Training-data curation as a spark-submit job over a documents
    parquet (``doc_id, text``): chunking, decontamination, PII scrub,
    train/val/test split, or hash sampling; writes to ``--out`` and prints
    a one-line JSON summary."""
    spark = _spark(args)
    docs = spark.read.parquet(args.docs)
    if args.mode == "chunks":
        from smse_backend_spark.operators.chunking import chunk_documents

        out = chunk_documents(
            docs.withColumnRenamed("text", "content"),
            args.chunk_size, args.overlap,
        )
    elif args.mode == "decontam":
        from smse_backend_spark.operators.decontam import decontaminate

        out = decontaminate(docs, args.ngram, args.eval_mod)
    elif args.mode == "redact":
        from smse_backend_spark.functions.redact import redact_pii

        out = redact_pii(docs)
    elif args.mode == "split":
        from smse_backend_spark.operators.sampling import hash_split

        out = hash_split(docs, args.train, args.val)
    else:  # sample
        from smse_backend_spark.operators.sampling import corpus_sample

        out = corpus_sample(docs, args.rate)
    out.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(json.dumps({"mode": args.mode, "rows": n, "out": args.out}))


def cmd_esql(args) -> None:
    """Run an ES|QL pipeline (operators/esql.py) against a directory of
    parquet tables as a spark-submit job: writes the result to --out and
    prints a one-line JSON summary."""
    from smse_backend_spark.operators.esql import run_esql

    spark = _spark(args)
    out = run_esql(spark, args.sf_dir, args.query)
    out.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(json.dumps({"rows": n, "out": args.out}))


def cmd_sketch(args) -> None:
    """Corpus-statistics / sketch jobs over a documents or events parquet:
    HyperLogLog cardinality, KMV set algebra, count-min heavy hitters,
    Bloom dedup flags, weighted reservoir sample, Zipf slope, Heaps
    curve, Naive Bayes confusion, graph explore; writes ``--out`` and
    prints a one-line JSON summary."""
    spark = _spark(args)
    df = spark.read.parquet(args.input)
    if args.mode == "hll":
        from smse_backend_spark.operators.sketches import hll_cardinality

        out = hll_cardinality(df, args.key, args.precision)
    elif args.mode == "kmv-set":
        from smse_backend_spark.operators.sketches import kmv_set_ops

        out = kmv_set_ops(df, args.key, "event_type", args.type_a,
                          args.type_b, args.k)
    elif args.mode == "cms":
        from smse_backend_spark.operators.sampling import cms_term_counts

        out = cms_term_counts(df, args.width, args.depth, args.k)
    elif args.mode == "bloom":
        from smse_backend_spark.operators.dedup import bloom_dedup_flags

        out = bloom_dedup_flags(df, args.m_bits, args.k_hashes)
    elif args.mode == "reservoir":
        from smse_backend_spark.operators.sampling import weighted_reservoir

        out = weighted_reservoir(df, args.k, args.weight_col)
    elif args.mode == "zipf":
        from smse_backend_spark.operators.corpusstats import zipf_slope

        out = zipf_slope(df, args.k)
    elif args.mode == "heaps":
        from smse_backend_spark.operators.corpusstats import (
            heaps_vocab_growth,
        )

        out = heaps_vocab_growth(df, args.ngram, args.points)
    elif args.mode == "nb":
        from smse_backend_spark.operators.classify import nb_lang_confusion

        out = nb_lang_confusion(df, args.label_col)
    else:  # graph
        from smse_backend_spark.corpus import load_corpus
        from smse_backend_spark.operators.aggregations import graph_explore

        import os

        out = graph_explore(
            load_corpus(spark, os.path.dirname(args.input.rstrip("/"))),
            args.query, args.vertices, args.edges,
        )
    out.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(json.dumps({"mode": args.mode, "rows": n, "out": args.out}))


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="smse_backend_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="build or resume the inverted index")
    b.add_argument("--corpus", required=True)
    b.add_argument("--out", required=True)
    b.add_argument("--raw", action="store_true",
                   help="corpus is already (doc_id, lang, content) parquet")
    b.add_argument("--segment-size", type=int, default=2048)
    b.add_argument("--n-buckets", type=int, default=16)
    b.add_argument("--block-size", type=int, default=128)
    b.add_argument("--n-batches", type=int, default=4)
    b.add_argument("--analyzer", default="standard",
                   choices=["standard", "stem", "synonym"],
                   help="index-time analyzer (stem = Harman S-stemmer; "
                        "synonym needs --synonyms)")
    b.add_argument("--synonyms", default="",
                   help='JSON map for --analyzer synonym, e.g. '
                        '\'{"merge": "join"}\'')
    b.add_argument("--shingles", action="store_true",
                   help="store the index-time bigram (shingle) model for "
                        "corpus-scan-free phrase suggestions")
    b.add_argument("--docvalues", default="",
                   help="comma-separated extra per-doc columns to store "
                        "columnar (Lucene doc-values); 'n_chars' is derived")
    b.add_argument("--sort-field", default=None,
                   help="write the index-sorted projection + histogram for "
                        "early-terminated browse (doc_len or a docvalue)")
    b.add_argument("--with-positions", action="store_true",
                   help="store token positions (enables phrase queries)")
    b.add_argument("--master")
    b.set_defaults(fn=cmd_build)

    q = sub.add_parser("query", help="BM25 top-k against a built index")
    q.add_argument("--index", required=True)
    q.add_argument("--text", required=True)
    q.add_argument("--k", type=int, default=10)
    q.add_argument("--lang")
    q.add_argument("--mode", default="auto",
                   choices=["auto", "single_pass", "pruned", "exhaustive"])
    q.add_argument("--phrase", action="store_true",
                   help="exact phrase (needs --with-positions index)")
    q.add_argument("--slop", type=int, metavar="SLOP",
                   help="match_phrase with slop: Lucene sloppy phrase "
                        "(needs --with-positions index)")
    q.add_argument("--prefix", action="store_true",
                   help="treat --text as a term prefix (wildcard search)")
    q.add_argument("--wildcard", action="store_true",
                   help="treat --text as a Lucene wildcard pattern "
                        "(* = any run, ? = one char)")
    q.add_argument("--bool-prefix", action="store_true", dest="bool_prefix",
                   help="match_bool_prefix: last token prefix-expanded, "
                        "no adjacency (unordered search-as-you-type)")
    q.add_argument("--span-first", type=int, metavar="END",
                   dest="span_first",
                   help="term must occur within the first END token "
                        "positions (needs --with-positions index)")
    q.add_argument("--fuzzy", type=int, metavar="MAX_EDITS",
                   help="treat --text as one term; expand within this "
                        "Levenshtein distance (typo-tolerant search)")
    q.add_argument("--max-expansions", type=int, default=64)
    q.add_argument("--in-order", action="store_true",
                   help="with --near: picks must follow query token order")
    q.add_argument("--rank-feature", type=int, metavar="PIVOT",
                   help="add boost*x/(x+PIVOT) from the n_chars doc-value")
    q.add_argument("--boost", type=float, default=2.0,
                   help="rank-feature clause weight")
    q.add_argument("--near", type=int, metavar="WINDOW",
                   help="proximity: all terms within this token window "
                        "(needs --with-positions index)")
    q.add_argument("--phrase-prefix", action="store_true",
                   help="match_phrase_prefix: last token expanded from the "
                        "dictionary (search-as-you-type)")
    q.add_argument("--boosting", metavar="NEG_TERMS",
                   help="comma-separated negative terms: matching docs are "
                        "demoted by --negative-boost, not excluded")
    q.add_argument("--negative-boost", type=float, default=0.5)
    from smse_backend_spark.operators.similarities import SIMILARITIES

    q.add_argument("--similarity", choices=tuple(SIMILARITIES),
                   default="bm25",
                   help="pluggable ranking function (the Lucene similarity "
                        "family: " + ", ".join(
                            f"{name} = {sim.lucene}"
                            for name, sim in SIMILARITIES.items()) + ")")
    q.add_argument("--mu", type=float, default=2000.0,
                   help="Dirichlet smoothing parameter (with --similarity lm)")
    q.add_argument("--min-match", type=int,
                   help="docs must match at least this many query terms")
    q.add_argument("--all-terms", action="store_true",
                   help="conjunctive AND: docs must match every query term")
    q.add_argument("--master")
    q.set_defaults(fn=cmd_query)

    g = sub.add_parser("suggest", help="did-you-mean spelling suggestions")
    g.add_argument("--index", required=True)
    g.add_argument("--text", required=True)
    g.add_argument("--max-edits", type=int, default=2)
    g.add_argument("--n", type=int, default=10)
    g.add_argument("--lang")
    g.add_argument("--mode", default="always",
                   choices=["always", "popular", "missing"],
                   help="ES suggest_mode")
    g.add_argument("--master")
    g.set_defaults(fn=cmd_suggest)

    ex = sub.add_parser(
        "export", help="sliced scroll: one worker's residue class of a "
                       "conjunctive hit set (parallel export)"
    )
    ex.add_argument("--index", required=True)
    ex.add_argument("--text", required=True)
    ex.add_argument("--slice", type=int, required=True, dest="slice_id")
    ex.add_argument("--slices", type=int, required=True, dest="max_slices")
    ex.add_argument("--n", type=int, default=1000)
    ex.add_argument("--lang")
    ex.add_argument("--master")
    ex.set_defaults(fn=cmd_export)

    br = sub.add_parser("browse", help="sorted match-all top-k (index sort)")
    br.add_argument("--index", required=True)
    br.add_argument("--k", type=int, default=10)
    br.add_argument("--master")
    br.set_defaults(fn=cmd_browse)

    ag = sub.add_parser("aggs", help="query-context aggregations (doc-values)")
    ag.add_argument("--index", required=True)
    ag.add_argument("--text", required=True)
    ag.add_argument("--agg", choices=["histogram", "stats", "cardinality",
                                      "percentiles", "composite",
                                      "terms_stats"],
                    default="stats")
    ag.add_argument("--interval", type=int, default=64)
    ag.add_argument("--size", type=int, default=10,
                    help="composite: buckets per page; terms_stats: top-k")
    ag.add_argument("--after", metavar="REPO:BUCKET",
                    help="composite: resume after this (repo, bucket) key")
    ag.add_argument("--lang")
    ag.add_argument("--master")
    ag.set_defaults(fn=cmd_aggs)

    mg = sub.add_parser(
        "merge", help="merge disjoint same-config indexes into one"
    )
    mg.add_argument("--src", nargs="+", required=True)
    mg.add_argument("--out", required=True)
    mg.add_argument("--master")
    mg.set_defaults(fn=cmd_merge)

    v = sub.add_parser("verify", help="rank-identity vs full-scan reference")
    v.add_argument("--index", required=True)
    v.add_argument("--corpus", required=True)
    v.add_argument("--text", nargs="+", required=True)
    v.add_argument("--k", type=int, default=10)
    v.add_argument("--master")
    v.set_defaults(fn=cmd_verify)

    s = sub.add_parser("stats", help="print index metadata/lineage JSON")
    s.add_argument("--index", required=True)
    s.set_defaults(fn=cmd_stats)

    ck = sub.add_parser("check", help="audit data files vs lineage counters")
    ck.add_argument("--index", required=True)
    ck.add_argument("--master")
    ck.set_defaults(fn=cmd_check)

    x = sub.add_parser("delete", help="tombstone doc_ids out of an index")
    x.add_argument("--index", required=True)
    x.add_argument("--ids", help="comma-separated doc_ids")
    x.add_argument("--ids-parquet", help="parquet with a doc_id column")
    x.add_argument("--master")
    x.set_defaults(fn=cmd_delete)

    c = sub.add_parser("compact", help="rewrite all index batches into one")
    c.add_argument("--index", required=True)
    c.add_argument("--out", required=True)
    c.add_argument("--master")
    c.set_defaults(fn=cmd_compact)

    sr = sub.add_parser(
        "search", help="scan-mode search over a corpus dir (no index)"
    )
    sr.add_argument("--corpus", required=True)
    sr.add_argument("--text", required=True)
    sr.add_argument("--k", type=int, default=10)
    sr.add_argument("--lang")
    sr.add_argument("--bool", action="store_true", dest="bool_query",
                    help="treat --text as a boolean query (AND/OR/NOT)")
    sr.add_argument("--simple", action="store_true", dest="simple_qs",
                    help="treat --text as ES simple_query_string "
                         "(| + - \"phrase\" prefix* parens)")
    sr.add_argument("--lucene", action="store_true", dest="lucene_qs",
                    help="treat --text as a classic Lucene query_string "
                         "(field:term, +/-, AND/OR/NOT, ^boost, wild?card*, "
                         "fuzzy~N, [lo TO hi] ranges, field:(...) groups)")
    sr.add_argument("--default-operator", choices=["and", "or"],
                    default="and", help="with --simple/--lucene: the "
                    "operator bare whitespace means")
    sr.add_argument("--pin", metavar="ID,ID,...",
                    help="pinned query: these doc_ids rank first, in order")
    sr.add_argument("--random-seed", type=int, metavar="SEED",
                    help="seeded reproducible random ordering of the "
                         "match set (ES random_score)")
    sr.add_argument("--stem", action="store_true",
                    help="Harman S-stemmer analyzer (plural folding)")
    sr.add_argument("--fields", metavar="F=W,...",
                    help="fielded search, e.g. content=1,path=2")
    sr.add_argument("--dismax", type=float, metavar="TIE_BREAKER",
                    help="with --fields: dis-max combine")
    sr.add_argument("--bm25f", action="store_true",
                    help="with --fields: pooled BM25F combine")
    sr.add_argument("--master")
    sr.set_defaults(fn=cmd_search)

    an = sub.add_parser("ann", help="ANN top-k over an embeddings parquet")
    an.add_argument("--emb", required=True)
    an.add_argument("--out", required=True)
    an.add_argument("--query-ids", required=True,
                    help="comma-separated vec_ids used as query vectors")
    an.add_argument("--mode", default="brute",
                    choices=["brute", "lsh", "ivf", "pq", "ivfpq",
                             "l2", "mip", "hardneg"])
    an.add_argument("--k", type=int, default=10)
    an.add_argument("--n-centroids", type=int, default=16)
    an.add_argument("--n-probe", type=int, default=4)
    an.add_argument("--m", type=int, default=4,
                    help="PQ subspaces (pq/ivfpq)")
    an.add_argument("--ks", type=int, default=16,
                    help="PQ centroids per subspace (pq/ivfpq)")
    an.add_argument("--train-iters", type=int, default=0,
                    help="Lloyd rounds for ivf/pq centroid training")
    an.add_argument("--filter-label", type=int, default=None,
                    help="ivf: metadata pre-filter on the label column")
    an.add_argument("--master")
    an.set_defaults(fn=cmd_ann)

    d = sub.add_parser("dedup", help="exact/near-dup over a documents parquet")
    d.add_argument("--docs", required=True,
                   help="documents parquet; for --mode semdedup an "
                        "embeddings parquet (vec_id, embedding)")
    d.add_argument("--out", required=True)
    d.add_argument("--mode", default="exact",
                   choices=["exact", "groups", "minhash", "jaccard",
                            "simhash", "semdedup"])
    d.add_argument("--n-centroids", type=int, default=16)
    d.add_argument("--train-iters", type=int, default=1)
    d.add_argument("--num-hashes", type=int, default=16)
    d.add_argument("--bands", type=int, default=4)
    d.add_argument("--ngram", type=int, default=3)
    d.add_argument("--threshold", type=float, default=0.8)
    d.add_argument("--max-df", type=int, default=None)
    d.add_argument("--max-hamming", type=int, default=3)
    d.add_argument("--master")
    d.set_defaults(fn=cmd_dedup)

    cu = sub.add_parser(
        "curate", help="chunk/decontaminate/redact/split/sample a corpus"
    )
    cu.add_argument("--docs", required=True)
    cu.add_argument("--out", required=True)
    cu.add_argument("--mode", default="split",
                    choices=["chunks", "decontam", "redact", "split", "sample"])
    cu.add_argument("--chunk-size", type=int, default=240)
    cu.add_argument("--overlap", type=int, default=10)
    cu.add_argument("--ngram", type=int, default=8)
    cu.add_argument("--eval-mod", type=int, default=50)
    cu.add_argument("--train", type=float, default=0.8)
    cu.add_argument("--val", type=float, default=0.1)
    cu.add_argument("--rate", type=float, default=0.1)
    cu.add_argument("--master")
    cu.set_defaults(fn=cmd_curate)

    sk = sub.add_parser(
        "sketch", help="cardinality/heavy-hitter/corpus-stat sketches"
    )
    sk.add_argument("--input", required=True,
                    help="documents or events parquet")
    sk.add_argument("--out", required=True)
    sk.add_argument("--mode", default="hll",
                    choices=["hll", "kmv-set", "cms", "bloom", "reservoir",
                             "zipf", "heaps", "nb", "graph"])
    sk.add_argument("--key", default="user_id")
    sk.add_argument("--precision", type=int, default=10)
    sk.add_argument("--type-a", default="click")
    sk.add_argument("--type-b", default="error")
    sk.add_argument("--k", type=int, default=20)
    sk.add_argument("--width", type=int, default=512)
    sk.add_argument("--depth", type=int, default=3)
    sk.add_argument("--m-bits", type=int, default=4096)
    sk.add_argument("--k-hashes", type=int, default=4)
    sk.add_argument("--weight-col", default="n_chars")
    sk.add_argument("--ngram", type=int, default=3)
    sk.add_argument("--points", type=int, default=10)
    sk.add_argument("--label-col", default="lang")
    sk.add_argument("--query", default="vector window")
    sk.add_argument("--vertices", type=int, default=12)
    sk.add_argument("--edges", type=int, default=20)
    sk.add_argument("--master")
    sk.set_defaults(fn=cmd_sketch)

    eq = sub.add_parser(
        "esql", help="run an ES|QL pipeline over a parquet table dir")
    eq.add_argument("--sf-dir", required=True)
    eq.add_argument("--query", required=True)
    eq.add_argument("--out", required=True)
    eq.add_argument("--master")
    eq.set_defaults(fn=cmd_esql)

    args = p.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main()
