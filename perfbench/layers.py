"""Per-layer metrics of a traced run.

Layers are named after the engine's modules. After the workload's loop a
traced run probes the layers the loop does not call on its own (tokenizer,
codec, a standalone ``finalize``, ``term_df``, one query per class, a
delete on workloads that have none), each inside a span, and then reduces
all spans to the metrics in ``PER_LAYER``.
"""

from __future__ import annotations

import glob
import statistics
import time

import numpy as np

from perfbench.expected import query_terms
from perfbench.querymix import CLASSES

# name -> (unit, better)
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "session.peak_rss_mb": ("MB", "lower"),
    "corpus.load_s": ("s", "lower"),
    "corpus.files": ("count", "higher"),
    "corpus.content_bytes": ("bytes", "higher"),
    "corpus.sha256_violations": ("count", "lower"),
    "tokenizer.term_counts_s": ("s", "lower"),
    "tokenizer.doc_len_s": ("s", "lower"),
    "tokenizer.tokens": ("count", "higher"),
    "tokenizer.postings": ("count", "higher"),
    "build.wall_s": ("s", "lower"),
    "build.resume_s": ("s", "lower"),
    "build.jobs": ("count", "lower"),
    "build.stages": ("count", "lower"),
    "build.tasks": ("count", "lower"),
    "build.failed_tasks": ("count", "lower"),
    "build.task_run_s": ("s", "lower"),
    "build.gc_s": ("s", "lower"),
    "build.shuffle_write_bytes": ("bytes", "lower"),
    "build.shuffle_read_bytes": ("bytes", "lower"),
    "build.overhead_share": ("ratio", "lower"),
    "build.finalize_s": ("s", "lower"),
    "build.finalize_jobs": ("count", "lower"),
    "build.check_s": ("s", "lower"),
    "lineage.batches": ("count", "lower"),
    "lineage.blocks": ("count", "lower"),
    "lineage.postings": ("count", "higher"),
    "lineage.index_bytes": ("bytes", "lower"),
    "lineage.partition_skew": ("ratio", "lower"),
    "codec.decode_postings_per_s": ("postings/s", "higher"),
    "codec.bytes_per_posting": ("bytes", "lower"),
    "query.open_s": ("s", "lower"),
    "query.term_df_ms": ("ms", "lower"),
    "query.jobs_per_query": ("count", "lower"),
    "query.stages_per_query": ("count", "lower"),
    "query.tasks_per_query": ("count", "lower"),
    "query.task_run_ms_per_query": ("ms", "lower"),
    "query.shuffle_bytes_per_query": ("bytes", "lower"),
    "query.overhead_share": ("ratio", "lower"),
    "query.matched_postings_per_query": ("count", "higher"),
    "query.pruned_share": ("ratio", "higher"),
    "query.pruned_probe_ms": ("ms", "lower"),
    **{f"query.{c}.p50_ms": ("ms", "lower") for c in CLASSES},
    "query.batch.jobs": ("count", "lower"),
    "query.batch.task_run_s": ("s", "lower"),
    "query.batch.shuffle_bytes": ("bytes", "lower"),
    "deletes.commit_s": ("s", "lower"),
    "deletes.tombstones": ("count", "higher"),
    "trace.overhead_share": ("ratio", "lower"),
    "trace.query_p50_ms": ("ms", "lower"),
    **{f"trace.self_s.{lay}": ("s", "lower") for lay in
       ("corpus", "tokenizer", "build", "lineage", "codec", "query",
        "deletes")},
    "input.vocab_over_cache": ("ratio", "higher"),
    "input.snippet_df_sum_over_prune": ("ratio", "higher"),
    **{f"input.lang_share.{lg}": ("ratio", "higher")
       for lg in ("py", "js", "go", "java", "rs")},
    "host.steal_pct": ("%", "lower"),
    "host.loadavg": ("count", "lower"),
}

BUILD_SPANS = ("build_index", "build_index.resume", "extend_index")


def probe_and_report(b, inp: dict, idx_dir: str) -> None:
    """Run the layer probes under spans, then fill ``b.res.layer``."""
    from pyspark.sql import functions as F

    from smse_backend_spark.corpus import load_corpus
    from smse_backend_spark.functions.tokenizer import doc_len_col, term_counts_df
    from smse_backend_spark.index import lineage as lin
    from smse_backend_spark.index.build import finalize
    from smse_backend_spark.index.deletes import delete_docs, tombstone_count

    tr, res, spark = b.tr, b.res, b.spark
    lay = res.layer

    corpus = load_corpus(spark, inp["corpus_dir"]).select("doc_id", "content", "lang")
    with tr.span("tokenizer", "term_counts_df") as sp:
        postings, tokens = term_counts_df(corpus).agg(
            F.count(F.lit(1)), F.sum("tf")).first()
    lay["tokenizer.term_counts_s"] = sp.wall_s
    lay["tokenizer.postings"] = int(postings)
    with tr.span("tokenizer", "doc_len_col") as sp:
        lay["tokenizer.tokens"] = int(
            corpus.select(doc_len_col(F.col("content")).alias("dl"))
            .agg(F.sum("dl")).first()[0])
    lay["tokenizer.doc_len_s"] = sp.wall_s
    res.check(lay["tokenizer.tokens"] == int(tokens),
              f"doc_len_col tokens {lay['tokenizer.tokens']} != term_counts_df {tokens}")

    with tr.span("build", "finalize") as sp:
        finalize(spark, idx_dir, lin.read_meta(idx_dir)["config"])
    lay["build.finalize_s"] = sp.wall_s
    lay["build.finalize_jobs"] = sp.counters["jobs"]

    with tr.span("lineage", "read_lineage"):
        rows = lin.read_lineage(idx_dir)
    per_part: dict = {}
    for r in rows:
        for p in r["partitions"]:
            key = (p["lang"], p["term_bucket"])
            per_part[key] = per_part.get(key, 0) + p["n_postings"]
    lay["lineage.batches"] = len(rows)
    lay["lineage.blocks"] = sum(r["n_blocks"] for r in rows)
    lay["lineage.postings"] = sum(r["n_postings"] for r in rows)
    lay["lineage.index_bytes"] = lin.dir_bytes(idx_dir)
    vals = list(per_part.values())
    lay["lineage.partition_skew"] = max(vals) / statistics.mean(vals)

    _codec_probe(tr, lay, idx_dir)

    idx = b.open_index(idx_dir)
    for cls, (text, lang) in inp["probes"].items():
        terms = query_terms(text)
        with tr.span("query", "term_df", cls=cls):
            idx.term_df(terms, lang)
        if cls not in res.class_ms:
            b.single(idx, inp["exp"], cls, text, lang)
    # the block-max pruned path, which auto picks only past
    # PRUNE_MIN_POSTINGS summed df, asked for explicitly
    text, lang = inp["probes"]["snippet"]
    b.single(idx, inp["exp"], "snippet", text, lang, mode="pruned")

    if not tr.find("delete_docs"):
        victims = [int(d) for d in inp["cols"]["doc_id"][:16]]
        with tr.span("deletes", "delete_docs"):
            delete_docs(spark, idx_dir, victims)
    with tr.span("deletes", "tombstone_count"):
        lay["deletes.tombstones"] = tombstone_count(idx_dir)

    _reduce(b)


def _codec_probe(tr, lay, idx_dir) -> None:
    """Decode the posting blobs of one (lang, term_bucket) partition of
    every batch, read straight from the index's parquet files."""
    import pyarrow.parquet as pq

    from smse_backend_spark.index.codec import decode_blocks, delta_decode

    files = sorted(glob.glob(f"{idx_dir}/postings/batch=*/lang=py/term_bucket=0/*.parquet"))
    cols = ("first_doc", "n", "gaps", "tfs", "dls")
    tbl = [pq.read_table(f, columns=list(cols)).to_pydict() for f in files]
    gaps = [g for t in tbl for g in t["gaps"]]
    tfs = [g for t in tbl for g in t["tfs"]]
    dls = [g for t in tbl for g in t["dls"]]
    firsts = np.asarray([g for t in tbl for g in t["first_doc"]], np.int64)
    with tr.span("codec", "decode_blocks") as sp_dec:
        g_vals, counts = decode_blocks(gaps)
        decode_blocks(tfs)
        decode_blocks(dls)
    with tr.span("codec", "delta_decode") as sp_delta:
        delta_decode(g_vals.astype(np.int64), firsts, counts)
    n = int(counts.sum())
    lay["codec.decode_postings_per_s"] = n / (sp_dec.wall_s + sp_delta.wall_s)
    lay["codec.bytes_per_posting"] = sum(len(x) for x in gaps + tfs + dls) / n


def _mean(spans, key: str) -> float:
    return statistics.mean(s.counters[key] for s in spans) if spans else 0.0


def _reduce(b) -> None:
    from smse_backend_spark.index.query import InvertedIndex

    tr, res = b.tr, b.res
    lay = res.layer
    lay["session.start_s"] = b.session_s
    lay["corpus.files"] = res.props["input.files"]
    lay["corpus.content_bytes"] = res.props["input.content_bytes"]

    builds = [s for s in tr.spans if s.name in BUILD_SPANS]
    lay["build.wall_s"] = sum(s.wall_s for s in builds)
    lay["build.resume_s"] = sum(s.wall_s for s in tr.find("build_index.resume"))
    tot = {k: sum(tr.totals(s)[k] for s in builds) for k in builds[0].counters}
    for k in ("jobs", "stages", "tasks", "failed_tasks", "task_run_s", "gc_s",
              "shuffle_write_bytes", "shuffle_read_bytes"):
        lay[f"build.{k}"] = tot[k]
    lay["build.overhead_share"] = tr.overhead_share(builds)
    lay["build.check_s"] = statistics.median(s.wall_s for s in tr.find("check_index"))

    lay["query.open_s"] = statistics.median(s.wall_s for s in tr.find("InvertedIndex"))
    lay["query.term_df_ms"] = statistics.median(
        s.wall_s for s in tr.find("term_df")) * 1e3
    qs = [s for s in tr.find("bm25_topk") if s.attrs["mode"] == "auto"]
    lay["query.jobs_per_query"] = _mean(qs, "jobs")
    lay["query.stages_per_query"] = _mean(qs, "stages")
    lay["query.tasks_per_query"] = _mean(qs, "tasks")
    lay["query.task_run_ms_per_query"] = _mean(qs, "task_run_s") * 1e3
    lay["query.shuffle_bytes_per_query"] = (
        _mean(qs, "shuffle_read_bytes") + _mean(qs, "shuffle_write_bytes"))
    lay["query.overhead_share"] = tr.overhead_share(qs)
    auto = [m for m in res.single_meta if m["mode"] == "auto"]
    lay["query.matched_postings_per_query"] = statistics.mean(m["df_sum"] for m in auto)
    lay["query.pruned_share"] = statistics.mean(
        1.0 if m["df_sum"] >= InvertedIndex.PRUNE_MIN_POSTINGS else 0.0
        for m in auto)
    lay["query.pruned_probe_ms"] = [
        s for s in tr.find("bm25_topk") if s.attrs["mode"] == "pruned"][-1].wall_s * 1e3
    for c in CLASSES:
        lay[f"query.{c}.p50_ms"] = statistics.median(res.class_ms[c])
    bs = tr.find("bm25_topk_batch")
    lay["query.batch.jobs"] = _mean(bs, "jobs")
    lay["query.batch.task_run_s"] = _mean(bs, "task_run_s")
    lay["query.batch.shuffle_bytes"] = (
        _mean(bs, "shuffle_read_bytes") + _mean(bs, "shuffle_write_bytes"))
    lay["deletes.commit_s"] = statistics.median(s.wall_s for s in tr.find("delete_docs"))

    lay["trace.overhead_share"] = tr.overhead_s / (time.perf_counter() - tr.started)
    lay["trace.query_p50_ms"] = res.e2e.get("query_p50_ms", 0.0)
    for layer in ("corpus", "tokenizer", "build", "lineage", "codec", "query",
                  "deletes"):
        lay[f"trace.self_s.{layer}"] = sum(
            tr.self_s(s) for s in tr.spans if s.layer == layer)
    for k in ("input.vocab_over_cache", "input.snippet_df_sum_over_prune",
              *(f"input.lang_share.{lg}" for lg in ("py", "js", "go", "java", "rs"))):
        lay[k] = res.props.get(k, 0.0)
