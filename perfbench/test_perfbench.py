"""Self-tests of the benchmark: seeded inputs, the expected-answer code,
the metric catalogue and a tiny smoke of each workload.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

from perfbench import corpus_gen, expected, layers, run, workloads
from perfbench.querymix import CLASSES, QueryMaker
from smse_backend_spark.oracle.bm25_numpy import bm25_topk_py

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_same_seed_same_input(tmp_path):
    a = corpus_gen.generate(5, 300)
    b = corpus_gen.generate(5, 300)
    assert a["text"] == b["text"] and a["lang"] == b["lang"]
    assert a["source"] == b["source"]
    assert corpus_gen.generate(6, 300)["text"] != a["text"]
    corpus_gen.write_documents(a, str(tmp_path / "x"))
    corpus_gen.write_documents(b, str(tmp_path / "y"))
    x = (tmp_path / "x" / "documents.parquet").read_bytes()
    assert x == (tmp_path / "y" / "documents.parquet").read_bytes()
    assert QueryMaker(a, 5).singles(24) == QueryMaker(b, 5).singles(24)


def test_part_words_vectorized_matches_scalar():
    ranks = np.array([0, 5, 229, 230, 231, 8329, 8330, 8331, 10**6, 10**9 - 1])
    assert corpus_gen.part_words(ranks) == [corpus_gen.part_word(int(r)) for r in ranks]
    words = corpus_gen.part_words(np.arange(230, 300_000))
    assert len(set(words)) == len(words)


def _small():
    cols = corpus_gen.generate(3, 400)
    qm = QueryMaker(cols, 3)
    queries = qm.singles(36)
    exp = workloads.track(cols, queries, [], {})
    docs = list(zip(cols["doc_id"].tolist(), cols["text"]))
    return cols, queries, exp, docs


def test_expected_equals_numpy_oracle():
    cols, queries, exp, docs = _small()
    for cls, text, lang in queries:
        if lang is None:
            want = bm25_topk_py(docs, text, k=10)
        else:
            sub = [d for d, lg in zip(docs, cols["lang"]) if lg == lang]
            want = bm25_topk_py(sub, text, k=10)
        got = exp.topk(text, 10, lang)
        assert expected.matches(want, got, 10), (cls, text, lang, want, got)


def test_expected_soft_delete_rule():
    """Tombstoned docs keep N, df and avgdl but leave the hits."""
    cols, queries, exp, docs = _small()
    victims = set(cols["doc_id"][::7].tolist())
    exp.delete(victims)
    for _cls, text, lang in queries:
        if lang is not None:
            continue
        full = bm25_topk_py(docs, text, k=len(docs))
        want = [r for r in full if r[0] not in victims][:10]
        assert expected.matches(want, exp.topk(text, 10), 10), text


def test_matches_accepts_near_ties_only():
    want = [(1, 2.0), (2, 1.5), (3, 1.5000004), (4, 1.0)]
    assert expected.matches([(1, 2.0), (3, 1.5000004), (2, 1.5)], want, 3)
    assert not expected.matches([(1, 2.0), (4, 1.0), (2, 1.5)], want, 3)
    assert not expected.matches([(1, 2.0), (2, 1.5)], want, 3)
    assert not expected.matches([(1, 2.0), (2, 1.49), (3, 1.5)], want, 3)


def test_catalogue_matches_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]} \
        == run.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} \
        == layers.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    assert set(CLASSES) == {n.split(".")[1] for n in layers.PER_LAYER
                            if n.endswith(".p50_ms") and n.count(".") == 2}


TINY = {"QUERY_FILES": 600, "BASE_FILES": 400, "INC_NEW_FILES": 20,
        "BATCH_SIZE": 8, "SEGMENT_SIZE": 128}


@pytest.mark.parametrize("workload,trace", [
    ("query_mixed", 0), ("ingest_serve", 0), ("ingest_serve", 1),
    ("build_bulk", 0)])
def test_tiny_smoke(workload, trace):
    """Each workload end to end at a tiny size, in its own process as the
    benchmark runs: every answer right."""
    args = ["--workload", workload, "--seed", "1", "--seconds", "1",
            "--trace", str(trace)]
    code = ("import sys; from perfbench import run, workloads\n"
            f"for k, v in {TINY!r}.items(): setattr(workloads, k, v)\n"
            f"sys.exit(run.main({args!r}))")
    proc = subprocess.run([sys.executable, "-c", code], cwd=ROOT,
                          capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-2000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert res["attempted"] > 0 and res["failed"] == 0 and res["correct"]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        listed = {w["name"] for w in json.load(f)["workloads"]}
    if trace:
        assert set(res["metrics"]) == set(layers.PER_LAYER)
    elif workload in listed:
        assert set(res["metrics"]) == set(run.END_TO_END)
    for m in res["metrics"].values():
        assert m["value"] > 0 or trace
