"""The benchmark's workloads, each a closed loop with one client.

- ``query_mixed``: set-up builds the index over the shared corpus (a
  resumable two-batch build); after an untimed warm-up (one query of
  each class and one small batch) the loop sends two rounds of the
  six-class single query mix, then three 64-query batches.
- ``ingest_serve``: set-up builds a smaller base index in one batch;
  after an untimed warm-up (one query of each class and one small batch)
  the loop runs one increment in ``replace_docs`` order (``delete_docs``
  then ``extend_index``), opens a fresh ``InvertedIndex`` and sends two
  rounds of the six-class single query mix and three small batches to
  it.
- ``build_bulk``: one resumable bulk build (stop after half the batches,
  resume); no query runs.

The work of a run is fixed, so a faster program yields the same samples of
the same classes, not more of them. ``--seconds`` only caps the loop: past
``CAP_FACTOR`` times it, the remaining calls are skipped and the run
reports ``loop.capped`` = 1.

Every engine call goes through its public function; each call into a
layer is wrapped in a span (a no-op unless the run is traced).
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np

from perfbench import corpus_gen, expected
from perfbench.querymix import CLASSES, QueryMaker
from perfbench.spans import Tracer
from smse_backend_spark.index.lineage import dir_bytes

K = 10
SEGMENT_SIZE = 2048
BULK_BATCHES = 2
QUERY_FILES = 32_000
VOCAB_SIZE = 1_000_000_000
BATCH_SIZE = 64
SINGLE_ROUNDS = 2           # timed rounds of the six query classes per run
BATCHES = 3
WARMUP_BATCH = 8
BASE_FILES = 4_000
INC_SUPERSEDE = 0.01        # share of the base files replaced by the increment
INC_NEW_FILES = 120
INC_BATCH = 8
TAIL_PCT = 75
CAP_FACTOR = 4              # the loop stops past CAP_FACTOR * --seconds


@dataclass
class Result:
    """What one run measured. ``e2e`` holds end-to-end metrics, ``layer``
    per-layer ones, ``props`` the recorded input properties."""

    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    e2e: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    props: dict = field(default_factory=dict)
    single_ms: list = field(default_factory=list)
    class_ms: dict = field(default_factory=dict)
    single_meta: list = field(default_factory=list)
    batch_s: list = field(default_factory=list)
    batch_queries: int = 0
    commit_s: float = 0.0
    build_s: float = 0.0
    build_files: int = 0

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)


def percentile(values, pct: float) -> float:
    """Nearest-rank percentile."""
    v = sorted(values)
    return v[max(0, min(len(v) - 1, int(np.ceil(pct / 100 * len(v))) - 1))]


class Bench:
    """One run: session, corpus, tracer and the result being filled."""

    def __init__(self, spark, session_s: float, work: str, seconds: float,
                 trace: bool, cores: int):
        self.spark, self.work, self.seconds = spark, work, seconds
        self.tr = Tracer(spark, trace, cores)
        self.res = Result()
        self.session_s = session_s
        self.cap_at = float("inf")

    def start_loop(self) -> None:
        self.cap_at = time.perf_counter() + CAP_FACTOR * self.seconds
        self.res.props["loop.capped"] = 0

    def capped(self) -> bool:
        """True once the loop has run past its cap; later calls are skipped."""
        if time.perf_counter() < self.cap_at:
            return False
        self.res.props["loop.capped"] = 1
        return True

    @contextmanager
    def untimed(self):
        """Calls inside drop their timings; their answers still count."""
        keep, self.res = self.res, Result()
        try:
            yield
        finally:
            keep.attempted += self.res.attempted
            keep.failed += self.res.failed
            keep.problems += self.res.problems
            self.res = keep

    # -- helpers around engine calls ---------------------------------------

    def load(self, corpus_dir: str):
        """load_corpus + verify_sha256_invariant; returns the corpus frame."""
        from smse_backend_spark.corpus import load_corpus, verify_sha256_invariant

        with self.tr.span("corpus", "load_corpus"):
            corpus = load_corpus(self.spark, corpus_dir)
        with self.tr.span("corpus", "verify_sha256_invariant"):
            bad = verify_sha256_invariant(corpus)
        self.res.check(bad == 0, f"{bad} sha256 violations in {corpus_dir}")
        self.res.layer["corpus.sha256_violations"] = \
            self.res.layer.get("corpus.sha256_violations", 0) + bad
        return corpus

    def bulk_build(self, corpus, out_dir: str) -> tuple[float, float]:
        """The resumable build: stop after half the batches, then resume.
        Returns (total seconds, resume seconds)."""
        from smse_backend_spark.index.build import build_index

        t0 = time.perf_counter()
        with self.tr.span("build", "build_index", batches=BULK_BATCHES):
            r = build_index(self.spark, corpus, out_dir, segment_size=SEGMENT_SIZE,
                            n_batches=BULK_BATCHES,
                            stop_after_batches=BULK_BATCHES // 2)
        self.res.check(r.get("stopped_after") == BULK_BATCHES // 2,
                       f"build_index did not stop after half: {r}")
        t1 = time.perf_counter()
        with self.tr.span("build", "build_index.resume"):
            build_index(self.spark, corpus, out_dir, segment_size=SEGMENT_SIZE,
                        n_batches=BULK_BATCHES)
        t2 = time.perf_counter()
        return t2 - t0, t2 - t1

    def single_batch_build(self, corpus, out_dir: str) -> float:
        """A plain one-batch build; returns its seconds."""
        from smse_backend_spark.index.build import build_index

        t0 = time.perf_counter()
        with self.tr.span("build", "build_index", batches=1):
            build_index(self.spark, corpus, out_dir, segment_size=SEGMENT_SIZE,
                        n_batches=1)
        return time.perf_counter() - t0

    def open_index(self, path: str):
        from smse_backend_spark.index.query import InvertedIndex

        with self.tr.span("query", "InvertedIndex"):
            return InvertedIndex(self.spark, path)

    def check_index(self, path: str) -> None:
        from smse_backend_spark.index.build import check_index

        with self.tr.span("build", "check_index"):
            rep = check_index(self.spark, path)
        self.res.check(rep["ok"], f"check_index: {rep['problems']}")

    def single(self, idx, exp: expected.ExpectedIndex, cls: str, text: str,
               lang: str | None, mode: str = "auto") -> None:
        """One timed bm25_topk call, checked against the expected top-k."""
        req = self.tr.new_request()
        t0 = time.perf_counter()
        try:
            with self.tr.span("query", "bm25_topk", request=req, cls=cls,
                              mode=mode):
                rows = idx.bm25_topk(text, k=K, lang=lang, mode=mode).collect()
        except Exception as e:  # noqa: BLE001 - a failed query is a counted failure
            self.res.check(False, f"{cls} query raised {type(e).__name__}: {e}")
            return
        ms = (time.perf_counter() - t0) * 1e3
        if mode == "auto":
            self.res.single_ms.append(ms)
            self.res.class_ms.setdefault(cls, []).append(ms)
        got = [(int(r["doc_id"]), float(r["score"])) for r in rows]
        want = exp.topk(text, K, lang)
        self.res.check(expected.matches(got, want, K),
                       f"{cls} query {text[:60]!r} lang={lang}: got {got[:3]} "
                       f"want {want[:3]}")
        self.res.single_meta.append({
            "cls": cls, "mode": mode,
            "df_sum": sum(exp.df(t, lang) for t in expected.query_terms(text))})

    def batch(self, idx, exp: expected.ExpectedIndex, queries: list) -> None:
        """One timed bm25_topk_batch call; every query's rows are checked."""
        qmap = {i: text for i, (_cls, text) in enumerate(queries)}
        req = self.tr.new_request()
        t0 = time.perf_counter()
        try:
            with self.tr.span("query", "bm25_topk_batch", request=req,
                              size=len(qmap)):
                rows = idx.bm25_topk_batch(qmap, k=K).collect()
        except Exception as e:  # noqa: BLE001
            self.res.check(False, f"batch raised {type(e).__name__}: {e}")
            return
        self.res.batch_s.append(time.perf_counter() - t0)
        self.res.batch_queries += len(qmap)
        by_q: dict[int, list] = {}
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            by_q.setdefault(int(r["query_id"]), []).append(
                (int(r["doc_id"]), float(r["score"])))
        for qid, text in qmap.items():
            got, want = by_q.get(qid, []), exp.topk(text, K)
            self.res.check(expected.matches(got, want, K),
                           f"batch query {text[:60]!r}: got {got[:3]} want {want[:3]}")


def generate_corpus(seed: int, n_files: int, out_dir: str) -> tuple[dict, int]:
    cols = corpus_gen.generate(seed * 1000, n_files, vocab_size=VOCAB_SIZE)
    _path, content_bytes = corpus_gen.write_documents(cols, out_dir)
    return cols, content_bytes


def record_input(res: Result, cols: dict, content_bytes: int) -> None:
    res.props["input.files"] = len(cols["text"])
    res.props["input.content_bytes"] = content_bytes
    langs = np.asarray(cols["lang"])
    for lang in corpus_gen.LANGS:
        res.props[f"input.lang_share.{lang}"] = float((langs == lang).mean())


def track(cols: dict, singles: list, batches: list, probes: dict) -> expected.ExpectedIndex:
    """The expected-answer pass over ``cols``, keeping the tf of every term
    the run may query."""
    texts = [text for _c, text, _l in singles]
    texts += [text for bq in batches for _c, text in bq]
    texts += [text for text, _l in probes.values()]
    exp = expected.ExpectedIndex(
        frozenset(t for text in texts for t in expected.query_terms(text)))
    exp.add(cols["doc_id"], cols["lang"], cols["text"])
    return exp


def probe_queries(qm: QueryMaker) -> dict:
    return {cls: qm.make(cls) for cls in CLASSES}


# -- query_mixed ---------------------------------------------------------------

def query_mixed_inputs(seed: int, work: str) -> dict:
    """Untimed: corpus, query pool and the expected-answer pass."""
    corpus_dir = f"{work}/corpus"
    cols, content_bytes = generate_corpus(seed, QUERY_FILES, corpus_dir)
    qm = QueryMaker(cols, seed)
    warmup = qm.singles(len(CLASSES)), qm.batch(WARMUP_BATCH)
    singles = qm.singles(SINGLE_ROUNDS * len(CLASSES))
    batches = [qm.batch(BATCH_SIZE) for _ in range(BATCHES)]
    probes = probe_queries(qm)
    return {"cols": cols, "content_bytes": content_bytes, "corpus_dir": corpus_dir,
            "warmup": warmup, "singles": singles, "batches": batches,
            "probes": probes,
            "exp": track(cols, warmup[0] + singles, [warmup[1]] + batches, probes)}


def run_query_mixed(b: Bench, inp: dict) -> None:
    from smse_backend_spark.index.query import InvertedIndex

    cols, exp, res = inp["cols"], inp["exp"], b.res
    record_input(res, cols, inp["content_bytes"])
    idx_dir = f"{b.work}/index"
    t0 = time.perf_counter()
    corpus = b.load(inp["corpus_dir"])
    t_load = time.perf_counter()
    res.build_s, resume_s = b.bulk_build(corpus, idx_dir)
    t_built = time.perf_counter()
    idx = b.open_index(idx_dir)
    t1 = time.perf_counter()
    res.e2e["setup_s"] = b.session_s + (t1 - t0)
    # the index's one commit: from the resume call that writes the last
    # batch and finalizes, until a reader is open on it
    res.commit_s = resume_s + (t1 - t_built)
    res.build_files = len(cols["text"])
    res.layer["corpus.load_s"] = t_load - t0
    b.check_index(idx_dir)
    res.props["input.vocab_terms"] = idx.meta["n_terms"]
    res.props["input.vocab_over_cache"] = \
        idx.meta["n_terms"] / InvertedIndex.DICT_CACHE_MAX_TERMS

    warm_up(b, idx, exp, inp["warmup"])
    b.start_loop()
    serve(b, idx, exp, inp["singles"], inp["batches"])
    finish(b, inp, idx_dir, inp["content_bytes"])


def warm_up(b: Bench, idx, exp: expected.ExpectedIndex, warmup: tuple) -> None:
    """Untimed, answers still checked: the first query of each class and
    the first batch of a session pay for plan compilation, JIT and Python
    worker start, which a serving process has behind it."""
    singles, batch = warmup
    with b.untimed():
        for cls, text, lang in singles:
            b.single(idx, exp, cls, text, lang)
        b.batch(idx, exp, batch)


def serve(b: Bench, idx, exp: expected.ExpectedIndex, singles: list,
          batches: list) -> None:
    """The timed queries of a loop: singles, then batches; the first of
    each kind always runs, the rest stop at the cap."""
    for i, (cls, text, lang) in enumerate(singles):
        if i and b.capped():
            break
        b.single(idx, exp, cls, text, lang)
    for i, queries in enumerate(batches):
        if i and b.capped():
            break
        b.batch(idx, exp, queries)


# -- ingest_serve --------------------------------------------------------------

def ingest_inputs(seed: int, work: str) -> dict:
    """Untimed: base corpus, the increment (written as its own table, as an
    append would land), the query pool and the expected pass over the
    base."""
    corpus_dir = f"{work}/base"
    cols, content_bytes = generate_corpus(seed, BASE_FILES, corpus_dir)
    rng = np.random.default_rng([seed, 11])
    # extend_index appends above the last indexed segment
    frontier = -(-(int(cols["doc_id"][-1]) + 1) // SEGMENT_SIZE) * SEGMENT_SIZE
    n_old = max(1, round(INC_SUPERSEDE * BASE_FILES))
    old_pos = np.sort(rng.choice(BASE_FILES, size=n_old, replace=False))
    old_ids = [int(cols["doc_id"][p]) for p in old_pos]
    fresh = corpus_gen.generate(seed * 1000 + 1, n_old + INC_NEW_FILES,
                                vocab_size=VOCAB_SIZE)
    # a new version is the old content with one edited line appended
    texts = [cols["text"][p] + fresh["text"][j].splitlines()[0] + "\n"
             for j, p in enumerate(old_pos)]
    texts += fresh["text"][n_old:]
    ids = np.arange(frontier, frontier + len(texts), dtype=np.int64)
    inc = {
        "doc_id": ids, "text": texts,
        "lang": [cols["lang"][p] for p in old_pos] + fresh["lang"][n_old:],
        "source": [f"repo{d // 40}" for d in old_ids] + fresh["source"][n_old:],
        "n_chars": np.asarray([len(t) for t in texts], np.int64),
    }
    corpus_gen.write_documents(inc, f"{work}/inc")
    # query terms come from the base, so every class means the same thing
    # before and after the increment
    qm = QueryMaker(cols, seed)
    warmup = qm.singles(len(CLASSES)), qm.batch(WARMUP_BATCH)
    singles = qm.singles(SINGLE_ROUNDS * len(CLASSES))
    batches = [qm.batch(INC_BATCH) for _ in range(BATCHES)]
    probes = probe_queries(qm)
    return {"cols": cols, "content_bytes": content_bytes, "corpus_dir": corpus_dir,
            "old_ids": old_ids, "inc": inc, "warmup": warmup,
            "singles": singles, "batches": batches, "probes": probes,
            "exp": track(cols, warmup[0] + singles, [warmup[1]] + batches,
                         probes)}


def run_ingest_serve(b: Bench, inp: dict) -> None:
    from smse_backend_spark.index.build import extend_index
    from smse_backend_spark.index.deletes import delete_docs

    cols, exp, res, inc = inp["cols"], inp["exp"], b.res, inp["inc"]
    record_input(res, cols, inp["content_bytes"])
    idx_dir = f"{b.work}/index"
    t0 = time.perf_counter()
    corpus = b.load(inp["corpus_dir"])
    t_load = time.perf_counter()
    res.build_s = b.single_batch_build(corpus, idx_dir)
    idx = b.open_index(idx_dir)
    t1 = time.perf_counter()
    res.e2e["setup_s"] = b.session_s + (t1 - t0)
    res.build_files = len(cols["text"])
    res.layer["corpus.load_s"] = t_load - t0
    res.props["input.vocab_terms"] = idx.meta["n_terms"]
    res.props["input.vocab_over_cache"] = \
        idx.meta["n_terms"] / idx.DICT_CACHE_MAX_TERMS

    # the serving process has answered queries on the base before the
    # increment lands
    warm_up(b, idx, exp, inp["warmup"])
    b.start_loop()
    inc_corpus = b.load(f"{b.work}/inc")
    req = b.tr.new_request()
    c0 = time.perf_counter()
    with b.tr.span("request", "increment", request=req):
        with b.tr.span("deletes", "delete_docs"):
            delete_docs(b.spark, idx_dir, inp["old_ids"])
        with b.tr.span("build", "extend_index"):
            extend_index(b.spark, inc_corpus, idx_dir)
        idx = b.open_index(idx_dir)
    res.commit_s = time.perf_counter() - c0
    exp.delete(inp["old_ids"])
    exp.add(inc["doc_id"], inc["lang"], inc["text"])
    serve(b, idx, exp, inp["singles"], inp["batches"])
    b.check_index(idx_dir)
    finish(b, inp, idx_dir,
           inp["content_bytes"] + sum(len(t.encode()) for t in inc["text"]))


# -- build_bulk ----------------------------------------------------------------

def build_bulk_inputs(seed: int, work: str) -> dict:
    corpus_dir = f"{work}/corpus"
    cols, content_bytes = generate_corpus(seed, QUERY_FILES, corpus_dir)
    return {"cols": cols, "content_bytes": content_bytes, "corpus_dir": corpus_dir}


def run_build_bulk(b: Bench, inp: dict) -> None:
    res = b.res
    record_input(res, inp["cols"], inp["content_bytes"])
    t0 = time.perf_counter()
    corpus = b.load(inp["corpus_dir"])
    res.e2e["setup_s"] = b.session_s + (time.perf_counter() - t0)
    res.layer["corpus.load_s"] = time.perf_counter() - t0
    out = f"{b.work}/index"
    build_s, _resume_s = b.bulk_build(corpus, out)
    b.check_index(out)
    res.e2e["build_files_per_s"] = len(inp["cols"]["text"]) / build_s
    res.e2e["index_bytes_per_input_byte"] = dir_bytes(out) / inp["content_bytes"]


# -- metrics -------------------------------------------------------------------

def finish(b: Bench, inp: dict, idx_dir: str, content_bytes: int) -> None:
    """End-to-end metrics; in a traced run, the layer probes and metrics."""
    from smse_backend_spark.index.query import InvertedIndex

    res = b.res
    e = res.e2e
    e["build_files_per_s"] = res.build_files / res.build_s
    e["index_bytes_per_input_byte"] = dir_bytes(idx_dir) / content_bytes
    e["query_p50_ms"] = statistics.median(res.single_ms)
    e["query_tail_ms"] = percentile(res.single_ms, TAIL_PCT)
    e["batch_qps"] = res.batch_queries / len(res.batch_s) / statistics.median(res.batch_s)
    # one commit per run, so its p50 is that sample
    e["commit_p50_s"] = res.commit_s
    res.props["query.samples"] = len(res.single_ms)
    snippet = [m["df_sum"] for m in res.single_meta if m["cls"] == "snippet"]
    res.props["input.snippet_df_sum_over_prune"] = (
        max(snippet) / InvertedIndex.PRUNE_MIN_POSTINGS if snippet else 0.0)
    if b.tr.enabled:
        from perfbench import layers

        layers.probe_and_report(b, inp, idx_dir)
