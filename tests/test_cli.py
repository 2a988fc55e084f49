"""spark-submit CLI surface: build -> query -> verify, and the zip dist."""

from __future__ import annotations

import json
import sys
import zipfile

import pytest

from smse_backend_spark import cli, zipdist


def test_cli_build_query_verify(tmp_path, spark, sf_smoke, capsys):
    out = str(tmp_path / "idx")
    cli.main([
        "build", "--corpus", sf_smoke, "--out", out,
        "--segment-size", "256", "--n-buckets", "8", "--n-batches", "2",
        "--master", "local[4]",
    ])
    meta = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert meta["n_docs"] == 500 and meta["batches"] == [0, 1]

    cli.main(["query", "--index", out, "--text", "hash join merge scan",
              "--master", "local[4]"])
    hits = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(hits) == 10
    scores = [h["score"] for h in hits]
    assert scores == sorted(scores, reverse=True)

    with pytest.raises(SystemExit) as e:
        cli.main(["verify", "--index", out, "--corpus", sf_smoke,
                  "--text", "hash join merge scan", "the row data",
                  "--master", "local[4]"])
    assert e.value.code == 0
    lines = capsys.readouterr().out.strip().splitlines()
    assert all(json.loads(ln)["rank_identical"] for ln in lines[-2:])

    compacted = str(tmp_path / "idx2")
    cli.main(["compact", "--index", out, "--out", compacted,
              "--master", "local[4]"])
    cmeta = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert cmeta["batches"] == [0] and cmeta["n_docs"] == meta["n_docs"]

    cli.main(["query", "--index", compacted, "--text", "hash join merge scan",
              "--master", "local[4]"])
    hits2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert hits2 == hits


def test_cli_dedup(tmp_path, spark, sf_smoke, capsys):
    import duckdb

    out = str(tmp_path / "dd")
    cli.main(["dedup", "--docs", f"{sf_smoke}/documents.parquet",
              "--out", out, "--mode", "exact", "--master", "local[4]"])
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    want = duckdb.sql(
        f"SELECT count(DISTINCT sha256(text)) FROM '{sf_smoke}/documents.parquet'"
    ).fetchone()[0]
    assert summary["rows"] == want

    out2 = str(tmp_path / "mh")
    cli.main(["dedup", "--docs", f"{sf_smoke}/documents.parquet",
              "--out", out2, "--mode", "minhash", "--master", "local[4]"])
    summary2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary2["mode"] == "minhash" and summary2["rows"] >= 0


def test_zipdist(tmp_path):
    z, d = zipdist.build(str(tmp_path / "dist"))
    names = zipfile.ZipFile(z).namelist()
    assert "smse_backend_spark/cli.py" in names
    assert "smse_backend_spark/index/build.py" in names
    assert d.endswith("cli.py")


def test_cli_positional_build_phrase_prefix_query(tmp_path, spark, sf_smoke, capsys):
    out = str(tmp_path / "pidx")
    cli.main([
        "build", "--corpus", sf_smoke, "--out", out, "--with-positions",
        "--segment-size", "256", "--n-buckets", "8", "--n-batches", "1",
        "--master", "local[4]",
    ])
    meta = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert meta["config"]["with_positions"] is True

    cli.main(["query", "--index", out, "--text", "table scan", "--phrase",
              "--master", "local[4]"])
    hits = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert hits and all("score" in h for h in hits)

    cli.main(["query", "--index", out, "--text", "wi", "--prefix",
              "--master", "local[4]"])
    hits2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert hits2

    cli.main(["query", "--index", out, "--text", "soet", "--fuzzy", "1",
              "--master", "local[4]"])
    hits3 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert hits3 and all("score" in h for h in hits3)


def test_cli_stats(tmp_path, spark, sf_smoke, capsys):
    out = str(tmp_path / "idx")
    cli.main(["build", "--corpus", sf_smoke, "--out", out,
              "--segment-size", "256", "--n-batches", "2",
              "--master", "local[4]"])
    capsys.readouterr()
    cli.main(["stats", "--index", out])
    st = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert st["meta"]["n_docs"] == 500
    assert len(st["batches"]) == 2 and st["tombstones"] == 0


def test_cli_msm_near_suggest_merge(tmp_path, spark, sf_smoke, capsys):
    """Round-2 query surface: --min-match/--all-terms/--near flags plus the
    suggest and merge subcommands."""
    a, b, m = (str(tmp_path / x) for x in ("ha", "hb", "hm"))
    common = ["--segment-size", "64", "--n-buckets", "4", "--n-batches", "1",
              "--with-positions", "--master", "local[4]"]
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE VIEW d AS SELECT * FROM '{sf_smoke}/documents.parquet'")
    lo = str(tmp_path / "lo.parquet")
    hi = str(tmp_path / "hi.parquet")
    con.execute(f"COPY (SELECT * FROM d WHERE doc_id < 256) TO '{lo}'")
    con.execute(f"COPY (SELECT * FROM d WHERE doc_id >= 256) TO '{hi}'")
    (tmp_path / "lo_dir").mkdir(); (tmp_path / "hi_dir").mkdir()
    import shutil
    shutil.move(lo, str(tmp_path / "lo_dir" / "documents.parquet"))
    shutil.move(hi, str(tmp_path / "hi_dir" / "documents.parquet"))
    cli.main(["build", "--corpus", str(tmp_path / "lo_dir"), "--out", a] + common)
    cli.main(["build", "--corpus", str(tmp_path / "hi_dir"), "--out", b] + common)
    capsys.readouterr()
    cli.main(["merge", "--src", a, b, "--out", m, "--master", "local[4]"])
    meta = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert meta["n_docs"] == 500

    cli.main(["query", "--index", m, "--text", "hash join merge scan",
              "--all-terms", "--master", "local[4]"])
    hits_and = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    cli.main(["query", "--index", m, "--text", "hash join merge scan",
              "--min-match", "2", "--master", "local[4]"])
    hits_m2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert hits_and and hits_m2

    cli.main(["query", "--index", m, "--text", "table scan", "--near", "6",
              "--master", "local[4]"])
    hits_near = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert hits_near and all("score" in h for h in hits_near)

    cli.main(["suggest", "--index", m, "--text", "soet", "--max-edits", "1",
              "--master", "local[4]"])
    sugg = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert sugg and all(s["dist"] <= 1 for s in sugg)


def test_cli_search_scan_modes(spark, sf_smoke, capsys):
    """search subcommand: plain, boolean DSL, fielded sum/dismax/bm25f,
    stemmed — each returns a ranked JSON list."""
    def run(extra):
        cli.main(["search", "--corpus", sf_smoke, "--text", extra[0],
                  "--master", "local[4]", *extra[1:]])
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    plain = run(["hash join merge scan"])
    assert len(plain) == 10
    boolean = run(["hash AND (join OR merge) AND NOT window", "--bool"])
    assert boolean and all(h["score"] > 0 for h in boolean)
    fielded = run(["py f42 hash join", "--fields", "content=1,path=2"])
    dismax = run(["py f42 hash join", "--fields", "content=1,path=2",
                  "--dismax", "0.3"])
    bm25f = run(["py f42 hash join", "--fields", "content=1,path=2", "--bm25f"])
    assert fielded and dismax and bm25f
    assert [h["doc_id"] for h in dismax] != [] and fielded != bm25f
    stemmed = run(["tables scans", "--stem"])
    assert stemmed and all(h["score"] > 0 for h in stemmed)


def test_cli_search_flag_validation(sf_smoke):
    """Conflicting/incomplete search flags exit with a diagnostic instead
    of silently running a different ranking."""
    for argv in (
        ["search", "--corpus", sf_smoke, "--text", "q", "--bm25f"],
        ["search", "--corpus", sf_smoke, "--text", "q", "--dismax", "0.3"],
        ["search", "--corpus", sf_smoke, "--text", "q",
         "--fields", "content=1", "--dismax", "0.3", "--bm25f"],
        ["search", "--corpus", sf_smoke, "--text", "q", "--bool", "--stem"],
    ):
        with pytest.raises(SystemExit) as e:
            cli.main(argv)
        assert e.value.code not in (0, None), argv


def test_cli_curate_modes(tmp_path, spark, sf_smoke, capsys):
    docs = f"{sf_smoke}/documents.parquet"
    for mode, extra, check in [
        ("split", [], lambda n: n == 500),
        ("sample", ["--rate", "0.2"], lambda n: 0 < n < 300),
        ("decontam", ["--ngram", "8"], lambda n: n == 500),
        ("redact", [], lambda n: n == 500),
        ("chunks", ["--chunk-size", "32", "--overlap", "8"],
         lambda n: n > 500),
    ]:
        out = str(tmp_path / f"curate_{mode}")
        cli.main(["curate", "--docs", docs, "--out", out, "--mode", mode,
                  "--master", "local[4]", *extra])
        summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert check(summary["rows"]), (mode, summary)


def test_spark_submit_py_files_deployment(tmp_path, spark, sf_smoke):
    """The ACTUAL deployment contract from the target spec: spark-submit
    --py-files dist/smse_backend_spark.zip dist/cli.py — run from a neutral
    cwd with no repo on PYTHONPATH, so every import must resolve from the
    zip (driver AND python workers). The CLI's top-10 must be
    rank-and-score-identical to the in-process engine on the same index."""
    import os
    import shutil
    import subprocess

    spark_submit = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
    if not os.path.exists(spark_submit):
        pytest.skip("spark-submit not on this machine")

    z, driver = zipdist.build(str(tmp_path / "dist"))
    out = str(tmp_path / "idx")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable

    def submit(*cli_args):
        p = subprocess.run(
            [spark_submit, "--master", "local[2]", "--py-files", z, driver,
             *cli_args],
            capture_output=True, text=True, timeout=300, env=env,
            cwd=str(tmp_path),
        )
        assert p.returncode == 0, p.stderr[-3000:]
        return p.stdout.strip().splitlines()[-1]

    meta = json.loads(submit(
        "build", "--corpus", sf_smoke, "--out", out,
        "--segment-size", "256", "--n-buckets", "8", "--n-batches", "2",
    ))
    assert meta["n_docs"] == 500

    hits = json.loads(submit(
        "query", "--index", out, "--text", "hash join merge scan"))
    from smse_backend_spark.index.query import InvertedIndex

    want = [
        {"doc_id": r["doc_id"], "score": r["score"]}
        for r in InvertedIndex(spark, out)
        .bm25_topk("hash join merge scan", 10).collect()
    ]
    assert hits == want and len(hits) == 10


def test_cli_browse_and_aggs(tmp_path, spark, sf_smoke, capsys):
    out = str(tmp_path / "sorted_idx")
    cli.main([
        "build", "--corpus", sf_smoke, "--out", out,
        "--segment-size", "256", "--n-buckets", "8", "--n-batches", "2",
        "--docvalues", "repo,n_chars", "--sort-field", "n_chars",
        "--master", "local[4]",
    ])
    capsys.readouterr()
    cli.main(["browse", "--index", out, "--k", "5", "--master", "local[4]"])
    rows = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(rows) == 5
    sizes = [r["n_chars"] for r in rows]
    assert sizes == sorted(sizes, reverse=True)

    cli.main(["aggs", "--index", out, "--text", "hash join merge scan",
              "--agg", "stats", "--master", "local[4]"])
    st = json.loads(capsys.readouterr().out.strip().splitlines()[-1])[0]
    assert st["n_docs"] > 0 and st["min_v"] <= st["max_v"]

    cli.main(["aggs", "--index", out, "--text", "hash join merge scan",
              "--agg", "histogram", "--interval", "64",
              "--master", "local[4]"])
    buckets = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert sum(b["n_docs"] for b in buckets) == st["n_docs"]

    cli.main(["aggs", "--index", out, "--text", "hash join merge scan",
              "--agg", "cardinality", "--master", "local[4]"])
    card = json.loads(capsys.readouterr().out.strip().splitlines()[-1])[0]
    assert 0 < card["n_distinct"] <= st["n_docs"]


def test_cli_build_synonym_shingles(tmp_path, spark, sf_smoke, capsys):
    out = str(tmp_path / "syn_idx")
    cli.main([
        "build", "--corpus", sf_smoke, "--out", out,
        "--segment-size", "256", "--n-buckets", "8", "--n-batches", "1",
        "--analyzer", "synonym", "--synonyms", '{"merge": "join"}',
        "--shingles", "--master", "local[4]",
    ])
    meta = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert meta["config"]["synonyms"] == {"merge": "join"}
    assert meta["config"]["shingles"] is True

    cli.main(["query", "--index", out, "--text", "merge",
              "--master", "local[4]"])
    hits_m = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    cli.main(["query", "--index", out, "--text", "join",
              "--master", "local[4]"])
    hits_j = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert hits_m == hits_j and hits_m


def test_cli_lm_boosting_composite(tmp_path, spark, sf_smoke, capsys):
    """New query/aggs surfaces: LM similarity, boosting query, composite
    and terms_stats aggregations, and phrase-prefix on a positional build."""
    out = str(tmp_path / "idx")
    cli.main([
        "build", "--corpus", sf_smoke, "--out", out,
        "--segment-size", "256", "--n-buckets", "8", "--n-batches", "2",
        "--docvalues", "repo,n_chars", "--with-positions",
        "--master", "local[4]",
    ])
    capsys.readouterr()

    cli.main(["query", "--index", out, "--text", "hash join merge scan",
              "--similarity", "lm", "--mu", "2000", "--master", "local[4]"])
    lm_hits = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(lm_hits) == 10 and all(h["score"] >= 0 for h in lm_hits)

    cli.main(["query", "--index", out, "--text", "hash join merge scan",
              "--boosting", "window", "--negative-boost", "0.5",
              "--master", "local[4]"])
    b_hits = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(b_hits) == 10

    cli.main(["query", "--index", out, "--text", "hash jo",
              "--phrase-prefix", "--master", "local[4]"])
    pp_hits = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert pp_hits and all(h["score"] > 0 for h in pp_hits)

    cli.main(["aggs", "--index", out, "--text", "hash join merge scan",
              "--agg", "composite", "--interval", "256", "--size", "5",
              "--master", "local[4]"])
    page1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(page1) == 5
    last = page1[-1]
    cli.main(["aggs", "--index", out, "--text", "hash join merge scan",
              "--agg", "composite", "--interval", "256", "--size", "5",
              "--after", f"{last['repo']}:{last['bucket']}",
              "--master", "local[4]"])
    page2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    keys1 = [(b["repo"], b["bucket"]) for b in page1]
    keys2 = [(b["repo"], b["bucket"]) for b in page2]
    assert keys2 and not (set(keys1) & set(keys2))
    assert min(keys2) > max(keys1)

    cli.main(["aggs", "--index", out, "--text", "hash join merge scan",
              "--agg", "terms_stats", "--size", "5", "--master", "local[4]"])
    ts = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(ts) == 5
    avgs = [b["avg_score"] for b in ts]
    assert avgs == sorted(avgs, reverse=True)


def test_cli_ann_modes(tmp_path, spark, sf_smoke, capsys):
    """ann subcommand: brute == the brute_force_topk operator; ivfpq runs
    end-to-end and keeps the (query_id, rank, vec_id, score) shape."""
    out1 = str(tmp_path / "ann_brute")
    cli.main(["ann", "--emb", f"{sf_smoke}/embeddings.parquet",
              "--out", out1, "--query-ids", "0,1", "--mode", "brute",
              "--master", "local[4]"])
    meta = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert meta["rows"] == 20
    got = sorted(map(tuple, spark.read.parquet(out1).collect()))
    from smse_backend_spark.operators.ann import brute_force_topk

    emb = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    qv = {int(r["vec_id"]): [float(x) for x in r["embedding"]]
          for r in emb.filter("vec_id in (0, 1)").collect()}
    want = sorted(map(tuple, brute_force_topk(emb, qv, 10).collect()))
    assert got == want

    out2 = str(tmp_path / "ann_ivfpq")
    cli.main(["ann", "--emb", f"{sf_smoke}/embeddings.parquet",
              "--out", out2, "--query-ids", "0", "--mode", "ivfpq",
              "--master", "local[4]"])
    meta2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert meta2["rows"] == 10
    rows = spark.read.parquet(out2).collect()
    assert sorted(r["rank"] for r in rows) == list(range(1, 11))

    with pytest.raises(SystemExit, match="not in"):
        cli.main(["ann", "--emb", f"{sf_smoke}/embeddings.parquet",
                  "--out", str(tmp_path / "x"), "--query-ids", "999999",
                  "--master", "local[4]"])


def test_cli_round4_query_and_search_flags(tmp_path, spark, sf_smoke, capsys):
    """Round-4 session-2 surface: --wildcard/--bool-prefix/--span-first on
    the index path; --simple/--pin/--random-seed on the scan path."""
    out = str(tmp_path / "r4idx")
    cli.main([
        "build", "--corpus", sf_smoke, "--out", out, "--with-positions",
        "--segment-size", "256", "--n-buckets", "8", "--n-batches", "1",
        "--master", "local[4]",
    ])
    capsys.readouterr()

    def run(argv):
        cli.main(argv + ["--master", "local[4]"])
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    wc = run(["query", "--index", out, "--text", "m?rg*", "--wildcard"])
    assert wc and all(h["score"] > 0 for h in wc)
    bp = run(["query", "--index", out, "--text", "hash jo", "--bool-prefix"])
    assert bp and all(h["score"] > 0 for h in bp)
    sf1 = run(["query", "--index", out, "--text", "table",
               "--span-first", "5"])
    sf2 = run(["query", "--index", out, "--text", "table",
               "--span-first", "50"])
    assert sf1 and len(sf1) <= len(sf2)

    sq = run(["search", "--corpus", sf_smoke,
              "--text", '"table scan" | (hash + join) merg*', "--simple"])
    assert sq and all(h["score"] > 0 for h in sq)
    lq = run(["search", "--corpus", sf_smoke,
              "--text", 'lang:en +hash "table scan"^2 n_chars:[100 TO 400]',
              "--lucene", "--default-operator", "or"])
    assert lq and all(h["score"] > 0 for h in lq)
    pinned = run(["search", "--corpus", sf_smoke, "--text", "hash join",
                  "--pin", "7,3"])
    assert [h["doc_id"] for h in pinned[:2]] == [7, 3]
    r1 = run(["search", "--corpus", sf_smoke, "--text", "hash join",
              "--random-seed", "42"])
    r2 = run(["search", "--corpus", sf_smoke, "--text", "hash join",
              "--random-seed", "42"])
    assert r1 == r2 and all(0.0 <= h["score"] < 1.0 for h in r1)


def test_cli_similarity_family(tmp_path, spark, sf_smoke, capsys):
    """Every pluggable similarity is reachable from the spark-submit
    surface and returns a well-ordered top-k; f2exp/f2log agree with the
    engine methods."""
    out = str(tmp_path / "idx_sim")
    cli.main([
        "build", "--corpus", sf_smoke, "--out", out,
        "--segment-size", "256", "--n-buckets", "8",
        "--master", "local[4]",
    ])
    capsys.readouterr()
    for sim in ("jm", "inl2", "pl2", "ib", "ib_spl", "dfi",
                "dfi_saturated", "dfi_standardized", "boolean", "tfidf",
                "f2exp", "f2log"):
        cli.main(["query", "--index", out, "--text", "hash join merge scan",
                  "--similarity", sim, "--master", "local[4]"])
        hits = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert hits, sim
        scores = [h["score"] for h in hits]
        assert scores == sorted(scores, reverse=True), sim

    from smse_backend_spark.index.query import InvertedIndex

    idx = InvertedIndex(spark, out)
    cli.main(["query", "--index", out, "--text", "hash join",
              "--similarity", "f2exp", "--master", "local[4]"])
    hits = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    want = [{"doc_id": r["doc_id"], "score": r["score"]}
            for r in idx.similarity_topk("hash join", "f2exp", 10).collect()]
    assert hits == want


def test_cli_sketch_modes(tmp_path, spark, sf_smoke, capsys):
    """The sketch subcommand runs every mode end-to-end as a
    spark-submit-shaped job and writes non-empty parquet."""
    docs = f"{sf_smoke}/documents.parquet"
    events = f"{sf_smoke}/events.parquet"
    for mode, inp, extra, check in [
        ("hll", events, ["--precision", "8"], lambda n: n == 1),
        ("kmv-set", events, [], lambda n: n == 1),
        ("cms", docs, ["--k", "10"], lambda n: n == 10),
        ("bloom", docs, ["--m-bits", "1024"], lambda n: n >= 0),
        ("reservoir", docs, ["--k", "8"], lambda n: n == 8),
        ("zipf", docs, [], lambda n: n == 1),
        ("heaps", docs, ["--points", "5"], lambda n: 0 < n <= 5),
        ("nb", docs, [], lambda n: n > 0),
        ("graph", docs, ["--vertices", "6", "--edges", "10"],
         lambda n: 0 < n <= 10),
    ]:
        out = str(tmp_path / f"sk_{mode}")
        cli.main(["sketch", "--input", inp, "--out", out, "--mode", mode,
                  "--master", "local[4]", *extra])
        summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert check(summary["rows"]), (mode, summary)


def test_cli_ann_metric_and_hardneg_modes(tmp_path, spark, sf_smoke, capsys):
    """l2/mip == metric_topk; hardneg keeps the extra label column and
    never returns the anchor's own class."""
    import json as _json

    from smse_backend_spark.operators.ann import metric_topk

    out1 = str(tmp_path / "ann_l2")
    cli.main(["ann", "--emb", f"{sf_smoke}/embeddings.parquet",
              "--out", out1, "--query-ids", "0,1", "--mode", "l2",
              "--master", "local[4]"])
    meta = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert meta["rows"] == 20
    emb = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    qv = {int(r["vec_id"]): [float(x) for x in r["embedding"]]
          for r in emb.filter("vec_id in (0, 1)").collect()}
    got = sorted(map(tuple, spark.read.parquet(out1).collect()))
    want = sorted(map(tuple, metric_topk(emb, qv, 10, "l2_norm").collect()))
    assert got == want

    out2 = str(tmp_path / "ann_hardneg")
    cli.main(["ann", "--emb", f"{sf_smoke}/embeddings.parquet",
              "--out", out2, "--query-ids", "0,1", "--mode", "hardneg",
              "--master", "local[4]"])
    rows = spark.read.parquet(out2).collect()
    labels = {int(r["vec_id"]): int(r["label"])
              for r in emb.filter("vec_id in (0, 1)").collect()}
    assert {r["query_id"] for r in rows} == {0, 1}
    for r in rows:
        assert int(r["label"]) != labels[int(r["query_id"])]
