"""Approximate nearest neighbor over embedding columns.

Two paths, mirroring the BM25 engine's scan-vs-index split:

- ``brute_force_topk``: exact cosine top-k for a batch of query vectors —
  the reference's own semantics (exact pgvector scan, no ANN index exists
  there) done right for Spark: queries broadcast, corpus streamed once, one
  numpy matmul per Arrow batch, per-partition local top-k, global
  TakeOrdered. Correctness baseline for everything else.
- ``lsh_topk``: random-hyperplane LSH (sign bits -> bucket), candidates =
  same-bucket rows across any of B tables, exact re-rank on candidates.
  The 10^12-row path: bucket equijoin instead of cross product. Recall is
  probabilistic — tests assert recall@10 against brute force, not equality.

Hyperplanes are seeded numpy (seed 42) — deterministic across runs.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from smse_backend_spark.session import ensure_pyfiles, local_frame


def _topk_kernel(q_mat: np.ndarray, q_ids: np.ndarray, k: int):
    """mapInPandas kernel: per-partition exact cosine top-k for all queries."""

    qn = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        best: list[pd.DataFrame] = []
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            m /= np.linalg.norm(m, axis=1, keepdims=True)
            sims = m @ qn.T  # (rows, queries)
            vec_ids = pdf["vec_id"].to_numpy(np.int64)
            kk = min(k, sims.shape[0])
            for j in range(sims.shape[1]):
                # cut on the ROUNDED score with the engine's exact tie
                # policy (score desc, vec_id asc): quantized codes (±1 /
                # int8) make boundary ties dense, and argpartition alone
                # resolves them by memory order, not by vec_id
                sc_all = np.round(sims[:, j], 6)
                if sims.shape[0] > kk:
                    part = np.argpartition(-sc_all, kk - 1)[:kk]
                    t = sc_all[part].min()
                    above = np.flatnonzero(sc_all > t)
                    eq = np.flatnonzero(sc_all == t)
                    need = kk - above.size
                    eq = eq[np.argsort(vec_ids[eq], kind="stable")[:need]]
                    idx = np.concatenate([above, eq])
                else:
                    idx = np.arange(sims.shape[0])
                sc = sc_all[idx]
                order = np.lexsort((vec_ids[idx], -sc))
                best.append(
                    pd.DataFrame(
                        {"query_id": q_ids[j], "vec_id": vec_ids[idx][order],
                         "score": sc[order]}
                    )
                )
        if best:
            out = pd.concat(best, ignore_index=True)
            out = out.sort_values(
                ["query_id", "score", "vec_id"], ascending=[True, False, True],
                kind="stable", ignore_index=True,
            )
            yield out.groupby("query_id", sort=False).head(k)

    return kernel


def brute_force_topk(
    emb: DataFrame, queries: dict[int, list[float]], k: int = 10
) -> DataFrame:
    """Exact cosine top-k per query vector. Returns (query_id, rank, vec_id,
    score) with the engine's total order (score desc, vec_id asc)."""
    from pyspark.sql import Window

    spark = emb.sparkSession
    ensure_pyfiles(spark)
    q_ids = np.array(sorted(queries), dtype=np.int64)
    q_mat = np.array([queries[int(q)] for q in q_ids], dtype=np.float64)
    kernel = _topk_kernel(q_mat, q_ids, k)
    local = emb.select("vec_id", "embedding").mapInPandas(
        kernel, "query_id long, vec_id long, score double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "score")
    )


def rademacher_planes(dim: int, n_planes: int, n_tables: int) -> np.ndarray:
    """(n_tables, dim, n_planes) array of deterministic +/-1 hyperplane
    entries — sign-random projections (Charikar's SimHash family works with
    Rademacher entries). Derived from sha256 like every other hash in this
    engine, so the DuckDB oracle can inline the identical planes as
    literals and replay the bucketing exactly."""
    import hashlib

    out = np.empty((n_tables, dim, n_planes), dtype=np.float64)
    for t in range(n_tables):
        for j in range(n_planes):
            for d in range(dim):
                h = hashlib.sha256(f"annlsh_{t}_{j}_{d}".encode()).digest()[0]
                out[t, d, j] = 1.0 if h % 2 == 0 else -1.0
    return out


def lsh_buckets_col(planes: np.ndarray):
    """array<long> of per-table bucket ids, ALL tables in one Arrow pass
    (one matmul against the stacked plane matrix — not one scan per table).
    """
    n_tables, dim, n_planes = planes.shape
    stacked = planes.transpose(1, 0, 2).reshape(dim, n_tables * n_planes)
    weights = 1 << np.arange(n_planes, dtype=np.int64)

    @F.pandas_udf("array<long>")
    def buckets(emb: pd.Series) -> pd.Series:
        m = np.vstack(emb.to_numpy()).astype(np.float64)
        bits = (m @ stacked) > 0
        b = bits.reshape(len(m), n_tables, n_planes) @ weights
        return pd.Series(list(b))

    return buckets


def lsh_topk(
    emb: DataFrame,
    queries: dict[int, list[float]],
    k: int = 10,
    n_planes: int = 8,
    n_tables: int = 4,
) -> DataFrame:
    """ANN top-k: candidates = rows sharing any table's bucket with the
    query, exact cosine re-rank on candidates only.

    ONE corpus scan total: the kernel computes all tables' buckets with a
    single stacked matmul, matches them against the broadcast-as-closure
    query buckets, and scores the hits in place — no per-table scan loop,
    no candidate join, per-partition top-k before the global rank.
    """
    from pyspark.sql import Window

    spark = emb.sparkSession
    ensure_pyfiles(spark)
    dim = len(next(iter(queries.values())))
    planes = rademacher_planes(dim, n_planes, n_tables)
    stacked = planes.transpose(1, 0, 2).reshape(dim, n_tables * n_planes)
    weights = 1 << np.arange(n_planes, dtype=np.int64)

    q_ids = np.array(sorted(queries), dtype=np.int64)
    q_mat = np.array([queries[int(q)] for q in q_ids], dtype=np.float64)
    q_bits = (q_mat @ stacked) > 0
    q_buckets = q_bits.reshape(len(q_ids), n_tables, n_planes) @ weights  # (Q, T)
    qn = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        best: list[pd.DataFrame] = []
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            bits = (m @ stacked) > 0
            buckets = bits.reshape(len(m), n_tables, n_planes) @ weights  # (R, T)
            match = (buckets[:, None, :] == q_buckets[None, :, :]).any(axis=2)
            rows, qs = np.nonzero(match)
            if not len(rows):
                continue
            mn = m / np.linalg.norm(m, axis=1, keepdims=True)
            sims = np.einsum("ij,ij->i", mn[rows], qn[qs])
            vec_ids = pdf["vec_id"].to_numpy(np.int64)
            best.append(
                pd.DataFrame(
                    {"query_id": q_ids[qs], "vec_id": vec_ids[rows],
                     "score": np.round(sims, 6)}
                )
            )
        if best:
            out = pd.concat(best, ignore_index=True)
            out = out.sort_values(
                ["query_id", "score", "vec_id"], ascending=[True, False, True],
                kind="stable", ignore_index=True,
            )
            yield out.groupby("query_id", sort=False).head(k)

    local = emb.select("vec_id", "embedding").mapInPandas(
        kernel, "query_id long, vec_id long, score double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "score")
    )


def train_ivf_centroids(
    emb: DataFrame,
    n_centroids: int = 16,
    iters: int = 1,
) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic Lloyd refinement of the IVF seed centroids.

    Seeds are the ``vec_id < n_centroids`` rows (same rule as the untrained
    path); each iteration assigns every vector to its nearest centroid
    (6dp-rounded cosine, ties -> smallest centroid id) and replaces the
    centroid with the mean of its list. The mean is made EXACTLY
    replayable cross-engine by quantizing components to the 1e-6 grid
    first — ``floor(x*1e6 + 0.5)`` summed as int64 is order-independent
    (no float-summation-order divergence between Spark partial aggs and
    DuckDB), then one double division ``s / (1e6 * n)``. Empty lists keep
    their seed centroid.

    Distributed shape: one corpus scan per iteration; the per-vector work
    is a single Arrow-batched matmul; the shuffle carries ``n_centroids``
    groups of (count, dim int64 sums) after map-side partial aggregation —
    bytes are O(n_centroids * dim), independent of corpus size. Returns
    ``(c_ids, c_mat)`` with the seed ids kept as list labels.
    """
    ensure_pyfiles(emb.sparkSession)
    cent_rows = sorted(
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < n_centroids).collect()
    )
    c_ids = np.array([c for c, _ in cent_rows], dtype=np.int64)
    c_mat = np.array([v for _, v in cent_rows], dtype=np.float64)
    dim = c_mat.shape[1]

    for _ in range(iters):
        cn = c_mat / np.linalg.norm(c_mat, axis=1, keepdims=True)

        @F.pandas_udf("long")
        def assigned(col: pd.Series) -> pd.Series:
            m = np.vstack(col.to_numpy()).astype(np.float64)
            mn = m / np.linalg.norm(m, axis=1, keepdims=True)
            sims = np.round(mn @ cn.T, 6)
            # c_ids sorted asc; argmax returns the FIRST maximum -> ties
            # resolve to the smallest centroid id, same as the oracle
            return pd.Series(c_ids[np.argmax(sims, axis=1)])

        quant = F.transform(
            "embedding",
            lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)).cast("long"),
        )
        stats = (
            emb.select(assigned("embedding").alias("c_id"), quant.alias("q"))
            .groupBy("c_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                *[
                    F.sum(F.element_at("q", d + 1)).alias(f"s{d}")
                    for d in range(dim)
                ],
            )
            .collect()
        )
        by_id = {int(r["c_id"]): r for r in stats}
        new = c_mat.copy()  # empty list -> seed/previous centroid survives
        for i, cid in enumerate(c_ids):
            r = by_id.get(int(cid))
            if r is not None:
                denom = 1e6 * float(r["n"])
                new[i] = [float(r[f"s{d}"]) / denom for d in range(dim)]
        c_mat = new
    return c_ids, c_mat


def ivf_topk(
    emb: DataFrame,
    queries: dict[int, list[float]],
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    train_iters: int = 0,
    filter_label: int | None = None,
) -> DataFrame:
    """IVF-style ANN: vectors are assigned to their nearest centroid
    (inverted lists); a query probes only its ``n_probe`` nearest lists and
    exact-re-ranks the candidates. The classic recall/cost dial next to the
    LSH path: at 10^12 rows a query touches n_probe/n_centroids of the
    corpus instead of all of it, and the assignment is a bounded-size
    broadcast (centroids) against a single corpus scan.

    Centroids: the deterministic ``vec_id < n_centroids`` seed rows, plus
    ``train_iters`` Lloyd rounds (:func:`train_ivf_centroids`) — training
    moves the centroids, not this dataflow, and stays exactly replayable
    by the DuckDB oracle (integer-quantized means). Assignment and probe
    selection round cosines to 6 dp and tie-break on centroid id, so both
    engines pick identical lists.

    ``filter_label``: filtered ANN (the metadata-constrained search every
    vector store ships). PRE-FILTER semantics: the attribute predicate
    prunes the candidate stream BEFORE re-rank, while the index
    (centroids) stays the one trained on the full corpus — so a filtered
    query returns exactly the probed-list vectors satisfying the
    predicate, never fewer than k because eligible neighbors were
    post-filtered away after the cut. At scale the predicate is a
    parquet pushed filter on the candidate scan (a column prune, not a
    second pass).
    """
    from pyspark.sql import Window

    spark = emb.sparkSession
    ensure_pyfiles(spark)
    if train_iters:
        c_ids, c_mat = train_ivf_centroids(emb, n_centroids, train_iters)
    else:
        cent_rows = sorted(
            (r["vec_id"], [float(x) for x in r["embedding"]])
            for r in emb.filter(F.col("vec_id") < n_centroids).collect()
        )
        c_ids = np.array([c for c, _ in cent_rows], dtype=np.int64)
        c_mat = np.array([v for _, v in cent_rows], dtype=np.float64)
    cn = c_mat / np.linalg.norm(c_mat, axis=1, keepdims=True)

    q_ids = np.array(sorted(queries), dtype=np.int64)
    q_mat = np.array([queries[int(q)] for q in q_ids], dtype=np.float64)
    qn = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)
    # per query: the n_probe nearest centroids (rounded score desc, id asc)
    q_sims = np.round(qn @ cn.T, 6)  # (Q, C)
    probe_sets = []
    for j in range(len(q_ids)):
        order = np.lexsort((c_ids, -q_sims[j]))[:n_probe]
        probe_sets.append(set(c_ids[order].tolist()))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        best: list[pd.DataFrame] = []
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            mn = m / np.linalg.norm(m, axis=1, keepdims=True)
            a_sims = np.round(mn @ cn.T, 6)  # (R, C)
            # nearest centroid, ties -> smallest centroid id (c_ids sorted
            # asc, argmax returns the first maximum)
            assigned = c_ids[np.argmax(a_sims, axis=1)]
            vec_ids = pdf["vec_id"].to_numpy(np.int64)
            sims = np.round(mn @ qn.T, 6)  # (R, Q)
            for j in range(len(q_ids)):
                mask = np.isin(assigned, list(probe_sets[j]))
                if not mask.any():
                    continue
                best.append(
                    pd.DataFrame(
                        {"query_id": q_ids[j], "vec_id": vec_ids[mask],
                         "score": sims[mask, j]}
                    )
                )
        if best:
            out = pd.concat(best, ignore_index=True)
            out = out.sort_values(
                ["query_id", "score", "vec_id"], ascending=[True, False, True],
                kind="stable", ignore_index=True,
            )
            yield out.groupby("query_id", sort=False).head(k)

    cand_src = emb
    if filter_label is not None:
        # pushed down to the parquet scan — the filtered stream is the
        # only thing the kernel ever sees
        cand_src = emb.filter(F.col("label") == int(filter_label))
    local = cand_src.select("vec_id", "embedding").mapInPandas(
        kernel, "query_id long, vec_id long, score double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "score")
    )


def ivf_topk_sql(
    query_vec_ids: list[int],
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    filter_label: int | None = None,
) -> str:
    """Exact DuckDB oracle for :func:`ivf_topk` (queries are rows of
    ``embeddings``; centroids are the deterministic ``vec_id < n_centroids``
    rows, so the full assignment/probe/re-rank is SQL-replayable).
    ``filter_label`` mirrors the engine's pre-filter: the candidate set is
    restricted before re-rank; assignment/probing stay full-corpus."""
    ids = ", ".join(map(str, query_vec_ids))
    label_pred = (
        f" AND lf.label = {int(filter_label)}" if filter_label is not None else ""
    )
    label_join = (
        "JOIN embeddings lf ON lf.vec_id = a.vec_id"
        if filter_label is not None
        else ""
    )
    return f"""
WITH cent AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings WHERE vec_id < {n_centroids}),
pz AS (
  SELECT e.vec_id, c.c_id,
         unnest(e.embedding)::DOUBLE AS x, unnest(c.cv)::DOUBLE AS y
  FROM embeddings e, cent c
),
ps AS (
  SELECT vec_id, c_id,
         round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 6) AS sim
  FROM pz GROUP BY vec_id, c_id
),
assigned AS (
  SELECT vec_id, c_id FROM (
    SELECT vec_id, c_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, c_id ASC) AS rn
    FROM ps
  ) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, c_id FROM (
    SELECT vec_id, c_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, c_id ASC) AS rn
    FROM ps WHERE vec_id IN ({ids})
  ) WHERE rn <= {n_probe}
),
cand AS (
  SELECT p.query_id, a.vec_id
  FROM probes p JOIN assigned a ON a.c_id = p.c_id {label_join}
  WHERE TRUE{label_pred}
),
z AS (
  SELECT c.query_id, c.vec_id,
         unnest(e.embedding)::DOUBLE AS x, unnest(q.embedding)::DOUBLE AS y
  FROM cand c
  JOIN embeddings e ON e.vec_id = c.vec_id
  JOIN embeddings q ON q.vec_id = c.query_id
),
s AS (
  SELECT query_id, vec_id,
         round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 6) AS score
  FROM z GROUP BY query_id, vec_id
),
r AS (
  SELECT query_id, vec_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
  FROM s
)
SELECT query_id, rank, vec_id, score FROM r WHERE rank <= {k}
"""


def trained_assignment_ctes(dim: int, n_centroids: int = 16) -> str:
    """Shared CTE prefix replaying one deterministic Lloyd round and the
    trained assignment: ``cent0``/``ps0``/``assigned0`` (seed pass),
    ``sums``/``cnts``/``trained``/``cent`` (integer-quantized means, seeds
    survive empty lists), ``pz``/``ps``/``assigned`` (trained 6dp-cosine
    assignment, c_id tie-break). Used by :func:`ivf_trained_topk_sql` and
    the SemDeDup oracle."""
    return f"""cent0 AS (
  SELECT vec_id AS c_id, list_transform(embedding, x -> x::DOUBLE) AS cv
  FROM embeddings WHERE vec_id < {n_centroids}
),
pz0 AS (
  SELECT e.vec_id, c.c_id,
         unnest(e.embedding)::DOUBLE AS x, unnest(c.cv) AS y
  FROM embeddings e, cent0 c
),
ps0 AS (
  SELECT vec_id, c_id,
         round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 6) AS sim
  FROM pz0 GROUP BY vec_id, c_id
),
assigned0 AS (
  SELECT vec_id, c_id FROM (
    SELECT vec_id, c_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, c_id ASC) AS rn
    FROM ps0
  ) WHERE rn = 1
),
sums AS (
  SELECT a.c_id, di.i AS d,
         sum(CAST(floor(e.embedding[di.i]::DOUBLE * 1000000.0 + 0.5) AS BIGINT)) AS s
  FROM embeddings e
  JOIN assigned0 a USING (vec_id), range(1, {dim + 1}) di(i)
  GROUP BY a.c_id, di.i
),
cnts AS (SELECT c_id, count(*) AS n FROM assigned0 GROUP BY c_id),
trained AS (
  SELECT s.c_id, list(s.s::DOUBLE / (1000000.0 * c.n) ORDER BY s.d) AS cv
  FROM sums s JOIN cnts c USING (c_id)
  GROUP BY s.c_id
),
cent AS (
  SELECT c0.c_id, coalesce(t.cv, c0.cv) AS cv
  FROM cent0 c0 LEFT JOIN trained t USING (c_id)
),
pz AS (
  SELECT e.vec_id, c.c_id,
         unnest(e.embedding)::DOUBLE AS x, unnest(c.cv) AS y
  FROM embeddings e, cent c
),
ps AS (
  SELECT vec_id, c_id,
         round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 6) AS sim
  FROM pz GROUP BY vec_id, c_id
),
assigned AS (
  SELECT vec_id, c_id FROM (
    SELECT vec_id, c_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, c_id ASC) AS rn
    FROM ps
  ) WHERE rn = 1
)"""


def ivf_trained_topk_sql(
    query_vec_ids: list[int],
    dim: int,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
) -> str:
    """Exact DuckDB oracle for :func:`ivf_topk` with ``train_iters=1``:
    replays the Lloyd round — seed assignment (6dp cosine, c_id tie-break),
    integer-quantized per-dimension sums (``floor(x*1e6+0.5)`` as BIGINT,
    order-independent), one double division for the mean, seeds surviving
    empty lists — then the trained assignment / probe / exact re-rank."""
    ids = ", ".join(map(str, query_vec_ids))
    return f"""
WITH {trained_assignment_ctes(dim, n_centroids)},
probes AS (
  SELECT vec_id AS query_id, c_id FROM (
    SELECT vec_id, c_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, c_id ASC) AS rn
    FROM ps WHERE vec_id IN ({ids})
  ) WHERE rn <= {n_probe}
),
cand AS (
  SELECT p.query_id, a.vec_id
  FROM probes p JOIN assigned a ON a.c_id = p.c_id
),
z AS (
  SELECT c.query_id, c.vec_id,
         unnest(e.embedding)::DOUBLE AS x, unnest(q.embedding)::DOUBLE AS y
  FROM cand c
  JOIN embeddings e ON e.vec_id = c.vec_id
  JOIN embeddings q ON q.vec_id = c.query_id
),
s AS (
  SELECT query_id, vec_id,
         round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 6) AS score
  FROM z GROUP BY query_id, vec_id
),
r AS (
  SELECT query_id, vec_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
  FROM s
)
SELECT query_id, rank, vec_id, score FROM r WHERE rank <= {k}
"""


def planes_values_sql(planes: np.ndarray) -> str:
    """The plane entries as a DuckDB VALUES list ``(t, j, d, s)`` with
    1-based ``d`` (DuckDB list subscripts)."""
    n_tables, dim, n_planes = planes.shape
    rows = ", ".join(
        f"({t}, {j}, {d + 1}, {int(planes[t, d, j])})"
        for t in range(n_tables)
        for j in range(n_planes)
        for d in range(dim)
    )
    return f"(VALUES {rows}) p(t, j, d, s)"


def lsh_buckets_sql(planes: np.ndarray, source: str = "embeddings") -> str:
    """CTE body computing (vec_id, t, bucket) for every row of ``source``
    with the inlined deterministic planes — the oracle twin of
    :func:`lsh_buckets_col`."""
    dim = planes.shape[1]
    return f"""
eb AS (
  SELECT vec_id, di.i AS d, embedding[di.i]::DOUBLE AS x
  FROM {source}, range(1, {dim + 1}) di(i)
),
dots AS (
  SELECT e.vec_id, p.t, p.j, sum(e.x * p.s) AS dot
  FROM eb e JOIN {planes_values_sql(planes)} ON p.d = e.d
  GROUP BY e.vec_id, p.t, p.j
),
buckets AS (
  SELECT vec_id, t,
         sum(CASE WHEN dot > 0 THEN (1::BIGINT << j) ELSE 0 END)::BIGINT AS bucket
  FROM dots GROUP BY vec_id, t
)"""


def lsh_topk_sql(
    query_vec_ids: list[int],
    dim: int,
    k: int = 10,
    n_planes: int = 8,
    n_tables: int = 4,
) -> str:
    """Exact DuckDB oracle for :func:`lsh_topk` when the query vectors are
    themselves rows of ``embeddings`` (the contract's case): identical
    deterministic buckets -> identical candidates -> exact re-rank."""
    planes = rademacher_planes(dim, n_planes, n_tables)
    ids = ", ".join(map(str, query_vec_ids))
    return f"""
WITH {lsh_buckets_sql(planes)[1:]},
qb AS (SELECT vec_id AS query_id, t, bucket FROM buckets WHERE vec_id IN ({ids})),
cand AS (
  SELECT DISTINCT qb.query_id, b.vec_id
  FROM buckets b JOIN qb ON b.t = qb.t AND b.bucket = qb.bucket
),
z AS (
  SELECT c.query_id, c.vec_id,
         unnest(e.embedding)::DOUBLE AS x, unnest(q.embedding)::DOUBLE AS y
  FROM cand c
  JOIN embeddings e ON e.vec_id = c.vec_id
  JOIN embeddings q ON q.vec_id = c.query_id
),
s AS (
  SELECT query_id, vec_id,
         round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 6) AS score
  FROM z GROUP BY query_id, vec_id
),
r AS (
  SELECT query_id, vec_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
  FROM s
)
SELECT query_id, rank, vec_id, score FROM r WHERE rank <= {k}
"""


def dequantized_sq8_col(emb_col: str = "embedding"):
    """Scalar int8 quantization round-trip as PURE Column algebra:
    per-vector scale s = max|x|/127, code = floor(x/s + 0.5), value
    back = code * s. At 100 TB the stored form is the int8 codes + one
    float scale (4x smaller vectors, int8 matmul); here the dequantized
    doubles keep the DuckDB oracle bit-identical."""
    e = F.col(emb_col)
    s_raw = F.array_max(F.transform(e, lambda x: F.abs(x))) / F.lit(127.0)
    s = F.when(s_raw == F.lit(0.0), F.lit(1.0)).otherwise(s_raw)
    return F.transform(e, lambda x: F.floor(x / s + F.lit(0.5)) * s)


def sq8_topk(
    emb: DataFrame, queries: dict[int, list[float]], k: int = 10
) -> DataFrame:
    """ANN over int8 scalar-quantized vectors: corpus vectors quantized
    (the compressed form a 100 TB store would hold), queries stay full
    precision, scoring/rank is the exact brute-force machinery over the
    dequantized values — so results are deterministic and SQL-replayable,
    unlike recall-probabilistic LSH."""
    return brute_force_topk(
        emb.withColumn("embedding", dequantized_sq8_col()), queries, k
    )


def sq8_topk_sql(query_ids: list[int], k: int = 10) -> str:
    """DuckDB twin of :func:`sq8_topk` (same scale, same floor rounding,
    same cosine + 6dp round + (score desc, vec_id asc) rank)."""
    ids = ", ".join(str(int(q)) for q in sorted(query_ids))
    return f"""
WITH q AS (
  SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id IN ({ids})
),
scaled AS (
  SELECT vec_id, embedding,
         CASE WHEN list_max(list_transform(embedding, x -> abs(x))) / 127.0 = 0.0
              THEN 1.0
              ELSE list_max(list_transform(embedding, x -> abs(x))) / 127.0
         END AS s
  FROM embeddings
),
dq AS (
  SELECT vec_id,
         list_transform(embedding, x -> floor(x / s + 0.5) * s) AS dv
  FROM scaled
),
z AS (
  SELECT q.qid, d.vec_id, unnest(d.dv)::DOUBLE AS x, unnest(q.qv)::DOUBLE AS y
  FROM dq d, q
),
sims AS (
  SELECT qid, vec_id,
         round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 6) AS score
  FROM z GROUP BY qid, vec_id
),
r AS (
  SELECT qid AS query_id, vec_id, score,
         row_number() OVER (PARTITION BY qid
                            ORDER BY score DESC, vec_id ASC) AS rank
  FROM sims
)
SELECT query_id, rank, vec_id, score FROM r WHERE rank <= {k}
"""


def pq_codebooks(emb: DataFrame, m: int = 4, ks: int = 16) -> np.ndarray:
    """Product-quantization codebooks: the vector space split into ``m``
    contiguous subspaces, each with ``ks`` centroids = the ``vec_id < ks``
    rows' subvectors (the same deterministic-seed rule as the untrained
    IVF path — swap in :func:`train_ivf_centroids`-style Lloyd rounds per
    subspace for trained codebooks; exactness of the pipeline is
    independent of centroid quality). Returns (m, ks, dim//m) float64."""
    rows = sorted(
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < ks).collect()
    )
    if len(rows) < ks:
        raise ValueError(f"need vec_id 0..{ks - 1} present for PQ seeds")
    c = np.array([v for _, v in rows], dtype=np.float64)
    dim = c.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    L = dim // m
    return c.reshape(ks, m, L).transpose(1, 0, 2).copy()


def _pq_code_cols(cb: np.ndarray, emb_col: str = "embedding"):
    """Per-subspace best-centroid-id Columns (the PQ codes): explicit
    left-associated squared-distance chains, floor-quantized, lexicographic
    struct min for the smallest-id tie-break."""
    import functools
    import operator

    m, ks, L = cb.shape
    e = F.col(emb_col)
    out = []
    for j in range(m):
        o = j * L
        cands = []
        for ci in range(ks):
            terms = []
            for i in range(L):
                x = F.element_at(e, o + i + 1).cast("double")
                d = x - F.lit(float(cb[j, ci, i]))
                terms.append(d * d)
            dist = functools.reduce(operator.add, terms)
            qd = F.floor(dist * F.lit(1e6) + F.lit(0.5)).cast("long")
            cands.append(F.struct(qd.alias("d"), F.lit(ci).alias("cid")))
        out.append(F.array_min(F.array(*cands))["cid"])
    return out


def _pq_codes_np(cb: np.ndarray, X: np.ndarray) -> np.ndarray:
    """Numpy twin of :func:`_pq_code_cols` — bit-identical by
    construction: the squared-distance accumulation is the SAME
    left-associated chain (acc = d0²; acc += d1²; …) evaluated
    elementwise in float64, the quantization is the shared half-up
    floor formula, and ``argmin`` takes the FIRST minimum (== the
    lexicographic (d, cid) struct-min's smallest-id tie-break).
    X is (n, dim) float64; returns (n, m) int64 codes."""
    m, ks, L = cb.shape
    codes = np.empty((X.shape[0], m), dtype=np.int64)
    for j in range(m):
        S = X[:, j * L:(j + 1) * L]          # (n, L)
        d0 = S[:, 0, None] - cb[None, j, :, 0]
        acc = d0 * d0                         # (n, ks)
        for i in range(1, L):
            di = S[:, i, None] - cb[None, j, :, i]
            acc = acc + di * di               # left-associated, like the
            #                                   Column chain and SQL twin
        qd = np.floor(acc * 1e6 + 0.5)
        codes[:, j] = np.argmin(qd, axis=1)
    return codes


def pq_decode_np(cb: np.ndarray, X: np.ndarray) -> np.ndarray:
    """Encode+decode (n, dim) float64 rows against the codebooks —
    the numpy form of :func:`pq_decoded_col` used on the hot paths:
    the inlined-literal Column form compiles to a >20k-line generated
    class that Janino rejects (whole-stage codegen falls back to the
    interpreted path and the plan ships the codebook as a multi-MiB
    task binary), while this Arrow-kernel form keeps the plan compact
    and the arithmetic bit-identical (see :func:`_pq_codes_np`)."""
    m, ks, L = cb.shape
    codes = _pq_codes_np(cb, X)
    out = np.empty((X.shape[0], m * L), dtype=np.float64)
    for j in range(m):
        out[:, j * L:(j + 1) * L] = cb[j, codes[:, j]]
    return out


def pq_decoded_col(cb: np.ndarray, emb_col: str = "embedding"):
    """PQ encode+decode as PURE Column algebra: per subspace, assign the
    subvector to the centroid minimizing the squared distance (distance
    quantized by the shared half-up floor formula; ties -> smallest
    centroid id via lexicographic struct min) and substitute the centroid
    values. At 100 TB the stored form is the m uint8 codes per vector
    (dim*4 bytes -> m bytes); the reconstructed doubles here keep the
    DuckDB oracle bit-identical. The distance fold is an explicit
    left-associated term chain, written identically in the SQL twin, so
    float summation order can never diverge."""
    m, ks, L = cb.shape
    codes = _pq_code_cols(cb, emb_col)
    parts = []
    for j in range(m):
        slices = F.array(*[
            F.array(*[F.lit(float(v)) for v in cb[j, ci]]) for ci in range(ks)
        ])
        parts.append(F.element_at(slices, codes[j] + 1))
    return F.concat(*parts)


def train_pq_codebooks(
    emb: DataFrame, m: int = 4, ks: int = 16, iters: int = 1
) -> np.ndarray:
    """Deterministic per-subspace Lloyd refinement of the PQ seed
    codebooks — the quantizer-training step real PQ quality needs (same
    discipline as :func:`train_ivf_centroids`): assign every subvector to
    its nearest centroid (floor-quantized squared distance, ties ->
    smallest id), replace each centroid with its list's mean via the
    order-independent integer-quantized sum, empty lists keep their seed.

    Distributed shape: ONE pass per iteration for ALL subspaces — each
    row emits m (subspace, code, quantized-subvector) structs, exploded
    and partial-aggregated, so the shuffle carries m*ks groups of
    (count, L int64 sums) — bytes O(m * ks * dim/m), corpus-independent.
    """
    cb = pq_codebooks(emb, m, ks)
    _, _, L = cb.shape
    for _ in range(int(iters)):
        cb_iter = cb  # bind the current codebooks for the kernel closure

        def assign_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            # codes + quantized subvectors in one Arrow pass (the Column
            # form inlined the codebooks into a Janino-breaking class;
            # arithmetic identical — see _pq_codes_np)
            mm = cb_iter.shape[0]
            for pdf in batches:
                if pdf.empty:
                    continue
                X = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
                codes = _pq_codes_np(cb_iter, X)
                q = np.floor(X * 1e6 + 0.5).astype(np.int64)
                outs = []
                for j in range(mm):
                    outs.append(pd.DataFrame({
                        "j": j,
                        "cid": codes[:, j],
                        "q": list(q[:, j * L:(j + 1) * L]),
                    }))
                yield pd.concat(outs, ignore_index=True)

        rows = (
            emb.select("embedding")
            .mapInPandas(assign_kernel, "j long, cid long, q array<long>")
            .groupBy("j", "cid")
            .agg(
                F.count(F.lit(1)).alias("n"),
                *[
                    F.sum(F.element_at("q", d + 1)).alias(f"s{d}")
                    for d in range(L)
                ],
            )
            .collect()
        )
        new = cb.copy()
        for r in rows:
            denom = 1e6 * float(r["n"])
            new[int(r["j"]), int(r["cid"])] = [
                float(r[f"s{d}"]) / denom for d in range(L)
            ]
        cb = new
    return cb


def pq_topk(
    emb: DataFrame, queries: dict[int, list[float]], k: int = 10,
    m: int = 4, ks: int = 16, train_iters: int = 0,
) -> DataFrame:
    """ANN over product-quantized vectors: the corpus is PQ
    encoded+decoded (the compressed form a 100 TB store would hold —
    m bytes per vector plus the (m, ks, dim/m) codebook), queries stay
    full precision, scoring/rank is the exact brute-force machinery over
    the reconstructed values — deterministic and SQL-replayable, like
    ``sq8_topk`` (asymmetric-distance PQ with a reconstruction LUT is the
    constant-factor optimization of the same plan). ``train_iters`` runs
    :func:`train_pq_codebooks` Lloyd rounds first (recall quality; the
    pipeline's exactness is codebook-independent)."""
    cb = (
        train_pq_codebooks(emb, m, ks, train_iters)
        if train_iters
        else pq_codebooks(emb, m, ks)
    )
    spark = emb.sparkSession
    ensure_pyfiles(spark)

    def decode_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            dec = pq_decode_np(cb, X)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].to_numpy(np.int64),
                 "embedding": list(dec)}
            )

    decoded = emb.select("vec_id", "embedding").mapInPandas(
        decode_kernel, "vec_id long, embedding array<double>"
    )
    return brute_force_topk(decoded, queries, k)


def _pq_decode_ctes(m: int, ks: int, dim: int) -> str:
    """The shared CTE block reconstructing every corpus vector from its
    PQ codes: ``cb`` (codebook rows) + per-subspace assignment/best CTEs
    + ``dq(vec_id, dv)`` with the decoded value list. Used by the PQ and
    IVF-PQ oracles; the distance chains are written with the exact
    left-association the Spark Columns use."""
    L = dim // m
    assign_ctes, best_ctes, joins, concat = [], [], [], []
    for j in range(m):
        o = j * L
        chain = " + ".join(
            f"((e.embedding[{o + i + 1}]::DOUBLE - c.embedding[{o + i + 1}]::DOUBLE)"
            f" * (e.embedding[{o + i + 1}]::DOUBLE - c.embedding[{o + i + 1}]::DOUBLE))"
            for i in range(L)
        )
        assign_ctes.append(f"""d{j} AS (
  SELECT e.vec_id, c.vec_id AS cid,
         floor(({chain}) * 1e6 + 0.5)::BIGINT AS qd
  FROM embeddings e, cb c
)""")
        best_ctes.append(f"""b{j} AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY qd, cid) AS rn
    FROM d{j}
  ) WHERE rn = 1
)""")
        joins.append(f"JOIN b{j} ON b{j}.vec_id = e.vec_id")
        concat.append(
            f"(SELECT cc.embedding[{o + 1}:{o + L}] FROM cb cc "
            f"WHERE cc.vec_id = b{j}.cid)"
        )
    ctes = ",\n".join(assign_ctes + best_ctes)
    recon = " || ".join(concat)
    joins_sql = " ".join(joins)
    return f"""cb AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id < {ks}
),
{ctes},
dq AS (
  SELECT e.vec_id, ({recon}) AS dv
  FROM embeddings e {joins_sql}
)"""


def pq_topk_sql(
    query_ids: list[int], k: int = 10, m: int = 4, ks: int = 16,
    dim: int = 64,
) -> str:
    """DuckDB twin of :func:`pq_topk`: codebooks re-derived from the
    ``vec_id < ks`` rows, per-subspace assignment replayed with the SAME
    left-associated distance chain and floor quantization (ties ->
    smallest centroid id via the row_number order), reconstruction by
    list-slice concat, then the sq8-style cosine + 6dp round +
    (score desc, vec_id asc) rank."""
    ids = ", ".join(str(int(q)) for q in sorted(query_ids))
    return f"""
WITH {_pq_decode_ctes(m, ks, dim)},
q AS (
  SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id IN ({ids})
),
z AS (
  SELECT q.qid, d.vec_id, unnest(d.dv)::DOUBLE AS x, unnest(q.qv)::DOUBLE AS y
  FROM dq d, q
),
sims AS (
  SELECT qid, vec_id,
         round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 6) AS score
  FROM z GROUP BY qid, vec_id
),
r AS (
  SELECT qid AS query_id, vec_id, score,
         row_number() OVER (PARTITION BY qid
                            ORDER BY score DESC, vec_id ASC) AS rank
  FROM sims
)
SELECT query_id, rank, vec_id, score FROM r WHERE rank <= {k}
"""


def ivfpq_topk(
    emb: DataFrame,
    queries: dict[int, list[float]],
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 4,
    ks: int = 16,
) -> DataFrame:
    """IVF-PQ — the standard billion-scale ANN layout (FAISS ``IVFx,PQy``):
    a coarse quantizer assigns every vector to an inverted list using the
    ORIGINAL full-precision vector (index-time work), while candidate
    scoring inside the probed lists runs against the PQ-RECONSTRUCTED
    vectors (the compressed form the lists actually store — m bytes per
    vector). Queries stay full precision, so this is the asymmetric
    (ADC-style) flavor. Both stages reuse the exact deterministic
    machinery of :func:`ivf_topk` and :func:`pq_topk`, so the whole
    pipeline replays bit-identically in the DuckDB twin.

    At 10^12 vectors a query touches n_probe/n_centroids of the corpus
    AND reads m bytes instead of 4*dim per candidate — the two
    multiplicative cost cuts that make billion-scale ANN serveable.
    """
    from pyspark.sql import Window

    spark = emb.sparkSession
    ensure_pyfiles(spark)
    cent_rows = sorted(
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < n_centroids).collect()
    )
    c_ids = np.array([c for c, _ in cent_rows], dtype=np.int64)
    c_mat = np.array([v for _, v in cent_rows], dtype=np.float64)
    cn = c_mat / np.linalg.norm(c_mat, axis=1, keepdims=True)

    q_ids = np.array(sorted(queries), dtype=np.int64)
    q_mat = np.array([queries[int(q)] for q in q_ids], dtype=np.float64)
    qn = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)
    q_sims = np.round(qn @ cn.T, 6)
    probe_sets = []
    for j in range(len(q_ids)):
        order = np.lexsort((c_ids, -q_sims[j]))[:n_probe]
        probe_sets.append(set(c_ids[order].tolist()))

    cb = pq_codebooks(emb, m, ks)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        best: list[pd.DataFrame] = []
        for pdf in batches:
            if pdf.empty:
                continue
            orig = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            on = orig / np.linalg.norm(orig, axis=1, keepdims=True)
            a_sims = np.round(on @ cn.T, 6)
            assigned = c_ids[np.argmax(a_sims, axis=1)]
            # PQ encode+decode in-kernel (see pq_decode_np: the inlined
            # Column form broke whole-stage codegen)
            dec = pq_decode_np(cb, orig)
            dn = dec / np.linalg.norm(dec, axis=1, keepdims=True)
            vec_ids = pdf["vec_id"].to_numpy(np.int64)
            sims = np.round(dn @ qn.T, 6)
            for j in range(len(q_ids)):
                mask = np.isin(assigned, list(probe_sets[j]))
                if not mask.any():
                    continue
                best.append(
                    pd.DataFrame(
                        {"query_id": q_ids[j], "vec_id": vec_ids[mask],
                         "score": sims[mask, j]}
                    )
                )
        if best:
            out = pd.concat(best, ignore_index=True)
            out = out.sort_values(
                ["query_id", "score", "vec_id"], ascending=[True, False, True],
                kind="stable", ignore_index=True,
            )
            yield out.groupby("query_id", sort=False).head(k)

    local = emb.select("vec_id", "embedding").mapInPandas(
        kernel, "query_id long, vec_id long, score double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "score")
    )


def ivfpq_topk_sql(
    query_vec_ids: list[int],
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 4,
    ks: int = 16,
    dim: int = 64,
) -> str:
    """Exact DuckDB twin of :func:`ivfpq_topk`: the IVF assignment/probe
    CTEs run on the ORIGINAL vectors (verbatim from ``ivf_topk_sql``),
    the candidate scoring joins the PQ-decoded ``dq`` CTE (verbatim from
    ``pq_topk_sql``) against full-precision queries."""
    ids = ", ".join(map(str, query_vec_ids))
    return f"""
WITH {_pq_decode_ctes(m, ks, dim)},
cent AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings WHERE vec_id < {n_centroids}),
pz AS (
  SELECT e.vec_id, c.c_id,
         unnest(e.embedding)::DOUBLE AS x, unnest(c.cv)::DOUBLE AS y
  FROM embeddings e, cent c
),
ps AS (
  SELECT vec_id, c_id,
         round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 6) AS sim
  FROM pz GROUP BY vec_id, c_id
),
assigned AS (
  SELECT vec_id, c_id FROM (
    SELECT vec_id, c_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, c_id ASC) AS rn
    FROM ps
  ) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, c_id FROM (
    SELECT vec_id, c_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, c_id ASC) AS rn
    FROM ps WHERE vec_id IN ({ids})
  ) WHERE rn <= {n_probe}
),
cand AS (
  SELECT p.query_id, a.vec_id
  FROM probes p JOIN assigned a ON a.c_id = p.c_id
),
z AS (
  SELECT c.query_id, c.vec_id,
         unnest(d.dv)::DOUBLE AS x, unnest(q.embedding)::DOUBLE AS y
  FROM cand c
  JOIN dq d ON d.vec_id = c.vec_id
  JOIN embeddings q ON q.vec_id = c.query_id
),
s AS (
  SELECT query_id, vec_id,
         round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 6) AS score
  FROM z GROUP BY query_id, vec_id
),
r AS (
  SELECT query_id, vec_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
  FROM s
)
SELECT query_id, rank, vec_id, score FROM r WHERE rank <= {k}
"""


def mmr_topk(
    emb: DataFrame,
    query_id: int = 0,
    k: int = 5,
    pool: int = 20,
    lam: float = 0.7,
    mu: float = 0.3,
) -> DataFrame:
    """Maximal Marginal Relevance re-rank (Carbonell & Goldstein 1998; the
    diversification behind "don't show me five copies of the same doc" in
    vector search UIs): greedily pick k results from the cosine top-``pool``
    maximizing

        mmr(c) = lam * sim(q, c) - mu * max_{d in selected} sim(c, d)

    (empty-selection penalty = 0, ties -> smallest vec_id). Returns
    (rank, vec_id, score) in pick order; the query row itself is excluded.

    ``lam``/``mu`` are independent literals (NOT mu = 1-lam) so both
    engines compute with the exact same double constants.

    Scale shape: the distributed work is the top-``pool`` candidate
    selection (the brute-force matmul kernel — swap in IVF for 10^12
    rows); the greedy is inherently sequential and runs on the
    coordinator over pool-bounded rows (<= pool embeddings collected) —
    the same coordinator re-rank discipline as ES rescoring. All sims
    quantized to 6 dp before comparison, so the unrolled DuckDB twin is
    bit-identical.
    """
    spark = emb.sparkSession
    qrow = emb.filter(F.col("vec_id") == int(query_id)).select("embedding").first()
    if qrow is None:
        return local_frame(spark, "rank long, vec_id long, score double")
    qv = list(qrow["embedding"])
    cands = brute_force_topk(
        emb.filter(F.col("vec_id") != int(query_id)),
        {int(query_id): qv},
        pool,
    ).collect()
    s = {int(r["vec_id"]): float(r["score"]) for r in cands}
    ids = sorted(s)
    if not ids:
        return local_frame(spark, "rank long, vec_id long, score double")
    vec_rows = (
        emb.filter(F.col("vec_id").isin(ids))
        .select("vec_id", "embedding")
        .collect()
    )
    vecs = {
        int(r["vec_id"]): np.asarray(r["embedding"], dtype=np.float64)
        for r in vec_rows
    }

    def pair_sim(a: int, b: int) -> float:
        va, vb = vecs[a], vecs[b]
        return float(np.round(
            float(va @ vb)
            / (float(np.sqrt(va @ va)) * float(np.sqrt(vb @ vb))),
            6,
        ))

    selected: list[int] = []
    out: list[tuple[int, int, float]] = []
    remaining = list(ids)
    for step in range(1, min(int(k), len(ids)) + 1):
        best_id, best_m = None, None
        for c in remaining:  # ascending vec_id -> '>' keeps smallest on tie
            pen = max((pair_sim(c, d) for d in selected), default=0.0)
            m = float(lam) * s[c] - float(mu) * pen
            if best_m is None or m > best_m:
                best_id, best_m = c, m
        out.append((step, best_id, float(np.round(best_m, 6))))
        selected.append(best_id)
        remaining.remove(best_id)
    return spark.createDataFrame(out, "rank long, vec_id long, score double")


def mmr_oracle_sql(
    query_id: int = 0,
    k: int = 5,
    pool: int = 20,
    lam: float = 0.7,
    mu: float = 0.3,
    table: str = "embeddings",
) -> str:
    """DuckDB twin of :func:`mmr_topk`: the greedy is UNROLLED into k
    selection CTEs (the textrank unrolled-iteration pattern) over the
    same 6dp-quantized query and pairwise similarity CTEs."""
    qid, lam, mu = int(query_id), float(lam), float(mu)
    steps = []
    prev_sel = None
    for i in range(1, int(k) + 1):
        if prev_sel is None:
            steps.append(
                f"sel1 AS (SELECT vec_id, {lam!r} * s AS mmr, 1 AS rank "
                f"FROM pool ORDER BY mmr DESC, vec_id ASC LIMIT 1)"
            )
            prev_sel = "sel1"
            all_sel = "SELECT vec_id FROM sel1"
        else:
            steps.append(
                f"sel{i} AS (SELECT p.vec_id, "
                f"{lam!r} * p.s - {mu!r} * ("
                f"SELECT max(pp.ps) FROM pp "
                f"WHERE pp.ai = p.vec_id AND pp.bi IN ({all_sel})"
                f") AS mmr, {i} AS rank "
                f"FROM pool p WHERE p.vec_id NOT IN ({all_sel}) "
                f"ORDER BY mmr DESC, vec_id ASC LIMIT 1)"
            )
            all_sel += f" UNION ALL SELECT vec_id FROM sel{i}"
    union = "\nUNION ALL\n".join(
        f"SELECT rank, vec_id, mmr FROM sel{i}" for i in range(1, int(k) + 1)
    )
    body = ",\n".join(steps)
    return f"""
WITH q AS (SELECT embedding AS qv FROM {table} WHERE vec_id = {qid}),
zq AS (
  SELECT e.vec_id, unnest(e.embedding)::DOUBLE AS x, unnest(q.qv)::DOUBLE AS y
  FROM {table} e, q WHERE e.vec_id <> {qid}
),
sq AS (
  SELECT vec_id, round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 6) AS s
  FROM zq GROUP BY vec_id
),
pool AS (
  SELECT vec_id, s FROM sq ORDER BY s DESC, vec_id ASC LIMIT {int(pool)}
),
zp AS (
  SELECT a.vec_id AS ai, b.vec_id AS bi,
         unnest(ae.embedding)::DOUBLE AS xa, unnest(be.embedding)::DOUBLE AS xb
  FROM pool a JOIN {table} ae ON ae.vec_id = a.vec_id,
       pool b JOIN {table} be ON be.vec_id = b.vec_id
  WHERE a.vec_id <> b.vec_id
),
pp AS (
  SELECT ai, bi,
         round(sum(xa*xb) / (sqrt(sum(xa*xa)) * sqrt(sum(xb*xb))), 6) AS ps
  FROM zp GROUP BY ai, bi
),
{body}
SELECT rank::BIGINT AS rank, vec_id, round(mmr, 6) AS score
FROM ({union})
ORDER BY rank
"""


def rescore_topk(
    emb: DataFrame,
    queries: dict[int, list[float]],
    k: int = 10,
    oversample: float = 3.0,
) -> DataFrame:
    """ES quantized kNN with ``rescore_vector`` (the oversample + exact
    re-rank Elasticsearch runs on BBQ/int8 indexes): phase 1 scores the
    int8 scalar-quantized vectors (the compressed form a 100 TB store
    holds) and keeps ``k * oversample`` candidates per query; phase 2
    re-scores ONLY those candidates against the full-precision vectors
    and returns the exact-cosine top-k. Recovers the recall the
    quantization error loses while reading full-precision data for just
    ``oversample * k`` rows per query.

    Returns (query_id, rank, vec_id, score) — score is the EXACT cosine,
    6 dp, rank by (score desc, vec_id asc).

    Scale shape: phase 1 is the sq8 scan (int8 matmul at scale); the
    candidate union is driver-bounded at |Q| * k * oversample ids, so the
    phase-2 read is an ``isin`` pushed filter (row-group pruning) over
    the full-precision store, never a second full scan. Both phases are
    deterministic, so the DuckDB twin replays them exactly.
    """
    from pyspark.sql import Window

    n_cand = int(k * oversample)
    cand = sq8_topk(emb, queries, n_cand).select("query_id", "vec_id")
    cand = cand.cache()
    pool_ids = sorted(
        r["vec_id"] for r in cand.select("vec_id").distinct().collect()
    )
    if not pool_ids:
        return cand.select(
            "query_id", F.lit(0).alias("rank"), "vec_id",
            F.lit(0.0).alias("score"),
        ).limit(0)
    pool = emb.filter(F.col("vec_id").isin(pool_ids))
    exact = brute_force_topk(pool, queries, len(pool_ids))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("vec_id")
    )
    return (
        exact.select("query_id", "vec_id", "score")
        .join(cand, ["query_id", "vec_id"])
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "score")
    )


def rescore_topk_sql(
    query_ids: list[int], k: int = 10, oversample: float = 3.0
) -> str:
    """DuckDB twin of :func:`rescore_topk`: the sq8 phase-1 CTE chain
    (same scale/floor math as :func:`sq8_topk_sql`) cut at k*oversample,
    then exact full-precision cosine over the candidate pairs only."""
    ids = ", ".join(str(int(q)) for q in sorted(query_ids))
    n_cand = int(k * oversample)
    return f"""
WITH q AS (
  SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id IN ({ids})
),
scaled AS (
  SELECT vec_id, embedding,
         CASE WHEN list_max(list_transform(embedding, x -> abs(x))) / 127.0 = 0.0
              THEN 1.0
              ELSE list_max(list_transform(embedding, x -> abs(x))) / 127.0
         END AS s
  FROM embeddings
),
dq AS (
  SELECT vec_id,
         list_transform(embedding, x -> floor(x / s + 0.5) * s) AS dv
  FROM scaled
),
z1 AS (
  SELECT q.qid, d.vec_id, unnest(d.dv)::DOUBLE AS x, unnest(q.qv)::DOUBLE AS y
  FROM dq d, q
),
sims1 AS (
  SELECT qid, vec_id,
         round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 6) AS score
  FROM z1 GROUP BY qid, vec_id
),
cand AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid
                              ORDER BY score DESC, vec_id ASC) AS rank
    FROM sims1
  ) WHERE rank <= {n_cand}
),
z2 AS (
  SELECT c.qid, e.vec_id, unnest(e.embedding)::DOUBLE AS x,
         unnest(q.qv)::DOUBLE AS y
  FROM cand c
  JOIN embeddings e ON e.vec_id = c.vec_id
  JOIN q ON q.qid = c.qid
),
sims2 AS (
  SELECT qid, vec_id,
         round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 6) AS score
  FROM z2 GROUP BY qid, vec_id
),
r AS (
  SELECT qid AS query_id, vec_id, score,
         row_number() OVER (PARTITION BY qid
                            ORDER BY score DESC, vec_id ASC) AS rank
  FROM sims2
)
SELECT query_id, rank, vec_id, score FROM r WHERE rank <= {int(k)}
"""


def sign_bits_col(emb_col: str = "embedding"):
    """1-bit (binary) quantization as pure Column algebra: each component
    collapses to its sign, materialized as ±1.0 so the ordinary cosine
    kernel scores the codes. At 100 TB the stored form is d/8 bytes of
    packed bits per vector (32x smaller than float32) and phase-1 scoring
    is XOR+popcount; the ±1 embedding here is the arithmetic-equivalent
    form both engines replay exactly (dot of ±1 vectors = d - 2*Hamming,
    a monotone transform of Hamming agreement)."""
    return F.transform(
        F.col(emb_col),
        lambda x: F.when(x > F.lit(0.0), F.lit(1.0)).otherwise(F.lit(-1.0)),
    )


def bbq_topk(
    emb: DataFrame,
    queries: dict[int, list[float]],
    k: int = 10,
    oversample: float = 3.0,
) -> DataFrame:
    """ES BBQ-style binary-quantized kNN: phase 1 ranks by the Hamming
    agreement of 1-bit sign codes (query and corpus both quantized —
    the symmetric-distance flavor; cosine of ±1 vectors is the exact
    monotone transform), keeps ``k * oversample`` candidates per query;
    phase 2 re-scores only those candidates against the full-precision
    vectors and returns the exact-cosine top-k — the same oversample +
    rescore discipline as :func:`rescore_topk`, with a 32x (vs 4x)
    compressed phase-1 store.

    Returns (query_id, rank, vec_id, score) — score is the EXACT cosine,
    6 dp, rank by (score desc, vec_id asc).

    Scale shape: phase 1 is one scan over packed-bit codes (XOR+popcount
    at scale; here the ±1 matmul kernel); the candidate union is
    driver-bounded at |Q| * k * oversample ids, so phase 2 is an
    ``isin``-pushed row-group-pruned read of the full-precision store.
    Deterministic end to end — the DuckDB twin replays both phases.
    """
    from pyspark.sql import Window

    n_cand = int(k * oversample)
    bq = {
        qid: [1.0 if x > 0.0 else -1.0 for x in v]
        for qid, v in queries.items()
    }
    cand = brute_force_topk(
        emb.withColumn("embedding", sign_bits_col()), bq, n_cand
    ).select("query_id", "vec_id")
    cand = cand.cache()
    pool_ids = sorted(
        r["vec_id"] for r in cand.select("vec_id").distinct().collect()
    )
    if not pool_ids:
        return cand.select(
            "query_id", F.lit(0).alias("rank"), "vec_id",
            F.lit(0.0).alias("score"),
        ).limit(0)
    pool = emb.filter(F.col("vec_id").isin(pool_ids))
    exact = brute_force_topk(pool, queries, len(pool_ids))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("vec_id")
    )
    return (
        exact.select("query_id", "vec_id", "score")
        .join(cand, ["query_id", "vec_id"])
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "score")
    )


def bbq_topk_sql(
    query_ids: list[int], k: int = 10, oversample: float = 3.0
) -> str:
    """DuckDB twin of :func:`bbq_topk`: the same sign quantization on
    both sides of phase 1 (±1 lists, cosine, 6dp round, (score desc,
    vec_id asc) cut at k*oversample), then the exact full-precision
    cosine over candidate pairs only."""
    ids = ", ".join(str(int(q)) for q in sorted(query_ids))
    n_cand = int(k * oversample)
    sgn = "list_transform({0}, x -> CASE WHEN x > 0.0 THEN 1.0 ELSE -1.0 END)"
    return f"""
WITH q AS (
  SELECT vec_id AS qid, embedding AS qv,
         {sgn.format('embedding')} AS qb
  FROM embeddings WHERE vec_id IN ({ids})
),
b AS (
  SELECT vec_id, {sgn.format('embedding')} AS bv FROM embeddings
),
z1 AS (
  SELECT q.qid, b.vec_id, unnest(b.bv)::DOUBLE AS x, unnest(q.qb)::DOUBLE AS y
  FROM b, q
),
sims1 AS (
  SELECT qid, vec_id,
         round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 6) AS score
  FROM z1 GROUP BY qid, vec_id
),
cand AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid
                              ORDER BY score DESC, vec_id ASC) AS rank
    FROM sims1
  ) WHERE rank <= {n_cand}
),
z2 AS (
  SELECT c.qid, e.vec_id, unnest(e.embedding)::DOUBLE AS x,
         unnest(q.qv)::DOUBLE AS y
  FROM cand c
  JOIN embeddings e ON e.vec_id = c.vec_id
  JOIN q ON q.qid = c.qid
),
sims2 AS (
  SELECT qid, vec_id,
         round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 6) AS score
  FROM z2 GROUP BY qid, vec_id
),
r AS (
  SELECT qid AS query_id, vec_id, score,
         row_number() OVER (PARTITION BY qid
                            ORDER BY score DESC, vec_id ASC) AS rank
  FROM sims2
)
SELECT query_id, rank, vec_id, score FROM r WHERE rank <= {int(k)}
"""


def maxsim_topk(
    emb: DataFrame,
    queries: dict[int, list[float]],
    group_size: int = 8,
    k: int = 10,
) -> DataFrame:
    """Late-interaction multi-vector retrieval (the ColBERT MaxSim
    operator; ES exposes it as kNN over nested dense_vectors with
    ``max_sim`` rank): a DOCUMENT is a GROUP of vectors (here
    ``vec_id // group_size`` — chunk embeddings of one doc), the QUERY
    is the set of ``queries`` vectors (its token embeddings), and

        score(doc) = Σ_q  max_{v ∈ doc}  cos(q, v)

    — each query token matches its best chunk, independently. Returns
    (doc_id, score) top-k by (score desc, doc_id asc); per-(q, doc)
    maxes are 6 dp-rounded then quantized to integer micro-units before
    the (3-term) sum, so the aggregate is order-independent.

    Scale shape: one corpus scan computes all |Q| sims per vector
    (numpy matmul in the brute-force kernel); the per-(doc, q) max and
    per-doc sum are ONE map-side-combined two-level aggregation keyed on
    the group id — no join, no cross product. At 10^12 vectors the
    kernel's candidate cut rides an ANN index (IVF lists per query
    token) exactly like single-vector search.
    """
    n_total = emb.count()
    all_pairs = brute_force_topk(emb, queries, max(int(n_total), 1))
    g = (F.col("vec_id") / F.lit(int(group_size))).cast("long")
    per_q = (
        all_pairs.select(g.alias("doc_id"), "query_id", "score")
        .groupBy("doc_id", "query_id")
        .agg(F.max("score").alias("m"))
    )
    mq = F.floor(F.col("m") * F.lit(1e6) + F.lit(0.5)).cast("long")
    scored = (
        per_q.select("doc_id", mq.alias("mq"))
        .groupBy("doc_id")
        .agg((F.sum("mq").cast("double") / F.lit(1e6)).alias("score"))
    )
    return (
        scored.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(int(k))
    )


def maxsim_topk_sql(
    query_ids: list[int], group_size: int = 8, k: int = 10
) -> str:
    """DuckDB twin of :func:`maxsim_topk` (same cosine + 6 dp round,
    same micro-unit quantize-then-sum)."""
    ids = ", ".join(str(int(q)) for q in sorted(query_ids))
    return f"""
WITH q AS (
  SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id IN ({ids})
),
z AS (
  SELECT q.qid, e.vec_id, unnest(e.embedding)::DOUBLE AS x,
         unnest(q.qv)::DOUBLE AS y
  FROM embeddings e, q
),
sims AS (
  SELECT qid, vec_id,
         round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 6) AS score
  FROM z GROUP BY qid, vec_id
),
mx AS (
  SELECT (vec_id // {int(group_size)})::BIGINT AS doc_id, qid,
         max(score) AS m
  FROM sims GROUP BY 1, 2
)
SELECT doc_id,
       (sum(floor(m * 1e6 + 0.5)::BIGINT)::DOUBLE / 1e6) AS score
FROM mx
GROUP BY doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {int(k)}
"""


def hard_negatives_topk(
    emb: DataFrame, anchor_ids: list[int], k: int = 8
) -> DataFrame:
    """Hard-negative mining for contrastive/retrieval training (the DPR /
    sentence-transformers pipeline step): for each anchor vector, the
    top-k most-similar vectors whose ``label`` DIFFERS from the anchor's
    — the near-miss negatives that make training batches informative,
    as opposed to random negatives cosine already separates. Exact
    cosine, engine total order (score desc, vec_id asc). Returns
    (anchor_id, rank, vec_id, label, score).

    Distinct from ``ivf_topk(filter_label=…)``: the exclusion set is
    PER-ANCHOR (each anchor bans its own class), not one global
    metadata filter.

    Scale shape: anchors are a driver-bounded collect (|anchor_ids|
    rows); the corpus streams ONCE through a single Arrow-batched
    matmul kernel shared by every anchor, the per-anchor label mask is
    a row mask on the batch (no second scan, no join); per-partition
    local top-k keeps only k rows per anchor per partition ahead of the
    global TakeOrdered.
    """
    from pyspark.sql import Window

    spark = emb.sparkSession
    ensure_pyfiles(spark)
    rows = (
        emb.filter(F.col("vec_id").isin([int(a) for a in anchor_ids]))
        .select("vec_id", "label", "embedding")
        .collect()
    )
    by_id = {int(r["vec_id"]): r for r in rows}
    a_ids = np.array(sorted(by_id), dtype=np.int64)
    a_mat = np.array(
        [by_id[int(a)]["embedding"] for a in a_ids], dtype=np.float64
    )
    a_lab = np.array([int(by_id[int(a)]["label"]) for a in a_ids],
                     dtype=np.int64)
    qn = a_mat / np.linalg.norm(a_mat, axis=1, keepdims=True)

    def kernel(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            m /= np.linalg.norm(m, axis=1, keepdims=True)
            sims = m @ qn.T
            vec_ids = pdf["vec_id"].to_numpy(np.int64)
            labels = pdf["label"].to_numpy(np.int64)
            outs = []
            for j in range(sims.shape[1]):
                keep = np.flatnonzero(labels != a_lab[j])
                if keep.size == 0:
                    continue
                sc_all = np.round(sims[keep, j], 6)
                kk = min(k, keep.size)
                # rounded-score cut with explicit (score desc, vec_id asc)
                # tie policy — same discipline as _topk_kernel
                order = np.lexsort((vec_ids[keep], -sc_all))[:kk]
                sel = keep[order]
                outs.append(pd.DataFrame({
                    "anchor_id": a_ids[j], "vec_id": vec_ids[sel],
                    "label": labels[sel], "score": sc_all[order],
                }))
            if outs:
                yield pd.concat(outs, ignore_index=True)

    local = emb.select("vec_id", "label", "embedding").mapInPandas(
        kernel, "anchor_id long, vec_id long, label long, score double"
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("score"), F.asc("vec_id")
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("anchor_id", "rank", "vec_id", "label", "score")
    )


def hard_negatives_sql(anchor_ids: list[int], k: int = 8) -> str:
    """DuckDB twin of :func:`hard_negatives_topk`."""
    ids = ", ".join(str(int(a)) for a in sorted(anchor_ids))
    return f"""
WITH a AS (
  SELECT vec_id AS aid, label AS alabel, embedding AS av
  FROM embeddings WHERE vec_id IN ({ids})
),
z AS (
  SELECT a.aid, a.alabel, e.vec_id, e.label,
         unnest(e.embedding)::DOUBLE AS x, unnest(a.av)::DOUBLE AS y
  FROM embeddings e, a
  WHERE e.label <> a.alabel
),
s AS (
  SELECT aid, vec_id, any_value(label) AS label,
         round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 6) AS score
  FROM z GROUP BY aid, vec_id
),
r AS (
  SELECT aid AS anchor_id, vec_id, label, score,
         row_number() OVER (PARTITION BY aid
                            ORDER BY score DESC, vec_id ASC) AS rank
  FROM s
)
SELECT anchor_id, rank, vec_id, label::BIGINT AS label, score
FROM r WHERE rank <= {int(k)}
"""


def metric_topk(
    emb: DataFrame,
    queries: dict[int, list[float]],
    k: int = 10,
    metric: str = "l2_norm",
) -> DataFrame:
    """ES ``dense_vector`` similarity options beyond cosine — the knn
    metric is a MAPPING choice in ES, so an engine that only speaks
    cosine cannot serve an l2/dot-mapped field. ES score transforms
    (from the dense_vector docs):

        l2_norm           score = 1 / (1 + d²)         (d = Euclidean)
        max_inner_product mip >= 0: mip + 1; else 1 / (1 - mip)

    Both transforms are strictly monotone in the raw metric, so rank ==
    raw-metric rank; scores are 6 dp-rounded and the total order is the
    engine's (score desc, vec_id asc). Returns (query_id, rank, vec_id,
    score).

    Scale shape: identical to :func:`brute_force_topk` — queries
    broadcast, corpus streamed ONCE through a vectorized kernel,
    per-batch local top-k ahead of the global TakeOrdered.
    """
    from pyspark.sql import Window

    if metric not in ("l2_norm", "max_inner_product"):
        raise ValueError(f"unknown metric {metric!r}")
    spark = emb.sparkSession
    ensure_pyfiles(spark)
    q_ids = np.array(sorted(queries), dtype=np.int64)
    q_mat = np.array([queries[int(q)] for q in q_ids], dtype=np.float64)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        best: list[pd.DataFrame] = []
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            vec_ids = pdf["vec_id"].to_numpy(np.int64)
            if metric == "l2_norm":
                # ||x-q||² via the expansion; 6dp rounding absorbs the
                # association delta vs the SQL sum((x-y)²), like every
                # cosine oracle in this file
                d2 = (
                    (m * m).sum(axis=1)[:, None]
                    + (q_mat * q_mat).sum(axis=1)[None, :]
                    - 2.0 * (m @ q_mat.T)
                )
                sc = 1.0 / (1.0 + d2)
            else:
                mip = m @ q_mat.T
                sc = np.where(mip >= 0.0, mip + 1.0, 1.0 / (1.0 - mip))
            sc = np.round(sc, 6)
            kk = min(k, sc.shape[0])
            for j in range(sc.shape[1]):
                order = np.lexsort((vec_ids, -sc[:, j]))[:kk]
                best.append(
                    pd.DataFrame(
                        {"query_id": q_ids[j], "vec_id": vec_ids[order],
                         "score": sc[order, j]}
                    )
                )
        if best:
            out = pd.concat(best, ignore_index=True)
            out = out.sort_values(
                ["query_id", "score", "vec_id"],
                ascending=[True, False, True],
                kind="stable", ignore_index=True,
            )
            yield out.groupby("query_id", sort=False).head(k)

    local = emb.select("vec_id", "embedding").mapInPandas(
        kernel, "query_id long, vec_id long, score double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("vec_id")
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "score")
    )


def metric_topk_sql(
    query_vec_ids: list[int], k: int = 10, metric: str = "l2_norm"
) -> str:
    """DuckDB twin of :func:`metric_topk`."""
    ids = ", ".join(str(int(q)) for q in sorted(query_vec_ids))
    if metric == "l2_norm":
        score = "round(1.0 / (1.0 + sum((x - y) * (x - y))), 6)"
    elif metric == "max_inner_product":
        score = ("round(CASE WHEN sum(x * y) >= 0 THEN sum(x * y) + 1.0 "
                 "ELSE 1.0 / (1.0 - sum(x * y)) END, 6)")
    else:
        raise ValueError(f"unknown metric {metric!r}")
    return f"""
WITH q AS (
  SELECT vec_id AS qid, embedding AS qv FROM embeddings
  WHERE vec_id IN ({ids})
),
z AS (
  SELECT q.qid, e.vec_id,
         unnest(e.embedding)::DOUBLE AS x, unnest(q.qv)::DOUBLE AS y
  FROM embeddings e, q
),
s AS (
  SELECT qid, vec_id, {score} AS score
  FROM z GROUP BY qid, vec_id
),
r AS (
  SELECT qid AS query_id, vec_id, score,
         row_number() OVER (PARTITION BY qid
                            ORDER BY score DESC, vec_id ASC) AS rank
  FROM s
)
SELECT query_id, rank, vec_id, score FROM r WHERE rank <= {int(k)}
"""
