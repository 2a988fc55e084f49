"""Deterministic hash-based sampling, dataset splitting, and KMV
distinct-count sketching — the reproducibility primitives of a training-
data pipeline.

All three share one hash: ``h(x) = int64(first 15 hex chars of
sha256(x || salt))`` — a uniform draw on ``[0, 2^60)`` that is (a) stable
across runs/cluster sizes/engines (unlike ``rand()``), (b) pure JVM Column
algebra, and (c) byte-identical in the DuckDB oracle. Sampling by hash
threshold is the standard reproducible-subsample trick (every worker
decides membership locally — no shuffle, no coordination, no seed state);
KMV (k-minimum-values) is the classic mergeable distinct-count sketch
(Bar-Yossef et al. 2002): keep the k smallest hashes, estimate
``(k-1) * 2^60 / h_(k)``.

Scale shape: split/sample are map-only filters bounded by scan bandwidth;
KMV is a per-group top-k-smallest (partial-aggregated window) whose state
is k values per group regardless of input size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from smse_backend_spark.session import local_frame

TWO60 = 1 << 60


def hash_u60(x: Column, salt: str) -> Column:
    """Deterministic uniform int64 draw on [0, 2^60) from sha256."""
    return F.conv(
        F.substring(F.sha2(F.concat(x.cast("string"), F.lit(salt)), 256), 1, 15),
        16,
        10,
    ).cast("long")


def _hash_u60_sql(expr: str, salt: str) -> str:
    return (
        f"((('0x' || substr(sha256({expr}::VARCHAR || '{salt}'), 1, 15))"
        f"::UBIGINT)::BIGINT)"
    )


# --- train/val/test split ---------------------------------------------------

SPLIT_SALT = "-split-v1"


def hash_split(
    docs: DataFrame, train: float = 0.8, val: float = 0.1
) -> DataFrame:
    """(doc_id, split): stable train/val/test assignment by hash threshold.

    Thresholds are INTEGER literals computed once on the driver, so the
    comparison is exact (no float boundary ambiguity cross-engine). Adding
    documents never reassigns existing ones — the property that makes
    hash splits the standard over random splits for growing corpora.
    """
    t_train = int(train * TWO60)
    t_val = int((train + val) * TWO60)
    h = hash_u60(F.col("doc_id"), SPLIT_SALT)
    return docs.select(
        "doc_id",
        F.when(h < t_train, F.lit("train"))
        .when(h < t_val, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


def hash_split_sql(
    train: float = 0.8, val: float = 0.1, table: str = "documents"
) -> str:
    t_train = int(train * TWO60)
    t_val = int((train + val) * TWO60)
    h = _hash_u60_sql("doc_id", SPLIT_SALT)
    return f"""
SELECT doc_id,
       CASE WHEN {h} < {t_train} THEN 'train'
            WHEN {h} < {t_val} THEN 'val'
            ELSE 'test' END AS split
FROM {table}
"""


# --- reproducible Bernoulli sample ------------------------------------------

SAMPLE_SALT = "-sample-v1"


def corpus_sample(docs: DataFrame, rate: float = 0.1) -> DataFrame:
    """(doc_id, lang): keep a doc iff its hash falls under ``rate`` — a
    seedless, shuffle-free, engine-portable Bernoulli sample."""
    thr = int(rate * TWO60)
    return docs.filter(
        hash_u60(F.col("doc_id"), SAMPLE_SALT) < thr
    ).select("doc_id", "lang")


def corpus_sample_sql(rate: float = 0.1, table: str = "documents") -> str:
    thr = int(rate * TWO60)
    return f"""
SELECT doc_id, lang FROM {table}
WHERE {_hash_u60_sql("doc_id", SAMPLE_SALT)} < {thr}
"""


# --- quality-weighted (bucket-mixture) sample --------------------------------

QWEIGHT_SALT = "-qweight-v1"

# keep-rate per quality quintile: heavy downsample of the low-quality
# tail, keep everything in the top bucket (the DCLM / FineWeb-style
# quality-mixture recipe, made deterministic)
QWEIGHT_RATES: tuple[float, ...] = (0.02, 0.1, 0.3, 0.7, 1.0)


def quality_weighted_sample(
    docs: DataFrame, rates: tuple[float, ...] = QWEIGHT_RATES
) -> DataFrame:
    """(doc_id, bucket, quality): importance sampling by quality — each
    doc's quality score (already 6dp-quantized, cross-engine exact) maps
    to a quintile bucket, and the doc is kept iff its hash falls under
    the bucket's keep-rate. Same no-shuffle/no-seed membership rule as
    ``corpus_sample``, but the threshold is bucket-dependent — the
    quality-mixture sampling step of modern pretraining recipes
    (quality classifier -> per-bucket rates), fully reproducible: adding
    docs never flips existing decisions.

    Scale shape: map-only (tokenize + hash + integer compare per row);
    thresholds are driver-computed integer literals, so there is no float
    boundary ambiguity cross-engine.
    """
    from smse_backend_spark.functions.text_quality import quality_scores

    if len(rates) != 5:
        raise ValueError("rates must give one keep-rate per quintile")
    thrs = [int(r * TWO60) for r in rates]
    q = quality_scores(docs)
    bucket = F.least(F.floor(F.col("quality") * 5).cast("long"), F.lit(4))
    thr = F.element_at(
        F.array(*[F.lit(t) for t in thrs]), bucket.cast("int") + 1
    )
    return (
        q.select("doc_id", bucket.alias("bucket"), "quality")
        .filter(hash_u60(F.col("doc_id"), QWEIGHT_SALT) < thr)
    )


def quality_weighted_sample_sql(
    rates: tuple[float, ...] = QWEIGHT_RATES, table: str = "documents"
) -> str:
    from smse_backend_spark.functions.text_quality import quality_scores_sql

    thrs = [int(r * TWO60) for r in rates]
    cases = " ".join(
        f"WHEN {b} THEN {t}" for b, t in enumerate(thrs)
    )
    h = _hash_u60_sql("doc_id", QWEIGHT_SALT)
    return f"""
WITH q AS ({quality_scores_sql()})
SELECT doc_id, least(floor(quality * 5)::BIGINT, 4) AS bucket, quality
FROM q
WHERE {h} < (CASE least(floor(quality * 5)::BIGINT, 4) {cases} END)
"""


# --- token-budget mixture planner -------------------------------------------


def default_mixture_targets(sources: list[str] | None = None) -> dict[str, float]:
    """Deterministic non-uniform target weights for the contract entry:
    raw weight 1 + (source ordinal % 3), normalized to sum 1. Stands in
    for the hand-tuned per-domain weights of a real pretraining recipe."""
    srcs = sources if sources is not None else [f"src{i}" for i in range(20)]
    raw = {s: 1.0 + (i % 3) for i, s in enumerate(sorted(srcs))}
    tot = sum(raw.values())
    return {s: w / tot for s, w in raw.items()}


def mixture_plan(docs: DataFrame, targets: dict[str, float]) -> DataFrame:
    """(source, n_docs, n_tokens, rate, plan_tokens): per-source sampling
    rates achieving a target token mixture with MAXIMUM data retention —
    the mixture-planning step of pretraining recipes (Dolma/DCLM-style
    domain weights). The binding source (scarcest relative to its target)
    keeps rate 1.0; every other source is downsampled so realized tokens
    are proportional to the targets: ``rate_s = min(1, w_s * C /
    tokens_s)`` with ``C = min_s tokens_s / w_s``.

    Determinism: C is a driver scalar from exact integer aggregates;
    every per-row expression is identically parenthesized in the SQL
    twin, rates are floor-quantized at 1e-6, and plan_tokens uses the
    QUANTIZED rate — integer outputs all the way.

    Scale shape: one tokenize+count aggregation (source-keyed, partial
    aggs), a broadcast join against the tiny target table, one scalar
    collect — the 10^12-row cost is the corpus scan, nothing else.
    Sources without a target weight are dropped (inner join), matching
    recipes that exclude unlisted domains."""
    from smse_backend_spark.functions.tokenizer import doc_len_col

    spark = docs.sparkSession
    t_df = F.broadcast(
        spark.createDataFrame(
            sorted((s, float(w)) for s, w in targets.items()),
            "source string, w double",
        )
    )
    per = (
        docs.select("source", doc_len_col(F.col("text")).alias("ntok"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("ntok").cast("long").alias("n_tokens"),
        )
    )
    j = per.join(t_df, "source")
    c = j.agg(
        F.min(F.col("n_tokens").cast("double") / F.col("w"))
    ).first()[0]
    if c is None:
        return local_frame(
            spark, "source string, n_docs long, n_tokens long, rate double, "
                   "plan_tokens long"
        )
    rate_raw = F.least(
        F.lit(1.0),
        (F.col("w") * F.lit(float(c))) / F.col("n_tokens").cast("double"),
    )
    rate_q = F.floor(rate_raw * 1e6 + F.lit(0.5)) / 1e6
    return (
        j.select(
            "source",
            "n_docs",
            "n_tokens",
            rate_q.alias("rate"),
            F.floor(rate_q * F.col("n_tokens").cast("double"))
            .cast("long")
            .alias("plan_tokens"),
        )
        .orderBy("source")
    )


def mixture_plan_sql(
    targets: dict[str, float], table: str = "documents"
) -> str:
    from smse_backend_spark.functions.tokenizer import tokenize_duckdb_sql

    values = ", ".join(
        "('" + s.replace("'", "''") + f"', {float(w)!r})"
        for s, w in sorted(targets.items())
    )
    toks = tokenize_duckdb_sql("text")
    rate = "floor(least(1.0, (j.w * c.c) / j.n_tokens::DOUBLE) * 1e6 + 0.5) / 1e6"
    return f"""
WITH tok AS (SELECT source, len({toks}) AS ntok FROM {table}),
per AS (
  SELECT source, count(*)::BIGINT AS n_docs, sum(ntok)::BIGINT AS n_tokens
  FROM tok GROUP BY source
),
t(source, w) AS (VALUES {values}),
j AS (SELECT per.source, n_docs, n_tokens, t.w FROM per JOIN t ON t.source = per.source),
c AS (SELECT min(n_tokens::DOUBLE / w) AS c FROM j)
SELECT j.source AS source, j.n_docs AS n_docs, j.n_tokens AS n_tokens,
       {rate} AS rate,
       floor(({rate}) * j.n_tokens::DOUBLE)::BIGINT AS plan_tokens
FROM j CROSS JOIN c
ORDER BY source
"""


# --- stratified (per-group quota) sample ------------------------------------

STRATA_SALT = "-strata-v1"


def stratified_sample(
    docs: DataFrame, per_group: int = 20, group: str = "lang"
) -> DataFrame:
    """(doc_id, lang): the ``per_group`` hash-smallest docs of each group —
    a deterministic per-stratum quota sample (equal representation per
    language/source regardless of group skew, the balanced-mixture
    primitive of training-data recipes). Hash order makes the pick
    reproducible across runs, engines, and cluster sizes; ``doc_id`` is a
    formal tie-break (60-bit hash collisions).

    Scale shape: one window per group over the hash (partial top-k via
    rank pushdown at 10^12 rows you'd swap row_number for a bounded
    per-partition top-k + re-rank, same as the search top-k kernel).
    """
    h = hash_u60(F.col("doc_id"), STRATA_SALT)
    w = Window.partitionBy(group).orderBy(F.asc("h"), F.asc("doc_id"))
    return (
        docs.select("doc_id", group, h.alias("h"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= per_group)
        .select("doc_id", group)
    )


def stratified_sample_sql(
    per_group: int = 20, group: str = "lang", table: str = "documents"
) -> str:
    h = _hash_u60_sql("doc_id", STRATA_SALT)
    return f"""
SELECT doc_id, {group} FROM (
  SELECT doc_id, {group},
         row_number() OVER (PARTITION BY {group} ORDER BY {h} ASC, doc_id ASC) AS rn
  FROM {table}
) WHERE rn <= {per_group}
"""


# --- bounded per-group hash rank (the scale path for quota/KMV) -------------


def _bounded_group_rank(
    d: DataFrame, group: str, k: int, safety: int = 8
) -> DataFrame:
    """``d`` (must carry a uniform-``[0, 2^60)`` column ``h``) -> the same
    rows restricted to per-group hash-rank <= ``k``-candidates, with ``rn``
    attached — WITHOUT ranking whole groups.

    ``Window.partitionBy(group)`` over a low-cardinality stratum column is
    exact but serial: one task streams each group. Here rank is bounded by
    the classic threshold pre-filter: since ``h`` is uniform, the k-th
    smallest of n draws concentrates at ``k/n * 2^60``, so survivors of
    ``h < safety*k/n * 2^60`` number ~``safety*k`` per group (a map-side
    filter against broadcast thresholds), and ranking THEM is exact for
    every rank <= k — all survivors precede all non-survivors in
    (h, doc-order). The survivor count is verified per group and the
    threshold doubled for any deficient group (probability ~e^-k at
    safety=8; the loop terminates because t caps at 2^60 = keep-all).

    Driver state: one row per group (a stratum column is driver-bounded
    by definition). Cost: two extra partial-agg scans of ``d`` — the
    price of turning a per-group serial rank into an O(safety*k)-row one.
    """
    spark = d.sparkSession
    counts = {r[0]: r[1] for r in d.groupBy(group).count().collect()}
    if not counts:
        return d.withColumn("rn", F.lit(1))
    thr: dict = {}
    for g, n in counts.items():
        if n <= k * safety:
            thr[g] = TWO60
        else:
            thr[g] = min(TWO60, (TWO60 // n) * k * safety + 1)
    while True:
        tdf = F.broadcast(
            spark.createDataFrame(
                [(g, t) for g, t in thr.items()], f"{group} string, _thr long"
            )
        )
        surv = d.join(tdf, group).filter(F.col("h") < F.col("_thr"))
        got = {r[0]: r[1] for r in surv.groupBy(group).count().collect()}
        deficient = [
            g for g, n in counts.items() if got.get(g, 0) < min(k, n)
        ]
        if not deficient:
            break
        for g in deficient:
            thr[g] = min(TWO60, thr[g] * 2)
    w = Window.partitionBy(group).orderBy(F.asc("h"), *[
        F.asc(c) for c in d.columns if c not in (group, "h")
    ])
    return (
        surv.drop("_thr")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
    )


def stratified_sample_dist(
    docs: DataFrame, per_group: int = 20, group: str = "lang"
) -> DataFrame:
    """Bit-identical to :func:`stratified_sample`, with the per-group rank
    bounded by the threshold pre-filter (:func:`_bounded_group_rank`) —
    the window ranks ~``8*per_group`` survivors per group instead of the
    whole group. Shares ``stratified_sample_sql`` as oracle."""
    h = hash_u60(F.col("doc_id"), STRATA_SALT)
    ranked = _bounded_group_rank(
        docs.select(group, h.alias("h"), "doc_id"), group, per_group
    )
    return ranked.select("doc_id", group)


# --- KMV distinct-count sketch ----------------------------------------------

KMV_SALT = "-kmv-v1"


def kmv_distinct(
    events: DataFrame, key: str = "user_id", group: str = "event_type",
    k: int = 64,
) -> DataFrame:
    """(group, n_exact, estimate): KMV distinct-count estimate per group,
    with the exact count alongside (cheap at test scale; at 10^12 rows the
    exact column is what you'd drop — the sketch state is k int64s per
    group, merged associatively by partial aggregation).

    Groups with fewer than k distinct keys return the exact count (the
    sketch is lossless below its capacity).
    """
    d = events.select(group, key).distinct().withColumn(
        "h", hash_u60(F.col(key), KMV_SALT)
    )
    w = Window.partitionBy(group).orderBy("h")
    ranked = d.withColumn("rn", F.row_number().over(w))
    est = F.when(
        F.col("hk").isNull(), F.col("n_exact").cast("double")
    ).otherwise(
        F.lit(float(k - 1)) * F.lit(float(TWO60)) / F.col("hk").cast("double")
    )
    return (
        ranked.groupBy(group)
        .agg(
            F.count("*").alias("n_exact"),
            F.max(F.when(F.col("rn") == k, F.col("h"))).alias("hk"),
        )
        .select(
            group,
            F.col("n_exact").cast("long").alias("n_exact"),
            (F.floor(est * 1e6 + F.lit(0.5)) / 1e6).alias("estimate"),
        )
    )


def kmv_distinct_dist(
    events: DataFrame, key: str = "user_id", group: str = "event_type",
    k: int = 64,
) -> DataFrame:
    """Bit-identical to :func:`kmv_distinct`, with the per-group rank
    bounded by the threshold pre-filter — only ~``8k`` of each group's
    distinct-key hashes are ranked to locate the k-th smallest (h_(k) is
    rank-k, and every rank <= k survives the filter by construction).
    Shares ``kmv_distinct_sql`` as oracle. The ``n_exact`` column still
    counts the full distinct frame (one partial agg — it exists because
    the contract reports it; a pure sketch deployment drops it)."""
    d = events.select(group, key).distinct().withColumn(
        "h", hash_u60(F.col(key), KMV_SALT)
    )
    ranked = _bounded_group_rank(d.select(group, "h"), group, k)
    hk = ranked.groupBy(group).agg(
        F.max(F.when(F.col("rn") == k, F.col("h"))).alias("hk")
    )
    n_exact = d.groupBy(group).agg(F.count("*").alias("n_exact"))
    est = F.when(
        F.col("hk").isNull(), F.col("n_exact").cast("double")
    ).otherwise(
        F.lit(float(k - 1)) * F.lit(float(TWO60)) / F.col("hk").cast("double")
    )
    return n_exact.join(hk, group, "left").select(
        group,
        F.col("n_exact").cast("long").alias("n_exact"),
        (F.floor(est * 1e6 + F.lit(0.5)) / 1e6).alias("estimate"),
    )


def kmv_distinct_sql(
    key: str = "user_id", group: str = "event_type", k: int = 64,
    table: str = "events",
) -> str:
    h = _hash_u60_sql(key, KMV_SALT)
    return f"""
WITH d AS (
  SELECT DISTINCT {group}, {key} FROM {table}
),
r AS (
  SELECT {group}, {h} AS h,
         row_number() OVER (PARTITION BY {group} ORDER BY {h}) AS rn
  FROM d
),
a AS (
  SELECT {group}, count(*)::BIGINT AS n_exact,
         max(CASE WHEN rn = {k} THEN h END) AS hk
  FROM r GROUP BY {group}
)
SELECT {group}, n_exact,
       floor(CASE WHEN hk IS NULL THEN n_exact::DOUBLE
                  ELSE {float(k - 1)}::DOUBLE * {float(TWO60)}::DOUBLE
                       / hk::DOUBLE END * 1e6 + 0.5) / 1e6 AS estimate
FROM a
"""


# --- count-min sketch term counts --------------------------------------------

CMS_SALT = "-cms-r"


def _cms_buckets(term: Column, width: int, depth: int) -> Column:
    """Array of ``depth`` independent bucket ids for a term — one sha256
    row hash per sketch row (the KMV/split hash discipline)."""
    return F.array(*[
        (hash_u60(term, f"{CMS_SALT}{j}") % int(width)).cast("long")
        for j in range(depth)
    ])


def cms_term_counts(
    docs: DataFrame,
    width: int = 512,
    depth: int = 3,
    k: int = 20,
) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) over the corpus
    token stream, reported as (term, exact, estimate) for the top-``k``
    terms by exact occurrence count — the heavy-hitter workload WIMBD
    runs over training corpora, with the sketch's one-sided error shown
    against ground truth (estimate >= exact always; equality when none
    of the term's ``depth`` buckets collides with another term).

    The sketch is ``depth`` x ``width`` int64 cells; cell(j, b) = sum of
    counts of every term whose row-``j`` hash lands in bucket ``b``;
    estimate(t) = min_j cell(j, bucket_j(t)). All-integer arithmetic —
    both engines agree exactly.

    Scale shape: the ONLY corpus-sized work is the token-count partial
    aggregation (map-side combined); the cell build then aggregates the
    dictionary into ``depth*width`` cells (fixed-size, associatively
    mergeable state — at 10^12 files you'd skip the exact column and
    fold raw tokens straight into the cells, the identical integer sums
    in one partial agg with no dictionary shuffle at all — documented
    here because the contract reports exact-vs-estimate). The top-k cut
    is TakeOrderedAndProject; the estimate probe joins ``k * depth``
    rows against the cell frame (broadcast-sized both sides).
    """
    from smse_backend_spark.functions.tokenizer import tokenize_col

    per_term = (
        docs.select(F.explode(tokenize_col(F.col("text"))).alias("term"))
        .groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .withColumn("buckets", _cms_buckets(F.col("term"), width, depth))
    )
    cells = (
        per_term.select(
            F.posexplode("buckets").alias("row_j", "bucket"), F.col("cnt")
        )
        .groupBy("row_j", "bucket")
        .agg(F.sum("cnt").cast("long").alias("cell"))
    )
    top = (
        per_term.orderBy(F.desc("cnt"), F.asc("term")).limit(int(k))
        .select("term", "cnt", F.posexplode("buckets").alias("row_j", "bucket"))
    )
    return (
        top.join(cells, ["row_j", "bucket"])
        .groupBy("term")
        .agg(
            F.max("cnt").alias("exact"),
            F.min("cell").cast("long").alias("estimate"),
        )
        .select("term", F.col("exact").cast("long").alias("exact"), "estimate")
        .orderBy(F.desc("exact"), F.asc("term"))
    )


def cms_term_counts_sql(
    width: int = 512,
    depth: int = 3,
    k: int = 20,
    table: str = "documents",
    content_col: str = "text",
) -> str:
    """DuckDB twin of :func:`cms_term_counts` — same hashes, same
    integer cell sums, same min-over-rows estimate."""
    from smse_backend_spark.functions.tokenizer import tokenize_duckdb_sql

    toks = tokenize_duckdb_sql(content_col)
    bucket_rows = " UNION ALL ".join(
        f"SELECT term, cnt, {j} AS row_j, "
        f"({_hash_u60_sql('term', f'{CMS_SALT}{j}')} % {int(width)}) AS bucket "
        "FROM per_term"
        for j in range(depth)
    )
    return f"""
WITH tok AS (
  SELECT unnest({toks}) AS term FROM {table}
),
per_term AS (
  SELECT term, count(*)::BIGINT AS cnt FROM tok GROUP BY term
),
tb AS (
  {bucket_rows}
),
cells AS (
  SELECT row_j, bucket, sum(cnt)::BIGINT AS cell
  FROM tb GROUP BY row_j, bucket
),
top AS (
  SELECT term, cnt FROM per_term ORDER BY cnt DESC, term ASC LIMIT {int(k)}
)
SELECT tb.term AS term, any_value(top.cnt)::BIGINT AS exact,
       min(cells.cell)::BIGINT AS estimate
FROM top JOIN tb USING (term)
JOIN cells USING (row_j, bucket)
GROUP BY tb.term
ORDER BY exact DESC, term ASC
"""


# --- weighted reservoir sampling (Efraimidis-Spirakis A-ES) ------------------

AES_SALT = "-aes-v1"


def weighted_reservoir(
    docs: DataFrame, k: int = 32, weight_col: str = "n_chars"
) -> DataFrame:
    """Weighted random sample WITHOUT replacement, probability
    proportional to ``weight_col`` — algorithm A-ES (Efraimidis &
    Spirakis 2006): draw ``u_i`` uniform in (0,1], keep the k largest
    ``u_i^(1/w_i)``. The standard way to weight-sample a corpus (by
    length, by quality score) in one distributed pass: the per-item key
    needs no global state, so the top-k cut IS the sample.

    Determinism/parity: ``u = (h+1)/2^60`` from the sha-derived
    ``hash_u60`` of doc_id; the rank key is the monotone transform
    ``ln(u)/w`` (avoids the pow-ln-exp round trip entirely), quantized
    half-up to 9 dp as int64 BEFORE ranking so both engines order
    identically (|key| <= 41.6/min_w; 1 double ulp is ~1e-7 of the
    quantum). Ties break doc_id asc. Weights clamp to >= 1.

    Returns (doc_id, weight, skey) ordered by (skey desc, doc_id asc) —
    skey is the quantized rank key (the A-ES threshold a streaming
    reservoir would maintain).

    Scale shape: one projection computes the key row-locally; the
    sample is TakeOrderedAndProject(k). No shuffle beyond the top-k.
    """
    w = F.greatest(F.col(weight_col).cast("double"), F.lit(1.0))
    h = hash_u60(F.col("doc_id"), AES_SALT)
    u = (h.cast("double") + F.lit(1.0)) / F.lit(float(TWO60))
    sq = F.floor((F.log(u) / w) * F.lit(1e9) + F.lit(0.5)).cast("long")
    return (
        docs.select(
            "doc_id",
            F.col(weight_col).cast("long").alias("weight"),
            (sq.cast("double") / F.lit(1e9)).alias("skey"),
        )
        .orderBy(F.desc("skey"), F.asc("doc_id"))
        .limit(int(k))
    )


def weighted_reservoir_sql(
    k: int = 32, weight_col: str = "n_chars", table: str = "documents"
) -> str:
    """DuckDB twin of :func:`weighted_reservoir` — same hash draw, same
    quantized ln(u)/w key, same tie-break."""
    h = _hash_u60_sql("doc_id", AES_SALT)
    return f"""
WITH keyed AS (
  SELECT doc_id, {weight_col}::BIGINT AS weight,
         floor((ln(({h}::DOUBLE + 1.0) / {float(TWO60)!r}::DOUBLE)
                / greatest({weight_col}::DOUBLE, 1.0)) * 1e9 + 0.5)::BIGINT
           AS sq
  FROM {table}
)
SELECT doc_id, weight, sq::DOUBLE / 1e9 AS skey
FROM keyed
ORDER BY skey DESC, doc_id ASC
LIMIT {int(k)}
"""


# --- DSIR importance-resampling data selection -------------------------------

DSIR_SALT = "-dsir-v1"


def _dsir_bucket(tok: Column, n_buckets: int) -> Column:
    return (hash_u60(tok, DSIR_SALT) % int(n_buckets)).cast("long")


def _dsir_bucket_sql(expr: str, n_buckets: int) -> str:
    return f"({_hash_u60_sql(expr, DSIR_SALT)} % {int(n_buckets)})"


def dsir_select(
    docs: DataFrame,
    target_lang: str = "en",
    n_buckets: int = 64,
    k: int = 50,
) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, "Data Selection for Language
    Models via Importance Resampling"): score every raw document by how
    target-domain-like it is under hashed-n-gram bag-of-words LMs —
    here unigram tokens hashed into ``n_buckets`` buckets (the paper's
    10k-bucket hashed bigrams, scaled to the fixture vocabulary):

        pt_b = (t_b + 1) / (T + B)      target counts (lang == target)
        pr_b = (r_b + 1) / (R + B)      raw counts (whole corpus)
        λ_b  = ln(pt_b) - ln(pr_b)
        logw(doc) = Σ_b c_b(doc) · λ_b

    Returns the top-``k`` (doc_id, logw) by (logw desc, doc_id asc) —
    the documents importance resampling would keep first. Determinism:
    bucket ids ride the sha256 hash discipline, λ_b derives from exact
    integer counts through per-value ``ln`` (the bm25-idf Python/DuckDB
    parity precedent), and each per-(doc, bucket) contribution is
    floor-half-up quantized to 1e-6 BEFORE the integer per-doc sum.

    Scale shape: bucket LMs are two B-row aggregates (map-side combined,
    B-bounded); per-doc scoring is one (doc, bucket) aggregation joined
    to a broadcast B-row λ table. Nothing shuffles more than (docs × B)
    rows; the paper's resampling step (Gumbel top-k over logw) rides the
    same frame.
    """
    toks = docs.select(
        "doc_id", "lang",
        F.explode(tokenize_col_dsir("text")).alias("tok"),
    ).withColumn("b", _dsir_bucket(F.col("tok"), n_buckets))
    t_rows = {
        int(r["b"]): int(r["c"])
        for r in toks.filter(F.col("lang") == target_lang)
        .groupBy("b").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    r_rows = {
        int(r["b"]): int(r["c"])
        for r in toks.groupBy("b").agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    import math

    T = sum(t_rows.values())
    R = sum(r_rows.values())
    B = int(n_buckets)
    lam = {
        b: (
            math.log((t_rows.get(b, 0) + 1.0) / (T + float(B)))
            - math.log((r_rows.get(b, 0) + 1.0) / (R + float(B)))
        )
        for b in range(B)
    }
    spark = docs.sparkSession
    lam_df = F.broadcast(
        spark.createDataFrame(sorted(lam.items()), "b long, lam double")
    )
    per = toks.groupBy("doc_id", "b").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    cq = F.floor(
        (F.col("c").cast("double") * F.col("lam")) * F.lit(1e6) + F.lit(0.5)
    ).cast("long")
    return (
        per.join(lam_df, "b")
        .withColumn("cq", cq)
        .groupBy("doc_id")
        .agg((F.sum("cq").cast("double") / F.lit(1e6)).alias("logw"))
        .orderBy(F.desc("logw"), F.asc("doc_id"))
        .limit(int(k))
    )


def tokenize_col_dsir(text_col):
    """The shared analyzer, re-exported so dsir stays tokenizer-parity
    with every other text operator."""
    from smse_backend_spark.functions.tokenizer import tokenize_col

    return tokenize_col(text_col)


def dsir_select_sql(
    target_lang: str = "en",
    n_buckets: int = 64,
    k: int = 50,
    table: str = "documents",
    content_col: str = "text",
) -> str:
    """DuckDB twin of :func:`dsir_select`: same hash buckets, same add-1
    LMs from the same integers, same ln difference, same quantized sum."""
    from smse_backend_spark.functions.tokenizer import tokenize_duckdb_sql

    toks = tokenize_duckdb_sql(content_col)
    b = _dsir_bucket_sql("tok", n_buckets)
    bb = float(n_buckets)
    return f"""
WITH tok AS (
  SELECT doc_id, lang, unnest({toks}) AS tok FROM {table}
),
tb AS (
  SELECT doc_id, lang, {b} AS b FROM tok
),
t AS (
  SELECT b, count(*)::BIGINT AS c FROM tb
  WHERE lang = '{target_lang}' GROUP BY b
),
r AS (
  SELECT b, count(*)::BIGINT AS c FROM tb GROUP BY b
),
tot AS (
  SELECT (SELECT coalesce(sum(c), 0) FROM t)::DOUBLE AS tt,
         (SELECT coalesce(sum(c), 0) FROM r)::DOUBLE AS rr
),
buckets AS (
  SELECT unnest(generate_series(0, {int(n_buckets) - 1}))::BIGINT AS b
),
lam AS (
  SELECT buckets.b,
         (ln((coalesce(t.c, 0) + 1.0) / (tot.tt + {bb!r}))
          - ln((coalesce(r.c, 0) + 1.0) / (tot.rr + {bb!r}))) AS lam
  FROM buckets
  LEFT JOIN t ON t.b = buckets.b
  LEFT JOIN r ON r.b = buckets.b
  CROSS JOIN tot
),
per AS (
  SELECT doc_id, b, count(*)::BIGINT AS c FROM tb GROUP BY doc_id, b
)
SELECT per.doc_id AS doc_id,
       (sum(floor((per.c::DOUBLE * lam.lam) * 1e6 + 0.5)::BIGINT)::DOUBLE
        / 1e6) AS logw
FROM per JOIN lam USING (b)
GROUP BY per.doc_id
ORDER BY logw DESC, doc_id ASC
LIMIT {int(k)}
"""
