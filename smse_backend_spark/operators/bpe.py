"""Distributed BPE tokenizer-training round (Sennrich 2016 inner loop,
GPT-2 flavor: symbols within regex-split words, no end-of-word marker).

Training a BPE vocabulary over a 100 TB corpus is a sequence of merge
rounds, each of which is ONE distributed pair-count aggregation plus a
row-local rewrite — exactly the shape this module implements. The
sequential dependency between rounds is the algorithm's own (each merge
depends on the counts after the previous one), so the driver holding the
current merge table (vocab-sized, bytes) while Spark folds the
corpus-sized counts is the honest decomposition — this is how real
distributed BPE trainers (e.g. the Hadoop/Spark ports of
subword-nmt) are built.

The one-round form here is exactly replayable in SQL: round-1 symbols
are single characters, so applying the winning merge is a plain
left-to-right non-overlapping string replace (the same greedy order BPE
uses), with one sentinel character (chr(1), absent from the tokenized
corpus by construction — tokens are [a-z0-9]+) standing for the merged
symbol. Reference analog: the reference has no tokenizer training; this
extends the engine's curation suite (SURVEY §2.10).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from smse_backend_spark.session import local_frame

SENTINEL = "\x01"


def _pair_counts(words: DataFrame, word_col: str = "word"):
    """Adjacent-symbol pair counts weighted by word occurrence counts:
    explode position indexes 1..len-1, substring out (a, b), one
    map-side-combined sum. Symbols are single chars (round 1) or the
    sentinel (post-merge)."""
    return (
        words.select(
            F.col("n"),
            F.explode(
                F.expr(
                    f"transform(sequence(1, length({word_col}) - 1), "
                    f"i -> struct(substring({word_col}, i, 1) AS a, "
                    f"substring({word_col}, i + 1, 1) AS b))"
                )
            ).alias("p"),
        )
        .select("n", "p.a", "p.b")
        .groupBy("a", "b")
        .agg(F.sum("n").cast("long").alias("cnt"))
    )


def bpe_merge_step(docs: DataFrame, top_pairs: int = 5) -> DataFrame:
    """One BPE merge round over the tokenized corpus: count adjacent
    character pairs (weighted by token occurrences), pick the winning
    pair (cnt desc, a asc, b asc — the deterministic tie policy real
    trainers fix for reproducible vocabularies), apply the merge
    corpus-wide, and report the top-``top_pairs`` pair counts BEFORE and
    AFTER. Output (phase, left, right, cnt, rank); after-phase symbols
    involving the merge show the merged string (e.g. 'ab').

    Scale shape: token occurrences fold into a words frame (vocab-sized)
    FIRST, so both pair counts and the rewrite run over distinct words
    weighted by count — corpus text is read once; everything after the
    first agg is vocabulary-sized. The winner is a 1-row driver collect
    (the algorithm's own sequential dependency). The merge rewrite is a
    row-local string replace, identical to the SQL twin's semantics
    (left-to-right non-overlapping — BPE's greedy order).
    """
    from smse_backend_spark.functions.tokenizer import tokenize_col

    words = (
        docs.select(F.explode(tokenize_col(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    words = words.cache()
    before = _pair_counts(words)
    top = before.orderBy(
        F.desc("cnt"), F.asc("a"), F.asc("b")
    ).limit(1).collect()
    if not top:
        return local_frame(
            docs.sparkSession,
            "phase string, left string, right string, cnt long, rank long",
        )
    ba, bb = top[0]["a"], top[0]["b"]
    merged = ba + bb
    after_words = words.select(
        F.expr(
            "replace(word, '" + merged + "', '" + SENTINEL + "')"
        ).alias("word"),
        "n",
    )
    after = _pair_counts(after_words)
    sent = F.lit(SENTINEL)
    lab = lambda c: F.when(F.col(c) == sent, F.lit(merged)).otherwise(F.col(c))
    out_b = before.select(
        F.lit("before").alias("phase"), F.col("a").alias("left"),
        F.col("b").alias("right"), "cnt",
    )
    out_a = after.select(
        F.lit("after").alias("phase"), lab("a").alias("left"),
        lab("b").alias("right"), "cnt",
    )
    from pyspark.sql import Window

    w = Window.partitionBy("phase").orderBy(
        F.desc("cnt"), F.asc("left"), F.asc("right")
    )
    return (
        out_b.unionByName(out_a)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= top_pairs)
        .select("phase", "left", "right", "cnt", "rank")
        .orderBy("phase", "rank")
    )


def bpe_merge_step_sql(top_pairs: int = 5, table: str = "documents",
                       content_col: str = "text") -> str:
    """DuckDB twin of :func:`bpe_merge_step` — same weighted pair counts
    over generate_series substrings, same (cnt desc, a asc, b asc)
    winner, same replace-with-sentinel merge application."""
    from smse_backend_spark.functions.tokenizer import tokenize_duckdb_sql

    toks = tokenize_duckdb_sql(content_col)
    return f"""
WITH words AS (
  SELECT word, count(*)::BIGINT AS n
  FROM (SELECT unnest({toks}) AS word FROM {table})
  GROUP BY word
),
before_pairs AS (
  SELECT substring(word, i, 1) AS a, substring(word, i + 1, 1) AS b,
         sum(n)::BIGINT AS cnt
  FROM (SELECT word, n, unnest(generate_series(1, length(word) - 1)) AS i
        FROM words)
  GROUP BY 1, 2
),
best AS (
  SELECT a, b, a || b AS merged FROM before_pairs
  ORDER BY cnt DESC, a ASC, b ASC LIMIT 1
),
after_words AS (
  SELECT replace(word, best.merged, chr(1)) AS word, n
  FROM words CROSS JOIN best
),
after_pairs AS (
  SELECT substring(word, i, 1) AS a, substring(word, i + 1, 1) AS b,
         sum(n)::BIGINT AS cnt
  FROM (SELECT word, n, unnest(generate_series(1, length(word) - 1)) AS i
        FROM after_words)
  GROUP BY 1, 2
),
together AS (
  SELECT 'before' AS phase, a AS left_s, b AS right_s, cnt
  FROM before_pairs
  UNION ALL
  SELECT 'after' AS phase,
         CASE WHEN a = chr(1) THEN (SELECT merged FROM best) ELSE a END,
         CASE WHEN b = chr(1) THEN (SELECT merged FROM best) ELSE b END,
         cnt
  FROM after_pairs
),
ranked AS (
  SELECT phase, left_s, right_s, cnt,
         row_number() OVER (PARTITION BY phase
                            ORDER BY cnt DESC, left_s ASC, right_s ASC)
           AS rank
  FROM together
)
SELECT phase, left_s AS "left", right_s AS "right", cnt, rank
FROM ranked WHERE rank <= {int(top_pairs)}
ORDER BY phase, rank
"""
