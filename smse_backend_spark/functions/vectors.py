"""Vector similarity primitives — the reference's pgvector search core as
Column algebra.

Reference semantics re-expressed:
- cosine similarity ``1 - (vector <=> q)`` (pgvector cosine distance,
  smse_backend/services/search.py:101,107) — exact, no ANN index exists in
  the reference (no ivfflat/hnsw in any migration).
- modality threshold matrix (services/search.py:9-25) — asymmetric 3x3
  gating applied AFTER scoring.
- multipart fusion: element-wise mean + most-common-modality with
  first-seen tie-break (services/embedding.py:56-94).

All array math is Column-native (``zip_with``/``aggregate`` — JVM codegen,
no Python). For 1024-dim vectors at cluster scale a Pandas-UDF + numpy
matmul variant wins on constant factors; both are provided and tested equal.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# smse_backend/services/search.py:9-25 (verbatim values)
MODALITY_THRESHOLDS = {
    "text": {"text": 0.36, "image": 0.2, "audio": 0.165},
    "image": {"text": 0.2, "image": 0.5, "audio": 0.15},
    "audio": {"text": 0.165, "image": 0.15, "audio": 0.5},
}


def dot_col(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_col(a: Column) -> Column:
    return F.sqrt(dot_col(a, a))


def cosine_col(a: Column, b: Column) -> Column:
    """Cosine similarity (== pgvector's ``1 - (a <=> b)``)."""
    return dot_col(a, b) / (norm_col(a) * norm_col(b))
