"""Tombstone deletes for the inverted index.

Reference behavior being re-expressed: DELETE /contents/<id> removes the
row and its blob, and search must stop returning the document
(smse_backend/routes/content.py:232-255 — the pgvector scan simply no
longer sees the row). An inverted index can't cheaply rewrite posting
lists per delete, so this takes the Iceberg-position-delete /
Lucene-liveDocs shape:

- a delete commit writes a tiny ``doc_id``-only parquet under
  ``<index>/tombstones/commit=<n>/`` and then a lineage JSON — the same
  data-first/manifest-last commit protocol as index batches, so a crashed
  delete is simply uncommitted;
- queries drop tombstoned docs at posting-decode time. Global BM25 stats
  (df, n_docs, avgdl) intentionally still count soft-deleted docs —
  Lucene's exact semantics between merges — so survivor scores are
  unchanged by a delete;
- ``build.compact_index`` applies tombstones physically (drops the
  postings and docstats rows, re-derives exact global stats), after which
  the compacted index carries no tombstones.

Scale: a tombstone is 8 bytes. Up to ``InvertedIndex.TOMB_ARRAY_CAP``
ids, the query path reads them on the driver into ONE sorted numpy array
(a ``searchsorted`` filter — zero extra shuffle): the in-process path
applies it directly, and it is broadcast when a Spark kernel runs. Beyond that the decode
paths fall back to a distributed left-anti join, and the intended
lifecycle is to compact: as in Lucene, a deleted fraction beyond a few
percent is merge time.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from smse_backend_spark.session import local_frame

TOMB_DIR = "tombstones"
_PREFIX = "tombstone_"


def _lineage_dir(index_dir: str) -> str:
    return os.path.join(index_dir, "lineage")


def committed_deletes(index_dir: str) -> list[int]:
    d = _lineage_dir(index_dir)
    if not os.path.isdir(d):
        return []
    out = []
    for name in os.listdir(d):
        if name.startswith(_PREFIX) and name.endswith(".json"):
            out.append(int(name[len(_PREFIX):-len(".json")]))
    return sorted(out)


def _read_commit_rows(index_dir: str) -> list[dict]:
    d = _lineage_dir(index_dir)
    rows = []
    for n in committed_deletes(index_dir):
        with open(os.path.join(d, f"{_PREFIX}{n}.json")) as f:
            rows.append(json.load(f))
    return rows


def delete_docs(spark: SparkSession, index_dir: str, doc_ids) -> dict:
    """Commit a tombstone set. ``doc_ids``: a DataFrame with a ``doc_id``
    column (the scale path — e.g. the ids of a dedup survivor view's
    losers), or an iterable of ints for point deletes."""
    if not isinstance(doc_ids, DataFrame):
        # an Arrow-backed local frame: a list would go through a Python
        # RDD, whose first use in a session costs ~1 s of worker start-up
        doc_ids = local_frame(spark, "doc_id long", pa.table(
            {"doc_id": pa.array([int(i) for i in doc_ids], pa.int64())}
        ))
    n = (committed_deletes(index_dir) or [-1])[-1] + 1
    path = f"{index_dir}/{TOMB_DIR}/commit={n}"
    from pyspark.sql import Observation

    obs = Observation(f"tomb_{n}")
    (
        doc_ids.select(F.col("doc_id").cast("long").alias("doc_id"))
        .distinct()
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .write.mode("overwrite")
        .parquet(path)
    )
    row = {"commit": n, "n_deleted": int(obs.get["n"])}
    d = _lineage_dir(index_dir)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".{_PREFIX}{n}.json.tmp")
    with open(tmp, "w") as f:
        json.dump(row, f, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(d, f"{_PREFIX}{n}.json"))
    return row


def tombstone_count(index_dir: str) -> int:
    """Committed tombstone rows (upper bound — cross-commit dupes count)."""
    return sum(r["n_deleted"] for r in _read_commit_rows(index_dir))


def read_tombstones(spark: SparkSession, index_dir: str) -> DataFrame | None:
    """Distinct committed tombstone ids as a DataFrame; None if no deletes.
    Only COMMITTED commits are read — a half-written commit dir without its
    lineage JSON is invisible, like an uncommitted index batch."""
    commits = committed_deletes(index_dir)
    if not commits:
        return None
    paths = [f"{index_dir}/{TOMB_DIR}/commit={n}" for n in commits]
    return spark.read.parquet(*paths).select("doc_id").distinct()


def tombstone_array(
    spark: SparkSession, index_dir: str, cap: int
) -> np.ndarray | None:
    """Sorted unique tombstone ids for in-kernel filtering, or None when
    there are no deletes OR the set exceeds ``cap`` (caller must then use
    the join path / compact). The committed ``commit=`` dirs are read on
    the driver with pyarrow — no Spark job (``spark`` is unused; it keeps
    the signature of the other readers here)."""
    commits = committed_deletes(index_dir)
    if not commits or tombstone_count(index_dir) > cap:
        return None
    tables = [pq.read_table(f"{index_dir}/{TOMB_DIR}/commit={n}") for n in commits]
    ids = [t.column("doc_id").to_numpy() for t in tables if t.num_rows]
    if not ids:
        return np.empty(0, dtype=np.int64)
    return np.unique(np.concatenate(ids).astype(np.int64))


def replace_docs(
    spark: SparkSession,
    index_dir: str,
    new_docs: DataFrame,
    old_doc_ids,
    snapshot_id: str | None = None,
) -> dict:
    """Update = delete + append, the LSM/Lucene way (posting lists are
    immutable): tombstone the superseded versions and index the new ones
    as a fresh batch. ``new_docs`` rows are ``(doc_id, lang, content)``
    with doc_ids ABOVE the indexed frontier (a re-crawled file gets a new
    doc_id; the old id is tombstoned — the reference's update flow is
    likewise delete-then-reinsert, content row + embedding row replaced).

    Order matters for crash-safety: the tombstone commits FIRST, so a
    crash between the two steps leaves a valid index that simply misses
    the new versions (rerun to finish); the reverse order could surface
    both versions of a doc.
    """
    from smse_backend_spark.index.build import extend_index

    delete_docs(spark, index_dir, old_doc_ids)
    return extend_index(spark, new_docs, index_dir, snapshot_id=snapshot_id)


def live_mask(tomb: np.ndarray, doc_ids: np.ndarray) -> np.ndarray:
    """Boolean mask of doc_ids NOT in the sorted tombstone array."""
    if tomb.size == 0:
        return np.ones(doc_ids.size, dtype=bool)
    ix = np.searchsorted(tomb, doc_ids)
    ix_c = np.minimum(ix, tomb.size - 1)
    return (ix == tomb.size) | (tomb[ix_c] != doc_ids)
