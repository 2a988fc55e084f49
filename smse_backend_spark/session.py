"""SparkSession factory with scale-appropriate defaults.

Local mode is a correctness sandbox for a multi-executor deployment: every
config here is chosen to behave identically on a 1000-executor cluster
(AQE, Arrow, UTC session TZ for oracle parity, shuffle partitions ~ cores).
"""

from __future__ import annotations

import os
import zipfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_PYFILES_SENT: set[int] = set()


def ensure_pyfiles(spark: SparkSession) -> None:
    """Ship this package to Python workers (the ``--py-files`` contract).

    Module-level pandas-UDF kernels are pickled by reference, so executors
    must be able to import ``smse_backend_spark``. Under ``spark-submit
    --py-files smse_backend_spark.zip`` this is automatic; when embedded
    (driver harness, notebooks) we zip the package once per session and
    ``addPyFile`` it. Idempotent and cheap (~100 KB zip).
    """
    key = id(spark.sparkContext)
    if key in _PYFILES_SENT:
        return
    pkg_dir = Path(__file__).resolve().parent
    zip_path = Path(os.environ.get("TMPDIR", "/tmp")) / f"smse_backend_spark_{os.getpid()}.zip"
    if not zip_path.exists():
        with zipfile.ZipFile(zip_path, "w") as zf:
            for p in sorted(pkg_dir.rglob("*.py")):
                zf.write(p, arcname=str(Path(pkg_dir.name) / p.relative_to(pkg_dir)))
    spark.sparkContext.addPyFile(str(zip_path))
    _PYFILES_SENT.add(key)


def object_store_conf(
    endpoint: str | None = None,
    path_style_access: bool = True,
) -> dict[str, str]:
    """Spark conf for running the engine against an ``s3a://`` object store
    (SURVEY S5 — the reference's S3 backend,
    smse_backend/services/file_storage.py:220-431, becomes pure config here:
    every reader/writer in this package goes through ``spark.read``/
    ``writeStream`` and hence Hadoop FileSystem URI resolution, so only the
    filesystem needs configuring, never the operators).

    Pass the result as ``get_spark(extra_conf=object_store_conf(...))``.
    Deploy-time requirement (not bundled in this sandbox, hence not
    integration-tested here): the hadoop-aws + bundle jars, e.g.
    ``spark-submit --packages org.apache.hadoop:hadoop-aws:<hadoop ver>``.

    - Committer: the S3A "magic" committer — object stores have no atomic
      rename, so the default FileOutputCommitter's rename-based commit is
      both O(data) and unsafe; magic commits via multipart-upload
      completion.
    - Credentials: left to the default S3A provider chain (env vars,
      instance profile) — no secrets in code or conf files.
    - ``endpoint`` + path-style access support MinIO-style local stubs.
    """
    conf = {
        "spark.hadoop.fs.s3a.committer.name": "magic",
        "spark.hadoop.fs.s3a.committer.magic.enabled": "true",
        "spark.sql.sources.commitProtocolClass":
            "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol",
        "spark.sql.parquet.output.committer.class":
            "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter",
        # many small objects (postings segments, media blobs): widen the
        # connection pool and keep uploads buffered in memory
        "spark.hadoop.fs.s3a.connection.maximum": "96",
        "spark.hadoop.fs.s3a.fast.upload": "true",
        "spark.hadoop.fs.s3a.directory.marker.retention": "keep",
    }
    if endpoint is not None:
        conf["spark.hadoop.fs.s3a.endpoint"] = endpoint
        conf["spark.hadoop.fs.s3a.path.style.access"] = (
            "true" if path_style_access else "false"
        )
    return conf


def apply_object_store_conf(
    spark: SparkSession,
    endpoint: str | None = None,
    path_style_access: bool = True,
) -> None:
    """Apply the ``fs.s3a.*`` half of :func:`object_store_conf` to a LIVE
    session — Hadoop configuration is mutable at runtime, so an already-
    running engine can be pointed at an object store without a JVM
    restart (the ``spark.sql.*`` committer keys are session-build-time
    only and still need :func:`get_spark(extra_conf=...)`). Used by the
    S5 integration test, which runs a moto S3 server and auto-activates
    when the hadoop-aws jars are present."""
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    for k, v in object_store_conf(endpoint, path_style_access).items():
        if k.startswith("spark.hadoop."):
            hconf.set(k[len("spark.hadoop."):], v)


def s3a_filesystem_available(spark: SparkSession) -> bool:
    """True when the hadoop-aws jars (S3AFileSystem) are on the JVM
    classpath — absent from the stock ``spark-<v>-bin-hadoop3`` image, so
    live s3a tests gate on this instead of failing."""
    try:
        spark.sparkContext._jvm.java.lang.Class.forName(
            "org.apache.hadoop.fs.s3a.S3AFileSystem"
        )
        return True
    except Exception:
        return False


def get_spark(
    app_name: str = "smse_backend_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    # parse thread count out of local[N] for shuffle sizing
    if shuffle_partitions is None:
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else str(cpus)
        shuffle_partitions = cpus if inner == "*" else int(inner)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # local corpora are GBs, not TBs: default 128m file bins would fold
        # the whole scan into a handful of partitions and serialize every
        # downstream UDF stage; 8m keeps scans as wide as the core count
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get("SMSE_MAX_PARTITION_BYTES", "8m"))
        .config("spark.sql.files.openCostInBytes", "1m")
        .config("spark.ui.enabled", "false")
        # single-node sandbox: shuffle/spill on tmpfs — one virtio disk would
        # serialize all N task threads' shuffle IO (a real cluster spreads
        # shuffle across per-node disks); overridable via SPARK_LOCAL_DIRS
        .config("spark.local.dir", os.environ.get("SPARK_LOCAL_DIRS", "/dev/shm/spark-local"))
        # local mode: the driver heap IS the executor memory for all task
        # threads — size it to the host, not the JVM default (1g would
        # spill every wide stage at 32 threads)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, schema, table=None) -> DataFrame:
    """A driver-local DataFrame over an Arrow ``table`` (empty when None).

    Built from Arrow, the frame is a local relation: collecting it runs no
    Spark job. ``createDataFrame([], schema)`` (and an empty pandas frame)
    goes through a parallelized RDD instead and costs one job. ``schema``
    is a ``StructType`` or a DDL string; the frame keeps it exactly.
    """
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType, _parse_datatype_string

    if not isinstance(schema, StructType):
        schema = _parse_datatype_string(schema)
    if table is None:
        table = to_arrow_schema(schema).empty_table()
    return spark.createDataFrame(table, schema)
