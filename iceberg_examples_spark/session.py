"""SparkSession factory.

Mirrors the configuration posture of the reference's driver setup
(``Setup.java:27-44``: app name, local master, UI/eventLog off, object-store
filesystem confs) re-expressed for a modern PySpark deployment:

- AQE on (runtime re-planning, partition coalescing, skew-join splitting) —
  essential at the 100 TB design point where static plans misestimate.
- ``spark.sql.shuffle.partitions`` sized to the local core count for tests;
  on a real cluster this is overridden to ~2-3x total cores (or left to AQE
  coalescing from a high initial value).
- Session timezone pinned to UTC so results are comparable across engines
  (DuckDB oracle) and clusters.
- Arrow enabled for any pandas interchange (vectorized, not per-row pickle).

S3A credentials/endpoint (the reference's MinIO confs, ``Setup.java:31-36``)
are exposed as an optional dict — configuration, not code: the same engine
runs against local FS in tests and s3a:// in production.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        return int(cpus)
    return os.cpu_count() or 4


def get_spark(
    app_name: str = "iceberg-examples-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    s3a: dict[str, str] | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard confs.

    ``s3a``: optional mapping with keys ``access_key``, ``secret_key``,
    ``endpoint``, ``path_style`` — the reference's object-store surface
    (``Setup.java:31-36``) as pure configuration.
    """
    # Python workers import this package by name, and they inherit the
    # JVM's environment, not the driver's sys.path: put the package root
    # on PYTHONPATH before the JVM launches so workers find it from any
    # working directory (no effect once a JVM is already running)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = os.environ.get("PYTHONPATH", "")
    if root not in paths.split(os.pathsep):
        os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (root, paths) if p)
    n = _default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{n}]")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "false")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # testdata events.ts is parquet TIMESTAMP(NANOS): read as long ns,
        # converted to a µs timestamp in catalog.load_table (matching
        # DuckDB's silent ns→µs truncation)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if s3a:
        builder = (
            builder.config("spark.hadoop.fs.s3a.access.key", s3a.get("access_key", ""))
            .config("spark.hadoop.fs.s3a.secret.key", s3a.get("secret_key", ""))
            .config("spark.hadoop.fs.s3a.endpoint", s3a.get("endpoint", ""))
            .config(
                "spark.hadoop.fs.s3a.path.style.access",
                s3a.get("path_style", "true"),
            )
            .config("spark.hadoop.fs.s3a.impl", "org.apache.hadoop.fs.s3a.S3AFileSystem")
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
