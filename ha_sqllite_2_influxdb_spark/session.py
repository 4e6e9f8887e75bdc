"""SparkSession construction and session-level engine configuration.

The reference validates env config up front and exits on missing values
(sqllite2influxdb.py:19-29); we fail fast at session build the same way.
Several confs are *required* for correctness against the driver's data and
the DuckDB oracle:

- ``spark.sql.legacy.parquet.nanosAsLong``: the driver's ``events.parquet``
  has shipped as TIMESTAMP(NANOS), which Spark 4 rejects by default; the
  conf makes it readable as long, and the loader ns→µs truncates like
  DuckDB. Harmless when the data is micros.
- ``spark.sql.parquet.inferTimestampNTZ.enabled=false``: the same data has
  also shipped as micros WITHOUT the UTC-adjusted flag, which Spark 4
  infers as TIMESTAMP_NTZ — a type ``unix_micros`` et al. reject. Reading
  it as TIMESTAMP under the UTC session tz keeps epoch math
  DuckDB-identical.
- ``spark.sql.session.timeZone=UTC``: the reference uses local-time
  ``datetime.fromtimestamp`` (sqllite2influxdb.py:116); we pin UTC so epoch
  math is deterministic across engines.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs that are safe (and necessary) to set on an externally-owned session.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # The driver's parquet stores timestamps without the UTC-adjusted flag;
    # Spark 4 infers those as TIMESTAMP_NTZ, which epoch functions
    # (unix_micros & co) reject. Read them as TIMESTAMP (session tz = UTC)
    # so epoch math matches DuckDB's naive-as-UTC reading exactly.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # InferFiltersFromGenerate synthesizes `size(e) > 0 AND e IS NOT
    # NULL` under every explode and pushes it below the projections with
    # the alias SUBSTITUTED, so the generator's input expression — for
    # this engine, regexp shingling / word-hash arrays / bucket
    # sequences — is re-evaluated up to twice more per input row. Our
    # generator inputs are never empty (shinglers fall back to [text],
    # downsample sequences span >= 1 bucket), so the inferred filter
    # prunes nothing and only burns CPU: measured 29 s -> 1 s on the
    # DSIR fit pass and ~3x on shingle explodes at sf0.1. Runtime-
    # settable, so it applies on driver-owned bare sessions too.
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
}


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to a session we did not build (driver-owned)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf may be static on some builds; loader still works
    return spark


def _usable_cores() -> int:
    """Cores this process may run on (its CPU affinity where the platform
    reports one), not the machine's count."""
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def get_spark(app_name: str = "ha_sqllite_2_influxdb_spark",
              cpus: int | None = None) -> SparkSession:
    """Build a local session sized for this host: ``cpus`` cores, else
    ``SPARK_GRAFT_CPUS``, else every core this process may run on.

    At cluster scale the same confs apply; only master/shuffle-partitions
    change (shuffle partitions ≈ 2-3× total cores, AQE coalesces down).
    """
    if cpus is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        cpus = int(env) if env else _usable_cores()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return configure(spark)
