"""CLI entry: the reference script's invocation surface on Spark.

``python -m ha_sqllite_2_influxdb_spark`` is the drop-in analog of
``python sqllite2influxdb.py`` (reference main(), sqllite2influxdb.py:
163-199): read env config (fail fast, :19-29), scan the recorder SQLite
file, transform states→points, render line protocol, and write to the
InfluxDB v2 HTTP endpoint in BATCH_SIZE batches (DEBUG_MODE = per-point
error isolation, :148-153).

Differences by design (all Spark-first):
- the scan is a partitioned read, not one cursor, with rowid ranges
  sized like Spark file splits: a small recorder DB is one range, a
  large one several;
- rendering/transform are Catalyst column expressions, not per-row
  Python;
- one task per rowid range scans, transforms, sorts and writes, with
  no shuffle: each scan partition is sorted on event time and written
  by its own writer, preserving the reference's oldest-first ordering
  PER WRITER (ORDER BY, :89-90) without a global sort;
- an unreadable SQLITE_DB fails before the Spark session starts, and
  DEBUG_MODE per-point write failures make the exit status 1 (the
  reference logs them and exits 0);
- the incremental boundary comes from the reference's own probe — a
  Flux oldest-point query against the sink (:54-69, here a stdlib POST
  to /api/v2/query) — unless ``BOUNDARY_TS`` (finite epoch seconds)
  overrides it, for write-only tokens or air-gapped runs. An empty or
  unreachable sink means full migration, exactly the reference's cold
  start.

Extra env (beyond the reference's contract): ``SINK_PATH`` writes
line-protocol files instead of HTTP (set INFLUXDB_URL to any value);
``SPARK_GRAFT_CPUS`` sizes the local session (default: the cores this
process may run on).
"""

from __future__ import annotations

import math
import os
import sqlite3
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def migration_lines(spark: SparkSession, db_path: str,
                    boundary_ts: float | None = None) -> DataFrame:
    """The migration's line protocol, one writer per rowid range (ranges
    sized like Spark file splits over the DB's bytes): each
    scan partition is sorted on event time and rendered in place, so a
    writer sends its points oldest-first (reference ORDER BY, :89-90)
    and nothing is shuffled between the scan and the write."""
    from .sinks.influx import line_protocol
    from .sources.sqlite import migration_points

    ordered = migration_points(
        spark, db_path, boundary_ts=boundary_ts
    ).sortWithinPartitions("ts_epoch")
    return line_protocol(ordered, raw_state=F.col("state_raw"))


def main(env=None) -> int:
    from .config import ConfigError, EtlConfig
    from .session import get_spark
    from .sinks.influx import probe_oldest_ts, write_lines
    from .sources.sqlite import table_schema

    env = os.environ if env is None else env
    try:
        cfg = EtlConfig.from_env(env)
    except ConfigError as e:
        print(f"Configuration error: {e}", file=sys.stderr)
        return 1
    # the reference connects to SQLite first (:165 → :33-42); checking
    # here spares an unreadable DB the session launch
    try:
        table_schema(cfg.sqlite_db, "states")
    except (sqlite3.Error, ValueError) as e:
        print(f"Error connecting to SQLite: {e}", file=sys.stderr)
        return 1

    sink_path = env.get("SINK_PATH")
    boundary = None
    if env.get("BOUNDARY_TS"):
        try:
            boundary = float(env["BOUNDARY_TS"])
        except ValueError:
            boundary = math.nan
        # SQLite binds NaN as NULL (matches nothing) and inf would
        # silently mean "migrate everything"
        if not math.isfinite(boundary):
            print("Configuration error: BOUNDARY_TS must be a finite "
                  "float epoch", file=sys.stderr)
            return 1
    elif not sink_path:
        # the reference's incremental probe (:54-69): oldest sink point
        # bounds the migration; None (empty/unreachable) = migrate all
        boundary = probe_oldest_ts(
            cfg.influxdb_url, token=cfg.influxdb_token,
            org=cfg.influxdb_org, bucket=cfg.influxdb_bucket,
        )
        print(f"Oldest InfluxDB timestamp: {boundary}")  # reference :170

    # get_spark → getOrCreate: when a session already exists (embedded
    # use, tests) we must not stop it on the way out
    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark("ha_sqllite_2_influxdb")
    try:
        lines = migration_lines(spark, cfg.sqlite_db, boundary_ts=boundary)
        if sink_path:
            failed = write_lines(lines, path=sink_path,
                                 batch_size=cfg.batch_size,
                                 debug=cfg.debug_mode)
        else:
            failed = write_lines(
                lines, url=cfg.influxdb_url, token=cfg.influxdb_token,
                org=cfg.influxdb_org, bucket=cfg.influxdb_bucket,
                batch_size=cfg.batch_size, debug=cfg.debug_mode,
            )
        if failed:
            print(f"{failed} points failed", file=sys.stderr)
            return 1
        print("Data export complete.")  # reference's final log line (:199)
        return 0
    finally:
        if owns_session:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
