"""Partitioned SQLite source — the reference's actual input connector.

The reference opens the HA recorder database with ``sqlite3.connect`` and
streams one cursor in ``fetchmany(BATCH_SIZE)`` slabs on a single thread
(``connect_to_sqlite``, sqllite2influxdb.py:33-42; the batch loop,
:183-188). This module maps that role onto Spark's source model without
needing a JDBC driver jar:

- the DRIVER opens the file once for metadata only — ``PRAGMA
  table_info`` for the schema, ``min(rowid)/max(rowid)`` for partition
  bounds (both O(1) B-tree lookups);
- the EXECUTORS each open their own read-only connection and scan one
  rowid range via ``mapInPandas`` over ``spark.range(0, n, 1, n)`` —
  task ``i`` derives range ``i`` from its id, so there is one range per
  partition and no shuffle. This is exactly the shape of
  ``spark.read.jdbc(partitionColumn=..., lowerBound=..., upperBound=...,
  numPartitions=...)``, built from the Python stdlib.

The range count ``n`` is sized the way Spark sizes file splits
(``FilePartition.maxSplitBytes``), over the DB file's bytes: a small
recorder DB is one range, and a large one splits into ranges of at most
``spark.sql.files.maxPartitionBytes``. Each Python task has a fixed
cost that does not depend on its row count, so a range per core would
pay that cost several times over for a file one task reads in
milliseconds.

Pushdown: ``columns`` prunes the SELECT list and ``predicate`` — a TYPED
``(column, op, value)`` triple, never raw SQL — lands in the per-range
WHERE clause with the value bound as a ``?`` parameter, so filtering
happens inside SQLite's scan. The reference instead splices its boundary
predicate into the query string (sqllite2influxdb.py:88-89) — the
injection-unsafe pattern SURVEY §3.3 flags — and compares TEXT-vs-REAL
(the bug documented in SURVEY §2.2); the typed triple closes both.

At 100 TB the single-file SQLite source is itself the bottleneck (one
file, one host) — the design point of this connector is correct *shape*:
metadata-only driver work, executor-side range scans, no driver
collect. A fleet of recorder files parallelizes across both files and
ranges with the same code.
"""

from __future__ import annotations

import sqlite3
from collections.abc import Iterator
from contextlib import closing

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: SQLite column affinity → Spark type (SQLite stores dynamically; the
#: declared affinity is the engine-portable contract, same rules SQLite
#: itself applies: https://www.sqlite.org/datatype3.html §3.1)
_AFFINITY_RULES = [
    ("INT", LongType()),
    ("CHAR", StringType()),
    ("CLOB", StringType()),
    ("TEXT", StringType()),
    ("BLOB", BinaryType()),
    ("REAL", DoubleType()),
    ("FLOA", DoubleType()),
    ("DOUB", DoubleType()),
]


def _affinity_to_spark(decl: str):
    d = (decl or "").upper()
    for token, t in _AFFINITY_RULES:
        if token in d:
            return t
    # NUMERIC affinity / no declared type: SQLite would store anything;
    # surface as string (lossless) and let the caller cast
    return StringType()


#: predicate ops accepted by ``read_table`` — simple comparisons only
_ALLOWED_OPS = frozenset({"<", "<=", ">", ">=", "=", "!=", "<>"})

#: a (column, op, value) comparison pushed into the SQLite scan
Predicate = tuple[str, str, object]


def _compile_predicate(
    predicate: Predicate | None, valid_columns: set[str]
) -> tuple[str, list]:
    """Validate a typed predicate → (SQL fragment with ``?``, params).

    Raw SQL strings are rejected outright: the column must exist in the
    table, the operator must be a simple comparison, and the value is
    bound as a parameter — nothing caller-controlled is ever spliced
    into the statement text.
    """
    if predicate is None:
        return "", []
    if isinstance(predicate, str):
        raise TypeError(
            "predicate must be a (column, op, value) tuple, not raw SQL"
        )
    col, op, val = predicate
    if col not in valid_columns:
        raise ValueError(f"predicate column not in table: {col!r}")
    if op not in _ALLOWED_OPS:
        raise ValueError(f"predicate op not allowed: {op!r}")
    if not isinstance(val, (int, float, str, bytes)) or isinstance(val, bool):
        raise TypeError(f"predicate value must be a scalar, got {type(val)}")
    return f'"{col}" {op} ?', [val]


def table_schema(db_path: str, table: str) -> StructType:
    """Spark schema for a SQLite table from its declared column types."""
    with sqlite3.connect(f"file:{db_path}?mode=ro", uri=True) as conn:
        info = conn.execute(f'PRAGMA table_info("{table}")').fetchall()
    if not info:
        raise ValueError(f"sqlite table not found: {table}")
    return StructType([
        StructField(name, _affinity_to_spark(decl), True)
        for (_cid, name, decl, _nn, _dflt, _pk) in info
    ])


def _split_count(spark: SparkSession, db_path: str) -> int:
    """Ranges for a scan of ``db_path``: Spark's file-split rule
    (``FilePartition.maxSplitBytes``) applied to the DB's bytes,
    ``split = min(maxPartitionBytes, max(openCostInBytes, bytes /
    minPartitionNum))`` and ``ceil(bytes / split)`` ranges.

    ``page_count * page_size`` is the file's size, an upper bound on any
    one table's bytes, so the estimate errs toward more ranges.
    """
    with closing(sqlite3.connect(f"file:{db_path}?mode=ro",
                                 uri=True)) as conn:
        (pages,) = conn.execute("PRAGMA page_count").fetchone()
        (page_size,) = conn.execute("PRAGMA page_size").fetchone()
    nbytes = pages * page_size
    conf = spark._jsparkSession.sessionState().conf()
    min_parts = conf.filesMinPartitionNum()
    min_parts = (min_parts.get() if min_parts.isDefined()
                 else spark.sparkContext.defaultParallelism)
    split = min(conf.filesMaxPartitionBytes(),
                max(conf.filesOpenCostInBytes(), nbytes // min_parts))
    return -(-nbytes // split)


def read_table(
    spark: SparkSession,
    db_path: str,
    table: str,
    columns: list[str] | None = None,
    predicate: Predicate | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Partitioned scan of one SQLite table.

    ``num_partitions`` defaults to ranges sized like Spark file splits
    over the DB's bytes (``_split_count``), capped by the rowid span.
    Ranges split ``rowid`` evenly, one range per partition: partition
    ``i`` of ``spark.range(0, n, 1, n)`` scans ``[lo + i*step,
    min(lo + (i+1)*step - 1, hi)]``, so every reader gets one range and
    no exchange precedes the scan. For an HA recorder DB rowid order is
    insert order, which correlates with ``last_updated_ts``, so each
    partition is also a rough time slice: the migration sorts within
    it and writes it as one oldest-first writer, with no shuffle.
    """
    full = table_schema(db_path, table)
    if columns is None:
        columns = [f.name for f in full.fields]
    unknown = set(columns) - {f.name for f in full.fields}
    if unknown:
        raise ValueError(f"columns not in table: {sorted(unknown)}")
    schema = StructType([f for f in full.fields if f.name in set(columns)])
    if num_partitions is None:
        num_partitions = _split_count(spark, db_path)
    frag, params = _compile_predicate(
        predicate, {f.name for f in full.fields}
    )

    with sqlite3.connect(f"file:{db_path}?mode=ro", uri=True) as conn:
        where = f" WHERE {frag}" if frag else ""
        lo_hi = conn.execute(
            f'SELECT min(rowid), max(rowid) FROM "{table}"{where}', params
        ).fetchone()
    if lo_hi is None or lo_hi[0] is None:
        return spark.createDataFrame([], schema)
    lo, hi = lo_hi
    n = min(num_partitions, hi - lo + 1)
    step = (hi - lo + 1 + n - 1) // n

    sel = ", ".join(f'"{c}"' for c in columns)
    pred = f" AND ({frag})" if frag else ""
    names = list(columns)

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # each partition holds one range index i; the range itself is
        # computed here, so the driver ships no range list
        for pdf in batches:
            for i in pdf["id"]:
                r_lo = lo + int(i) * step
                r_hi = min(r_lo + step - 1, hi)
                with sqlite3.connect(f"file:{db_path}?mode=ro",
                                     uri=True) as conn:
                    cur = conn.execute(
                        f'SELECT {sel} FROM "{table}"'
                        " WHERE rowid BETWEEN ? AND ?"
                        f"{pred}",
                        [r_lo, r_hi, *params],
                    )
                    while True:
                        rows = cur.fetchmany(10_000)
                        if not rows:
                            break
                        yield pd.DataFrame(rows, columns=names)

    return spark.range(0, n, 1, n).mapInPandas(scan, schema)


def read_ha_recorder(
    spark: SparkSession,
    db_path: str,
    boundary_ts: float | None = None,
    num_partitions: int | None = None,
) -> dict[str, DataFrame]:
    """The reference's three source tables as pruned parallel scans.

    Column lists mirror the reference's SELECT (sqllite2influxdb.py:83-86)
    plus join keys; ``boundary_ts`` reproduces the *intended* incremental
    predicate (``last_updated_ts < boundary``, :88-89) pushed into the
    states scan — typed, unlike the reference's TEXT-vs-REAL comparison.
    The joins themselves run in Spark (broadcast for the two dimension
    tables) rather than inside SQLite, so the big table never funnels
    through a single-threaded join.
    """
    pred = None
    if boundary_ts is not None:
        pred = ("last_updated_ts", "<", float(boundary_ts))
    return {
        "states": read_table(
            spark, db_path, "states",
            columns=["state_id", "state", "attributes_id", "metadata_id",
                     "last_updated_ts"],
            predicate=pred, num_partitions=num_partitions,
        ),
        "states_meta": read_table(
            spark, db_path, "states_meta",
            columns=["metadata_id", "entity_id"], num_partitions=1,
        ),
        "state_attributes": read_table(
            spark, db_path, "state_attributes",
            columns=["attributes_id", "shared_attrs"], num_partitions=1,
        ),
    }


def migration_points(spark: SparkSession, db_path: str,
                     boundary_ts: float | None = None) -> DataFrame:
    """End-to-end reference pipeline from a real recorder SQLite file:
    partitioned scans → broadcast joins (inside the transform) → the
    typed point rows."""
    from ..operators.transform import points

    t = read_ha_recorder(spark, db_path, boundary_ts=boundary_ts)
    # keep_state: the sink renders numeric fields from the RAW state text
    # (byte-identical to the source — no float round-trip)
    return points(t["states"], t["states_meta"], t["state_attributes"],
                  keep_state=True)
