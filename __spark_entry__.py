"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship HA-points pipeline at sf0.001;
``queries()``/``oracle_sql()`` expose every implemented operator from
SURVEY.md §2 with its DuckDB oracle.
"""

from __future__ import annotations

import glob
import json
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from ha_sqllite_2_influxdb_spark.plans.ha_pipeline import q_points

    return q_points(spark, "/root/testdata/sf0.001")


# The round driver correctness-checks the FIRST 50 registry entries in
# insertion order and commits each verdict as CORRECTNESS_r<N>.json
# beside this file. The window is computed from those files: the 50
# stalest entries, ranked by the last round with a verdict (0 if none),
# ties by name. Each committed verdict file moves the window on by
# itself. Rows-only-by-nature slots (no exact SQL counterpart) are
# enumerated in ROWS_ONLY_OK in tests/test_oracle_parity.py's
# test_driver_window_contract, each pinned by an exact-counterpart
# pytest instead. Entries past the window still run under pytest
# (tests/test_oracle_parity.py covers the whole registry).
def _driver_window(names, last_checked: dict[str, int]) -> list[str]:
    """The 50 names with the oldest verdict round, ties by name."""
    return sorted(names, key=lambda n: (last_checked.get(n, 0), n))[:50]


def _last_checked() -> dict[str, int]:
    """Last round with a driver verdict per name, from the committed
    CORRECTNESS_r<N>.json files beside this file (never the cwd)."""
    last: dict[str, int] = {}
    for path in glob.glob(os.path.join(_HERE, "CORRECTNESS_r*.json")):
        rnd = int(path.rsplit("_r", 1)[1].split(".")[0])
        with open(path) as f:
            for name in json.load(f):
                last[name] = max(last.get(name, 0), rnd)
    return last


def _registry():
    from ha_sqllite_2_influxdb_spark.plans import (
        analytics, flux_text, ha_pipeline, ha_stats, influxql, influxql_text,
        llm_ops, monitoring, streaming_ops)

    pool: dict[str, Callable] = {}
    oracles: dict[str, str] = {}
    for mod in (ha_pipeline, analytics, llm_ops, streaming_ops, influxql,
                influxql_text, flux_text, ha_stats, monitoring):
        pool.update(mod.QUERIES)
        oracles.update(mod.ORACLES)
    window = _driver_window(pool, _last_checked())
    queries: dict[str, Callable] = {n: pool.pop(n) for n in window}
    queries.update(pool)
    return queries, oracles


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _registry()[0]


def oracle_sql() -> dict[str, str]:
    return _registry()[1]
