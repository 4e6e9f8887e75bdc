"""The three closed-loop workloads: one client, one op at a time.

Each workload exposes the same surface to ``run.py``:

- ``warm(spark)``: the program's own warm-up, paid once per session
  (fixture persist, memo fits); counted in ``setup_s``;
- ``op(spark)``: one timed op through the program's public entry
  points, returning what it produced;
- ``check(out)``: the op's output against an independent reference,
  outside the timed region;
- ``trace_layers(spark)``: traced mode only — the cumulative prefixes
  (scan, then scan + transform) the layer metrics are derived from.
"""

from __future__ import annotations

import contextlib
import io

import duckdb
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

import measure
import stub as stubmod

#: probe answer: 2024-01-23T12:00:00Z, three quarters into the history
BOUNDARY_S = 1_706_011_200


def _duck(inputs_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in ("events", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{inputs_dir}/{t}.parquet'")
    return con


def _oracle_digest(con, sql: str) -> tuple[int, int]:
    res = con.execute(sql)
    return measure.digest_rows([c[0] for c in res.description],
                               res.fetchall())


def _noop_count(df: DataFrame) -> int:
    """Execute ``df`` completely and return its row count, observed on
    the same pass (no second scan)."""
    obs = Observation()
    (df.observe(obs, F.count(F.lit(1)).alias("n"))
     .write.format("noop").mode("overwrite").save())
    return obs.get["n"]


class MigrateBackfill:
    """``__main__.main`` against the recorder DB and an in-process
    ``/api/v2`` stub: SQLite scan → points → line protocol → HTTP sink."""

    def __init__(self, inputs_dir: str, tracer):
        self.tracer = tracer
        self.db = f"{inputs_dir}/recorder.db"
        self.stub = stubmod.InfluxStub(BOUNDARY_S)
        self.env = {
            "SQLITE_DB": self.db,
            "INFLUXDB_URL": self.stub.url,
            "INFLUXDB_TOKEN": "perfbench",
            "INFLUXDB_ORG": "perfbench",
            "INFLUXDB_BUCKET": "home_assistant",
        }
        from ha_sqllite_2_influxdb_spark.plans.ha_pipeline import ORACLES

        con = _duck(inputs_dir)
        try:
            lines = [ln for (_sid, ln) in
                     con.execute(ORACLES["ha_line_protocol"]).fetchall()]
        finally:
            con.close()
        cut = BOUNDARY_S * 1_000_000_000
        self.expected = measure.digest_lines(
            ln for ln in lines if int(ln.rsplit(" ", 1)[1]) < cut)

    def warm(self, spark) -> None:
        """The migration has no warm-up of its own: every op re-scans."""

    def op(self, spark):
        from ha_sqllite_2_influxdb_spark.__main__ import main

        with self.tracer.span("__main__.main"):
            with contextlib.redirect_stdout(io.StringIO()):
                rc = main(self.env)
        if rc != 0:
            raise RuntimeError(f"migration exited {rc}")
        return self.stub.take()

    def points(self, out) -> int:
        """Points the stub acknowledged in one op's output."""
        return sum(b.count(b"\n") for b in out[0])

    def check(self, out) -> bool:
        """No rejected request, and the lines the stub received equal the
        oracle's."""
        bodies, failed = out
        return (failed == 0 and measure.digest_lines(stubmod.lines(bodies))
                == self.expected)

    def trace_layers(self, spark) -> dict:
        from ha_sqllite_2_influxdb_spark.sinks.influx import probe_oldest_ts
        from ha_sqllite_2_influxdb_spark.sources.sqlite import (
            migration_points, read_ha_recorder,
        )

        t = self.tracer
        with t.span("sinks.influx.probe") as sp_probe:
            boundary = probe_oldest_ts(
                self.stub.url, token="perfbench", org="perfbench",
                bucket="home_assistant")
        with t.span("sources.sqlite.scan") as sp_scan:
            rows = _noop_count(
                read_ha_recorder(spark, self.db, boundary_ts=boundary)
                ["states"])
        with t.span("operators.transform.prefix") as sp_pts:
            points = _noop_count(
                migration_points(spark, self.db, boundary_ts=boundary))
        return {"probe": sp_probe, "scan": sp_scan, "points_prefix": sp_pts,
                "rows": rows, "points": points}

    def close(self) -> None:
        self.stub.close()


#: one dashboard refresh: (plans module, registry name)
PANELS = (
    ("influxql_text", "influxql_text_downsample"),
    ("flux_text", "flux_window_fill_prev"),
    ("ha_stats", "ha_statistics_hourly"),
    ("monitoring", "series_mean_shift"),
)


def _plans(module: str):
    import importlib

    return importlib.import_module(
        f"ha_sqllite_2_influxdb_spark.plans.{module}")


class DashboardRead:
    """One refresh of a fixed panel set over the persisted HA fixture."""

    def __init__(self, inputs_dir: str, tracer):
        self.tracer = tracer
        self.dir = inputs_dir
        con = _duck(inputs_dir)
        try:
            self.expected = {
                name: _oracle_digest(con, _plans(mod).ORACLES[name])
                for mod, name in PANELS}
        finally:
            con.close()
        self.digests_checked = False
        self.cached_bytes = 0

    def warm(self, spark) -> None:
        from ha_sqllite_2_influxdb_spark.plans.influxql import (
            _numeric_points,
        )
        from ha_sqllite_2_influxdb_spark.sources.ha_fixture import (
            derive_ha_tables,
        )

        with self.tracer.span("sources.ha_fixture.build"):
            for df in derive_ha_tables(spark, self.dir).values():
                df.count()
        # read now: later ops leave checkpoint blocks of their own
        self.cached_bytes = sum(
            r.memSize() + r.diskSize()
            for r in spark.sparkContext._jsc.sc().getRDDStorageInfo())
        with self.tracer.span("memo.fit.numeric_points"):
            _numeric_points(spark, self.dir)

    def op(self, spark):
        out = {}
        for mod, name in PANELS:
            with self.tracer.span(f"plans.{mod}.build", panel=name):
                df = _plans(mod).QUERIES[name](spark, self.dir)
            with self.tracer.span(f"{name}.exec"):
                out[name] = (df.columns, df.collect())
        return out

    def check(self, out) -> bool:
        """Each panel's row count on every op, and its full digest on the
        first op of the run."""
        if not all(len(out[n][1]) == self.expected[n][0] for n in out):
            return False
        if self.digests_checked:
            return True
        self.digests_checked = True
        return all(measure.digest_rows(*out[n]) == self.expected[n]
                   for n in out)

    def trace_layers(self, spark) -> dict:
        from ha_sqllite_2_influxdb_spark.operators.transform import points
        from ha_sqllite_2_influxdb_spark.sources.ha_fixture import (
            derive_ha_tables,
        )

        t = self.tracer
        tabs = derive_ha_tables(spark, self.dir)
        with t.span("sources.ha_fixture.scan") as sp_scan:
            rows = _noop_count(tabs["ha_states"])
        with t.span("operators.transform.prefix") as sp_pts:
            n = _noop_count(points(tabs["ha_states"], tabs["ha_states_meta"],
                                   tabs["ha_state_attributes"]))
        return {"scan": sp_scan, "points_prefix": sp_pts, "rows": rows,
                "points": n}

    def close(self) -> None:
        pass


#: one curation pass: (registry name, exec span)
CURATION = (
    ("curate_pipeline", "plans.llm_ops.curate_exec"),
    ("neardup_xxhash_lsh", "operators.dedup.neardup_exec"),
    ("ngram_span_dedup", "operators.dedup.ngram_exec"),
)


class CurateDedup:
    """One curation pass over the seeded corpus (planted duplicates)."""

    def __init__(self, inputs_dir: str, tracer):
        from ha_sqllite_2_influxdb_spark.plans.llm_ops import ORACLES

        self.tracer = tracer
        self.dir = inputs_dir
        con = _duck(inputs_dir)
        try:
            self.expected = {name: _oracle_digest(con, ORACLES[name])
                             for name, _ in CURATION if name in ORACLES}
        finally:
            con.close()

    def warm(self, spark) -> None:
        from ha_sqllite_2_influxdb_spark.plans import llm_ops

        with self.tracer.span("plans.llm_ops.recrawl_build"):
            llm_ops.recrawl(spark, self.dir).count()
        with self.tracer.span("memo.fit.curate_widen"):
            llm_ops._curate_widen(spark, self.dir)

    def op(self, spark):
        from ha_sqllite_2_influxdb_spark.plans.llm_ops import QUERIES

        out = {}
        for name, exec_span in CURATION:
            with self.tracer.span("plans.llm_ops.build", query=name):
                df = QUERIES[name](spark, self.dir)
            with self.tracer.span(exec_span):
                out[name] = (df.columns, df.collect())
        return out

    def check(self, out) -> bool:
        """Oracle digests where an oracle exists; otherwise the digest of
        the first op of the run must repeat."""
        ok = True
        for name, (cols, rows) in out.items():
            got = measure.digest_rows(cols, rows)
            ok &= self.expected.setdefault(name, got) == got
        return ok

    def trace_layers(self, spark) -> dict:
        return {}

    def close(self) -> None:
        pass
