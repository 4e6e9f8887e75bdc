"""InfluxDB sink: line-protocol rendering + batched partition writer.

The reference's sink (connect_to_influxdb + batch_insert_to_influx +
write_to_influx, sqllite2influxdb.py:44-52,100-161) builds
``influxdb_client.Point`` objects row-at-a-time on a single thread and
POSTs them in SYNCHRONOUS batches of ``BATCH_SIZE`` (:31,146-159).

Spark-first split of that work:

- **Rendering is an engine concern** → `line_protocol` builds the exact
  wire format (measurement,tags fields timestamp-ns) as JVM column
  expressions — whole-stage-codegen'd, shuffle-free, testable against a
  DuckDB oracle, and independent of any InfluxDB client library.
- **Transport is a partition concern** → `write_lines` does
  ``foreachPartition``: each executor slice writes to exactly one of
  ``url=`` (stdlib ``urllib`` POSTs to the v2 write endpoint, no client
  library) or ``path=`` (a line-protocol file per partition; setting
  both or neither raises), and flushes every ``batch_size`` lines —
  one writer per partition, same batching semantics per writer as the
  reference's one. ``debug=True`` reproduces the reference's per-point
  error-isolation mode (:148-153), and the lines it could not write
  are counted and returned.

At 100 TB the rendering stage scales like any projection; there is one
writer per input partition. The migration (``__main__.migration_lines``)
runs one task per rowid range that scans, transforms, sorts and writes,
with no shuffle, and sizes its ranges like Spark file splits over the
DB's bytes, so a small DB has one writer and a large one several. Each
writer is one range sorted on event time, which keeps the reference's
oldest-first ordering *per writer* (ORDER BY, :89-90) without a global
sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: reference default, sqllite2influxdb.py:31 / .env.example:6
DEFAULT_BATCH_SIZE = 10_000


def _esc(col: Column, chars: str) -> Column:
    """Backslash-escape ``chars`` (line-protocol quoting rules)."""
    return F.regexp_replace(col, f"([{chars}])", r"\\$1")


def escape_measurement(col: Column) -> Column:
    return _esc(col, ", ")


def escape_tag(col: Column) -> Column:
    return _esc(col, ",= ")


def escape_field_string(col: Column) -> Column:
    """Field string values: escape backslash then double-quote."""
    return F.regexp_replace(
        F.regexp_replace(col, r"\\", r"\\\\"), '"', r'\\"'
    )


def line_protocol(points_df: DataFrame, raw_state: Column | None = None,
                  precision_ns: bool = True) -> DataFrame:
    """Render point rows (schema of ``operators.transform.points``) to
    InfluxDB line protocol: ``measurement,tag=v,... field=v ts``.

    The numeric state field is rendered from ``raw_state`` (the original
    numeric TEXT the reference passed to ``float()``, :123) when given —
    the digits on the wire are then byte-identical to the source and to
    any SQL oracle, with no float-formatting dependence.
    """
    tags = F.concat_ws(
        ",",
        escape_measurement(F.col("measurement")),
        F.concat(F.lit("source="), escape_tag(F.col("source"))),
        F.concat(F.lit("domain="), escape_tag(F.col("domain"))),
        F.concat(F.lit("entity_id="), escape_tag(F.col("entity_id"))),
        F.concat(F.lit("friendly_name="), escape_tag(F.col("friendly_name"))),
    )
    num_txt = (
        raw_state if raw_state is not None
        else F.col("value").cast("string")
    )
    field = F.when(
        F.col("value").isNotNull(),
        F.concat(F.lit("value="), num_txt),
    ).otherwise(
        F.concat(
            F.lit('state="'),
            escape_field_string(F.col("state_str")),
            F.lit('"'),
        )
    )
    # integer time path: ts_epoch is integer-micros/1e6, so
    # round(ts_epoch*1e6) recovers the exact integer micros (a double is
    # exact only to 2^53 ≈ 104 days at ns resolution, so ts_epoch*1e9
    # through a double is NOT safe across the epoch range); ns = µs×1000
    us = F.round(F.col("ts_epoch") * 1e6).cast("long")
    ts = (us * F.lit(1000)) if precision_ns else us
    return points_df.select(
        "state_id",
        F.concat_ws(" ", tags, field, ts.cast("string")).alias("line"),
    )


def probe_oldest_ts(url: str, *, token: str = "", org: str = "",
                    bucket: str = "", measurement: str | None = None,
                    timeout: float = 30.0) -> float | None:
    """S5 on the real wire path: the reference's oldest-point probe
    (get_oldest_influx_timestamp, sqllite2influxdb.py:54-69) as a
    stdlib POST of the same Flux (range(start:0) → optional measurement
    filter → sort by _time → limit 1) to ``/api/v2/query``, parsing the
    annotated-CSV response. Returns epoch seconds, or None when the
    bucket is empty or the query fails — the reference's
    migrate-everything cold-start path."""
    import json
    import urllib.parse
    import urllib.request
    from datetime import datetime

    def flux_str(s: str) -> str:
        # Flux string literal quoting: backslash, then double quote —
        # env-controlled names must not be able to break out of the literal
        return s.replace("\\", "\\\\").replace('"', '\\"')

    meas_filter = (
        '  |> filter(fn: (r) => r["_measurement"] == '
        f'"{flux_str(measurement)}")\n'
        if measurement else ""
    )
    flux = (
        f'from(bucket: "{flux_str(bucket)}")\n'
        "  |> range(start: 0)\n"
        f"{meas_filter}"
        '  |> sort(columns: ["_time"], desc: false)\n'
        "  |> limit(n: 1)\n"
    )
    req = urllib.request.Request(
        url.rstrip("/") + "/api/v2/query?"
        + urllib.parse.urlencode({"org": org}),
        data=json.dumps({"query": flux, "type": "flux"}).encode(),
        headers={
            "Authorization": f"Token {token}",
            "Content-Type": "application/json",
            "Accept": "application/csv",
        },
        method="POST",
    )
    try:
        with urllib.request.urlopen(req, timeout=timeout) as resp:
            body = resp.read().decode()
    except Exception as e:  # noqa: BLE001 - reference parity (:67-69)
        print(f"Error querying InfluxDB for the oldest timestamp: {e}")
        return None
    # annotated CSV: '#'-prefixed annotation rows, then a header row
    # naming the columns, then data rows — find _time and take the first.
    # Real CSV parsing (not line.split): a quoted value containing a comma
    # in a column before _time must not shift the index.
    import csv
    import io

    header: list[str] | None = None
    for cells in csv.reader(io.StringIO(body)):
        if not cells or (cells[0] or "").startswith("#"):
            continue
        if header is None:
            header = cells
            continue
        if "_time" in header:
            raw = cells[header.index("_time")]
            return datetime.fromisoformat(raw).timestamp()
    return None


def write_lines(lines_df: DataFrame, *, url: str | None = None,
                token: str = "", org: str = "", bucket: str = "",
                path: str | None = None,
                batch_size: int = DEFAULT_BATCH_SIZE,
                debug: bool = False, timeout: float = 30.0) -> int:
    """Partition-parallel sink write of a ``line`` column; returns the
    number of lines whose post failed (only ``debug=True`` survives a
    failed post, so otherwise the count is 0 or the job fails).

    ``url`` → HTTP POSTs to the InfluxDB v2 write endpoint
    (``/api/v2/write?org=&bucket=&precision=ns``) via stdlib urllib — the
    same wire format influxdb-client's SYNCHRONOUS write_api emits
    (reference transport: connect_to_influxdb + write_api.write,
    sqllite2influxdb.py:44-52,146-159), with no client library needed on
    executors; ``path`` → one ``part-<pid>.lp`` file per partition.
    Batching and the debug per-line fallback mirror write_to_influx
    (:146-159). ``timeout`` bounds each HTTP request in seconds, so a
    stalled server fails the writer task instead of hanging it. The
    failed-line count rides the write's own ``foreachPartition`` as an
    accumulator: no extra pass.
    """
    if (url is None) == (path is None):
        raise ValueError("exactly one of url= or path= is required")
    failed = lines_df.sparkSession.sparkContext.accumulator(0)

    def handle_partition(rows) -> None:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        if url is not None:
            import urllib.parse
            import urllib.request

            endpoint = (
                url.rstrip("/") + "/api/v2/write?"
                + urllib.parse.urlencode(
                    {"org": org, "bucket": bucket, "precision": "ns"}
                )
            )
            headers = {
                "Authorization": f"Token {token}",
                "Content-Type": "text/plain; charset=utf-8",
            }

            def post(lines: list[str]) -> None:
                req = urllib.request.Request(
                    endpoint,
                    data=("\n".join(lines) + "\n").encode(),
                    headers=headers,
                    method="POST",
                )
                with urllib.request.urlopen(req, timeout=timeout) as resp:
                    resp.read()

            def flush(batch: list[str]) -> None:
                if debug:
                    for ln in batch:  # per-point isolation (:148-153)
                        try:
                            post([ln])
                        except Exception as exc:  # noqa: BLE001
                            print(f"Error writing line: {exc}")
                            failed.add(1)
                else:
                    post(batch)

            def closer(ok: bool) -> None:
                pass  # urllib connections close per request
        else:
            import os

            # write to an attempt-unique temp file and rename on success:
            # a task retry / speculative duplicate then OVERWRITES the
            # partition's output instead of re-appending it (append mode
            # would silently duplicate every point the first attempt wrote)
            os.makedirs(path, exist_ok=True)
            attempt = TaskContext.get().taskAttemptId()
            final = os.path.join(path, f"part-{pid:05d}.lp")
            tmp = os.path.join(path, f".part-{pid:05d}.{attempt}.tmp")
            out = open(tmp, "w")

            def flush(batch: list[str]) -> None:
                out.write("\n".join(batch) + "\n")

            def closer(ok: bool) -> None:
                out.close()
                if ok:  # publish atomically; a failed attempt leaves
                    os.replace(tmp, final)  # no partial visible output
                else:
                    os.unlink(tmp)

        ok = False
        try:
            batch: list[str] = []
            for row in rows:
                batch.append(row.line)
                if len(batch) >= batch_size:
                    flush(batch)
                    batch = []
            if batch:
                flush(batch)
            ok = True
        finally:
            closer(ok)

    lines_df.foreachPartition(handle_partition)
    return failed.value
