"""Sink tests: line-protocol rendering, partition writer, backfill loop."""

import glob
import os

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from ha_sqllite_2_influxdb_spark.operators.transform import points
from ha_sqllite_2_influxdb_spark.plans.ha_pipeline import q_line_protocol
from ha_sqllite_2_influxdb_spark.sinks.backfill import backfill_once, sink_boundary
from ha_sqllite_2_influxdb_spark.sinks.influx import line_protocol, write_lines
from ha_sqllite_2_influxdb_spark.sources.ha_fixture import derive_ha_tables


def _pts(spark, sf_dir):
    t = derive_ha_tables(spark, sf_dir)
    return points(
        t["ha_states"], t["ha_states_meta"], t["ha_state_attributes"]
    )


def test_line_protocol_escaping_golden(spark):
    df = spark.createDataFrame(
        [
            # measurement with space, tag with comma+equals, float field
            (1, "deg C", "HA", "sensor", "temp_1", "Temp, out=side",
             10.5, 21.5, None, "21.5"),
            # string field with quote and backslash
            (2, "count", "HA", "light", "l1", "plain",
             11.0, None, 'say "hi" \\ bye', "x"),
        ],
        ("state_id measurement source domain entity_id friendly_name "
         "ts_epoch value state_str state_raw").split(),
    )
    lines = dict(
        line_protocol(df, raw_state=F.col("state_raw")).collect()
    )
    assert lines[1] == (
        "deg\\ C,source=HA,domain=sensor,entity_id=temp_1,"
        "friendly_name=Temp\\,\\ out\\=side value=21.5 10500000000"
    )
    assert lines[2] == (
        'count,source=HA,domain=light,entity_id=l1,friendly_name=plain '
        'state="say \\"hi\\" \\\\ bye" 11000000000'
    )


def test_lineprotocol_parser_roundtrip_adversarial(spark):
    """r7 parser (`sources.lineprotocol`): parse ∘ format must be the
    identity on adversarial escaping — tags holding commas/equals/
    spaces, string states holding quotes, backslashes, and decoy
    ``value=5``/``state="..."`` substrings, empty strings, negative and
    scientific numerics, ns timestamps at real epoch magnitudes."""
    from ha_sqllite_2_influxdb_spark.sources.lineprotocol import (
        parse_line_protocol,
    )

    rows = [
        (1, "deg C", "HA", "sensor", "temp_1", "Temp, out=side",
         1706464196.616591, 21.5, None, "21.5"),
        (2, "count", "HA", "light", "l1", "plain",
         11.0, None, 'say "hi" \\ bye', "x"),
        (3, "m,s", "HA", "d", "e", "n",
         12.0, None, 'value=5', "x"),          # decoy numeric in string
        (4, "count", "HA", "d", "e", "n",
         13.0, None, 'state="x" 99', "x"),     # decoy field in string
        (5, "count", "HA", "d", "e", "n", 14.0, None, "", "x"),  # empty
        (6, "count", "HA", "d", "e", "a b,c=d", 15.0, -1.25e-3, None,
         "-1.25e-3"),                          # scientific numeric text
    ]
    df = spark.createDataFrame(
        rows,
        ("state_id measurement source domain entity_id friendly_name "
         "ts_epoch value state_str state_raw").split(),
    )
    lp = line_protocol(df, raw_state=F.col("state_raw"))
    got = {r.state_id: r for r in parse_line_protocol(lp).collect()}
    for (sid, m, src, dom, ent, fn, ts, val, sstr, _raw) in rows:
        r = got[sid]
        assert (r.measurement, r.source, r.domain, r.entity_id,
                r.friendly_name) == (m, src, dom, ent, fn), sid
        assert r.ts_epoch == ts, sid
        assert r.value == val, sid
        assert r.state_str == sstr, sid


_LP_ALPHABET = (
    "abcXYZ012 ,=\"\\.-_éμ"  # specials the escaping rules must handle
)
_LP_CASES: list[tuple] = []


@settings(max_examples=80, deadline=None)
@given(
    m=st.text(_LP_ALPHABET, min_size=1, max_size=20),
    tag=st.text(_LP_ALPHABET, min_size=0, max_size=20),
    sval=st.text(_LP_ALPHABET, min_size=0, max_size=20),
    numeric=st.booleans(),
)
def test_line_protocol_escaping_property(m, tag, sval, numeric):
    # collected lazily; rendered+checked in ONE Spark job below
    _LP_CASES.append((m, tag, sval, numeric))


def test_line_protocol_escaping_property_batch(spark):
    """Property parity: the JVM escaping expressions must byte-match an
    independent Python implementation of the line-protocol quoting rules
    (measurement escapes ', '; tags escape ',= '; string fields escape
    backslash then double-quote) on hypothesis-generated specials."""
    import re

    def esc_m(s):
        return re.sub(r"([, ])", r"\\\1", s)

    def esc_t(s):
        return re.sub(r"([,= ])", r"\\\1", s)

    def esc_f(s):
        return s.replace("\\", "\\\\").replace('"', '\\"')

    # deterministic seed corpus: the test must not pass vacuously when the
    # hypothesis collector above didn't run first (xdist / -k selection)
    seed = [
        ("m m", "t,=x", 'q"\\e', False),
        ("a,b", " lead", "", False),
        ("plain", "", "μé.-_", False),
        ("x=y", "c,d e", "n/a", True),
    ]
    cases = sorted(set(_LP_CASES) | set(seed))
    assert len(cases) >= len(seed)
    rows = [
        (i, m, "HA", "dom", f"e{i}", tag, 10.0, 21.5 if numeric else None,
         None if numeric else sval, "21.5")
        for i, (m, tag, sval, numeric) in enumerate(cases)
    ]
    df = spark.createDataFrame(
        rows,
        ("state_id long, measurement string, source string, domain string,"
         " entity_id string, friendly_name string, ts_epoch double,"
         " value double, state_str string, state_raw string"),
    )
    got = dict(line_protocol(df, raw_state=F.col("state_raw")).collect())
    for i, (m, tag, sval, numeric) in enumerate(cases):
        field = "value=21.5" if numeric else f'state="{esc_f(sval)}"'
        want = (
            f"{esc_m(m)},source=HA,domain=dom,entity_id=e{i},"
            f"friendly_name={esc_t(tag)} {field} 10000000000"
        )
        assert got[i] == want, f"case {(m, tag, sval, numeric)!r}"


def test_write_lines_file_transport(spark, sf_dir, tmp_path):
    lines_df = q_line_protocol(spark, sf_dir).repartition(4)
    out = str(tmp_path / "lp")
    write_lines(lines_df, path=out, batch_size=100)
    files = glob.glob(os.path.join(out, "part-*.lp"))
    assert len(files) > 1  # partition-parallel writers
    written = set()
    for f in files:
        with open(f) as fh:
            written.update(ln for ln in fh.read().splitlines() if ln)
    expected = {r.line for r in lines_df.collect()}
    assert written == expected


class _RecordingInfluxServer:
    """Localhost stub for the InfluxDB v2 API: records ``/api/v2/write``
    POSTs; answers ``/api/v2/query`` (the Flux oldest-point probe) with
    an annotated-CSV row for ``oldest`` (RFC3339) or an empty result.
    A write whose body contains ``reject`` is answered 400 and not
    recorded."""

    def __init__(self, oldest: str | None = None,
                 reject: str | None = None):
        import http.server
        import threading

        server = self

        class Handler(http.server.BaseHTTPRequestHandler):
            def do_POST(self):  # noqa: N802 - http.server API
                body = self.rfile.read(int(self.headers["Content-Length"]))
                rec = {
                    "path": self.path,
                    "auth": self.headers.get("Authorization"),
                    "body": body.decode(),
                }
                if self.path.startswith("/api/v2/query"):
                    with server.lock:
                        server.queries.append(rec)
                    if server.oldest is None:
                        csv = "\r\n"
                    else:
                        csv = (
                            "#group,false,false,true,true,false,true\r\n"
                            "#datatype,string,long,dateTime:RFC3339,"
                            "dateTime:RFC3339,dateTime:RFC3339,string\r\n"
                            "#default,_result,,,,,\r\n"
                            ",result,table,_start,_stop,_time,_measurement"
                            "\r\n"
                            ",,0,1970-01-01T00:00:00Z,2030-01-01T00:00:00Z,"
                            f"{server.oldest},units\r\n"
                        )
                    out = csv.encode()
                    self.send_response(200)
                    self.send_header("Content-Type", "application/csv")
                    self.send_header("Content-Length", str(len(out)))
                    self.end_headers()
                    self.wfile.write(out)
                    return
                if server.reject is not None and server.reject in rec["body"]:
                    self.send_response(400)
                    self.end_headers()
                    return
                with server.lock:
                    server.requests.append(rec)
                self.send_response(204)
                self.end_headers()

            def log_message(self, *a):  # silence request logging
                pass

        self.lock = threading.Lock()
        self.requests = []
        self.queries = []
        self.oldest = oldest
        self.reject = reject
        self.httpd = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.url = f"http://127.0.0.1:{self.httpd.server_address[1]}"
        self.thread = threading.Thread(
            target=self.httpd.serve_forever, daemon=True
        )
        self.thread.start()

    def stop(self):
        self.httpd.shutdown()
        self.httpd.server_close()


def test_probe_oldest_ts_parses_flux_csv():
    """S5 wire parity: the probe must extract the _time of the single
    row the reference's Flux returns, or None for an empty bucket."""
    from datetime import datetime

    from ha_sqllite_2_influxdb_spark.sinks.influx import probe_oldest_ts

    oldest = "2024-01-05T00:00:10.500000Z"
    server = _RecordingInfluxServer(oldest=oldest)
    try:
        got = probe_oldest_ts(server.url, token="t", org="o", bucket="b",
                              measurement="units")
        assert got == datetime.fromisoformat(oldest).timestamp()
        import json

        q = server.queries[0]
        flux = json.loads(q["body"])["query"]
        assert 'from(bucket: "b")' in flux
        assert 'r["_measurement"] == "units"' in flux
        assert q["auth"] == "Token t"
    finally:
        server.stop()
    empty = _RecordingInfluxServer()
    try:
        assert probe_oldest_ts(empty.url, token="t", org="o",
                               bucket="b") is None
    finally:
        empty.stop()
    # unreachable server -> None (reference's except path, :67-69)
    assert probe_oldest_ts("http://127.0.0.1:9", token="t", org="o",
                           bucket="b", timeout=0.5) is None


def test_write_lines_http_transport_e2e(spark, sf_dir):
    """The REAL wire path (reference: write_api.write,
    sqllite2influxdb.py:146-159): the oracle-checked line-protocol rows
    arrive at a v2 /api/v2/write endpoint, batched at batch_size."""
    server = _RecordingInfluxServer()
    try:
        lines_df = q_line_protocol(spark, sf_dir).coalesce(2)
        expected = [r.line for r in lines_df.collect()]
        write_lines(lines_df, url=server.url, token="tok", org="o",
                    bucket="b", batch_size=1000)
        reqs = server.requests
        assert all(
            r["path"] == "/api/v2/write?org=o&bucket=b&precision=ns"
            for r in reqs
        )
        assert all(r["auth"] == "Token tok" for r in reqs)
        received = [
            ln for r in reqs for ln in r["body"].splitlines() if ln
        ]
        assert sorted(received) == sorted(expected)
        # batched: every request carries <= batch_size lines, and the
        # writer flushed full batches (not one request per line)
        sizes = [len(r["body"].splitlines()) for r in reqs]
        assert max(sizes) <= 1000
        assert len(reqs) <= len(expected) // 1000 + 2  # 2 partitions
    finally:
        server.stop()


def test_write_lines_http_debug_per_line(spark):
    """debug=True posts one line per request (per-point error isolation,
    reference :148-153)."""
    server = _RecordingInfluxServer()
    try:
        df = spark.createDataFrame(
            [("m v=1 1",), ("m v=2 2",), ("m v=3 3",)], ["line"]
        ).coalesce(1)
        assert write_lines(df, url=server.url, token="t", org="o",
                           bucket="b", debug=True) == 0
        assert len(server.requests) == 3
        assert sorted(r["body"].strip() for r in server.requests) == [
            "m v=1 1", "m v=2 2", "m v=3 3",
        ]
    finally:
        server.stop()


def test_write_lines_http_times_out_on_stalled_server(spark):
    """A server that accepts the connection and never replies must fail
    the writer within the request timeout, not hang it."""
    import socket
    import time

    import pytest

    stalled = socket.socket()
    stalled.bind(("127.0.0.1", 0))
    stalled.listen(4)  # the kernel completes the handshake; no accept()
    try:
        df = spark.createDataFrame([("m v=1 1",)], ["line"]).coalesce(1)
        t0 = time.monotonic()
        with pytest.raises(Exception, match="timed out"):
            write_lines(df, url=f"http://127.0.0.1:{stalled.getsockname()[1]}",
                        token="t", org="o", bucket="b", timeout=1.0)
        assert time.monotonic() - t0 < 30
    finally:
        stalled.close()


def test_write_lines_rejects_ambiguous_transport(spark):
    df = spark.createDataFrame([("x",)], ["line"])
    try:
        write_lines(df)
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_backfill_idempotent(spark, sf_dir, tmp_path):
    sink = str(tmp_path / "sink")
    pts = _pts(spark, sf_dir)
    total = pts.count()

    # simulate a sink that already holds the newest half of history
    median = pts.approxQuantile("ts_epoch", [0.5], 0.0)[0]
    pts.filter(F.col("ts_epoch") >= median).write.parquet(sink)
    pre = spark.read.parquet(sink).count()

    # run 1: migrates exactly the rows older than the sink's oldest point
    boundary = sink_boundary(spark, sink)
    expect = pts.filter(F.col("ts_epoch") < boundary).count()
    n1 = backfill_once(spark, pts, sink)
    assert n1 == expect
    assert spark.read.parquet(sink).count() == pre + n1

    # run 2: idempotent — nothing older than the new minimum remains
    n2 = backfill_once(spark, pts, sink)
    assert n2 == 0
    assert spark.read.parquet(sink).count() == pre + n1
    assert pre + n1 == total


def test_backfill_empty_sink_migrates_everything(spark, sf_dir, tmp_path):
    sink = str(tmp_path / "sink2")
    pts = _pts(spark, sf_dir)
    assert sink_boundary(spark, sink) is None
    n1 = backfill_once(spark, pts, sink)
    assert n1 == pts.count()
    # per-writer time ordering (O1): each file is internally sorted
    import pyarrow.parquet as pq
    for f in glob.glob(os.path.join(sink, "part-*.parquet")):
        ts = pq.read_table(f, columns=["ts_epoch"])["ts_epoch"].to_pylist()
        assert ts == sorted(ts)


def test_write_lines_rerun_overwrites_not_appends(spark, sf_dir, tmp_path):
    """A re-run (or task retry) of the same partition must overwrite its
    output file, not append duplicate points to it."""
    from ha_sqllite_2_influxdb_spark.plans.ha_pipeline import q_line_protocol
    from ha_sqllite_2_influxdb_spark.sinks.influx import write_lines

    lines = q_line_protocol(spark, sf_dir).select("line").coalesce(1)
    out = str(tmp_path / "lp")
    write_lines(lines, path=out)
    first = sorted((tmp_path / "lp").glob("*.lp"))[0].read_text()
    write_lines(lines, path=out)
    second = sorted((tmp_path / "lp").glob("*.lp"))[0].read_text()
    assert first == second
    # no leftover attempt temp files
    assert not list((tmp_path / "lp").glob(".part-*"))


def test_compaction_shrinks_files_preserves_rows_and_clusters(spark, sf_dir, tmp_path):
    """Small-file compaction: 40 micro-batch files -> few key-clustered
    files behind an atomically-swapped pointer; rows identical; output
    files have disjoint sort-key ranges (min/max prunable)."""
    import glob
    import os

    from pyspark.sql import functions as F

    from ha_sqllite_2_influxdb_spark.sinks.compact import (
        compact, read_current,
    )
    from ha_sqllite_2_influxdb_spark.sources.tables import load_table

    table = str(tmp_path / "ev")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    # simulate 40 micro-batch appends (small files, unclustered)
    ev.repartition(40).write.mode("overwrite").parquet(table)
    n_small = len(glob.glob(f"{table}/*.parquet"))
    assert n_small >= 40

    total_bytes = sum(os.path.getsize(p)
                      for p in glob.glob(f"{table}/*.parquet"))
    gen = compact(spark, table, "event_id",
                  target_file_bytes=max(1, total_bytes // 4))
    files = glob.glob(f"{gen}/*.parquet")
    assert 1 <= len(files) <= 8  # ~4 target files, far fewer than 40

    got = read_current(spark, table)
    assert got.count() == ev.count()
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, ev.collect()))

    # key-clustered: per-file [min,max] event_id ranges must not overlap
    ranges = []
    for p in sorted(files):
        mn, mx = spark.read.parquet(p).agg(
            F.min("event_id"), F.max("event_id")).first()
        ranges.append((mn, mx))
    ranges.sort()
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2

    # second compaction reads via the pointer and is content-idempotent
    gen2 = compact(spark, table, "event_id",
                   target_file_bytes=max(1, total_bytes // 4))
    assert gen2 != gen
    assert read_current(spark, table).count() == ev.count()
