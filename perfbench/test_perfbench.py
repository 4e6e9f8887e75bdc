"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import random
import re
import sys
import urllib.error
import urllib.request

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import measure  # noqa: E402
import run  # noqa: E402
import stub  # noqa: E402
from spans import Tracer, self_time  # noqa: E402

#: a metric or workload name as BENCHMARK.json accepts it
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def test_generator_is_deterministic_per_seed():
    assert gen.events_table(7, 500, 12).equals(gen.events_table(7, 500, 12))
    assert not gen.events_table(7, 500, 12).equals(
        gen.events_table(8, 500, 12))
    assert gen.documents_table(7, 200).equals(gen.documents_table(7, 200))
    assert not gen.documents_table(7, 200).equals(
        gen.documents_table(8, 200))


def test_generator_history_stays_in_january_2024():
    ev = gen.events_table(3, 2000, 12).to_pydict()
    secs = [t.timestamp() for t in ev["ts"]]
    assert gen.T0_S <= min(secs) and max(secs) < 1_706_745_600
    assert secs == sorted(secs)


def test_documents_plant_duplicates():
    texts = gen.documents_table(5, 400).column("text").to_pylist()
    assert len(set(texts)) < len(texts)


def test_line_digest_ignores_order_but_not_multiplicity():
    lines = [f"m,t=a value={i} {i}" for i in range(50)]
    shuffled = lines[:]
    random.Random(1).shuffle(shuffled)
    assert measure.digest_lines(lines) == measure.digest_lines(shuffled)
    assert measure.digest_lines(lines) != measure.digest_lines(
        lines + lines[:1])
    assert measure.digest_lines(lines) != measure.digest_lines(lines[1:])


def test_row_digest_ignores_row_and_column_order():
    rows = [(1, "a", 0.5), (2, "b", float("nan")), (3, None, True)]
    cols = ["id", "s", "v"]
    swapped = [(r[2], r[0], r[1]) for r in reversed(rows)]
    assert measure.digest_rows(cols, rows) == measure.digest_rows(
        ["v", "id", "s"], swapped)
    # float repr is exact: 0.1 + 0.2 is not 0.3
    assert measure.digest_rows(["x"], [(0.1 + 0.2,)]) != measure.digest_rows(
        ["x"], [(0.3,)])
    # a column rename changes the digest
    assert measure.digest_rows(cols, rows) != measure.digest_rows(
        ["id", "s", "w"], rows)


def _benchmark_json() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_are_well_formed_and_match_benchmark_json():
    bench = _benchmark_json()
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.END_TO_END
    assert layer == run.PER_LAYER
    assert not set(e2e) & set(layer)
    for name in [*e2e, *layer, *(w["name"] for w in bench["workloads"])]:
        assert NAME_RE.match(name), name
    for unit in [*e2e.values(), *layer.values()]:
        assert len(unit) <= 16 and all(
            c.isalnum() or c in "_/%.-" for c in unit), unit
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])


def test_self_time_subtracts_covered_interval_once():
    assert self_time((0.0, 10.0), []) == 10.0
    assert self_time((0.0, 10.0), [(1.0, 3.0), (5.0, 6.0)]) == 7.0
    # overlapping children cover [1, 4] once
    assert self_time((0.0, 10.0), [(1.0, 3.0), (2.0, 4.0)]) == 7.0
    # nested child inside another child
    assert self_time((0.0, 10.0), [(1.0, 8.0), (2.0, 3.0)]) == 3.0
    # parts outside the parent do not count
    assert self_time((2.0, 6.0), [(0.0, 3.0), (5.0, 9.0)]) == 2.0
    assert self_time((0.0, 1.0), [(0.0, 1.0)]) == 0.0


def test_tracer_records_tree_and_self_time():
    t = Tracer(enabled=True)
    t.op_id = "op0"
    with t.span("op"):
        with t.span("child"):
            pass
        with t.span("child"):
            pass
    root, a, b = t.spans
    assert root["parent"] is None and a["parent"] == b["parent"] == 0
    assert {s["op"] for s in t.spans} == {"op0"}
    kids = (a["end"] - a["start"]) + (b["end"] - b["start"])
    assert abs(t.self_s(0) - ((root["end"] - root["start"]) - kids)) < 1e-9


def test_disabled_tracer_records_nothing():
    t = Tracer(enabled=False)
    with t.span("op") as s:
        assert s is None
    assert t.spans == []


def test_spread_helpers():
    assert measure.iqr_ratio([1.0]) == 0.0
    assert measure.iqr_ratio([2.0, 2.0, 2.0, 2.0]) == 0.0
    assert abs(measure.half_ratio([2.0, 2.0, 1.0, 1.0]) - 0.5) < 1e-12


def test_stub_keeps_write_bodies_and_counts_rejected_requests():
    s = stub.InfluxStub(1_706_011_200)
    try:
        def post(path, body):
            req = urllib.request.Request(s.url + path, data=body,
                                         method="POST")
            try:
                return urllib.request.urlopen(req, timeout=10).status
            except urllib.error.HTTPError as e:
                return e.code

        body = b"m v=1 1\nm v=2 2\n"
        assert post("/api/v2/write?precision=ns", body) == 204
        assert post("/api/v2/other", b"x") == 404
        bodies, failed = s.take()
        assert stub.lines(bodies) == ["m v=1 1", "m v=2 2"]
        assert failed == 1
        assert s.take() == ([], 0)
    finally:
        s.close()
