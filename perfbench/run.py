"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the repository root. One process is one closed-loop client on
``local[nproc]``. It generates its inputs from ``--seed`` and sets up
once, as a one-shot user of the program does: the JVM launch, the Spark
session and the workload's warm-up. It then runs one cold op and one
warm op, times ops for ``--seconds`` and checks every op's output
outside the timed region. The end-to-end metrics are CPU time of the
whole process tree; wall-clock metrics are per-layer (see README.md for
why). The last stdout line is the result object; the line before it
carries the run's noise stamps.

``--trace 1`` prints the per-layer metrics instead of the end-to-end
ones and writes every span with its Spark counters to
``perfbench/.cache/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import time
import traceback
from typing import Any, NamedTuple

import measure
from spans import COUNTERS, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("migrate_backfill", "dashboard_read", "curate_dedup")

#: input size: events in the shared history, entities, documents
N_EVENTS = 20_000
N_ENTITIES = 16
N_DOCS = 400

#: untimed ops after the cold one: the first ops after it still run
#: paths for the first time and cost ~10% more CPU than later ones
WARM_OPS = 1
MIN_OPS = 3
#: stop timing early if the run gets this old, to stay inside 180 s
HARD_STOP_S = 140.0
DRIVER_MEM = "2g"
#: JVM pin. C1 only: under the default tiered JIT the ops keep getting
#: faster for ~40 s of ops (a curation pass fell from 3.0 to 1.6 s over
#: 22 ops), so a short window would time the JIT ramp, not the program;
#: under C1 the ops are flat from the first timed op.
JVM_OPTS = ("-XX:TieredStopAtLevel=1",)

END_TO_END = {"setup_s": "s", "op_cpu_s": "s"}

#: every per-layer metric a traced run prints, with its unit; a layer a
#: workload does not run reports 0
PER_LAYER = {
    "op_p50_s": "s",
    "cold_op_s": "s",
    "cold_op_cpu_s": "s",
    "setup_wall_s": "s",
    "peak_rss_mb": "MB",
    "items_per_s": "1/s",
    "session.get_spark_s": "s",
    "trace.overhead_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "sinks.influx.probe_s": "s",
    "sources.sqlite.scan_s": "s",
    "sources.sqlite.rows": "count",
    "sources.sqlite.tasks": "count",
    "spark.scan_passes": "count",
    "sinks.influx.writer_tasks": "count",
    "sinks.influx.order_render_write_s": "s",
    "sinks.influx.lines": "count",
    "sinks.influx.bytes": "bytes",
    "sinks.influx.bytes_per_point": "bytes/point",
    "sinks.influx.posts": "count",
    "sinks.influx.failed_posts": "count",
    "operators.transform.self_s": "s",
    "operators.transform.points": "count",
    "operators.transform.dropped": "count",
    "plans.influxql_text.build_s": "s",
    "plans.flux_text.build_s": "s",
    "plans.ha_stats.exec_s": "s",
    "influxql_text_downsample.exec_s": "s",
    "influxql_text_downsample.rows_out": "count",
    "flux_window_fill_prev.exec_s": "s",
    "flux_window_fill_prev.rows_out": "count",
    "ha_statistics_hourly.exec_s": "s",
    "ha_statistics_hourly.rows_out": "count",
    "series_mean_shift.exec_s": "s",
    "series_mean_shift.rows_out": "count",
    "sources.ha_fixture.build_s": "s",
    "sources.ha_fixture.cached_bytes": "bytes",
    "memo.fit_s.numeric_points": "s",
    "memo.fit_s.curate_widen": "s",
    "plans.llm_ops.recrawl_build_s": "s",
    "plans.llm_ops.build_s": "s",
    "plans.llm_ops.curate_exec_s": "s",
    "operators.dedup.neardup_exec_s": "s",
    "operators.dedup.ngram_exec_s": "s",
    "operators.dedup.pairs_out": "count",
}


class Op(NamedTuple):
    wall_s: float
    #: CPU seconds of the whole process tree (driver, JVM, workers)
    cpu_s: float
    out: Any


def _pin_env(work: str) -> dict:
    """Pin what would otherwise leak host- or default-dependent noise
    into the run, and keep every temporary file inside ``work``."""
    cpus = len(os.sched_getaffinity(0))
    os.makedirs(work, exist_ok=True)
    pinned = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "TZ": "UTC",
        "TMPDIR": work,
        "SPARK_LOCAL_DIRS": work,
        "PYTHONPATH": ROOT + os.pathsep + os.environ.get("PYTHONPATH", ""),
        "PYSPARK_SUBMIT_ARGS": shlex.join([
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", f"spark.sql.warehouse.dir={work}/warehouse",
            "--driver-java-options",
            " ".join([f"-Djava.io.tmpdir={work}", *JVM_OPTS]),
            "pyspark-shell",
        ]),
    }
    os.environ.update(pinned)
    time.tzset()
    return {"nproc": cpus, "SPARK_GRAFT_CPUS": cpus,
            "SPARK_DRIVER_MEM": DRIVER_MEM, "jvm_opts": list(JVM_OPTS)}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = _parse(argv)
    work = os.path.join(HERE, ".cache", f"work-{os.getpid()}")
    context = _pin_env(work)
    sys.path.insert(0, ROOT)
    try:
        return _run(args, context)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _stop_jvm(spark) -> None:
    """Stop the session and its JVM and wait until the JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    # the gateway server exits when its stdin reaches EOF
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _make(name, inputs_dir, tracer):
    import workloads

    if name == "migrate_backfill":
        return workloads.MigrateBackfill(inputs_dir, tracer)
    if name == "dashboard_read":
        return workloads.DashboardRead(inputs_dir, tracer)
    return workloads.CurateDedup(inputs_dir, tracer)


def _run(args, context: dict) -> int:
    import gen

    from ha_sqllite_2_influxdb_spark.session import get_spark

    t_start = time.perf_counter()
    stamps = measure.HostStamps()
    inputs_dir = gen.inputs(args.seed, N_EVENTS, N_ENTITIES, N_DOCS)
    tracer = Tracer(bool(args.trace))
    wl = _make(args.workload, inputs_dir, tracer)
    rss = measure.PeakRss()
    counts = {"attempted": 0, "failed": 0}
    spark = None

    def cpu_s() -> float:
        """CPU seconds of the process tree, less the RSS sampler's."""
        return measure.tree_cpu_s(os.getpid()) - rss.cpu_s

    def run_op(op_id: str):
        """One checked op, or None if it failed."""
        tracer.op_id = op_id
        counts["attempted"] += 1
        try:
            c0 = cpu_s()
            t0 = time.perf_counter()
            with tracer.span("op"):
                out = wl.op(spark)
            dt = time.perf_counter() - t0
            cpu = cpu_s() - c0
            if wl.check(out):
                return Op(dt, cpu, out)
            print(f"op {op_id}: output mismatch", file=sys.stderr)
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            traceback.print_exc()
        counts["failed"] += 1
        return None

    cold = None
    try:
        tracer.op_id = "setup"
        c0 = cpu_s()
        t0 = time.perf_counter()
        with tracer.span("setup"):
            with tracer.span("session.get_spark"):
                t1 = time.perf_counter()
                spark = get_spark("perfbench")
                get_spark_s = time.perf_counter() - t1
            tracer.bind(spark.sparkContext)
            wl.warm(spark)
        setup_wall_s = time.perf_counter() - t0
        setup_cpu_s = cpu_s() - c0
        cold = run_op("cold")
        for w in range(WARM_OPS):
            run_op(f"warm{w}")

        untraced, traced, layers = [], [], []
        deadline = time.perf_counter() + args.seconds
        i = 0
        while True:
            now = time.perf_counter()
            if counts["failed"] or now - t_start > HARD_STOP_S:
                break
            if (now >= deadline and len(untraced) + len(traced) >= MIN_OPS
                    and (not args.trace or len(traced) >= 2)):
                break
            # traced mode alternates untraced ops (the overhead base) with
            # traced ones that also run the workload's layer prefixes
            tracer.enabled = bool(args.trace) and len(traced) < len(untraced)
            if tracer.enabled:
                op_id = f"op{i}"
                tracer.op_id = op_id
                lay = wl.trace_layers(spark)
                res = run_op(op_id)
                if res is not None:
                    traced.append((op_id, res))
                    layers.append(lay)
            else:
                res = run_op(f"op{i}")
                if res is not None:
                    untraced.append(res)
            i += 1
        tracer.collect()
    finally:
        peak = rss.stop()
        if spark is not None:
            _stop_jvm(spark)
        wl.close()

    times = [op.wall_s for op in untraced]
    cpus = [op.cpu_s for op in untraced]
    context.update(stamps.finish())
    context.update({
        "workload": args.workload, "seed": args.seed,
        "ops_timed": len(times),
        "op_wall_s": times,
        "op_cpu_s": cpus,
        "op_cpu_iqr_over_median": measure.iqr_ratio(cpus),
        "op_cpu_second_half_over_first": measure.half_ratio(cpus),
        "setup_wall_s": setup_wall_s,
        "setup_cpu_s": setup_cpu_s,
        "peak_rss_parts_mb": [round(b / 2**20) for b in rss.peak_parts],
    })
    print(json.dumps({"context": context}))
    correct = (counts["failed"] == 0 and cold is not None and bool(times)
               and (not args.trace or bool(traced)))
    if not correct:
        metrics = {}
    elif args.trace:
        metrics = _per_layer(args.workload, tracer, wl, traced, layers,
                             untraced, cold, setup_wall_s, get_spark_s,
                             peak)
        tracer.dump(os.path.join(
            HERE, ".cache", f"trace-{args.workload}-{args.seed}.json"),
            {"context": context, "metrics": metrics})
    else:
        metrics = {
            "setup_s": setup_cpu_s,
            "op_cpu_s": measure.median(cpus),
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]}
                   for k, v in metrics.items()}
    print(json.dumps({"correct": correct,
                      "attempted": counts["attempted"],
                      "failed": counts["failed"],
                      "metrics": metrics}))
    return 0


# ------------------------------------------------------------ per layer

def _med(xs):
    xs = list(xs)
    return measure.median(xs) if xs else 0.0


def _dur(s) -> float:
    return s["end"] - s["start"]


def _stages(tracer, span) -> list[dict]:
    """Stages run by ``span`` and its descendants."""
    out, todo = [], [span["id"]]
    while todo:
        s = tracer.spans[todo.pop()]
        out.extend(s["own"]["stages"])
        todo.extend(x["id"] for x in tracer.spans if x["parent"] == s["id"])
    return out


def _is_states_scan(stage: dict) -> bool:
    """The states scan is the one ``mapInPandas`` SQLite read that feeds
    a shuffle; the two dimension reads feed broadcasts."""
    c = stage["clusters"]
    return "MapInPandas" in c and "BroadcastExchange" not in c


def _per_layer(name, tracer, wl, traced, layers, untraced, cold,
               setup_wall_s, get_spark_s, peak_rss) -> dict:
    import workloads

    ops = [op_id for op_id, _ in traced]
    outs = [op.out for _, op in traced]
    # a layer the workload does not run keeps 0
    m = dict.fromkeys(PER_LAYER, 0.0)

    def span_med(span_name):
        return _med(_dur(s) for s in tracer.spans
                    if s["name"] == span_name and s["op"] in ops)

    def span_sum_med(span_name):
        """Median over ops of the summed durations of ``span_name``."""
        return _med(sum(_dur(s) for s in tracer.spans
                        if s["op"] == op_id and s["name"] == span_name)
                    for op_id in ops)

    def setup_dur(span_name):
        return _med(_dur(s) for s in tracer.find(span_name, "setup"))

    roots = [tracer.find("op", op_id)[0] for op_id in ops]
    p50 = _med(op.wall_s for op in untraced)
    m["op_p50_s"] = p50
    m["cold_op_s"] = cold.wall_s
    m["cold_op_cpu_s"] = cold.cpu_s
    m["setup_wall_s"] = setup_wall_s
    m["peak_rss_mb"] = peak_rss / 2**20
    m["session.get_spark_s"] = get_spark_s
    m["trace.overhead_s"] = _med(_dur(r) for r in roots) - p50
    incl = [tracer.inclusive(r["id"]) for r in roots]
    for c in COUNTERS:
        m[f"spark.{c}"] = _med(x[c] for x in incl)

    if "points_prefix" in layers[0]:
        # the transform layer is shared by the migration and the dashboard
        m["operators.transform.self_s"] = _med(
            _dur(ly["points_prefix"]) - _dur(ly["scan"]) for ly in layers)
        m["operators.transform.points"] = _med(ly["points"] for ly in layers)
        m["operators.transform.dropped"] = _med(
            ly["rows"] - ly["points"] for ly in layers)

    if name == "migrate_backfill":
        mains = [tracer.find("__main__.main", op_id)[0] for op_id in ops]
        writer = [[st for st in _stages(tracer, s)
                   if st["name"].startswith("foreachPartition")]
                  for s in mains]
        lines = _med(wl.points(o) for o in outs)
        nbytes = _med(sum(map(len, o[0])) for o in outs)
        m.update({
            # only here does an op's item count vary (with the seed); on
            # the other workloads it is fixed, so op_p50_s says it all
            "items_per_s": wl.points(untraced[0].out) / p50,
            "sinks.influx.probe_s": _med(_dur(ly["probe"]) for ly in layers),
            "sources.sqlite.scan_s": _med(_dur(ly["scan"]) for ly in layers),
            "sources.sqlite.rows": _med(ly["rows"] for ly in layers),
            "sources.sqlite.tasks": _med(
                sum(st["tasks"] for st in _stages(tracer, ly["scan"])
                    if "MapInPandas" in st["clusters"]) for ly in layers),
            "spark.scan_passes": _med(
                sum(map(_is_states_scan, _stages(tracer, s))) for s in mains),
            "sinks.influx.writer_tasks": _med(
                sum(st["tasks"] for st in w) for w in writer),
            "sinks.influx.failed_posts": _med(o[1] for o in outs),
            "sinks.influx.order_render_write_s": _med(
                _dur(s) - _dur(ly["points_prefix"]) - _dur(ly["probe"])
                for s, ly in zip(mains, layers)),
            "sinks.influx.lines": lines,
            "sinks.influx.bytes": nbytes,
            "sinks.influx.bytes_per_point": nbytes / lines,
            "sinks.influx.posts": _med(len(o[0]) for o in outs),
        })
    elif name == "dashboard_read":
        m.update({
            "plans.influxql_text.build_s":
                span_sum_med("plans.influxql_text.build"),
            "plans.flux_text.build_s": span_sum_med("plans.flux_text.build"),
            "plans.ha_stats.exec_s": span_med("ha_statistics_hourly.exec"),
            "sources.ha_fixture.build_s":
                setup_dur("sources.ha_fixture.build"),
            "sources.ha_fixture.cached_bytes": wl.cached_bytes,
            "memo.fit_s.numeric_points": setup_dur("memo.fit.numeric_points"),
        })
        for _mod, panel in workloads.PANELS:
            m[f"{panel}.exec_s"] = span_med(f"{panel}.exec")
            m[f"{panel}.rows_out"] = _med(len(o[panel][1]) for o in outs)
    else:
        m.update({
            "memo.fit_s.curate_widen": setup_dur("memo.fit.curate_widen"),
            "plans.llm_ops.recrawl_build_s":
                setup_dur("plans.llm_ops.recrawl_build"),
            "plans.llm_ops.build_s": span_sum_med("plans.llm_ops.build"),
            "plans.llm_ops.curate_exec_s":
                span_med("plans.llm_ops.curate_exec"),
            "operators.dedup.neardup_exec_s":
                span_med("operators.dedup.neardup_exec"),
            "operators.dedup.ngram_exec_s":
                span_med("operators.dedup.ngram_exec"),
            "operators.dedup.pairs_out":
                _med(len(o["neardup_xxhash_lsh"][1]) for o in outs),
        })
    assert m.keys() == PER_LAYER.keys(), set(m) ^ set(PER_LAYER)
    return {k: {"value": m[k], "unit": u} for k, u in PER_LAYER.items()}


if __name__ == "__main__":
    sys.exit(main())
