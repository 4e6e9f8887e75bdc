"""bench.py's per-query record and the core count it stamps.

The record splits each query's steady wall into driver build and
execution and carries the Spark counters of its cold pass; the counts are
what a reader compares across runs, so they must repeat exactly.
"""

import os
import subprocess
import sys

import bench
from perfbench.spans import Tracer

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_measure_records_split_and_stage_counters(spark, sf_dir):
    bench.warm_up(spark, sf_dir)
    tracer = Tracer(True)
    tracer.bind(spark.sparkContext)
    recs = {
        name: [bench.measure(spark, sf_dir, name, bench.HEADLINE[name],
                             tracer, runs=1) for _ in range(2)]
        for name in ("flux_window_fill_prev", "ha_points")
    }
    for name, (first, second) in recs.items():
        for key in ("steady_s", "cold_s", "build_s", "exec_s", "per_stage",
                    *bench.SPAN_COUNTERS):
            assert key in first, (name, key)
        assert first["jobs"] >= 1, name
        # the min build and min exec may come from different passes, but
        # never sum past the min pass
        assert first["build_s"] + first["exec_s"] <= first["steady_s"] + 2e-3
        counts = ("jobs", "stages", "tasks")
        assert ([first[c] for c in counts]
                == [second[c] for c in counts]), (name, first, second)
    assert recs["flux_window_fill_prev"][0]["shuffle_write_bytes"] > 0


def test_default_session_uses_affinity_cores():
    """Without SPARK_GRAFT_CPUS the default session runs on the cores this
    process may use, so a record's core count is the host's, not a
    hard-coded default."""
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    code = ("from ha_sqllite_2_influxdb_spark.session import get_spark\n"
            "s = get_spark('cores')\n"
            "print('cores', s.sparkContext.defaultParallelism)\n"
            "s.stop()\n")
    proc = subprocess.run([sys.executable, "-c", code], cwd=REPO, env=env,
                          capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-2000:]
    reported = [ln for ln in proc.stdout.splitlines()
                if ln.startswith("cores ")]
    assert reported == [f"cores {len(os.sched_getaffinity(0))}"], proc.stdout
