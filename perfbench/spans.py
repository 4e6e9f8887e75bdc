"""Spans around the benchmark's calls into each layer, with Spark counters.

A span has a name, start, end, parent and op id. Each span runs its
jobs under its own Spark job group, so its counters come from Spark's
status store (``statusStore().jobsList`` / ``stageList`` answer with the
UI disabled). Spans live in memory and are written once, at exit.

With ``enabled=False`` a span is a bare context manager that records
nothing and sets no job group: untraced runs pay one generator frame
per call.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

#: counters summed over the stages a span's jobs ran
COUNTERS = ("jobs", "stages", "tasks", "shuffle_write_bytes",
            "spill_bytes", "executor_run_s", "executor_cpu_s", "gc_s")


def self_time(span: tuple[float, float],
              children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover
    (overlapping children are counted once, parts outside the span not
    at all)."""
    start, end = span
    covered = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in children):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (end - start) - covered


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op_id: str = "setup"
        self._stack: list[int] = []
        self._sc = None

    def bind(self, sc) -> None:
        """Follow ``sc``: later spans run their jobs under its groups."""
        self._sc = sc
        if self._stack:
            top = self.spans[self._stack[-1]]
            self._set_group(top["group"], top["name"])

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": self.op_id,
               "parent": self._stack[-1] if self._stack else None,
               "group": f"perfbench-{sid}", "attrs": dict(attrs)}
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(rec["group"], name)
        rec["start"] = time.perf_counter()
        rec["wall_ms"] = time.time() * 1000.0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self._set_group(parent["group"], parent["name"])
            elif self._sc is not None:
                self._sc._jsc.clearJobGroup()

    def _set_group(self, group: str, desc: str) -> None:
        if self._sc is not None:
            self._sc.setJobGroup(group, desc)

    # ------------------------------------------------------------ counters

    def collect(self) -> None:
        """Attach own-group Spark counters to every span not yet done.
        Must run before the SparkContext stops (its store goes with it)."""
        todo = {s["group"]: s for s in self.spans if "own" not in s}
        if not todo or self._sc is None:
            return
        own = _stages_by_group(self._sc, set(todo))
        for group, s in todo.items():
            s["own"] = own.get(group) or _no_counters()

    def inclusive(self, sid: int) -> dict:
        """Counters of span ``sid`` and all its descendants."""
        out = {c: 0 for c in COUNTERS}
        todo = [sid]
        while todo:
            s = self.spans[todo.pop()]
            for c in COUNTERS:
                out[c] += (s["own"][c] if c != "stages"
                           else len(s["own"]["stages"]))
            todo.extend(x["id"] for x in self.spans if x["parent"] == s["id"])
        return out

    def self_s(self, sid: int) -> float:
        s = self.spans[sid]
        kids = [(x["start"], x["end"]) for x in self.spans
                if x["parent"] == sid]
        return self_time((s["start"], s["end"]), kids)

    def find(self, name: str, op: str | None = None) -> list[dict]:
        return [s for s in self.spans if s["name"] == name
                and (op is None or s["op"] == op)]

    def dump(self, path: str, extra: dict) -> None:
        out = []
        for s in self.spans:
            row = {k: v for k, v in s.items() if k != "own"}
            row["self_s"] = self.self_s(s["id"])
            row["duration_s"] = s["end"] - s["start"]
            own = dict(s.get("own", {}))
            own["stages"] = [st["id"] for st in own.get("stages", [])]
            row["counters"] = own
            out.append(row)
        with open(path, "w") as f:
            json.dump({"spans": out, **extra}, f, indent=1, default=str)


def _no_counters() -> dict:
    return {"jobs": 0, "stages": [], **dict.fromkeys(COUNTERS[2:], 0)}


def _graph_clusters(store, stage_id: int) -> list[str]:
    names, todo = [], [store.operationGraphForStage(stage_id).rootCluster()]
    while todo:
        c = todo.pop()
        names.append(c.name())
        kids = c.childClusters()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return names


def _stages_by_group(sc, groups: set[str]) -> dict[str, dict]:
    """Counters of each job group in ``groups`` that ran a job. A stage is
    charged to the first job that lists it (the one that created it) and
    only when it ran, so a stage reused by a later job counts once."""
    jvm = sc._gateway.jvm
    store = sc._jsc.sc().statusStore()
    stage_data = {}
    stages = store.stageList(None, False, False,
                             sc._gateway.new_array(jvm.double, 0), None)
    for i in range(stages.size()):
        st = stages.apply(i)
        prev = stage_data.get(st.stageId())
        if prev is None or st.attemptId() > prev.attemptId():
            stage_data[st.stageId()] = st
    jobs = store.jobsList(None)
    owner: dict[int, int] = {}
    job_group: dict[int, str] = {}
    for i in range(jobs.size()):
        job = jobs.apply(i)
        grp = job.jobGroup()
        job_group[job.jobId()] = grp.get() if grp.isDefined() else None
        ids = job.stageIds()
        for k in range(ids.size()):
            sid = ids.apply(k)
            if sid not in owner or job.jobId() < owner[sid]:
                owner[sid] = job.jobId()
    acc: dict[str, dict] = {}
    for jid, grp in job_group.items():
        if grp in groups:
            acc.setdefault(grp, _no_counters())["jobs"] += 1
    for sid, jid in owner.items():
        grp = job_group.get(jid)
        st = stage_data.get(sid)
        if grp not in acc or st is None or str(st.status()) == "SKIPPED":
            continue
        a = acc[grp]
        a["stages"].append({
            "id": sid, "job": jid, "name": st.name(),
            "tasks": st.numTasks(),
            "clusters": _graph_clusters(store, sid),
            "shuffle_read_records": st.shuffleReadRecords(),
            "shuffle_write_records": st.shuffleWriteRecords(),
            "executor_run_s": st.executorRunTime() / 1e3,
        })
        a["tasks"] += st.numTasks()
        a["shuffle_write_bytes"] += st.shuffleWriteBytes()
        a["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        a["executor_run_s"] += st.executorRunTime() / 1e3
        a["executor_cpu_s"] += st.executorCpuTime() / 1e9
        a["gc_s"] += st.jvmGcTime() / 1e3
    return acc
