"""Per-layer tracing for the benchmark's traced run (``--trace 1``).

Everything here observes the engine from outside; nothing in the package is
patched.  A traced call is split into the ROADMAP's layers:

- **build** — the public call that returns a DataFrame: schema → Column
  compilation, py4j round trips, and every Spark job the operator fires
  before it returns (its job group ends in ``:build``);
- **plan** — Catalyst analysis, optimisation and physical planning, forced
  with ``queryExecution().executedPlan()``;
- **exec** — the action that completes the result (job group ``:exec``);
- **gc** — JVM GC time from the GarbageCollector MXBeans;
- **python** — Arrow/pandas UDF run time ("time to run Python workers")
  and rows, from the SQL metrics of plan nodes whose name contains
  ``Python``.

Spans (name, start, end, parent, one id per call) are kept in memory and
written out by :meth:`Tracer.dump`.  Task metrics (task count,
executorRunTime, shuffle write, spill) come from the Spark event log, folded
by job group in :func:`fold_event_log` after the session stops.
"""

from __future__ import annotations

import glob
import json
import time
from collections import defaultdict


class Py4jCounter:
    """Counts py4j commands sent from Python while ``active``.

    Installed as an instance attribute over the gateway client's
    ``send_command``; every JavaObject/JavaMember looks it up per call."""

    def __init__(self, gateway_client):
        self.count = 0
        self.active = False
        self._client = gateway_client
        self._orig = gateway_client.send_command

        def send_command(*args, **kwargs):
            if self.active:
                self.count += 1
            return self._orig(*args, **kwargs)

        gateway_client.send_command = send_command

    def uninstall(self) -> None:
        self._client.send_command = self._orig


class Tracer:
    """Spans, job groups, py4j counts and GC deltas for one session."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.py4j = Py4jCounter(self.sc._gateway._gateway_client)
        self.spans: list[dict] = []
        self.calls: list[dict] = []
        self._next_id = 0

    def close(self) -> None:
        self.py4j.uninstall()

    # -- primitives (their own py4j traffic is not counted) ------------------

    def gc_ms(self) -> int:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans)

    def jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def persisted_rdds(self) -> int:
        return len(self.sc._jsc.getPersistentRDDs())

    def span(self, name: str, parent: int | None, start: float, end: float, **attrs) -> int:
        self._next_id += 1
        self.spans.append({"id": self._next_id, "name": name, "parent": parent,
                           "start": start, "end": end, **attrs})
        return self._next_id

    def end_span(self, span_id: int, end: float) -> None:
        self.spans[span_id - 1]["end"] = end

    # -- one public call -----------------------------------------------------

    def call(self, module: str, fn: str, build, finish, parent: int | None, cold: bool):
        """Run ``finish(build())`` as one traced call.  Returns the result
        and the call's wall time without the forced planning step."""
        group = f"{module}.{fn}#{len(self.calls)}"
        rdds0 = self.persisted_rdds()
        gc0 = self.gc_ms()
        t0 = time.perf_counter()
        try:
            self.sc.setJobGroup(f"{group}:build", f"{module}.{fn} build")
            self.py4j.count, self.py4j.active = 0, True
            df = build()
            t1 = time.perf_counter()
            self.py4j.active = False
            build_calls = self.py4j.count
            self.sc.setJobGroup(f"{group}:plan", f"{module}.{fn} plan")
            df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            self.sc.setJobGroup(f"{group}:exec", f"{module}.{fn} exec")
            self.py4j.count, self.py4j.active = 0, True
            result = finish(df)
            t3 = time.perf_counter()
        finally:
            self.py4j.active = False
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        exec_calls = self.py4j.count
        rdds = self.persisted_rdds()
        self.calls.append({
            "module": module, "fn": fn, "group": group, "cold": cold,
            "build_s": t1 - t0, "plan_s": t2 - t1, "exec_s": t3 - t2,
            "py4j_calls": build_calls + exec_calls,
            "build_jobs": len(self.jobs(f"{group}:build")),
            "plan_jobs": len(self.jobs(f"{group}:plan")),
            "exec_jobs": len(self.jobs(f"{group}:exec")),
            "gc_s": (self.gc_ms() - gc0) / 1000.0,
            "persisted_rdds": rdds,
            "rdds_left": rdds - rdds0,
        })
        cid = self.span(f"{module}.{fn}", parent, t0, t3, call=group, cold=cold)
        self.span("build", cid, t0, t1, call=group)
        self.span("plan", cid, t1, t2, call=group)
        self.span("exec", cid, t2, t3, call=group)
        return result, (t1 - t0) + (t3 - t2)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "calls": self.calls}, f)


def fold_event_log(log_dir: str) -> dict[str, dict]:
    """Task metrics from the event log(s) under ``log_dir``, summed per job
    group: tasks, executor run time, shuffle bytes written, spilled bytes
    (memory + disk), and the time and rows of Python plan nodes.  GC time
    comes from the MXBeans instead: in local mode the executors live in the
    session's JVM."""
    stage_group: dict[int, str] = {}
    python_accums: dict[int, tuple[str, str]] = {}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))

    def plan_python_metrics(info: dict) -> None:
        if "Python" in info.get("nodeName", ""):
            for m in info.get("metrics", []):
                python_accums[m["accumulatorId"]] = (m["name"], m.get("metricType", ""))
        for child in info.get("children", []):
            plan_python_metrics(child)

    for path in sorted(glob.glob(f"{log_dir}/*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                    plan_python_metrics(ev.get("sparkPlanInfo", {}))
                elif kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in ev.get("Stage IDs", []):
                            stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    tm = ev.get("Task Metrics")
                    if group is None or not tm:
                        continue
                    g = out[group]
                    g["tasks"] += 1
                    g["task_s"] += tm.get("Executor Run Time", 0) / 1000.0
                    g["shuffle_mb"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 1e6
                    g["spill_mb"] += (tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)) / 1e6
                    for acc in ev.get("Task Info", {}).get("Accumulables", []):
                        if acc.get("ID") not in python_accums:
                            continue
                        name, metric_type = python_accums[acc["ID"]]
                        update = float(acc.get("Update") or 0)
                        if name == "number of output rows":
                            g["python_rows"] += update
                        elif name == "time to run Python workers":
                            g["python_s"] += update / (1e9 if metric_type == "nsTiming" else 1e3)
    return out
