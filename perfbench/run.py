"""Validation benchmark for simpl_schema_spark.

    python3 perfbench/run.py --workload micro_batches --seed 1 --seconds 6 --trace 0

Workloads: ``bulk_validate``, ``micro_batches``, ``corpus_checks``, or
``all`` (see ``workloads.py`` and ``README.md``).  Every file a run writes
goes under ``.perfbench_work/`` in the repository root.

A run stages its seeded inputs in a child process (``prepare.py``), sets up
a Spark session four times (``setup_s`` is the median), runs untimed
warm-up rounds, then repeats rounds until ``--seconds`` have passed and
the workload's ``min_rounds`` have run.  Every
call's output is checked against DuckDB.  With ``--trace 0`` the last line
of stdout is the JSON result with the end-to-end metrics; with ``--trace 1``
it carries the per-layer metrics, and rounds alternate traced and plain so
that the instrumentation's overhead is measured in the same run.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SETUP_REPEATS = 4
PACKAGE = "simpl_schema_spark"
#: modules whose public calls the workloads time; schema and cache are
#: reported by name in the per-layer table too
CALL_MODULES = ("validation", "pipeline", "modifiers", "jsondoc", "checks", "dedup", "graph")
COLD_MODULES = ("validation", "pipeline", "modifiers", "jsondoc")


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def host_ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def hwm_mb(pid: int | str) -> float:
    """Peak resident set size of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"VmHWM missing for pid {pid}")


def pct(xs: list[float], q: int) -> float:
    """The q-th percentile (inclusive method)."""
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


class Session:
    """Owns the SparkSession, its JVM and the workload object."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.cores = host_cores()
        self.heap_mb = min(3072, host_ram_mb() // 4)
        self.spark = None
        self.event_log = os.path.join(work, "eventlog") if args.trace else None

    def builder(self):
        from pyspark.sql import SparkSession

        tmp = os.path.join(self.work, "tmp")
        b = (
            SparkSession.builder.master(f"local[{self.cores}]")
            .appName(f"perfbench-{self.args.workload}")
            .config("spark.sql.shuffle.partitions", str(self.cores))
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.driver.memory", f"{self.heap_mb}m")
            # a fixed, pre-touched heap: the heap's share of peak_rss_mb is
            # then the same in every run instead of following GC ergonomics
            .config("spark.driver.extraJavaOptions",
                    f"-Xms{self.heap_mb}m -XX:+AlwaysPreTouch -XX:-UsePerfData "
                    f"-Djava.io.tmpdir={tmp}")
            .config("spark.local.dir", os.path.join(self.work, "spark-local"))
            .config("spark.sql.warehouse.dir", os.path.join(self.work, "warehouse"))
            .config("spark.checkpoint.dir", os.path.join(self.work, "checkpoints"))
        )
        if self.event_log:
            os.makedirs(self.event_log, exist_ok=True)
            b = (b.config("spark.eventLog.enabled", "true")
                 .config("spark.eventLog.dir", f"file://{self.event_log}")
                 .config("spark.eventLog.compress", "false")
                 .config("spark.eventLog.rolling.enabled", "false"))
        return b

    def set_up(self, workload_cls, expected) -> tuple[float, bool]:
        """Start a session, import the package afresh and finish the
        workload's warm-up call; returns the seconds taken and whether the
        call's output was right."""
        if self.spark is not None:
            self.spark.stop()
        for name in list(sys.modules):
            if name == PACKAGE or name.startswith(PACKAGE + ".") or name == "__spark_entry__":
                del sys.modules[name]
        t0 = time.perf_counter()
        self.spark = self.builder().getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        importlib.import_module(PACKAGE)
        importlib.import_module("__spark_entry__")
        self.workload = workload_cls(self.spark, self.work, expected)
        call = self.workload.round(warmup=True)[0]
        result = call.finish(call.build())
        elapsed = time.perf_counter() - t0
        ok = call.check(result)
        if not ok:
            print(f"FAILED: warm-up {call.module}.{call.fn}", file=sys.stderr)
        return elapsed, ok

    def release(self) -> None:
        """Drop every cached table and persisted RDD, so the next round
        cannot reuse what this one left."""
        from simpl_schema_spark import cache

        cache.release_tracked()
        self.spark.catalog.clearCache()
        for rdd in self.spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(True)

    def peak_rss_mb(self) -> float:
        return hwm_mb("self") + hwm_mb(self.spark.sparkContext._gateway.proc.pid)

    def close(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = gateway.proc
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Runner:
    """Runs calls, checks their outputs and keeps the timings."""

    def __init__(self, tracer=None):
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        #: wall times of plain (untraced) calls and rounds
        self.call_s: list[float] = []
        self.round_s: list[float] = []
        self.traced_round_s: list[float] = []
        #: (module, cold, build seconds) of every successful measured call,
        #: traced or plain, so cold builds of every call type are seen
        self.builds: list[tuple[str, bool, float]] = []

    def run_round(self, calls, traced: bool, root_span: int | None) -> None:
        total = 0.0
        times = []
        start = time.perf_counter()
        for call in calls:
            self.attempted += 1
            try:
                if traced:
                    result, dt = self.tracer.call(call.module, call.fn, call.build, call.finish,
                                                  root_span, call.cold)
                    build_s = self.tracer.calls[-1]["build_s"]
                else:
                    t0 = time.perf_counter()
                    df = call.build()
                    build_s = time.perf_counter() - t0
                    result = call.finish(df)
                    dt = time.perf_counter() - t0
                ok = call.check(result)
            except Exception:  # noqa: BLE001 — a failing call is counted, the run goes on
                traceback.print_exc()
                ok, dt = False, float("nan")
            times.append(dt)
            if not ok:
                self.failed += 1
                print(f"FAILED: {call.module}.{call.fn} (cold={call.cold})", file=sys.stderr)
                continue
            total += dt
            self.builds.append((call.module, call.cold, build_s))
            if not traced:
                self.call_s.append(dt)
        if traced:
            self.tracer.span("round", root_span, start, time.perf_counter())
            self.traced_round_s.append(total)
        else:
            self.round_s.append(total)
        print(f"  round {total:.3f} s{' (traced)' if traced else ''}: "
              + " ".join(f"{c.fn}{'*' if c.cold else ''}={t:.3f}" for c, t in zip(calls, times)),
              file=sys.stderr, flush=True)


def prepare_inputs(args, work: str, cores: int) -> dict:
    env = dict(os.environ, TMPDIR=os.path.join(work, "tmp"))
    subprocess.run(
        [sys.executable, os.path.join(HERE, "prepare.py"), "--workload", args.workload,
         "--seed", str(args.seed), "--out", work, "--files", str(2 * cores)],
        check=True, timeout=170, env=env, stdout=sys.stderr,
    )
    with open(os.path.join(work, "expected.json")) as f:
        return json.load(f)


def phase(what: str, t_run: float) -> None:
    print(f"[{time.perf_counter() - t_run:7.2f} s] {what}", file=sys.stderr, flush=True)


def end_to_end(runner: Runner, setups: list[float], workload, rss: float) -> dict:
    round_s = statistics.median(runner.round_s)
    calls = runner.round_s if workload.call_is_round else runner.call_s
    return {
        "setup_s": (statistics.median(setups), "s"),
        "docs_per_s": (workload.docs_per_round / round_s, "docs/s"),
        "call_p50_s": (statistics.median(calls), "s"),
        "call_p90_s": (pct(calls, 90), "s"),
        "round_s": (round_s, "s"),
        "peak_rss_mb": (rss, "MB"),
    }


#: per-call layer metrics reported for every module in CALL_MODULES:
#: (name, unit, how the per-call values are summarised)
LAYER_KINDS = (
    ("build_s", "s", "median"), ("build_cold_s", "s", "median"),
    ("py4j_calls", "count", "mean"), ("build_jobs", "count", "mean"),
    ("plan_s", "s", "median"), ("exec_s", "s", "median"),
    ("exec_jobs", "count", "mean"), ("tasks", "count", "mean"), ("task_s", "s", "mean"),
    ("gc_s", "s", "mean"),
    ("shuffle_mb", "MB", "mean"), ("spill_mb", "MB", "mean"), ("rdds_left", "count", "mean"),
)
#: event-log task metrics, summed over a call's build, plan and exec groups
TASK_KINDS = ("tasks", "task_s", "shuffle_mb", "spill_mb", "python_s", "python_rows")


def per_layer(tracer, folded: dict, runner: Runner, construct_s: list[float]) -> dict:
    def summary(how: str, xs: list[float]) -> float:
        if not xs:
            return 0.0
        return statistics.median(xs) if how == "median" else sum(xs) / len(xs)

    calls = []
    for c in tracer.calls:
        c = dict(c)
        for key in TASK_KINDS:
            c[key] = sum(folded.get(f"{c['group']}:{ph}", {}).get(key, 0.0)
                         for ph in ("build", "plan", "exec"))
        calls.append(c)

    out = {}
    for m in CALL_MODULES:
        mc = [c for c in calls if c["module"] == m]
        for kind, unit, how in LAYER_KINDS:
            if kind in ("build_s", "build_cold_s"):
                if kind == "build_cold_s" and m not in COLD_MODULES:
                    continue
                cold = kind == "build_cold_s"
                xs = [s for mod, c, s in runner.builds if mod == m and c == cold]
            else:
                xs = [c[kind] for c in mc]
            out[f"{m}.{kind}"] = (summary(how, xs), unit)
    py = [c for c in calls if c["python_rows"] > 0]
    out["validation.python_s"] = (summary("mean", [c["python_s"] for c in py]), "s")
    out["validation.arrow_rows"] = (summary("mean", [c["python_rows"] for c in py]), "count")
    out["schema.construct_s"] = (summary("median", construct_s), "s")
    out["cache.persisted_rdds"] = (summary("mean", [c["persisted_rdds"] for c in calls]), "count")
    traced = statistics.median(runner.traced_round_s)
    plain = statistics.median(runner.round_s)
    out["trace.traced_round_s"] = (traced, "s")
    out["trace.plain_round_s"] = (plain, "s")
    out["trace.overhead_pct"] = (100.0 * (traced - plain) / plain, "%")
    return out


def print_table(title: str, metrics: dict) -> None:
    print(f"== {title}")
    for name, (value, unit) in metrics.items():
        print(f"  {name:32s} {value:14.6g} {unit}")


def print_layer_table(metrics: dict) -> None:
    kinds = [k for k, _, _ in LAYER_KINDS]
    print("== per-layer, per call (medians for times, means for counts)")
    print("  " + f"{'module':11s}" + "".join(f"{k:>13s}" for k in kinds))
    for mod in CALL_MODULES:
        cells = "".join(
            f"{metrics[f'{mod}.{k}'][0]:13.4g}" if f"{mod}.{k}" in metrics else f"{'-':>13s}"
            for k in kinds
        )
        print(f"  {mod:11s}{cells}")
    for name, (value, unit) in metrics.items():
        if name.partition(".")[2] not in kinds:
            print(f"  {name:32s} {value:14.6g} {unit}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, help="a workload name, or 'all'")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # the benchmark measures the checkout it sits in, never an installed copy
    missing = [p for p in (PACKAGE, "__spark_entry__.py") if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"cannot run: {', '.join(missing)} missing from {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    from workloads import WORKLOADS

    if args.workload == "all":
        # each workload in its own process, so each starts its own JVM
        codes = [subprocess.run([sys.executable, os.path.abspath(__file__), "--workload", w,
                                 "--seed", str(args.seed), "--seconds", str(args.seconds),
                                 "--trace", str(args.trace)]).returncode
                 for w in WORKLOADS]
        return max(codes)
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # keep every temporary file inside the checkout: Python's, the JVM's
    # (java.io.tmpdir, set in Session.builder) and the Spark launcher JVM's
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ.setdefault("PYARROW_IGNORE_TIMEZONE", "1")
    session = Session(args, work)
    t_run = time.perf_counter()
    expected = prepare_inputs(args, work, session.cores)
    phase("inputs staged", t_run)

    try:
        set_ups = [session.set_up(WORKLOADS[args.workload], expected)
                   for _ in range(SETUP_REPEATS)]
        setups = [s for s, _ in set_ups]
        phase(f"set-ups {', '.join(f'{x:.2f}' for x in setups)} s", t_run)
        workload = session.workload
        tracer = None
        if args.trace:
            from layers import Tracer
            tracer = Tracer(session.spark)
        runner = Runner(tracer)
        # untimed warm-up rounds: JIT and code generation for every call type
        warm = Runner()
        for k in range(workload.warmup_rounds + workload.full_warmup_rounds):
            warm.run_round(workload.round(warmup=k < workload.warmup_rounds), False, None)
            session.release()
        phase("warm-up rounds", t_run)
        runner.attempted = warm.attempted + len(set_ups)
        runner.failed = warm.failed + sum(not ok for _, ok in set_ups)
        start = time.perf_counter()
        root = tracer.span("run", None, start, start) if tracer else None
        r = 0
        # traced runs alternate traced and plain rounds as ABBA..., which
        # cancels a linear drift between them, and take at least four
        while (time.perf_counter() - start < args.seconds or r < workload.min_rounds
               or (tracer and r < 4)):
            runner.run_round(workload.round(), bool(tracer) and r % 4 in (0, 3), root)
            session.release()
            r += 1
        phase(f"{r} rounds measured", t_run)
        rss = session.peak_rss_mb()
        if tracer:
            tracer.end_span(root, time.perf_counter())
            tracer.close()
    finally:
        session.close()

    phase("session closed", t_run)
    correct = runner.failed == 0 and bool(runner.call_s)
    if not runner.call_s:
        metrics = {}
    elif args.trace:
        from layers import fold_event_log
        folded = fold_event_log(session.event_log)
        tracer.dump(os.path.join(work, "spans.json"))
        metrics = per_layer(tracer, folded, runner, workload.construct_s)
        print_layer_table(metrics)
        print(f"  spans written to {os.path.relpath(os.path.join(work, 'spans.json'), ROOT)}")
    else:
        metrics = end_to_end(runner, setups, workload, rss)
        print_table(f"{args.workload} (seed {args.seed}, {workload.docs_per_round} docs per round, "
                    f"{len(runner.round_s)} rounds, {len(runner.call_s)} calls)", metrics)
    failed_frac = runner.failed / runner.attempted
    print(f"  {'failed_frac':32s} {failed_frac:14.6g} ({runner.failed} of {runner.attempted} calls)")
    print(json.dumps({
        "correct": correct,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
