#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload facade_ingest --seed 1 --seconds 30 --trace 0

Run from the repository root.  One run: generate the seeded inputs, start
the engine's session, run the workload's warm-up, then time whole workload
passes until ``--seconds`` have elapsed, check the outputs, and print one
JSON result as the last line of stdout.  Every end-to-end timing is net of
host contention, read from the CPU steal of this VM meanwhile (``_net``).

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` installs the
outside-in tracer (perfbench/tracing.py) for the same passes and reports
the per-layer metrics plus the tracing overhead (traced minus untraced) of
each end-to-end timing.  Spans, calls and jobs of a traced run are written
to ``.perfbench_run/spans/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)


def _process_age_s() -> float:
    """Seconds since this process started (10 ms resolution).  The kernel
    keeps the start time on the boot-time clock, so the age is read on that
    clock too: no wall-clock adjustment moves it."""
    with open("/proc/self/stat") as fh:
        ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - ticks / os.sysconf("SC_CLK_TCK")


def _cpu_ticks() -> tuple[int, int]:
    """(busy, steal) clock ticks of all CPUs since boot, from /proc/stat.
    Busy is user, nice, system, irq and softirq time.  Steal is time a
    runnable vCPU waited for the hypervisor: an idle vCPU accrues none."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[0] + f[1] + f[2] + f[5] + f[6], f[7]


def _unstolen(k0: tuple[int, int], k1: tuple[int, int]) -> float:
    """Share of the CPU time the vCPUs asked for between two
    ``_cpu_ticks`` readings that they got: 1 on a host without steal."""
    busy, steal = k1[0] - k0[0], k1[1] - k0[1]
    return busy / (busy + steal) if busy + steal > 0 else 1.0


def _net(wall: float, k0: tuple[int, int], k1: tuple[int, int]) -> float:
    """A wall time net of host contention: times the square of the
    unstolen share.  The share alone takes out the stolen time.  The time
    the host does give also runs slower while other tenants load it (they
    share the cores' caches and memory bandwidth), and across runs that
    slowdown tracks the steal: the square takes out both (perfbench/README.md,
    "Net of host contention")."""
    return wall * _unstolen(k0, k1) ** 2


class Runner:
    """Owns the session and the call log of one run."""

    def __init__(self, spark, op_fns, oracle, tracer):
        self.spark = spark
        self.op_fns = op_fns  # registered ops, wrapped when tracing
        self.oracle = oracle
        self.tracer = tracer
        self.calls: list[dict] = []
        self.pass_windows: list[tuple[float, float]] = []
        self.phase: str | int = "warmup"
        self.traced = False
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.setup_program_s = 0.0

    def call(self, name: str, kind: str, build, execute=None, rows: int = 0) -> None:
        """One closed-loop call: ``build()`` then ``execute(result)``.
        In a traced pass the call gets its own job group and span."""
        sc = self.spark.sparkContext
        rec = {"name": name, "kind": kind, "phase": self.phase,
               "traced": self.traced, "rows": rows, "group": None}
        span = None
        if self.traced:
            cost0, c0 = self.tracer.cost, time.perf_counter()
            rec["group"] = f"pb-{len(self.calls)}"
            sc.setJobGroup(rec["group"], name, False)
            span = self.tracer.open(name, "bench", group=rec["group"])
            self.tracer.cost += time.perf_counter() - c0
        self.attempted += 1
        k0 = _cpu_ticks()
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            obj = build()
            rec["build_end"] = time.time()
            if execute is not None:
                execute(obj)
            rec["ok"] = True
        except Exception as exc:  # a failed call is counted, not fatal
            rec["ok"] = False
            rec.setdefault("build_end", time.time())
            self.failed += 1
            self.failures.append(f"{name}: {exc!r}")
            traceback.print_exc(file=sys.stderr)
        rec["end"] = time.time()
        if span is not None:
            c1 = time.perf_counter()
            self.tracer.close(span)
            span["build_end"] = rec["build_end"]
            sc.setLocalProperty("spark.jobGroup.id", None)
            self.tracer.cost += time.perf_counter() - c1
            rec["trace_cost"] = self.tracer.cost - cost0
        rec["latency"] = time.perf_counter() - t0
        rec["net"] = _net(rec["latency"], k0, _cpu_ticks())
        self.calls.append(rec)

    def check(self, label: str, problems: list[str]) -> None:
        """Count one correctness check; any problem fails it."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.failures.extend(problems)
            print(f"check failed ({label}): {problems[0]}", file=sys.stderr)


def _set_env(work_dir: str) -> None:
    """Per-run scratch dirs and the Spark worker environment.  Must run
    before the JVM starts: Spark's Python workers inherit it."""
    for sub in ("local", "ingest", "tmp"):
        os.makedirs(os.path.join(work_dir, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "local")
    os.environ["SPARK_GRAFT_INGEST_DIR"] = os.path.join(work_dir, "ingest")
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")
    # Keep the JVMs' temp files in the run dir too (no /tmp/hsperfdata_*).
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    paths = [ROOT, os.path.join(ROOT, "tests")]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        paths + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path[:0] = paths


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        kb = next(int(l.split()[1]) for l in fh if l.startswith("VmHWM"))
    return kb / 1024.0


def _stop(spark) -> None:
    """Stop the session and wait until the JVM process has exited."""
    from pyspark import SparkContext

    # connected components writes its label cache from a driver thread
    for t in threading.enumerate():
        if t.name.startswith("cc-cache"):
            t.join(timeout=60)
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (
        os.path.isfile(os.path.join(ROOT, "esxsnmp_tsdb_spark", "__init__.py"))
        and os.path.isfile(os.path.join(ROOT, "tests", "oracle_harness.py"))
    ):
        print("run from the repository root: esxsnmp_tsdb_spark/ and "
              "tests/oracle_harness.py must be there", file=sys.stderr)
        return 2

    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    run_tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    base = os.path.join(ROOT, ".perfbench_run")
    work_dir = os.path.join(base, run_tag)
    _set_env(work_dir)
    try:
        return _run(args, workloads, base, work_dir, run_tag)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)


def _run(args, workloads, base, work_dir, run_tag) -> int:
    import metrics
    import tracing

    k_start = _cpu_ticks()
    wl = workloads.WORKLOADS[args.workload](args.seed, work_dir)
    t = time.time()
    wl.generate()
    datagen_s = time.time() - t

    tracer = tracing.Tracer(run_tag) if args.trace else None
    install_s = 0.0
    if tracer:
        t = time.perf_counter()
        tracer.install()  # before registry imports the operator modules
        install_s = time.perf_counter() - t
    from esxsnmp_tsdb_spark import registry
    from esxsnmp_tsdb_spark.session import get_session

    spark = get_session("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = registry.queries()
    runner = Runner(
        spark, tracing.wrap_ops(queries, tracer) if tracer else queries,
        registry.oracle_sql(), tracer,
    )
    session_s = _process_age_s() - datagen_s
    try:
        wl.warm_and_check(runner)
        setup_raw_s = session_s + runner.setup_program_s
        setup_s = _net(setup_raw_s, k_start, _cpu_ticks())

        # Timed region: whole passes until --seconds have elapsed.  A batch
        # workload (one request per pass) is submitted once per process, so
        # it times one pass.  A traced run times the same passes with the
        # tracer on.
        walls: list[float] = []
        net_walls: list[float] = []
        runner.traced = bool(args.trace)
        if tracer:
            tracer.enabled = True
        while not walls or (wl.request == "call" and sum(walls) < args.seconds):
            runner.phase = len(walls)
            k0, w0, t0 = _cpu_ticks(), time.time(), time.perf_counter()
            wl.run_pass(runner, runner.phase)
            walls.append(time.perf_counter() - t0)
            net_walls.append(_net(walls[-1], k0, _cpu_ticks()))
            runner.pass_windows.append((w0, time.time()))
        if tracer:
            tracer.enabled = False
        runner.traced = False
        runner.phase = "after"

        # Outside the timed region: plan counts and output checks.
        t = time.perf_counter()
        plans = wl.plan_counts()
        for key, (_, bad) in plans.items():
            runner.check(f"{key} plan", [f"{key}: plan violations {bad}"] if bad else [])
        wl.verify(runner)
        check_s = time.perf_counter() - t
        rss_mb = _jvm_peak_rss_mb(spark)
        jobs = tracing.read_jobs(spark) if tracer else []
    finally:
        _stop(spark)
    k_end = _cpu_ticks()
    steal_s = (k_end[1] - k_start[1]) / os.sysconf("SC_CLK_TCK")

    timed = [c for c in runner.calls if isinstance(c["phase"], int)]
    e2e = {**metrics.e2e(timed, net_walls, wl.request), "setup_s": setup_s}
    raw = metrics.e2e(timed, walls, wl.request, key="latency")
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "traced": bool(args.trace),
        "passes": len(walls),
        "pass_walls_s": walls,
        "calls": len(timed),
        "datagen_s": datagen_s,
        "session_s": session_s,
        "check_s": check_s,
        "jvm_peak_rss_mb": rss_mb,
        "steal_s": steal_s,
        "unstolen": _unstolen(k_start, k_end),
        "setup_raw_s": setup_raw_s,
        **{f"{k.removesuffix('_s')}_raw_s": v for k, v in raw.items()},
        "failed_ratio": runner.failed / runner.attempted,
        "failures": runner.failures[:5],
        **metrics.named_for_workload(args.workload, timed, walls, wl),
    }
    if args.trace:
        extra = {
            "cores": int(os.environ["SPARK_GRAFT_CPUS"]),
            "install_s": install_s,
            "jvm_peak_rss_mb": rss_mb,
            "steal_s": steal_s,
        }
        layer = metrics.per_layer(runner, wl, plans, jobs, tracer, walls, extra)
        out_metrics = metrics.with_units(layer, metrics.PER_LAYER_UNITS)
        spans_dir = os.path.join(base, "spans")
        os.makedirs(spans_dir, exist_ok=True)
        with open(os.path.join(spans_dir, f"{run_tag}.json"), "w") as fh:
            json.dump({"spans": tracer.spans, "calls": runner.calls, "jobs": jobs}, fh)
    else:
        out_metrics = metrics.with_units(e2e, metrics.E2E_UNITS)
    print("# " + json.dumps(report))
    print(
        json.dumps(
            {
                "correct": runner.failed == 0,
                "attempted": runner.attempted,
                "failed": runner.failed,
                "metrics": out_metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
