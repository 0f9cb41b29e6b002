"""Metric definitions: the end-to-end set every workload reports, the
workload-named aliases printed in the report line, and the per-layer
metrics of a traced run.

Per-layer times and counts are per pass (totals over the traced passes
divided by their number), so they compare across runs of any length.
"""

from __future__ import annotations

import statistics

E2E_UNITS = {
    "setup_s": "s",
    "request_p50_s": "s",
    "pass_wall_s": "s",
}

_TIMED_E2E = ("request_p50_s", "pass_wall_s")

PER_LAYER_UNITS = {
    "session.tune_calls": "count/pass",
    "session.tune_s": "s/pass",
    "sources.catalog_calls": "count/pass",
    "sources.catalog_s": "s/pass",
    "operators.build_s": "s/pass",
    "operators.exec_s": "s/pass",
    "operators.build_jobs": "count/pass",
    "operators.exec_jobs": "count/pass",
    "operators.cluster_stats_build_jobs": "count",
    "operators.async_jobs_in_other_calls": "count/pass",
    "api.insert_self_s": "s/pass",
    "api.insert_jobs": "count/pass",
    "api.files_per_var": "count",
    "api.select_s": "s/pass",
    "api.timerange_s": "s/pass",
    "api.get_last_s": "s/pass",
    "api.update_aggregates_s": "s/pass",
    "api.compact_s": "s/pass",
    "api.insert_p50_s": "s",
    "api.insert_tail_s": "s",
    "api.ingest_rows_per_s": "1/s",
    "api.read_p50_s": "s",
    "api.read_tail_s": "s",
    "api.maintenance_s": "s/pass",
    "api.bytes_per_user_byte": "ratio",
    "sources.ladder_s": "s/pass",
    "sources.compact_s": "s/pass",
    "sources.compact_files_in": "count/pass",
    "sources.compact_files_out": "count/pass",
    "sources.bytes_rewritten": "B/pass",
    "plans.exchanges": "count/pass",
    "plans.violations": "count/pass",
    "spark.jobs": "count/pass",
    "spark.stages": "count/pass",
    "spark.tasks": "count/pass",
    "spark.run_ms": "ms/pass",
    "spark.cpu_ms": "ms/pass",
    "spark.cpu_util": "ratio",
    "spark.shuffle_write_bytes": "B/pass",
    "spark.shuffle_read_bytes": "B/pass",
    "spark.spill_bytes": "B/pass",
    "spark.gc_ms": "ms/pass",
    "spark.task_max_over_p50": "ratio",
    "spark.jvm_peak_rss_mb": "MB",
    **{f"trace.overhead.{k}": E2E_UNITS[k] for k in (*_TIMED_E2E, "setup_s")},
    "host.steal_s": "s",
}


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it.  With fewer than 21 samples that percentile would
    sit below the median, so the maximum is reported (percentile 100)."""
    xs = sorted(values)
    n = len(xs)
    if n < 21:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def e2e(
    calls: list[dict], pass_walls: list[float], request: str, key: str = "net"
) -> dict[str, float]:
    """The timed end-to-end metrics.  A request is one call, or one whole
    pass for a batch workload (``request == "pass"``).  ``key`` picks the
    calls' net (``net``) or raw (``latency``) times; ``pass_walls``
    must be of the same kind."""
    lat = pass_walls if request == "pass" else [c[key] for c in calls]
    return {
        "request_p50_s": statistics.median(lat),
        "pass_wall_s": statistics.median(pass_walls),
    }


def with_units(values: dict[str, float], units: dict[str, str]) -> dict:
    return {k: {"value": float(values[k]), "unit": u} for k, u in units.items()}


def _kind(calls, kind):
    return [c["latency"] for c in calls if c["kind"] == kind]


def facade(calls: list[dict], n_passes: int, wl) -> dict[str, float]:
    """facade_ingest's write, read, maintenance and space metrics."""
    ins, reads = _kind(calls, "insert"), _kind(calls, "read")
    if not ins:
        return dict.fromkeys(
            ("insert_p50_s", "insert_tail_s", "ingest_rows_per_s", "read_p50_s",
             "read_tail_s", "maintenance_s", "bytes_per_user_byte"), 0.0
        )
    rows = sum(c.get("rows", 0) for c in calls if c["kind"] == "insert")
    return {
        "insert_p50_s": statistics.median(ins),
        "insert_tail_s": tail(ins)[0],
        "ingest_rows_per_s": rows / sum(ins),
        "read_p50_s": statistics.median(reads),
        "read_tail_s": tail(reads)[0],
        "maintenance_s": sum(_kind(calls, "maintenance")) / n_passes,
        "bytes_per_user_byte": wl.disk_bytes / wl.user_bytes,
    }


def named_for_workload(workload: str, calls, walls, wl) -> dict:
    """The workload's metrics under the names the benchmark's design uses
    (perfbench/README.md), for the human-readable report line."""
    if workload == "curation_batch":
        return {"batch_wall_s": statistics.median(walls), "batch_samples": len(walls)}
    out = facade(calls, len(walls), wl)
    out["insert_samples"] = len(_kind(calls, "insert"))
    out["read_samples"] = len(_kind(calls, "read"))
    out["read_tail_pct"] = tail(_kind(calls, "read"))[1]
    return out


def overhead(calls: list[dict], walls: list[float], request: str) -> dict[str, float]:
    """Traced minus untraced for each timed end-to-end metric, where the
    untraced figure of a call is its latency less the time spent in
    tracing code during it (spans, job groups, compaction listings)."""
    cost = [0.0] * len(walls)
    for c in calls:
        cost[c["phase"]] += c["trace_cost"]
    bare = [{**c, "latency": c["latency"] - c["trace_cost"]} for c in calls]
    traced = e2e(calls, walls, request, key="latency")
    untraced = e2e(bare, [w - k for w, k in zip(walls, cost)], request, key="latency")
    return {k: traced[k] - untraced[k] for k in _TIMED_E2E}


def per_layer(runner, wl, plans, jobs, tracer, walls, extra) -> dict:
    """Every per-layer metric of a traced run (all its passes are traced)."""
    calls = [c for c in runner.calls if isinstance(c["phase"], int)]
    n = len(walls)
    spans = [s for s in tracer.spans if s["end"] is not None]
    by_id = {s["id"]: s for s in spans}
    windows = runner.pass_windows

    def in_pass(t):
        return t is not None and any(a <= t <= b for a, b in windows)

    def top(layer):
        """Spans of a layer not nested inside another span of it."""
        out = []
        for s in spans:
            if s["layer"] != layer:
                continue
            p = s["parent"]
            while p is not None and by_id[p]["layer"] != layer:
                p = by_id[p]["parent"]
            if p is None:
                out.append(s)
        return out

    def dur(s):
        return s["end"] - s["start"]

    def count(layer):
        return sum(1 for s in spans if s["layer"] == layer)

    pass_jobs = [j for j in jobs if in_pass(j["submitted"])]
    by_group: dict = {}
    for j in pass_jobs:
        by_group.setdefault(j["group"], []).append(j)

    def job_s(j):
        return (j["completed"] or j["submitted"]) - j["submitted"]

    ops = [c for c in calls if c["kind"] == "query"]
    build_jobs = exec_jobs = 0
    stats_build = []
    for c in ops:
        js = by_group.get(c["group"], [])
        b = sum(1 for j in js if j["submitted"] < c["build_end"])
        build_jobs += b
        exec_jobs += len(js) - b
        if c["name"] == "dedup_cluster_size_stats":
            stats_build.append(b)

    # Jobs that ran inside one call's window under another group (or none):
    # work a call left running in the background, landing on a later call.
    foreign = 0
    for j in pass_jobs:
        host = next(
            (c for c in calls if c["start"] <= j["submitted"] <= c["end"]), None
        )
        if host is None or j["group"] != host["group"]:
            foreign += 1

    def api_s(name):
        return sum(c["latency"] for c in calls if c["name"] == name) / n

    inserts = [c for c in calls if c["kind"] == "insert"]
    insert_jobs = sum(len(by_group.get(c["group"], [])) for c in inserts)
    insert_self = sum(
        c["latency"] - sum(job_s(j) for j in by_group.get(c["group"], []))
        for c in inserts
    )

    ladder_s = 0.0
    for c in calls:
        if c["name"] != "update_all_aggregates":
            continue
        lad = [s for s in top("sources.ladder") if c["start"] <= s["start"] <= c["end"]]
        if lad:
            ladder_s += sum(dur(s) for s in lad)
            after = max(s["end"] for s in lad)
            ladder_s += sum(
                job_s(j) for j in by_group.get(c["group"], []) if j["submitted"] >= after
            )
    compacts = top("sources.compaction")

    stages = {s["id"]: s for j in pass_jobs for s in j["stages"]}.values()
    multi = [s for s in stages if s["tasks"] >= 2 and s["task_p50_ms"]]
    cpu_ms = sum(s["cpu_ms"] for s in stages)
    script = wl.pass_script(0) if plans else []

    fac = facade(calls, n, wl)
    ovh = overhead(calls, walls, wl.request)
    return {
        "session.tune_calls": count("session") / n,
        "session.tune_s": sum(dur(s) for s in top("session")) / n,
        "sources.catalog_calls": count("sources.catalog") / n,
        "sources.catalog_s": sum(dur(s) for s in top("sources.catalog")) / n,
        "operators.build_s": sum(c["build_end"] - c["start"] for c in ops) / n,
        "operators.exec_s": sum(c["end"] - c["build_end"] for c in ops) / n,
        "operators.build_jobs": build_jobs / n,
        "operators.exec_jobs": exec_jobs / n,
        "operators.cluster_stats_build_jobs": (
            statistics.mean(stats_build) if stats_build else 0.0
        ),
        "operators.async_jobs_in_other_calls": foreign / n,
        "api.insert_self_s": insert_self / n,
        "api.insert_jobs": insert_jobs / n,
        "api.files_per_var": (
            statistics.median(wl.files_per_var) if getattr(wl, "files_per_var", None) else 0.0
        ),
        "api.select_s": api_s("select"),
        "api.timerange_s": api_s("timerange"),
        "api.get_last_s": api_s("get_last"),
        "api.update_aggregates_s": api_s("update_all_aggregates"),
        "api.compact_s": api_s("compact"),
        **{f"api.{k}": v for k, v in fac.items()},
        "sources.ladder_s": ladder_s / n,
        "sources.compact_s": sum(dur(s) for s in compacts) / n,
        "sources.compact_files_in": sum(s.get("files_in", 0) for s in compacts) / n,
        "sources.compact_files_out": sum(s.get("files_out", 0) for s in compacts) / n,
        "sources.bytes_rewritten": sum(s.get("bytes_out", 0) for s in compacts) / n,
        "plans.exchanges": sum(plans[k][0] for k in script if k in plans),
        "plans.violations": sum(len(plans[k][1]) for k in script if k in plans),
        "spark.jobs": len(pass_jobs) / n,
        "spark.stages": len(stages) / n,
        "spark.tasks": sum(s["tasks"] for s in stages) / n,
        "spark.run_ms": sum(s["run_ms"] for s in stages) / n,
        "spark.cpu_ms": cpu_ms / n,
        "spark.cpu_util": cpu_ms / (1000.0 * sum(walls) * extra["cores"]),
        "spark.shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in stages) / n,
        "spark.shuffle_read_bytes": sum(s["shuffle_read_bytes"] for s in stages) / n,
        "spark.spill_bytes": sum(s["spill_bytes"] for s in stages) / n,
        "spark.gc_ms": sum(s["gc_ms"] for s in stages) / n,
        "spark.task_max_over_p50": (
            sum(s["task_max_ms"] for s in multi) / sum(s["task_p50_ms"] for s in multi)
            if multi else 0.0
        ),
        **{f"trace.overhead.{k}": v for k, v in ovh.items()},
        "trace.overhead.setup_s": extra["install_s"],
        "spark.jvm_peak_rss_mb": extra["jvm_peak_rss_mb"],
        "host.steal_s": extra["steal_s"],
    }
