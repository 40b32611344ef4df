"""Turns a finished ``Run`` into the printed report and the result line.

``END_TO_END`` and ``PER_LAYER`` are the metric lists ``BENCHMARK.json``
declares (a test keeps the two in step). The report prints more than
the result line carries: every workload-specific end-to-end metric by
name, with its unit and sample count, ambient and steal CPU, and every
figure of ``LAYERS``.
"""

from __future__ import annotations

import statistics

from .meter import percentile, summarize

END_TO_END = (
    ("setup_s", "s"),
    ("op_p50_ms", "ms"),
)

ROUTES = ("keyset", "scan-small-table", "stats-pruned", "full-scan")

LAYERS = (
    ("trace.op_p50_ms", "ms"),
    ("session.build_s", "s"),
    ("sources.scratch.build_s", "s"),
    ("sources.scan_task_s", "s"),
    ("sources.scan_mb", "MB"),
    ("sources.scan_tasks", "count"),
    ("sources.sinks.write_s", "s"),
    ("plans.build_s", "s"),
    ("plans.build_jobs", "count"),
    ("plans.catalyst_s", "s"),
    ("exec.task_s", "s"),
    ("exec.task_cpu_s", "s"),
    ("exec.gc_s", "s"),
    ("exec.shuffle_read_mb", "MB"),
    ("exec.shuffle_write_mb", "MB"),
    ("exec.spill_mb", "MB"),
    ("exec.stages", "count"),
    ("exec.tasks", "count"),
    ("exec.core_busy_frac", "fraction"),
    ("operators.allocation.task_s", "s"),
    ("operators.allocation.python_mb", "MB"),
    ("operators.python_mb", "MB"),
    ("operators.colocated.route_s", "s"),
    ("serve.exec_s", "s"),
    ("serve.files_scanned_frac", "fraction"),
    *((f"serve.route.{r}", "count") for r in ROUTES),
    ("serve.route.other", "count"),
    ("table_log.snapshot_files", "count"),
    ("table_log.append_s", "s"),
    ("table_log.files_per_append", "count"),
    ("caching.cached_mb", "MB"),
    ("timeseries.forecast_s", "s"),
)

# Layer times that are zero by construction on one of the declared
# workloads (no sinks or forecast on serve_mixed, no table log on
# candy_nightly, ...) are printed but not declared: a time that reads
# the same on every run is not a measurement.
REPORT_ONLY = {
    "sources.sinks.write_s",
    "exec.gc_s",
    "operators.allocation.task_s",
    "operators.colocated.route_s",
    "serve.exec_s",
    "table_log.append_s",
    "timeseries.forecast_s",
}
PER_LAYER = tuple(m for m in LAYERS if m[0] not in REPORT_ONLY)


def _m(value, unit: str, n: int) -> dict:
    return {"value": value, "unit": unit, "n": n}


def _p50_ms(values: list[float]) -> dict:
    v = percentile(values, 0.5)
    return _m(None if v is None else v * 1e3, "ms", len(values))


def end_to_end(run) -> dict[str, dict]:
    """Every end-to-end metric of the workload, by name."""
    from .serve import REQUESTS_PER_PASS

    s = run.samples
    cpu = s.get("cpu_s", [])
    attempted = max(1, run.attempted)
    out = {
        "setup_s": run.report["setup_s"],
        "failed_frac": _m(run.failed / attempted, "fraction", attempted),
        "peak_rss_mb": run.report["peak_rss_mb"],
        # a CPU reading below 0 or above wall x cores is not a number
        "cpu_readings_rejected": _m(len(s.get("cpu_invalid", [])), "count", run.units),
    }
    if run.workload == "serve_mixed":
        point = s.get("point_s", [])
        p90 = percentile(point, 0.9)
        out["point_p50_ms"] = _p50_ms(point)
        out["point_p90_ms"] = _m(None if p90 is None else p90 * 1e3, "ms", len(point))
        out["range_p50_ms"] = _p50_ms(s.get("range_s", []))
        out["write_p50_ms"] = _p50_ms(s.get("append_s", []))
        out["ops_per_s"] = _m(run.units / run.wall_s, "1/s", run.units)
        passes = run.units / REQUESTS_PER_PASS
        out["cpu_s_per_pass"] = _m(sum(cpu) / passes if cpu else None, "s", len(cpu))
        out["op_p50_ms"] = out["point_p50_ms"]
    else:
        res = s.get("result_s", [])
        out["result_s_p50"] = _m(percentile(res, 0.5), "s", len(res))
        out["cpu_s_per_pass"] = _m(statistics.median(cpu) if cpu else None, "s", len(cpu))
        out["op_p50_ms"] = _p50_ms(res)
    return out


def per_layer(run, e2e: dict) -> dict[str, dict]:
    s = run.samples
    layer = dict(run.layer)

    def median_span(name: str) -> float:
        ds = [x["end"] - x["start"] for x in run.tracer.spans if x["name"] == name]
        return statistics.median(ds) if ds else 0.0

    layer["trace.op_p50_ms"] = e2e["op_p50_ms"]["value"]
    layer["session.build_s"] = median_span("session.build")
    layer["sources.scratch.build_s"] = median_span("sources.scratch.build")
    for name in ("caching.cached_mb", "table_log.files_per_append", "table_log.snapshot_files"):
        if s.get(name):
            layer[name] = statistics.median(s[name])
    if s.get("files_scanned_frac"):
        layer["serve.files_scanned_frac"] = statistics.fmean(s["files_scanned_frac"])
    other = 0
    for key, vals in s.items():
        if key.startswith("route."):
            route = key[len("route."):]
            if route in ROUTES:
                layer[f"serve.route.{route}"] = len(vals)
            else:
                other += len(vals)
    layer["serve.route.other"] = other
    out = {name: _m(float(layer.get(name, 0.0)), unit, run.units) for name, unit in LAYERS}
    # workload-only figures (the corpus queries' task time) print too
    for name, value in layer.items():
        out.setdefault(name, _m(float(value), "s", run.units))
    return out


def render(run, spec: dict) -> tuple[list[str], dict]:
    """(report lines, result line dict). Raises ``ValueError`` when a
    declared metric has no value (no operation completed)."""
    e2e = end_to_end(run)
    lines = [f"# {run.workload} seed={run.seed} trace={int(run.trace)} "
             f"ops={run.units} attempted={run.attempted} failed={run.failed}"]
    for msg in run.errors:
        lines.append(f"# failure: {msg}")
    for name, m in sorted(e2e.items()):
        v = "n/a (too few samples)" if m["value"] is None else f"{m['value']:.6g}"
        lines.append(f"{run.workload} {name} = {v} {m['unit']} (n={m['n']})")
    for name in ("setup_round_s", "warmup_s", "setup_first_s", "timed_wall_s", "ambient_cpu_s", "steal_cpu_s"):
        m = run.report[name]
        lines.append(f"{run.workload} {name} = {m['value']:.6g} {m['unit']} (n={m['n']})")
    op_samples = run.samples.get("result_s") or run.samples.get("point_s", [])
    lines.append(f"{run.workload} op latency summary (s): {summarize(op_samples)}")
    for name, vals in sorted(run.samples.items()):
        if name.endswith("_s"):
            lines.append(f"{run.workload} samples {name}: {[round(v, 4) for v in vals]}")
    if run.trace:
        metrics = per_layer(run, e2e)
        declared = [m["name"] for m in spec["per_layer"]]
        for name, t in sorted(run.tracer.totals().items()):
            lines.append(f"span {name} (whole run): count={t['count']} "
                         f"total={t['total_s']:.4f} s self={t['self_s']:.4f} s")
        for name, m in metrics.items():
            lines.append(f"{run.workload} {name} = {m['value']:.6g} {m['unit']} (n={m['n']})")
    else:
        metrics = e2e
        declared = [m["name"] for m in spec["end_to_end"]]
    missing = [n for n in declared if metrics.get(n, {}).get("value") is None]
    if missing:
        raise ValueError(f"no value for {missing}: no operation completed")
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {n: {"value": metrics[n]["value"], "unit": metrics[n]["unit"]} for n in declared},
    }
    return lines, result
