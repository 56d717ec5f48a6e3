"""Per-layer metrics of the traced run, from the spans of ``trace.py``.

Curation figures are medians over the traced operations; registry
figures are means per query over the traced operations, so a change to
a few heavy queries moves them. A layer the workload never enters
reports 0 (``registry-mix`` never runs the pipeline, the curation
workloads never run the registry).
"""

from __future__ import annotations

import os
import statistics

from perfbench.trace import total

MB = 1e6

# name → (unit, better); BENCHMARK.json lists the same metrics
METRICS = {
    "session.start_s": ("s", "lower"),
    "session.warmup_s": ("s", "lower"),
    "driver.peak_rss_mb": ("MB", "lower"),
    "plans.build_s": ("s", "lower"),
    "plans.build_jobs": ("count", "lower"),
    "plans.analysis_ms": ("ms", "lower"),
    "plans.optimization_ms": ("ms", "lower"),
    "plans.planning_ms": ("ms", "lower"),
    "plans.jobs": ("count", "lower"),
    "plans.stages": ("count", "lower"),
    "plans.tasks": ("count", "lower"),
    "plans.exec_s": ("s", "lower"),
    "plans.exec_cpu_s": ("s", "lower"),
    "plans.gc_s": ("s", "lower"),
    "plans.shuffle_read_mb": ("MB", "lower"),
    "plans.shuffle_write_mb": ("MB", "lower"),
    "plans.spill_mb": ("MB", "lower"),
    "plans.input_mb": ("MB", "lower"),
    "plans.core_busy_ratio": ("ratio", "higher"),
    "pipelines.ep1.build_s": ("s", "lower"),
    "pipelines.ep1.exec_s": ("s", "lower"),
    "pipelines.ep1.shuffle_mb": ("MB", "lower"),
    "pipelines.ep2.build_s": ("s", "lower"),
    "pipelines.ep2.build_jobs": ("count", "lower"),
    "pipelines.ep2.exec_s": ("s", "lower"),
    "sources.xml.parse_passes": ("ratio", "lower"),
    "sources.xml.patients_per_s": ("1/s", "higher"),
    "pipelines.ep3.build_s": ("s", "lower"),
    "pipelines.ep3.exec_s": ("s", "lower"),
    "pipelines.ep3.shuffle_mb": ("MB", "lower"),
    "pipelines.ep3.cohort_keep_ratio": ("ratio", "higher"),
    "sources.readers.input_mb": ("MB", "lower"),
    "sources.writers.exec_s": ("s", "lower"),
    "sources.writers.output_mb": ("MB", "lower"),
    "sources.writers.files": ("count", "lower"),
    "operators.reports.exec_s": ("s", "lower"),
    "operators.reports.jobs": ("count", "lower"),
    "pipelines.catalyst_ms": ("ms", "lower"),
    "pipelines.jobs": ("count", "lower"),
    "pipelines.stages": ("count", "lower"),
    "pipelines.tasks": ("count", "lower"),
    "pipelines.spill_mb": ("MB", "lower"),
    "pipelines.gc_s": ("s", "lower"),
    "pipelines.core_busy_ratio": ("ratio", "higher"),
    "trace.overhead_s": ("s", "lower"),
}
# the spans an untraced registry operation also executes: its planning,
# forced in ``plans.plan``, is otherwise part of ``toPandas``
REGISTRY_RUN_SPANS = ("plans.reset", "plans.build", "plans.plan", "plans.exec")
# the spans an untraced curation run also executes (not the materializations)
RUN_SPANS = ("sources.readers", "pipelines.ep1.build", "pipelines.ep2.build",
             "pipelines.ep3.build", "sources.writers", "operators.reports")


def _span(spans: list[dict], name: str) -> dict:
    return next(s for s in spans if s["name"] == name)


def _curation_op(spans: list[dict], wl, cores: int) -> dict[str, float]:
    run = [s for s in spans if s["name"] in RUN_SPANS]
    e1, e2, e3 = (_span(spans, f"pipelines.ep{i}.exec") for i in (1, 2, 3))
    b2 = _span(spans, "pipelines.ep2.build")
    wr = _span(spans, "sources.writers")
    rep = _span(spans, "operators.reports")
    run_wall = total(run, "wall_s")
    files = sum(
        1 for d, _, fs in os.walk(wl.out) for f in fs if f.startswith("part-"))
    return {
        "pipelines.ep1.build_s": _span(spans, "pipelines.ep1.build")["wall_s"],
        "pipelines.ep1.exec_s": e1["wall_s"],
        "pipelines.ep1.shuffle_mb": e1["shuffle_write_bytes"] / MB,
        "pipelines.ep2.build_s": b2["wall_s"],
        "pipelines.ep2.build_jobs": b2["jobs"],
        "pipelines.ep2.exec_s": e2["wall_s"],
        "sources.xml.parse_passes": total(run, "whole_file_input_bytes") / wl.truth["xml_bytes"],
        "sources.xml.patients_per_s": wl.truth["ep2"]["records"] / e2["wall_s"],
        "pipelines.ep3.build_s": _span(spans, "pipelines.ep3.build")["wall_s"],
        "pipelines.ep3.exec_s": e3["wall_s"],
        "pipelines.ep3.shuffle_mb": e3["shuffle_write_bytes"] / MB,
        "pipelines.ep3.cohort_keep_ratio": wl.rows_out / wl.truth["ep3"]["rows_in"],
        "sources.readers.input_mb": total(run, "input_bytes") / MB,
        "sources.writers.exec_s": wr["wall_s"],
        "sources.writers.output_mb": wr["output_bytes"] / MB,
        "sources.writers.files": files,
        "operators.reports.exec_s": rep["wall_s"],
        "operators.reports.jobs": rep["jobs"],
        "pipelines.catalyst_ms": _span(spans, "pipelines.catalyst")["catalyst_ms"],
        "pipelines.jobs": total(run, "jobs"),
        "pipelines.stages": total(run, "stages"),
        "pipelines.tasks": total(run, "tasks"),
        "pipelines.spill_mb": total(run, "spill_disk_bytes") / MB,
        "pipelines.gc_s": total(run, "gc_ms") / 1000,
        "pipelines.core_busy_ratio": total(run, "run_ms") / 1000 / (run_wall * cores),
    }


def _registry_op(spans: list[dict], cores: int) -> dict[str, float]:
    b = _span(spans, "plans.build")
    p = _span(spans, "plans.plan")
    x = _span(spans, "plans.exec")
    return {
        "plans.build_s": b["wall_s"],
        "plans.build_jobs": b["jobs"],
        "plans.analysis_ms": p.get("analysis", 0.0),
        "plans.optimization_ms": p.get("optimization", 0.0),
        "plans.planning_ms": p.get("planning", 0.0),
        "plans.jobs": x["jobs"],
        "plans.stages": x["stages"],
        "plans.tasks": x["tasks"],
        "plans.exec_s": x["wall_s"],
        "plans.exec_cpu_s": x["cpu_ns"] / 1e9,
        "plans.gc_s": x["gc_ms"] / 1000,
        "plans.shuffle_read_mb": x["shuffle_read_bytes"] / MB,
        "plans.shuffle_write_mb": x["shuffle_write_bytes"] / MB,
        "plans.spill_mb": x["spill_disk_bytes"] / MB,
        "plans.input_mb": x["input_bytes"] / MB,
        "plans.core_busy_ratio": x["run_ms"] / 1000 / (x["wall_s"] * cores),
    }


def per_layer(workload: str, wl, start_s: float, warm_s: float, peak_rss_mb: float,
              times: list[float], spans: list[list[dict]]) -> dict[str, tuple[float, str]]:
    """The per-layer metrics of a traced run. ``times[i]`` is operation
    i's wall time and ``spans[i]`` its spans. ``trace.overhead_s`` is what
    tracing adds to an operation: its wall time minus the spans an
    untraced operation also runs: the span bookkeeping and REST reads,
    and on the curation workloads the traced-only materializations and
    forced planning, which an untraced run does not do."""
    cores = len(os.sched_getaffinity(0))
    values = {name: 0.0 for name in METRICS}
    values["session.start_s"] = start_s
    values["session.warmup_s"] = warm_s
    values["driver.peak_rss_mb"] = peak_rss_mb
    if workload == "registry-mix":
        ops = [_registry_op(s, cores) for s in spans]
        summarize, run_spans = statistics.fmean, REGISTRY_RUN_SPANS
    else:
        ops = [_curation_op(s, wl, cores) for s in spans]
        summarize, run_spans = statistics.median, RUN_SPANS
    for name in ops[0]:
        values[name] = summarize(op[name] for op in ops)
    values["trace.overhead_s"] = statistics.median(
        t - total([s for s in op if s["name"] in run_spans], "wall_s")
        for t, op in zip(times, spans))
    return {name: (values[name], METRICS[name][0]) for name in METRICS}
