"""Spans for the traced run, recorded from the benchmark's own files.

A span wraps one call into the engine. It records its wall time and the
Spark jobs fired inside it: each span runs under its own job group, and
``statusTracker()`` lists the group's jobs afterwards. The span also sums
the stage metrics of those jobs from the local UI REST API, the way
``tools/profile_query.py`` reads them. Catalyst phase times come from a
frame's own ``queryExecution().tracker()``.

With tracing off every call is a no-op, so the untraced run pays nothing.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager

# REST stage fields summed into a span, with the span key they land in
STAGE_FIELDS = {
    "executorRunTime": "run_ms",
    "executorCpuTime": "cpu_ns",
    "jvmGcTime": "gc_ms",
    "inputBytes": "input_bytes",
    "outputBytes": "output_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "spill_mem_bytes",
    "diskBytesSpilled": "spill_disk_bytes",
    "numCompleteTasks": "tasks",
}
# a stage whose input records average this many bytes reads whole files
# (wholeTextFiles: one record per XML file); CSV/TSV rows are ~100 bytes
WHOLE_FILE_RECORD_BYTES = 10_000


class Tracer:
    """Collects spans; ``enabled=False`` makes every method a no-op."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._n = 0
        if enabled:
            port = self.sc.uiWebUrl.rsplit(":", 1)[1]
            self._api = (f"http://127.0.0.1:{port}/api/v1/applications/"
                         f"{self.sc.applicationId}")

    @contextmanager
    def span(self, name: str):
        """Time the body; yields the span record (``None`` when off).
        Spans do not nest: the body's jobs run in the span's job group."""
        if not self.enabled:
            yield None
            return
        self._n += 1
        group = f"perfbench-{self._n}"
        rec: dict = {"name": name}
        self.sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            job_ids = list(self.sc.statusTracker().getJobIdsForGroup(group))
            rec["jobs"] = len(job_ids)
            rec.update(self._stage_metrics(job_ids))
            self.spans.append(rec)

    def _get(self, path: str):
        with urllib.request.urlopen(self._api + path, timeout=10) as r:
            return json.load(r)

    def _stage_metrics(self, job_ids: list[int]) -> dict:
        """Sum the REST stage metrics of ``job_ids``' executed stages.
        The UI store is fed asynchronously, so wait until each job reads
        as finished there; its stage figures are then final."""
        tracker = self.sc.statusTracker()
        stage_ids: set[int] = set()
        for jid in job_ids:
            deadline = time.monotonic() + 10
            while True:
                info = tracker.getJobInfo(jid)
                if info is None or info.status in ("SUCCEEDED", "FAILED"):
                    break
                if time.monotonic() > deadline:
                    break
                time.sleep(0.02)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        out = {k: 0 for k in STAGE_FIELDS.values()}
        out["stages"] = 0
        out["whole_file_input_bytes"] = 0
        for sid in sorted(stage_ids):
            for attempt in self._get(f"/stages/{sid}"):
                if attempt["status"] != "COMPLETE":
                    continue
                out["stages"] += 1
                for src, dst in STAGE_FIELDS.items():
                    out[dst] += attempt.get(src) or 0
                recs = attempt.get("inputRecords") or 0
                if recs and attempt["inputBytes"] / recs >= WHOLE_FILE_RECORD_BYTES:
                    out["whole_file_input_bytes"] += attempt["inputBytes"]
        return out

    def catalyst_ms(self, df) -> dict[str, float]:
        """Analysis, optimization and planning ms of ``df``'s own
        QueryExecution. Planning is forced here: a sink plans its own
        QueryExecution, which leaves ``df``'s tracker at analysis only."""
        if not self.enabled:
            return {}
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = self.sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
            qe.tracker().phases())
        return {k: float(phases[k].durationMs()) for k in phases.keySet()}


def total(spans: list[dict], key: str) -> float:
    """Sum ``key`` over ``spans``."""
    return sum(s.get(key, 0) for s in spans)
