"""Spans and per-layer Spark metrics for the traced run.

A span is one call into a layer's public function, timed from the
benchmark's side: name, start, end and parent, kept in memory and
written out when the run ends. While a layer span is open its Spark
jobs carry the span's job group, so the status store can say which
stages the layer ran and what they cost. Nothing in the engine is
patched.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

MB = 1024 * 1024


class Tracer:
    """Records spans; for layer spans, also the Spark stage metrics.

    ``enabled=False`` makes every span a no-op, so the untraced timed
    passes run the same code without setting job groups or reading the
    status store.
    """

    def __init__(self, spark, enabled: bool, udf_trace_dir: str | None):
        self.spark = spark
        self.enabled = enabled
        self.udf_trace_dir = udf_trace_dir
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._groups = 0

    @contextmanager
    def span(self, name: str, layer: bool = False):
        """Time a block; ``layer=True`` also tags its jobs and reads
        their stage metrics into the span record."""
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        group = None
        if layer:
            self._groups += 1
            group = f"perfbench-{self._groups}-{name}"
            sc.setJobGroup(group, name)
        rec["start"] = time.monotonic()
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            if layer:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                rec.update(stage_metrics(sc, group))
                if name == "shingle_minhash" and self.udf_trace_dir:
                    rec.update(udf_busy_idle(self.udf_trace_dir,
                                             rec["start"], rec["end"]))

    def self_time(self, rec: dict) -> float:
        kids = sum(s["end"] - s["start"] for s in self.spans
                   if s["parent"] == rec["id"])
        return rec["end"] - rec["start"] - kids

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


def stage_metrics(sc, group: str) -> dict:
    """Jobs, stages and summed task metrics of one job group.

    ``task_skew`` is max ÷ median task run time in the group's most
    expensive stage (by executor run time)."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jvm = sc._jvm
    no_status = jvm.java.util.Collections.emptyList()
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    quantiles = sc._gateway.new_array(jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0

    job_ids = tracker.getJobIdsForGroup(group)
    stage_ids = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = {"jobs": len(job_ids), "stages": 0, "executor_run_s": 0.0,
           "shuffle_write_mb": 0.0, "spill_mb": 0.0, "task_skew": 0.0}
    worst_run = -1
    worst = None
    for s in sorted(stage_ids):
        attempts = store.stageData(s, False, no_status, False, no_quantiles)
        for i in range(attempts.size()):
            st = attempts.apply(i)
            if str(st.status()) != "COMPLETE":
                continue
            out["stages"] += 1
            run_ms = st.executorRunTime()
            out["executor_run_s"] += run_ms / 1000.0
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
            out["spill_mb"] += st.diskBytesSpilled() / MB
            if run_ms > worst_run:
                worst_run, worst = run_ms, (s, st.attemptId())
    if worst is not None:
        summary = store.taskSummary(worst[0], worst[1], quantiles)
        if summary.isDefined():
            q = summary.get().executorRunTime()
            median, top = q.apply(0), q.apply(1)
            out["task_skew"] = top / median if median > 0 else 1.0
    return out


def udf_busy_idle(trace_dir: str, start: float, end: float) -> dict:
    """Busy and idle seconds of the Arrow kernels inside [start, end].

    Each worker process appends one line per kernel call to its own
    file (``functions/_trace.py``). Busy is the sum of call durations;
    idle is, per worker, the time between its first call start and last
    call end that no call covers (waiting for the JVM side)."""
    busy = idle = 0.0
    for path in glob.glob(os.path.join(trace_dir, "udftrace-*.jsonl")):
        with open(path) as f:
            recs = [json.loads(line) for line in f if line.strip()]
        recs = sorted((r for r in recs if start <= r["t0"] <= end),
                      key=lambda r: r["t0"])
        if not recs:
            continue
        w_busy = sum(r["dt"] for r in recs)
        span = max(r["t0"] + r["dt"] for r in recs) - recs[0]["t0"]
        busy += w_busy
        idle += max(span - w_busy, 0.0)
    return {"udf_busy_s": busy, "udf_idle_s": idle}
