"""Traced mode: spans around the package's public entry points, and Spark
stage metrics from the event log, folded into per-layer metrics.

Spans are recorded by wrappers the benchmark installs from outside the
package; nothing in the package changes. Each span also labels the Spark
jobs it submits (`spark.job.description`, a thread-local property), so the
event log attributes stage time, shuffle bytes and task skew to the span
kind. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from typing import Any

APPLY, COMPACT, QUERY = "perfbench:apply", "perfbench:compact", "perfbench:query:"
# LakeTable read method -> metric prefix
READ_KINDS = {"read": "read.full", "read_keys": "read.keys", "read_changes": "read.changes"}


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict[str, Any]] = []
        self._local = threading.local()

    def reset(self) -> None:
        self.spans = []

    @contextmanager
    def paused(self):
        """Calls made by this thread inside the block record no spans."""
        self._local.paused = True
        try:
            yield
        finally:
            self._local.paused = False

    def active(self) -> bool:
        return not getattr(self._local, "paused", False)

    @contextmanager
    def span(self, name: str, label: str | None = None):
        rec: dict[str, Any] = {"name": name}
        if not self.active():
            yield rec
            return
        prev = self.sc.getLocalProperty("spark.job.description") if label else None
        if label:
            self.sc.setJobDescription(label)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            if label:
                self.sc.setJobDescription(prev)
            self.spans.append(rec)

    def of(self, name: str) -> list[dict[str, Any]]:
        return [s for s in self.spans if s["name"] == name]


def install(tracer: Tracer) -> None:
    """Wrap apply_batch where each caller looks it up (replay_feed_dir in
    cdc.apply, run_stream in cdc.stream, which imports it by name) and the
    LakeTable methods on the class, so the async-compaction worker's
    compact() is traced in its own thread."""
    import datachain_spark.cdc.apply as apply_mod
    import datachain_spark.cdc.stream as stream_mod
    from datachain_spark.lake.table import LakeTable

    orig_apply = apply_mod.apply_batch

    def apply_batch(spark, table, events, job_id, batch_id, *a, **kw):
        with tracer.span("apply", label=f"{APPLY} b={batch_id}") as rec:
            rec["result"] = orig_apply(spark, table, events, job_id, batch_id, *a, **kw)
        return rec["result"]

    apply_mod.apply_batch = apply_batch
    stream_mod.apply_batch = apply_batch

    def timed(method: str, label: str | None = None):
        orig = getattr(LakeTable, method)

        def wrapper(self, *a, **kw):
            with tracer.span(f"lake.{method}", label=label):
                return orig(self, *a, **kw)

        setattr(LakeTable, method, wrapper)

    timed("commit")
    timed("snapshot")
    timed("compact", label=COMPACT)
    timed("drain_compaction")

    def read_kind(method: str):
        orig = getattr(LakeTable, method)

        def wrapper(self, *a, **kw):
            # read_keys calls read(): count files once, at the outermost call
            if getattr(tracer._local, "in_read", False) or not tracer.active():
                return orig(self, *a, **kw)
            tracer._local.in_read = True
            try:
                with tracer.span(f"lake.{method}") as rec:
                    df = orig(self, *a, **kw)
                rec["table"] = self.root
                files = df.inputFiles()
                rec["files"] = len(files)
                rec["bytes"] = sum(os.path.getsize(f.removeprefix("file:")) for f in files)
                return df
            finally:
                tracer._local.in_read = False

        setattr(LakeTable, method, wrapper)

    for m in READ_KINDS:
        read_kind(m)


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------
def load_stages(event_dir: str) -> list[dict[str, Any]]:
    """Completed stages with the description of the job that ran them, their
    window (epoch seconds), bytes and per-task run times."""
    job_label: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict[str, Any]] = {}
    # Spark 4 writes a rolling log: a directory of events_* files
    for path in sorted(glob.glob(os.path.join(event_dir, "**", "events_*"), recursive=True)):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job_label[ev["Job ID"]] = props.get("spark.job.description") or ""
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], _empty_stage())
                    tm = ev.get("Task Metrics") or {}
                    st["task_ms"].append(tm.get("Executor Run Time", 0))
                    st["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    st["output_bytes"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], _empty_stage())
                    st["start"] = info.get("Submission Time", 0) / 1000.0
                    st["end"] = info.get("Completion Time", 0) / 1000.0
    out = []
    for sid, st in stages.items():
        if st["end"] <= 0:
            continue
        job = stage_job.get(sid)
        st["id"] = sid
        st["job"] = job
        st["label"] = job_label.get(job, "")
        out.append(st)
    return out


def _empty_stage() -> dict[str, Any]:
    return {"task_ms": [], "shuffle_bytes": 0, "output_bytes": 0, "start": 0.0, "end": 0.0}


def union_s(windows: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(windows):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def skew(task_ms: list[float]) -> float:
    mean = statistics.fmean(task_ms) if task_ms else 0.0
    return max(task_ms) / mean if mean > 0 else 1.0
