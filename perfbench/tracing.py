"""Spark event-log parsing for the traced run (stdlib only).

Jobs are attributed to the benchmark operation (and phase: ``build``,
``plan``, ``run``) whose wall-clock window contains the job's submission
time.  Job descriptions are set too, so the log reads by name, but the
windows are what attribute: streaming micro-batches and the scheduler
replace the description with their own.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


#: task and stage counters summed per operation
COUNTERS = ("cpu_ms", "gc_ms", "shuffle_read_bytes",
            "shuffle_write_bytes", "fetch_wait_ms", "spill_bytes",
            "input_bytes", "py_start_ms", "py_run_ms", "py_bytes", "stage_ms",
            "stage_share_ms")


class OpStats:
    """Jobs of one ``(op, phase)`` window, and the counters of their tasks
    (counters are kept on phase ``"*"``, the op as a whole)."""

    def __init__(self) -> None:
        self.jobs = 0
        self.spans: list[tuple[float, float]] = []
        self.union_ms = 0.0
        for k in COUNTERS:
            setattr(self, k, 0.0)


def _py_metric(name: str) -> str | None:
    """Map a Python-runner SQL metric name onto a layer counter."""
    n = name.lower()
    if "python worker" not in n:
        return None
    if n.startswith("time to start") or n.startswith("time to initialize"):
        return "py_start_ms"
    if n.startswith("time to run"):
        return "py_run_ms"
    if n.startswith("data sent") or n.startswith("data returned"):
        return "py_bytes"
    return None


def _lines(files: list[str]):
    for path in files:
        with open(path) as f:
            yield from f


def parse_event_log(log_dir: str, windows: list[tuple]) -> dict:
    """Aggregate the event log per ``(op, phase)`` window.

    ``windows`` holds ``(op, phase, start_ms, end_ms)``.  Returns
    ``{op: {phase: OpStats}}``; the layer counters are attributed to the
    op as a whole under phase ``"*"``."""
    # a rolling log (the default) is a directory of events_<n>_<app> parts
    files = sorted(glob.glob(os.path.join(log_dir, "*", "events_*")),
                   key=lambda p: int(os.path.basename(p).split("_")[1]))
    files = files or glob.glob(os.path.join(log_dir, "*"))
    if not files:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    windows = sorted(windows, key=lambda w: w[2])
    job_owner: dict[int, tuple] = {}
    job_start: dict[int, float] = {}
    stage_owner: dict[int, tuple] = {}
    out: dict[str, dict[str, OpStats]] = defaultdict(
        lambda: defaultdict(OpStats))
    stage_task_max: dict[int, float] = defaultdict(float)

    def owner_at(t_ms: float):
        for op, phase, a, b in windows:
            if a <= t_ms <= b:
                return op, phase
        return None

    for line in _lines(files):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            own = owner_at(ev["Submission Time"])
            if own is None:
                continue
            jid = ev["Job ID"]
            job_owner[jid] = own
            job_start[jid] = ev["Submission Time"]
            out[own[0]][own[1]].jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_owner.setdefault(sid, own)
        elif kind == "SparkListenerJobEnd":
            own = job_owner.get(ev["Job ID"])
            if own is not None:
                out[own[0]][own[1]].spans.append(
                    (job_start[ev["Job ID"]], ev["Completion Time"]))
        elif kind == "SparkListenerTaskEnd":
            own = stage_owner.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if own is None or not m:
                continue
            s = out[own[0]]["*"]
            s.cpu_ms += m.get("Executor CPU Time", 0) / 1e6
            s.gc_ms += m.get("JVM GC Time", 0)
            s.spill_bytes += m.get("Disk Bytes Spilled", 0)
            sr = m.get("Shuffle Read Metrics", {})
            s.shuffle_read_bytes += (sr.get("Remote Bytes Read", 0)
                                     + sr.get("Local Bytes Read", 0))
            s.fetch_wait_ms += sr.get("Fetch Wait Time", 0)
            s.shuffle_write_bytes += m.get(
                "Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            s.input_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
            info = ev["Task Info"]
            stage_task_max[ev["Stage ID"]] = max(
                stage_task_max[ev["Stage ID"]],
                info["Finish Time"] - info["Launch Time"])
        elif kind == "SparkListenerStageCompleted":
            st = ev["Stage Info"]
            own = stage_owner.get(st["Stage ID"])
            if own is None or "Completion Time" not in st:
                continue
            s = out[own[0]]["*"]
            dur = st["Completion Time"] - st.get("Submission Time",
                                                 st["Completion Time"])
            if dur > 0:
                s.stage_ms += dur
                s.stage_share_ms += min(stage_task_max[st["Stage ID"]],
                                        dur)
            for acc in st.get("Accumulables", []):
                key = _py_metric(acc.get("Name") or "")
                if key is not None:
                    setattr(s, key, getattr(s, key)
                            + float(acc.get("Value") or 0))
    for phases in out.values():
        for s in phases.values():
            s.union_ms = _union_ms(s.spans)
    return out
