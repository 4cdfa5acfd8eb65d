"""Spans around calls into the engine, and Spark's own job/task metrics
attributed to them.

Every timed op runs inside ``Tracer.span``. The span is always recorded
in memory (name, start, end, parent, op id); the end-to-end metrics are
span durations. With tracing on, the span also tags the Spark jobs it
launches with a job group ``pb-<op id>``, and after the session stops
``attribute`` reads Spark's event log and hands each span the stage and
task metrics of its group:

- ``jobs_s``  time with at least one of the span's jobs running
  (union of job intervals, clipped to the span);
- ``driver_s`` span time with none running — planning, file listing,
  footer reads, commit and Python;
- task counters summed over TaskEnd events. Each task runs once, so a
  reused exchange (a skipped stage in a later job) is counted once.

The job group is a property of the JVM thread, so a span opened in one
Python thread does not tag jobs another thread launches: the HTTP
scrape handler opens its own span in the server thread.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager

from stats import clip, union_length

_EVENTS = (
    '{"Event":"SparkListenerJobStart"',
    '{"Event":"SparkListenerJobEnd"',
    '{"Event":"SparkListenerStageSubmitted"',
    '{"Event":"SparkListenerTaskEnd"',
)

COUNTERS = (
    "tasks",
    "task_run_s",
    "task_cpu_s",
    "gc_s",
    "scan_mb",
    "records_read",
    "shuffle_write_mb",
    "fetch_wait_s",
    "spill_mb",
    "output_mb",
)

_MB = 1024.0 * 1024.0


class Tracer:
    def __init__(self, spark_context, enabled: bool):
        self.sc = spark_context
        self.enabled = enabled
        self.spans: list[dict] = []
        self._next_id = 0
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, **attrs):
        with self._lock:
            self._next_id += 1
            op_id = self._next_id
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        rec = {
            "name": name,
            "op_id": op_id,
            "parent": stack[-1]["op_id"] if stack else None,
            **attrs,
        }
        stack.append(rec)
        if self.enabled:
            self.sc.setJobGroup(f"pb-{op_id}", name)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if self.enabled:
                if stack:
                    self.sc.setJobGroup(f"pb-{stack[-1]['op_id']}", stack[-1]["name"])
                else:
                    self.sc._jsc.clearJobGroup()
            with self._lock:
                self.spans.append(rec)

    def of(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.of(name)]

    def cpu(self, name: str) -> list[float]:
        """CPU seconds of each op span of that name (see ``Run.op``)."""
        return [s["cpu_s"] for s in self.of(name)]

    def dump(self, path: str) -> None:
        """Write the spans as JSON, without the ops' return values."""
        spans = sorted(self.spans, key=lambda s: s["op_id"])
        with open(path, "w") as f:
            json.dump(
                [{k: v for k, v in s.items() if k != "result"} for s in spans],
                f,
                indent=1,
                default=str,
            )


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: job intervals (s since epoch) and task counters."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    job_end: dict[int, float] = {}
    stage_group: dict[tuple[int, int], str] = {}
    groups: dict[str, dict] = {}

    def group(g: str) -> dict:
        return groups.setdefault(
            g, {"jobs": [], **{c: 0.0 for c in COUNTERS}}
        )

    with open(files[0]) as f:
        for line in f:
            if not line.startswith(_EVENTS):
                continue
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                job_group[jid] = (ev.get("Properties") or {}).get(
                    "spark.jobGroup.id", ""
                )
                job_start[jid] = ev["Submission Time"] / 1000.0
            elif kind == "SparkListenerJobEnd":
                job_end[ev["Job ID"]] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = (
                    ev.get("Properties") or {}
                ).get("spark.jobGroup.id", "")
            else:
                g = group(stage_group.get((ev["Stage ID"], ev["Stage Attempt ID"]), ""))
                m = ev.get("Task Metrics") or {}
                inp = m.get("Input Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                out = m.get("Output Metrics") or {}
                g["tasks"] += 1
                g["task_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                g["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                g["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                g["scan_mb"] += inp.get("Bytes Read", 0) / _MB
                g["records_read"] += inp.get("Records Read", 0)
                g["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / _MB
                g["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1000.0
                g["spill_mb"] += m.get("Disk Bytes Spilled", 0) / _MB
                g["output_mb"] += out.get("Bytes Written", 0) / _MB
    for jid, g in job_group.items():
        end = job_end.get(jid)
        if end is not None:
            group(g)["jobs"].append((job_start[jid], end))
    return groups


def attribute(spans: list[dict], groups: dict[str, dict], cores: int) -> list[str]:
    """Attach Spark metrics to each span in place; return the spans that
    fail the task-time reconciliation (task run time may not exceed
    cores × jobs_s, allowing for the event log's millisecond clock)."""
    problems = []
    for s in spans:
        g = groups.get(f"pb-{s['op_id']}", {"jobs": [], **{c: 0.0 for c in COUNTERS}})
        wall = s["end"] - s["start"]
        s["jobs"] = len(g["jobs"])
        s["jobs_s"] = union_length(g["jobs"])
        s["driver_s"] = max(0.0, wall - union_length(clip(g["jobs"], s["start"], s["end"])))
        for c in COUNTERS:
            s[c] = g[c]
        s["core_busy"] = g["task_run_s"] / (cores * wall) if wall > 0 else 0.0
        slack = 0.002 * s["jobs"] * cores + 0.001 * g["tasks"]
        if g["task_run_s"] > cores * s["jobs_s"] + slack:
            problems.append(
                f"{s['name']}#{s['op_id']}: task time {g['task_run_s']:.3f}s > "
                f"{cores} cores x jobs {s['jobs_s']:.3f}s"
            )
    return problems
