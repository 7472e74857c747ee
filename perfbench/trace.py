"""Spans around the engine's public calls, and the fold of Spark's own
records into per-span metrics.

A span times one call from outside the engine. In a traced run it also
tags the call's Spark jobs with a job group (``setJobGroup``), so the
task metrics in Spark's event log can be attributed back to it. Jobs of
a streaming query carry no usable group; they are attributed through
the query's run id to the span that was open when the query started.

Nothing here touches engine code: the event log is switched on through
``build_session(extra_conf=...)`` and read after the session stops.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time

#: per-span metrics folded from the event log, in report order
TASK_FIELDS = (
    "executor_run_s", "executor_cpu_s", "gc_s", "input_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "tasks", "failed_tasks",
)


class Tracer:
    """Records one dict per span call; tags jobs only when ``traced``.

    A traced run can pause tracing (``paused``) to run operations the
    way an untraced run does: no job groups, no event log, no span
    records. Those operations are the paired baseline of the tracing
    overhead.
    """

    def __init__(self, traced: bool):
        self.traced = traced
        self.recording = True
        self.spans: list[dict] = []
        self.sc = None
        self._open: dict | None = None
        self._seq = 0

    def bind(self, spark) -> None:
        self.sc = spark.sparkContext

    @contextlib.contextmanager
    def paused(self):
        """Run the block untraced: detach Spark's event logger from the
        listener bus (after it has logged everything before the block)
        and stop tagging and recording spans; restore all on exit."""
        jsc = self.sc._jsc.sc()
        bus, logger = jsc.listenerBus(), jsc.eventLogger().get()
        bus.waitUntilEmpty()
        jsc.removeSparkListener(logger)
        self.traced = self.recording = False
        try:
            yield
        finally:
            bus.waitUntilEmpty()
            jsc.addSparkListener(logger)
            self.traced = self.recording = True

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"span": name, "seq": self._seq}
        self._seq += 1
        rec["group"] = f"{name}#{rec['seq']}"
        if self.traced and self.sc is not None:
            self.sc.setJobGroup(rec["group"], name)
        self._open = rec
        rec["t0"] = time.time()
        p0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - p0
            rec["t1"] = rec["t0"] + rec["wall_s"]
            self._open = None
            if self.traced and self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            if self.recording:
                self.spans.append(rec)

    def current_group(self) -> str | None:
        return self._open["group"] if self._open else None


def progress_listener(tracer: Tracer):
    """A StreamingQueryListener that keeps every progress report in
    memory, tagged with the span open when its query started."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def __init__(self):
            self.run_group: dict[str, str | None] = {}
            self.terminated: set[str] = set()
            self.progress: list[dict] = []
            self._cv = threading.Condition()

        def onQueryStarted(self, event):
            with self._cv:
                self.run_group[str(event.runId)] = tracer.current_group()

        def onQueryProgress(self, event):
            p = json.loads(event.progress.json)
            with self._cv:
                self.progress.append(p)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self._cv:
                self.terminated.add(str(event.runId))
                self._cv.notify_all()

        def drain(self, timeout_s: float = 30.0) -> None:
            """Block until every started query has reported termination
            (listener events arrive asynchronously)."""
            deadline = time.monotonic() + timeout_s
            with self._cv:
                while set(self.run_group) - self.terminated:
                    left = deadline - time.monotonic()
                    if left <= 0:
                        raise TimeoutError("streaming listener lagging")
                    self._cv.wait(left)

        def runs_of(self, group: str) -> list[str]:
            return [r for r, g in self.run_group.items() if g == group]

    return _Listener()


def _covered_s(intervals: list[tuple[float, float]], lo: float,
               hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def fold_event_log(log_dir: str, spans: list[dict],
                   run_group: dict[str, str | None]) -> dict[str, dict]:
    """Per span-call metrics: task metrics summed over the span's jobs,
    plus ``driver_s`` = span wall time not covered by any of its jobs.
    Returns {group: metrics}; jobs no span claims go under ``None``."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    # streaming jobs carry their query's run id, as a
                    # property or as their job group
                    group = next((v for k, v in props.items()
                                  if k.endswith("streaming.runId")),
                                 props.get("spark.jobGroup.id"))
                    group = run_group.get(group, group)
                    jobs[ev["Job ID"]] = {
                        "group": group,
                        "t0": ev["Submission Time"] / 1000.0,
                        "t1": None,
                    }
                    for s in ev["Stage IDs"]:
                        stage_job.setdefault(s, ev["Job ID"])
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
    out: dict[str, dict] = {}

    def slot(group):
        return out.setdefault(group, dict.fromkeys(TASK_FIELDS, 0.0))

    for ev in tasks:
        job = jobs.get(stage_job.get(ev["Stage ID"]))
        m = slot(job["group"] if job else None)
        tm = ev.get("Task Metrics") or {}
        info = ev.get("Task Info") or {}
        m["tasks"] += 1
        m["failed_tasks"] += bool(info.get("Failed")) or (
            (ev.get("Task End Reason") or {}).get("Reason") != "Success")
        m["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
        m["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        m["input_bytes"] += (tm.get("Input Metrics") or {}).get(
            "Bytes Read", 0)
        sr = tm.get("Shuffle Read Metrics") or {}
        m["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                    + sr.get("Local Bytes Read", 0))
        m["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics")
                                     or {}).get("Shuffle Bytes Written", 0)
        m["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
    by_group: dict[str, list[tuple[float, float]]] = {}
    for j in jobs.values():
        if j["group"] is not None and j["t1"] is not None:
            by_group.setdefault(j["group"], []).append((j["t0"], j["t1"]))
    for rec in spans:
        m = slot(rec["group"])
        m["wall_s"] = rec["wall_s"]
        m["driver_s"] = max(0.0, rec["wall_s"] - _covered_s(
            by_group.get(rec["group"], []), rec["t0"], rec["t1"]))
    return out


def write_jsonl(path: str, records: list[dict]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for r in records:
            f.write(json.dumps(r, sort_keys=True) + "\n")
