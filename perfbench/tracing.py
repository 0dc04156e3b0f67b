"""Tracing from outside the engine: spans around public calls, a
``StreamingQueryListener``, and Spark's own event log.

Spans are kept in memory as (start, end) wall-clock pairs (seconds
since the epoch, the clock the event log uses too) and summarised when
the run ends. Nothing here runs unless ``--trace 1`` is given.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def event_log_conf(log_dir: str) -> list[str]:
    """spark-submit ``--conf`` arguments for an uncompressed, unrolled
    event log in ``log_dir``."""
    return [
        "--conf", "spark.eventLog.enabled=true",
        "--conf", f"spark.eventLog.dir=file://{log_dir}",
        "--conf", "spark.eventLog.compress=false",
        "--conf", "spark.eventLog.rolling.enabled=false",
    ]


class Tracer:
    """Spans and counts recorded at layer boundaries."""

    def __init__(self):
        self.spans: dict[str, list[tuple[float, float]]] = defaultdict(list)
        self.counts: dict[str, list[float]] = defaultdict(list)
        self.progress: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        t0 = time.time()
        try:
            yield
        finally:
            self.spans[name].append((t0, time.time()))

    def count(self, name: str, value: float) -> None:
        self.counts[name].append(value)

    def wrap(self, module, attr: str, name: str, around=None) -> None:
        """Replace ``module.attr`` by a version that records a span
        ``name`` per call. ``around(fn, *args, **kw)``, when given, makes
        the call itself (to record counts next to it)."""
        fn = getattr(module, attr)

        def traced(*args, **kw):
            with self.span(name):
                return around(fn, *args, **kw) if around else fn(*args, **kw)

        self._patched.append((module, attr, fn))
        setattr(module, attr, traced)

    def unwrap(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()

    def listener(self) -> StreamingQueryListener:
        tracer = self

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                tracer.progress.append(
                    {"batchId": p.batchId, "numInputRows": p.numInputRows,
                     "durationMs": dict(p.durationMs)}
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return Progress()

    def within(self, name: str, a: float, b: float) -> list[tuple[float, float]]:
        return [s for s in self.spans[name] if a <= s[0] and s[1] <= b]


class EventLog:
    """Jobs, stages and tasks read back from an uncompressed event log."""

    def __init__(self, log_dir: str):
        files = [f for f in glob.glob(os.path.join(log_dir, "*")) if not f.endswith(".inprogress")]
        if len(files) != 1:
            raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.stages_run: set[int] = set()
        self.tasks: dict[int, list[dict]] = defaultdict(list)
        with open(files[0]) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    self.jobs[jid] = {"start": ev["Submission Time"] / 1000, "end": None,
                                      "stages": ev["Stage IDs"]}
                    for s in ev["Stage IDs"]:
                        self.stage_job[s] = jid
                elif kind == "SparkListenerJobEnd":
                    self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
                elif kind == "SparkListenerStageCompleted":
                    self.stages_run.add(ev["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics", {})
                    self.tasks[ev["Stage ID"]].append({
                        "dur": (info["Finish Time"] - info["Launch Time"]) / 1000,
                        "run": m.get("Executor Run Time", 0) / 1000,
                        "cpu": m.get("Executor CPU Time", 0) / 1e9,
                        "gc": m.get("JVM GC Time", 0) / 1000,
                        "sw": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                        "sr": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    })

    def jobs_between(self, a: float, b: float) -> list[int]:
        return [j for j, r in self.jobs.items() if a <= r["start"] <= b]

    def jobs_in(self, spans) -> list[int]:
        return [j for a, b in spans for j in self.jobs_between(a, b)]

    def window(self, a: float, b: float) -> dict:
        """Scheduler and executor figures of the jobs started in [a, b]."""
        jobs = self.jobs_between(a, b)
        stages = [s for j in jobs for s in self.jobs[j]["stages"] if s in self.stages_run]
        tasks = [t for s in stages for t in self.tasks[s]]
        busy, last = 0.0, a
        for s, e in sorted((self.jobs[j]["start"], self.jobs[j]["end"] or b) for j in jobs):
            s, e = max(s, last), min(e, b)
            if e > s:
                busy += e - s
                last = e
        skew = 1.0
        if stages:
            widest = max(stages, key=lambda s: len(self.tasks[s]))
            durs = [t["dur"] for t in self.tasks[widest]]
            if durs and median(durs) > 0:
                skew = max(durs) / median(durs)
        return {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": len(tasks),
            "spark.busy_s": busy,
            "spark.outside_jobs_s": (b - a) - busy,
            "spark.executor_run_s": sum(t["run"] for t in tasks),
            "spark.executor_cpu_s": sum(t["cpu"] for t in tasks),
            "spark.gc_s": sum(t["gc"] for t in tasks),
            "spark.shuffle_write_bytes": sum(t["sw"] for t in tasks),
            "spark.shuffle_read_bytes": sum(t["sr"] for t in tasks),
            "spark.spill_bytes": sum(t["spill"] for t in tasks),
            "spark.task_skew": skew,
        }

    def per_round(self, rounds: list[tuple[float, float]]) -> dict:
        """Median over rounds of each ``window`` figure."""
        per = [self.window(a, b) for a, b in rounds]
        return {k: median(w[k] for w in per) for k in per[0]} if per else {}


def dir_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out
