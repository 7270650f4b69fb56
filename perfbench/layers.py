"""Per-layer figures for the benchmark's traced run.

Everything here is measured from outside the engine:

- ``Spans`` wraps the package's layer entry points (``session``,
  ``__spark_entry__._tune``, ``sources.readers.load_table``) and
  records call durations while a traced round is running;
- ``EventLogSwitch`` attaches the session's event log only while a
  traced round is running;
- ``StreamProgress`` is a ``StreamingQueryListener`` collecting
  per-micro-batch progress;
- ``read_event_log`` parses the session's Spark event log into job
  and stage records;
- ``layer_metrics`` attributes jobs, stages and batches to the
  harness's build / action / scrub windows and reduces them to the
  per-layer metrics, per measured round.

None of it is installed in an untraced run.
"""

from __future__ import annotations

import datetime as dt
import functools
import json
import os
import statistics
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

from profile_cold_run import _union_span

MB = 1024 * 1024

#: executor task metrics summed per stage (stage-completed accumulables)
_EXEC = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.input.bytesRead": "input_b",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_b",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_b",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_b",
    "internal.metrics.diskBytesSpilled": "spill_b",
    # SQL metrics of the Python-eval operators (ArrowEvalPython,
    # FlatMapGroupsInPandas, MapInPandas, ...)
    "data sent to Python workers": "py_sent_b",
    "data returned from Python workers": "py_returned_b",
}


class Spans:
    """Times calls into named layer functions while ``active``.

    ``install`` replaces a module attribute with a timing wrapper; for
    a function other modules imported by name, every module holding a
    reference to the original is patched too.
    """

    def __init__(self) -> None:
        self.active = False
        self.calls: dict[str, list[float]] = defaultdict(list)

    def install(self, module, attr: str, span: str) -> None:
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def timed(*a, **kw):
            if not self.active:
                return orig(*a, **kw)
            t0 = time.perf_counter()
            try:
                return orig(*a, **kw)
            finally:
                self.calls[span].append(time.perf_counter() - t0)

        for mod in list(sys.modules.values()):
            if getattr(mod, attr, None) is orig:
                setattr(mod, attr, timed)

    def take(self) -> dict[str, list[float]]:
        out, self.calls = dict(self.calls), defaultdict(list)
        return out


class EventLogSwitch:
    """Detaches the session's event-log listener from the listener bus
    and re-attaches it, so that only traced rounds pay for the log."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext._jsc.sc()
        self.listener = self.sc.eventLogger().get()
        self.attached = True

    def off(self) -> None:
        if self.attached:
            self.sc.listenerBus().waitUntilEmpty()
            self.sc.listenerBus().removeListener(self.listener)
            self.attached = False

    def on(self) -> None:
        if not self.attached:
            self.sc.listenerBus().addToEventLogQueue(self.listener)
            self.attached = True


class StreamProgress(StreamingQueryListener):
    """Collects (batch start ms, durationMs, input rows) per micro-batch."""

    def __init__(self) -> None:
        self.batches: list[tuple[float, dict, int]] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        start = dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
        self.batches.append((start.timestamp() * 1000, dict(p.durationMs), p.numInputRows))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


@dataclass
class EventLog:
    jobs: list[tuple[int, int, list[int]]] = field(default_factory=list)
    stages: dict[int, dict] = field(default_factory=dict)


def read_event_log(ev_dir: str) -> EventLog:
    """Jobs as (submit ms, end ms, stage ids) and completed stages as
    {stage id: {"tasks": n, metric: total}} from the uncompressed
    event log(s) under ``ev_dir``."""
    log = EventLog()
    starts: dict[int, tuple[int, list[int]]] = {}
    paths = [os.path.join(d, f) for d, _, files in os.walk(ev_dir) for f in files]
    for path in sorted(paths):
        with open(path, errors="replace") as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:  # a line still being written
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    starts[ev["Job ID"]] = (ev["Submission Time"], ev["Stage IDs"])
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in starts:
                    t0, stage_ids = starts.pop(ev["Job ID"])
                    log.jobs.append((t0, ev["Completion Time"], stage_ids))
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    rec = log.stages.setdefault(info["Stage ID"], defaultdict(float))
                    rec["tasks"] += info["Number of Tasks"]
                    for acc in info.get("Accumulables", []):
                        key = _EXEC.get(acc.get("Name"))
                        if key is not None:
                            rec[key] += float(acc.get("Value") or 0)
    return log


#: figures summed over each traced round, then averaged over rounds
_SUMMED = (
    "wall", "session.ship_package_s", "session.ship_package_calls", "entry.tune_s",
    "build.s", "build.jobs", "build.job_s", "action.s", "action.jobs", "action.stages",
    "action.tasks", "action.job_s", "exec.run_s", "exec.cpu_s", "exec.gc_s",
    "exec.input_mb", "exec.shuffle_read_mb", "exec.shuffle_write_mb", "exec.spill_mb",
    "python.sent_mb", "python.returned_mb", "python.stage_run_s", "stream.batches",
    "stream.add_batch_s", "stream.planning_s", "stream.wal_commit_s", "stream.rows",
    "harness.scrub_s",
)


@dataclass
class Execution:
    """Wall-clock (epoch ms) windows of one traced query execution."""

    build: tuple[float, float]
    action: tuple[float, float]
    scrub: tuple[float, float]


def _inside(jobs, window):
    a, b = window
    return [j for j in jobs if a <= j[0] < b]


def _job_time(jobs, window) -> float:
    a, b = window
    return _union_span([(max(j[0], a), min(j[1], b)) for j in jobs]) / 1000


def layer_metrics(
    rounds: list[tuple[float, list[Execution], dict[str, list[float]]]],
    log: EventLog,
    batches: list[tuple[float, dict, int]],
) -> dict[str, float]:
    """Per-round means of every build/action/exec/python/stream/span
    figure over the traced ``rounds`` of (round wall s, executions,
    span calls)."""
    tot = dict.fromkeys(_SUMMED, 0.0)
    load_calls: list[float] = []
    batch_s: list[float] = []
    for wall, execs, calls in rounds:
        tot["wall"] += wall
        tot["session.ship_package_s"] += sum(calls.get("ship_package", []))
        tot["session.ship_package_calls"] += len(calls.get("ship_package", []))
        tot["entry.tune_s"] += sum(calls.get("tune", []))
        load_calls += calls.get("load_table", [])
        for ex in execs:
            tot["harness.scrub_s"] += (ex.scrub[1] - ex.scrub[0]) / 1000
            stage_ids: set[int] = set()
            for phase in ("build", "action"):
                window = getattr(ex, phase)
                jobs = _inside(log.jobs, window)
                tot[f"{phase}.s"] += (window[1] - window[0]) / 1000
                tot[f"{phase}.jobs"] += len(jobs)
                tot[f"{phase}.job_s"] += _job_time(jobs, window)
                ids = {s for j in jobs for s in j[2] if s in log.stages}
                if phase == "action":
                    tot["action.stages"] += len(ids)
                    tot["action.tasks"] += sum(log.stages[s]["tasks"] for s in ids)
                stage_ids |= ids
            for s in stage_ids:
                st = log.stages[s]
                tot["exec.run_s"] += st["run_ms"] / 1000
                tot["exec.cpu_s"] += st["cpu_ns"] / 1e9
                tot["exec.gc_s"] += st["gc_ms"] / 1000
                tot["exec.input_mb"] += st["input_b"] / MB
                tot["exec.shuffle_read_mb"] += st["shuffle_read_b"] / MB
                tot["exec.shuffle_write_mb"] += st["shuffle_write_b"] / MB
                tot["exec.spill_mb"] += st["spill_b"] / MB
                if st["py_sent_b"] or st["py_returned_b"]:
                    tot["python.sent_mb"] += st["py_sent_b"] / MB
                    tot["python.returned_mb"] += st["py_returned_b"] / MB
                    tot["python.stage_run_s"] += st["run_ms"] / 1000
            lo, hi = ex.build[0], ex.action[1]
            for start, dur, rows in batches:
                if lo <= start < hi:
                    batch_s.append(dur.get("triggerExecution", 0) / 1000)
                    tot["stream.batches"] += 1
                    tot["stream.add_batch_s"] += dur.get("addBatch", 0) / 1000
                    tot["stream.planning_s"] += dur.get("queryPlanning", 0) / 1000
                    tot["stream.wal_commit_s"] += dur.get("walCommit", 0) / 1000
                    tot["stream.rows"] += rows
    n = len(rounds)
    out = {k: v / n for k, v in tot.items() if k not in ("wall", "stream.rows")}
    for phase in ("build", "action"):
        out[f"{phase}.driver_s"] = out[f"{phase}.s"] - out[f"{phase}.job_s"]
    out["sources.load_table_s"] = statistics.fmean(load_calls) if load_calls else 0.0
    out["stream.batch_s.p50"] = statistics.median(batch_s) if batch_s else 0.0
    out["stream.rows_per_s"] = tot["stream.rows"] / sum(batch_s) if sum(batch_s) else 0.0
    out["trace.coverage"] = (out["build.s"] + out["action.s"] + out["harness.scrub_s"]) / (
        tot["wall"] / n
    )
    return out
