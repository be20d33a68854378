"""Spans, self time and Spark event-log totals for the traced run.

Spans are recorded by the benchmark around its own calls into the
engine (nothing inside ``pyshepseg_spark`` is instrumented). Each span
holds name, start, end, parent and op id; they stay in memory and are
written out once the run ends.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


class Tracer:
    """Records spans when ``enabled``; otherwise every call is a plain
    pass-through, so the untraced run executes the same calls with no
    barriers and no bookkeeping."""

    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op: int | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(sid, name, time.perf_counter(), 0.0, parent, self.op)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    @contextlib.contextmanager
    def op_span(self, op_id: int):
        """Root span of one op; tags its Spark jobs with the op id so
        event-log totals can be attributed to it."""
        self.op = op_id
        if self.enabled:
            self.spark.sparkContext.setLocalProperty("perfbench.op",
                                                     str(op_id))
        try:
            with self.span("op"):
                yield
        finally:
            if self.enabled:
                self.spark.sparkContext.setLocalProperty(
                    "perfbench.op", None)
            self.op = None

    def stage(self, name: str, build):
        """Build a DataFrame stage. Traced: materialise it with an
        eager localCheckpoint inside a span so the stage can be timed
        on its own. Untraced: return the lazy frame unchanged."""
        if not self.enabled:
            return build()
        with self.span(name):
            return build().localCheckpoint(eager=True)

    def collect(self, name: str, build):
        """Build a DataFrame and collect it to pandas (the op's own
        materialisation), inside a span when traced."""
        with self.span(name):
            return build().toPandas()

    def call(self, name: str, fn):
        with self.span(name):
            return fn()

    def dump(self, path: str):
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans) -> dict[int, float]:
    """Span id -> self time: its duration minus the part of that
    interval its child spans cover."""
    kids: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: (s.end - s.start)
            - covered(kids.get(s.id, []), s.start, s.end)
            for s in spans}


def self_time_by_op(spans) -> dict[int, dict[str, float]]:
    """op id -> span name -> summed self time within that op."""
    st = self_times(spans)
    out: dict[int, dict[str, float]] = {}
    for s in spans:
        if s.op is None:
            continue
        d = out.setdefault(s.op, {})
        d[s.name] = d.get(s.name, 0.0) + st[s.id]
    return out


# --------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------

EVENTLOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    # Spark 4 rolls event logs by default; one file is simpler to read
    "spark.eventLog.rolling.enabled": "false",
}

_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


def read_events(eventlog_dir: str, app_id: str):
    """Events of one application (EVENTLOG_CONF writes one
    uncompressed file per application)."""
    (path,) = glob.glob(os.path.join(eventlog_dir, f"*{app_id}*"))
    with open(path) as f:
        for line in f:
            yield json.loads(line)


def spark_totals_by_op(events) -> dict[int, dict[str, float]]:
    """op id -> Spark totals over the jobs that op ran: job, stage and
    task counts, job-active wall time (union of job intervals) and
    summed task metrics."""
    job_op, job_span, stage_op = {}, {}, {}
    out: dict[int, dict[str, float]] = {}
    stages_seen: dict[int, set] = {}
    for e in events:
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            op = (e.get("Properties") or {}).get("perfbench.op")
            if op is None:
                continue
            op = int(op)
            job_op[e["Job ID"]] = op
            job_span[e["Job ID"]] = [e["Submission Time"] / 1e3, None]
            for sid in e["Stage IDs"]:
                stage_op[sid] = op
            _acc(out, op)["spark.jobs"] += 1
        elif ev == "SparkListenerJobEnd" and e["Job ID"] in job_span:
            job_span[e["Job ID"]][1] = e["Completion Time"] / 1e3
        elif ev == "SparkListenerTaskEnd" and e["Stage ID"] in stage_op:
            op = stage_op[e["Stage ID"]]
            d = _acc(out, op)
            stages_seen.setdefault(op, set()).add(
                (e["Stage ID"], e["Stage Attempt ID"]))
            d["spark.tasks"] += 1
            tm = e.get("Task Metrics") or {}
            d["spark.executor_run_s"] += tm.get(
                "Executor Run Time", 0) / 1e3
            d["spark.executor_cpu_s"] += tm.get(
                "Executor CPU Time", 0) / 1e9
            d["spark.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            sw = tm.get("Shuffle Write Metrics") or {}
            d["spark.shuffle_write_bytes"] += sw.get(
                "Shuffle Bytes Written", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            d["spark.shuffle_read_bytes"] += (
                sr.get("Remote Bytes Read", 0)
                + sr.get("Local Bytes Read", 0))
            d["spark.shuffle_fetch_wait_s"] += sr.get(
                "Fetch Wait Time", 0) / 1e3
            for a in (e.get("Task Info") or {}).get("Accumulables", []):
                if a.get("Name") == _PY_SENT:
                    d["spark.python_bytes_sent"] += int(a["Update"])
                elif a.get("Name") == _PY_RECV:
                    d["spark.python_bytes_received"] += int(a["Update"])
    for op, seen in stages_seen.items():
        out[op]["spark.stages"] = float(len(seen))
    for op in out:
        ivs = [(s, e) for j, (s, e) in job_span.items()
               if job_op[j] == op and e is not None]
        out[op]["spark.job_active_s"] = covered(
            ivs, float("-inf"), float("inf"))
    return out


_SPARK_KEYS = ("spark.jobs", "spark.stages", "spark.tasks",
               "spark.executor_run_s", "spark.executor_cpu_s",
               "spark.gc_s", "spark.shuffle_write_bytes",
               "spark.shuffle_read_bytes", "spark.shuffle_fetch_wait_s",
               "spark.python_bytes_sent", "spark.python_bytes_received",
               "spark.job_active_s")


def _acc(out, op):
    if op not in out:
        out[op] = {k: 0.0 for k in _SPARK_KEYS}
    return out[op]
