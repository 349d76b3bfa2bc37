"""The traced run's instruments.

* ``Tracer`` keeps spans (name, start, end, parent, op id) in memory and
  writes them out when the run ends.
* ``wrap_layers`` wraps ``sources.load`` (every module binding, so the
  ``operators._util.T`` path is seen too) and the ``IceliteTable``
  methods in this process only.
* ``StreamListener`` collects streaming progress, because stream jobs do
  not inherit the caller's job group; ``follow_sessions`` attaches it to
  the dedicated sessions some stream queries create.
* ``parse_event_log`` reads Spark's uncompressed event log into one record
  per job with its task metrics.
"""

from __future__ import annotations

import bisect
import datetime as dt
import functools
import json
import sys
import threading
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: str | None = None
        self.enabled = False

    def begin(self, name: str) -> int:
        sid = len(self.spans)
        self.spans.append({"name": name, "start": time.time(), "end": None,
                           "parent": self._stack[-1] if self._stack else None,
                           "op": self.op_id})
        self._stack.append(sid)
        return sid

    def end(self, sid: int) -> float:
        """Close span ``sid`` and any child an exception left open."""
        now = time.time()
        while self._stack:
            top = self._stack.pop()
            self.spans[top]["end"] = now
            if top == sid:
                break
        return now - self.spans[sid]["start"]

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            sid = self.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(sid)
        return traced


class SpanIndex:
    """Maps an epoch time to the op span, and the op's phase span
    (``build``/``plan``/``execute``), that contains it."""

    PHASES = ("build", "plan", "execute")

    def __init__(self, spans: list[dict]):
        roots = sorted((s for s in spans if s["parent"] is None and s["end"]),
                       key=lambda s: s["start"])
        self._starts = [s["start"] for s in roots]
        self._roots = roots
        self._phases: dict[int, list[dict]] = defaultdict(list)
        index = {id(s): i for i, s in enumerate(spans)}
        for s in spans:
            if s["name"] in self.PHASES and s["parent"] is not None:
                self._phases[s["parent"]].append(s)
        self._root_ids = [index[id(s)] for s in roots]

    def find(self, t: float) -> tuple[str | None, str]:
        i = bisect.bisect_right(self._starts, t) - 1
        if i < 0 or t > self._roots[i]["end"]:
            return None, ""
        root = self._roots[i]
        for ph in self._phases.get(self._root_ids[i], ()):
            if ph["start"] <= t <= ph["end"]:
                return root["op"], ph["name"]
        return root["op"], "execute"


ICELITE_METHODS = ("insert", "delete_where", "update_where", "merge_into",
                   "read", "scan_range", "plan_files_range",
                   "rewrite_position_deletes", "rewrite_data_files",
                   "expire_snapshots", "set_partition")


def wrap_layers(tracer: Tracer, counts: dict) -> None:
    """Wrap the source loader everywhere it is bound, and the icelite
    table methods, so their calls become spans.  ``counts`` receives the
    per-op number and seconds of ``sources.load`` calls."""
    from data_eng_iceberg_demo_spark.sources import readers
    from data_eng_iceberg_demo_spark.tables.icelite import IceliteTable

    original = readers.load
    spanned = tracer.wrap("sources.load", original)

    @functools.wraps(original)
    def load(*args, **kwargs):
        if not tracer.enabled:
            return original(*args, **kwargs)
        t0 = time.perf_counter()
        try:
            return spanned(*args, **kwargs)
        finally:
            c = counts.setdefault(tracer.op_id, [0, 0.0])
            c[0] += 1
            c[1] += time.perf_counter() - t0

    for mod in list(sys.modules.values()):
        if (getattr(mod, "__name__", "").startswith("data_eng_iceberg_demo_spark")
                and getattr(mod, "load", None) is original):
            mod.load = load
    for m in ICELITE_METHODS:
        setattr(IceliteTable, m, tracer.wrap(f"icelite.{m}", getattr(IceliteTable, m)))


def _iso_epoch(ts: str | None) -> float | None:
    if not ts:
        return None
    t = dt.datetime.fromisoformat(ts.replace("Z", "+00:00"))
    if t.tzinfo is None:
        t = t.replace(tzinfo=dt.timezone.utc)
    return t.timestamp()


class StreamListener(StreamingQueryListener):
    """Records every query start and micro-batch progress event."""

    def __init__(self):
        self.lock = threading.Lock()
        self.started: dict[str, float] = {}
        self.progress: list[dict] = []

    def onQueryStarted(self, event):
        with self.lock:
            self.started[str(event.runId)] = _iso_epoch(event.timestamp) or time.time()

    def onQueryProgress(self, event):
        p = event.progress
        with self.lock:
            self.progress.append({
                "run_id": str(p.runId), "batch": p.batchId,
                "ts": _iso_epoch(p.timestamp),
                "duration_ms": dict(p.durationMs or {}),
                "input_rows": p.numInputRows,
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators)})

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def follow_sessions(listener: StreamListener) -> None:
    """Attach ``listener`` to every session created from now on: stream
    queries that run in a dedicated ``newSession`` report to that
    session's query manager only."""
    from pyspark.sql import SparkSession

    original = SparkSession.newSession

    @functools.wraps(original)
    def newSession(self):
        session = original(self)
        session.streams.addListener(listener)
        return session

    SparkSession.newSession = newSession


STREAM_KEYS = ("batches", "startup_ms", "trigger_ms", "add_batch_ms",
               "wal_commit_ms", "query_planning_ms", "input_rows", "state_rows")


def stream_totals(listener: StreamListener, spans: SpanIndex) -> dict[str, dict]:
    """Per op: micro-batches, start-up ms (query start to first trigger),
    trigger / addBatch / walCommit / queryPlanning ms, input rows, and
    the state rows left after each query's last batch."""
    out: dict[str, dict] = defaultdict(lambda: dict.fromkeys(STREAM_KEYS, 0.0))
    first: dict[str, float] = {}
    last: dict[str, dict] = {}
    with listener.lock:
        progress = list(listener.progress)
        started = dict(listener.started)
    for p in progress:
        if p["ts"] is None:
            continue
        op, _ = spans.find(p["ts"])
        if op is None:
            continue
        first[p["run_id"]] = min(first.get(p["run_id"], p["ts"]), p["ts"])
        if p["batch"] >= last.get(p["run_id"], {"batch": -1})["batch"]:
            last[p["run_id"]] = dict(p, op=op)
        t = out[op]
        d = p["duration_ms"]
        t["batches"] += 1
        t["trigger_ms"] += d.get("triggerExecution", 0)
        t["add_batch_ms"] += d.get("addBatch", 0)
        t["wal_commit_ms"] += d.get("walCommit", 0)
        t["query_planning_ms"] += d.get("queryPlanning", 0)
        t["input_rows"] += p["input_rows"]
    for p in last.values():
        out[p["op"]]["state_rows"] += p["state_rows"]
    for run_id, t0 in started.items():
        op, _ = spans.find(t0)
        if op is not None and run_id in first:
            out[op]["startup_ms"] += max(0.0, (first[run_id] - t0) * 1000.0)
    return out


# Python/Arrow boundary SQL metrics, by accumulable name.
UDF_ACCUMS = {
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_received",
    "number of output rows": None,  # resolved per node below
    "time to run Python workers": "python_ms",
}
TASK_KEYS = ("tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
             "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
             "spill_bytes", "python_rows", "python_bytes_sent",
             "python_bytes_received", "python_ms")


def parse_event_log(path: str) -> list[dict]:
    """One record per job: id, job group, submission epoch seconds, wall
    ms, the stages that actually ran, and its tasks' summed metrics."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    python_rows_accs: set[int] = set()
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = dict(
                    {"id": jid, "submit": ev["Submission Time"] / 1000.0,
                     "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                     "wall_ms": 0.0, "stages": set()},
                    **dict.fromkeys(TASK_KEYS, 0.0))
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                j = jobs.get(ev["Job ID"])
                if j is not None:
                    j["wall_ms"] = ev["Completion Time"] - j["submit"] * 1000.0
            elif kind == "SparkListenerStageSubmitted":
                sid = ev["Stage Info"]["Stage ID"]
                if sid in stage_job:
                    jobs[stage_job[sid]]["stages"].add(sid)
            elif "sparkPlanInfo" in ev:  # SQL execution start / AQE re-plan
                _python_row_accs(ev["sparkPlanInfo"], python_rows_accs)
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                if jid is None:
                    continue
                t = jobs[jid]
                t["tasks"] += 1
                m = ev.get("Task Metrics") or {}
                t["executor_run_ms"] += m.get("Executor Run Time", 0)
                t["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                t["gc_ms"] += m.get("JVM GC Time", 0)
                t["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                t["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                            + sr.get("Local Bytes Read", 0))
                sw = m.get("Shuffle Write Metrics") or {}
                t["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                t["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    name = acc.get("Name")
                    key = UDF_ACCUMS.get(name, "")
                    if key is None:
                        key = "python_rows" if acc.get("ID") in python_rows_accs else ""
                    if not key:
                        continue
                    try:
                        val = float(acc.get("Update", 0))
                    except (TypeError, ValueError):
                        continue
                    t[key] += val
    return list(jobs.values())


_PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                 "MapInArrow", "FlatMapGroupsInPandas", "FlatMapGroupsInArrow",
                 "FlatMapCoGroupsInPandas", "FlatMapCoGroupsInArrow",
                 "AggregateInPandas", "WindowInPandas", "PythonMapInArrow",
                 "BatchEvalPythonUDTF", "ArrowEvalPythonUDTF")


def _python_row_accs(plan: dict | None, out: set) -> None:
    """Accumulator ids of the output-row metric of Python-evaluating plan
    nodes (their other metrics have unique names)."""
    if not plan:
        return
    if plan.get("nodeName", "").startswith(_PYTHON_NODES):
        for m in plan.get("metrics", []):
            if m.get("name") == "number of output rows":
                out.add(m.get("accumulatorId"))
    for child in plan.get("children", []):
        _python_row_accs(child, out)
