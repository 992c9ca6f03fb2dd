"""Spans and counters for the traced run.

Everything here observes the package from outside: spans around the calls
the benchmark makes into ``queries/``, wrappers around the public PySpark
entry points the package calls (``DataFrame.localCheckpoint``/``checkpoint``
and the py4j client's ``send_command``), a ``StreamingQueryListener``,
Catalyst's phase tracker and Spark's event log. Spans are kept in memory
and written out as JSON when the run ends.

A span is a dict: ``id``, ``name``, ``start``/``end`` (epoch seconds),
``parent`` (span id or None), ``request`` (``workload/pass/query``) and
free-form counters. ``self_times`` splits every root span's duration among
the spans of its tree, so child self times sum to their parent's duration.
"""

from __future__ import annotations

import json
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from datetime import datetime

SPAN_PROPERTY = "perfbench.span"
PHASES = ("analysis", "optimization", "planning")
# Plan nodes that run Python workers (Arrow or pickled batches).
PYTHON_NODES = ("Python", "Pandas", "Arrow")
PYTHON_METRICS = {
    "data sent to Python workers": "py_sent_b",
    "data returned from Python workers": "py_received_b",
    "number of output rows": "py_rows",
}


def layer_of(name: str) -> str:
    """The layer a span's self time belongs to."""
    head = name.split(":", 1)[0]
    return {
        "query": "queries",
        "action": "queries",
        "build": "dsl",
        "pin": "pins",
        "stream": "streaming",
        "batch": "streaming",
        "catalyst": "catalyst",
        "job": "executor",
        "stage": "executor",
    }.get(head, head)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of every span, in seconds.

    Each root span's interval is divided among the spans of its tree: a
    child is clipped to the part of its parent's interval the parent
    received, and where siblings overlap (AQE runs stages of one query
    concurrently) each instant goes to the sibling that started last, as a
    sampling profiler's stack would show it. What no child receives is the
    span's self time. The self times of a tree therefore sum exactly to
    its root's duration.
    """
    kids: dict[int | None, list[dict]] = defaultdict(list)
    ids = {s["id"] for s in spans}
    for s in spans:
        parent = s["parent"] if s["parent"] in ids else None
        kids[parent].append(s)
    out: dict[int, float] = {}

    def assign(span: dict, owned: list[tuple[float, float]]) -> None:
        children = sorted(kids.get(span["id"], []), key=lambda c: (c["start"], c["id"]))
        gets: dict[int, list[tuple[float, float]]] = defaultdict(list)
        mine = 0.0
        for lo, hi in owned:
            cuts = {lo, hi}
            for c in children:
                for t in (c["start"], c["end"]):
                    if lo < t < hi:
                        cuts.add(t)
            edges = sorted(cuts)
            for a, b in zip(edges, edges[1:]):
                owner = None
                for c in children:  # sorted by start: the last cover wins
                    if c["start"] <= a and c["end"] >= b:
                        owner = c
                if owner is None:
                    mine += b - a
                else:
                    seg = gets[owner["id"]]
                    if seg and seg[-1][1] == a:
                        seg[-1] = (seg[-1][0], b)
                    else:
                        seg.append((a, b))
        out[span["id"]] = mine
        for c in children:
            assign(c, gets.get(c["id"], []))

    for root in kids[None]:
        assign(root, [(root["start"], max(root["start"], root["end"]))])
    return out


def iso_s(ts: str) -> float:
    """Spark's progress timestamps ('2026-10-17T05:10:47.123Z') to epoch s."""
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class Tracer:
    """Span recorder. With ``enabled`` False every hook is a no-op, so the
    untraced run pays nothing but the ``span`` context managers."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._main = threading.get_ident()
        self._quiet = 0  # > 0 while the tracer itself talks to the JVM
        self._spark = None
        self.streams: dict[str, dict] = {}  # runId -> stream record
        self._streams_lock = threading.Lock()

    # -- spans ------------------------------------------------------------

    def _new(self, name: str, start: float, end: float | None, parent, request, **kw) -> dict:
        span = {"id": len(self.spans), "name": name, "start": start, "end": end,
                "parent": parent, "request": request, **kw}
        self.spans.append(span)
        return span

    @property
    def current(self) -> dict | None:
        return self._stack[-1] if self._stack else None

    @contextmanager
    def span(self, name: str, request: str | None = None):
        parent = self.current
        if request is None and parent is not None:
            request = parent["request"]
        span = self._new(name, time.time(), None, parent and parent["id"], request,
                         py4j_calls=0, py4j_s=0.0)
        self._stack.append(span)
        self._tag_jobs(span["id"])
        try:
            yield span
        finally:
            span["end"] = time.time()
            self._stack.pop()
            self._tag_jobs(self.current and self.current["id"])

    def _tag_jobs(self, span_id) -> None:
        if not (self.enabled and self._spark is not None):
            return
        self._quiet += 1
        try:
            self._spark.sparkContext.setLocalProperty(
                SPAN_PROPERTY, None if span_id is None else str(span_id))
        finally:
            self._quiet -= 1

    # -- hooks ------------------------------------------------------------

    def install(self, spark) -> None:
        """Wrap py4j and the pin entry points and register the stream
        listener. Only called for the traced run."""
        if not self.enabled:
            return
        self._spark = spark
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command
        tracer = self

        def send_command(command, retry=True, binary=False):
            if tracer._quiet or threading.get_ident() != tracer._main or not tracer._stack:
                return send(command, retry, binary)
            t0 = time.perf_counter()
            try:
                return send(command, retry, binary)
            finally:
                span = tracer._stack[-1]
                span["py4j_calls"] += 1
                span["py4j_s"] += time.perf_counter() - t0

        client.send_command = send_command

        # Waiting on a stream is streaming time, not plan building: keep
        # these calls out of the py4j counters (the stream has its own span).
        from pyspark.sql.streaming.query import StreamingQuery

        for method in ("processAllAvailable", "awaitTermination", "stop"):
            orig = getattr(StreamingQuery, method)

            def waiting(q, *args, __orig=orig, **kwargs):
                tracer._quiet += 1
                try:
                    return __orig(q, *args, **kwargs)
                finally:
                    tracer._quiet -= 1

            setattr(StreamingQuery, method, waiting)

        from pyspark.sql.classic.dataframe import DataFrame

        for method in ("localCheckpoint", "checkpoint"):
            orig = getattr(DataFrame, method)

            def pinned(df, *args, __orig=orig, **kwargs):
                caller = sys._getframe(1)
                where = caller.f_globals.get("__name__", "?").rsplit(".", 2)
                label = ".".join(where[-2:]) + ":" + caller.f_code.co_name
                with tracer.span(f"pin:{label}"):
                    return __orig(df, *args, **kwargs)

            setattr(DataFrame, method, pinned)

        from pyspark.sql.streaming import StreamingQueryListener

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                tracer._stream_event(str(event.runId), started=iso_s(event.timestamp),
                                     name=event.name or str(event.id))

            def onQueryProgress(self, event):
                tracer._stream_event(str(event.progress.runId),
                                     progress=json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                tracer._stream_event(str(event.runId), terminated=time.time())

        spark.streams.addListener(Listener())

    def _stream_event(self, run_id: str, progress=None, **fields) -> None:
        with self._streams_lock:
            rec = self.streams.setdefault(run_id, {"progress": [], "span": None})
            if progress is not None:
                rec["progress"].append(progress)
            rec.update(fields)
            if "started" in fields and rec["span"] is None:
                # The listener thread runs while the main thread is inside
                # the span that started the stream.
                rec["span"] = self.current and self.current["id"]

    def wait_streams(self, timeout: float = 30.0) -> None:
        """Block until every started stream's terminated event has arrived
        (listener events are delivered asynchronously)."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            with self._streams_lock:
                if all("terminated" in r for r in self.streams.values()):
                    return
            time.sleep(0.01)

    def catalyst(self, df) -> None:
        """Record the final plan's analysis/optimization/planning phases
        from ``queryExecution().tracker()``, each under the build or action
        span it ran in."""
        if not self.enabled:
            return
        self._quiet += 1
        try:
            phases = df._jdf.queryExecution().tracker().phases()
            found = []
            for name in PHASES:
                opt = phases.get(name)
                if opt.isDefined():
                    ps = opt.get()
                    found.append((name, ps.startTimeMs() / 1e3, ps.endTimeMs() / 1e3))
        finally:
            self._quiet -= 1
        cur = self.current
        request = cur and cur["request"]
        # Analysis runs while the plan is built, optimization and planning at
        # the action: hang each phase under the span of its request it ran in.
        homes = [s for s in self.spans if s["request"] == request
                 and s["name"] in ("build", "action")] if request else []
        for name, start, end in found:
            home = next((s for s in homes if s["start"] <= start <= (s["end"] or end)), cur)
            self._new(f"catalyst:{name}", start, end, home and home["id"], request, phase=name)

    # -- streams and the event log, after the run ----------------------------

    def stream_spans(self) -> None:
        """Turn listener records into ``stream:<name>`` and ``batch:<id>`` spans."""
        with self._streams_lock:
            records = list(self.streams.items())
        for run_id, rec in records:
            if "started" not in rec:
                continue
            end = rec.get("terminated")
            if end is None:
                end = max([iso_s(p["timestamp"]) + p["durationMs"].get("triggerExecution", 0) / 1e3
                           for p in rec["progress"]] or [rec["started"]])
            # A stream that outlives the span that started it (the open loop
            # starts it while building) belongs to the ancestor it ends in.
            parent = rec["span"]
            while parent is not None and self.spans[parent]["end"] < end:
                parent = self.spans[parent]["parent"]
            request = self.spans[rec["span"]]["request"] if rec["span"] is not None else None
            s = self._new(f"stream:{rec['name']}", rec["started"], end, parent, request,
                          run_id=run_id)
            rec["stream_span"] = s["id"]
            rec["batch_spans"] = {}
            for p in rec["progress"]:
                start = iso_s(p["timestamp"])
                dur = p["durationMs"].get("triggerExecution", 0) / 1e3
                b = self._new(f"batch:{p['batchId']}", start, start + dur, s["id"], request,
                              rows=p.get("numInputRows", 0))
                rec["batch_spans"][str(p["batchId"])] = b["id"]

    def job_spans(self, eventlog_lines) -> dict:
        """Parse the event log: job and stage spans under the span that ran
        them, plus per-span executor and Python-worker counters."""
        by_run = {run_id: rec for run_id, rec in self.streams.items() if "stream_span" in rec}
        jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        stages: dict[int, dict] = {}
        py_acc: dict[int, str] = {}
        tasks: list[dict] = []
        for line in eventlog_lines:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {"start": ev["Submission Time"] / 1e3, "props": props}
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, ev["Job ID"])
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if "Submission Time" in info:
                    stages[info["Stage ID"]] = {
                        "start": info["Submission Time"] / 1e3,
                        "end": info.get("Completion Time", info["Submission Time"]) / 1e3,
                        "tasks": info.get("Number of Tasks", 0),
                    }
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)
            elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                _python_accumulators(ev.get("sparkPlanInfo") or {}, py_acc)

        def owner(props: dict):
            run = by_run.get(props.get("spark.jobGroup.id", ""))
            if run is not None:
                batch = run["batch_spans"].get(props.get("streaming.sql.batchId", ""))
                return batch if batch is not None else run["stream_span"]
            sid = props.get(SPAN_PROPERTY)
            return int(sid) if sid is not None and sid.isdigit() else None

        job_span: dict[int, int] = {}
        for jid, j in sorted(jobs.items()):
            parent = owner(j["props"])
            if parent is None or "end" not in j:
                continue
            request = self.spans[parent]["request"]
            s = self._new(f"job:{jid}", j["start"], j["end"], parent, request, **_zero_exec())
            job_span[jid] = s["id"]
        stage_job_span: dict[int, int] = {}
        for sid, st in sorted(stages.items()):
            jspan = job_span.get(stage_job.get(sid, -1))
            if jspan is None:
                continue
            self._new(f"stage:{sid}", st["start"], st["end"], jspan,
                      self.spans[jspan]["request"], tasks=st["tasks"])
            stage_job_span[sid] = jspan
        for ev in tasks:
            jspan = stage_job_span.get(ev.get("Stage ID"))
            if jspan is None:
                continue
            _add_task(self.spans[jspan], ev, py_acc)
        return {"jobs": len(job_span), "stages": len(stage_job_span), "tasks": len(tasks)}

    def dump(self, path: str, extra: dict | None = None) -> None:
        st = self_times(self.spans)
        for s in self.spans:
            s["self_s"] = st.get(s["id"], 0.0)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **(extra or {})}, f)


def _python_accumulators(node: dict, out: dict[int, str]) -> None:
    if any(k in node.get("nodeName", "") for k in PYTHON_NODES):
        for m in node.get("metrics", []):
            key = PYTHON_METRICS.get(m.get("name"))
            if key is not None:
                out[m["accumulatorId"]] = key
    for child in node.get("children", []):
        _python_accumulators(child, out)


def _zero_exec() -> dict:
    return {"tasks": 0, "task_run_s": 0.0, "task_cpu_s": 0.0, "task_wait_s": 0.0,
            "gc_s": 0.0, "input_b": 0, "shuffle_read_b": 0, "shuffle_write_b": 0,
            "spill_b": 0, "py_sent_b": 0, "py_received_b": 0, "py_rows": 0}


def _add_task(job: dict, ev: dict, py_acc: dict[int, str]) -> None:
    info = ev.get("Task Info", {})
    m = ev.get("Task Metrics") or {}
    run_ms = m.get("Executor Run Time", 0)
    job["tasks"] += 1
    job["task_run_s"] += run_ms / 1e3
    job["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    wall_ms = max(info.get("Finish Time", 0) - info.get("Launch Time", 0), 0)
    job["task_wait_s"] += max(wall_ms - run_ms, 0) / 1e3
    job["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    job["input_b"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    rd = m.get("Shuffle Read Metrics") or {}
    job["shuffle_read_b"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
    job["shuffle_write_b"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    job["spill_b"] += m.get("Disk Bytes Spilled", 0)
    for acc in info.get("Accumulables", []):
        key = py_acc.get(acc.get("ID"))
        if key is not None:
            job[key] += int(acc.get("Update") or 0)
