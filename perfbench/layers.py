"""Per-layer metrics from a traced run's spans.

Closed loop: each metric is computed per query execution, the median is
taken over a query's timed executions, and the medians are summed over the
workload's queries, giving the metric for one pass. Counts are identical
from execution to execution, so their per-pass value repeats exactly.
Open loop: totals over the measured window.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from perfbench.trace import layer_of, self_times

MB = 2**20

# (name, unit, better); the order is the order of BENCHMARK.json.
METRICS = [
    ("queries.build_s", "s", "lower"),
    ("queries.action_s", "s", "lower"),
    ("dsl.py4j_calls", "count", "lower"),
    ("dsl.py4j_s", "s", "lower"),
    ("pins.count", "count", "lower"),
    ("pins.s", "s", "lower"),
    ("streaming.queries", "count", "lower"),
    ("streaming.s", "s", "lower"),
    ("streaming.batches", "count", "lower"),
    ("streaming.add_batch_ms", "ms", "lower"),
    ("streaming.query_planning_ms", "ms", "lower"),
    ("streaming.wal_commit_ms", "ms", "lower"),
    ("streaming.commit_offsets_ms", "ms", "lower"),
    ("streaming.latest_offset_ms", "ms", "lower"),
    ("streaming.state_rows", "count", "lower"),
    ("streaming.state_commit_ms", "ms", "lower"),
    ("streaming.state_memory_mb", "MB", "lower"),
    ("streaming.late_rows_dropped", "count", "lower"),
    ("catalyst.analysis_s", "s", "lower"),
    ("catalyst.optimization_s", "s", "lower"),
    ("catalyst.planning_s", "s", "lower"),
    ("executor.jobs", "count", "lower"),
    ("executor.stages", "count", "lower"),
    ("executor.tasks", "count", "lower"),
    ("executor.task_run_s", "s", "lower"),
    ("executor.task_cpu_s", "s", "lower"),
    ("executor.task_wait_s", "s", "lower"),
    ("executor.gc_s", "s", "lower"),
    ("executor.input_mb", "MB", "lower"),
    ("executor.shuffle_read_mb", "MB", "lower"),
    ("executor.shuffle_write_mb", "MB", "lower"),
    ("executor.spill_mb", "MB", "lower"),
    ("executor.busy_share", "share", "higher"),
    ("python.data_sent_mb", "MB", "lower"),
    ("python.data_received_mb", "MB", "lower"),
    ("python.rows_received", "count", "lower"),
    ("session.start_s", "s", "lower"),
    ("memory.peak_rss_mb", "MB", "lower"),
    ("memory.retained_mb", "MB", "lower"),
    ("session.warmup_s", "s", "lower"),
    ("sources.backlog_files_max", "files", "lower"),
    ("sources.backlog_growth_files", "files", "lower"),
    ("generator.lag_max_ms", "ms", "lower"),
    ("sink.callback_ms_p50", "ms", "lower"),
    ("streaming.batch_input_rows_p50", "rows", "lower"),
    ("self.queries_s", "s", "lower"),
    ("self.dsl_s", "s", "lower"),
    ("self.pins_s", "s", "lower"),
    ("self.streaming_s", "s", "lower"),
    ("self.catalyst_s", "s", "lower"),
    ("self.executor_s", "s", "lower"),
    ("trace.pass_s", "s", "lower"),
]
UNITS = {name: unit for name, unit, _ in METRICS}


def stream_layers(progress: list[dict]) -> dict[str, float]:
    """``streaming.*`` metrics from a list of query-progress dicts."""
    def d(p, k):
        return p.get("durationMs", {}).get(k, 0)

    def state(p, k):
        return sum(o.get(k, 0) for o in p.get("stateOperators", []))

    return {
        "streaming.batches": len(progress),
        "streaming.add_batch_ms": sum(d(p, "addBatch") for p in progress),
        "streaming.query_planning_ms": sum(d(p, "queryPlanning") for p in progress),
        "streaming.wal_commit_ms": sum(d(p, "walCommit") for p in progress),
        "streaming.commit_offsets_ms": sum(d(p, "commitOffsets") for p in progress),
        "streaming.latest_offset_ms": sum(d(p, "latestOffset") for p in progress),
        "streaming.state_rows": max([state(p, "numRowsTotal") for p in progress] or [0]),
        "streaming.state_commit_ms": sum(state(p, "commitTimeMs") for p in progress),
        "streaming.state_memory_mb": max([state(p, "memoryUsedBytes") for p in progress] or [0]) / MB,
        "streaming.late_rows_dropped": sum(state(p, "numRowsDroppedByWatermark") for p in progress),
    }


def request_metrics(spans: list[dict], progress: list[dict] | None, selfs: dict[int, float],
                    cores: int, window=None) -> dict[str, float]:
    """Layer metrics of one request (one query execution, or the open-loop
    stream). ``window`` limits executor counters to jobs started inside it;
    ``progress`` (None to skip) gives the ``streaming.*`` figures."""
    m: dict[str, float] = defaultdict(float)
    by_id = {s["id"]: s for s in spans}
    wall = 0.0
    for s in spans:
        kind = s["name"].split(":", 1)[0]
        dur = s["end"] - s["start"]
        if kind == "query":
            wall += dur
        elif kind == "build":
            m["queries.build_s"] += dur
            m["dsl.py4j_calls"] += s["py4j_calls"]
            # py4j time spent waiting for jobs the build ran is executor time.
            jobs = [j for j in spans if j["parent"] == s["id"] and j["name"].startswith("job:")]
            m["dsl.py4j_s"] += max(s["py4j_s"] - sum(j["end"] - j["start"] for j in jobs), 0.0)
        elif kind == "action":
            m["queries.action_s"] += dur
        elif kind == "pin":
            m["pins.count"] += 1
            m["pins.s"] += dur
        elif kind == "stream":
            m["streaming.queries"] += 1
            m["streaming.s"] += dur
        elif kind == "catalyst":
            m[f"catalyst.{s['phase']}_s"] += dur
        elif kind == "job":
            if window and not window[0] <= s["start"] < window[1]:
                continue
            m["executor.jobs"] += 1
            m["executor.tasks"] += s["tasks"]
            for key in ("task_run_s", "task_cpu_s", "task_wait_s", "gc_s"):
                m[f"executor.{key}"] += s[key]
            m["executor.input_mb"] += s["input_b"] / MB
            m["executor.shuffle_read_mb"] += s["shuffle_read_b"] / MB
            m["executor.shuffle_write_mb"] += s["shuffle_write_b"] / MB
            m["executor.spill_mb"] += s["spill_b"] / MB
            m["python.data_sent_mb"] += s["py_sent_b"] / MB
            m["python.data_received_mb"] += s["py_received_b"] / MB
            m["python.rows_received"] += s["py_rows"]
        elif kind == "stage":
            job = by_id.get(s["parent"])
            if window and job is not None and not window[0] <= job["start"] < window[1]:
                continue
            m["executor.stages"] += 1
        layer = layer_of(s["name"])
        if layer in ("queries", "dsl", "pins", "streaming", "catalyst", "executor"):
            m[f"self.{layer}_s"] += selfs.get(s["id"], 0.0)
    if window:
        wall = window[1] - window[0]
    if wall > 0:
        m["executor.busy_share"] = m["executor.task_run_s"] / (wall * cores)
    if progress is not None:
        m.update(stream_layers(progress))
    return dict(m)


def closed_loop(tracer, cores: int, first_timed_pass: int) -> dict[str, float]:
    """Per-pass layer metrics: per query, the median over its timed
    executions; summed over queries."""
    selfs = self_times(tracer.spans)
    by_request: dict[str, list[dict]] = defaultdict(list)
    for s in tracer.spans:
        if s["request"]:
            by_request[s["request"]].append(s)
    progress: dict[str, list[dict]] = defaultdict(list)
    for rec in tracer.streams.values():
        sid = rec.get("stream_span")
        if sid is not None and tracer.spans[sid]["request"]:
            progress[tracer.spans[sid]["request"]].extend(rec["progress"])
    per_query: dict[str, list[dict]] = defaultdict(list)
    for request, spans in by_request.items():
        _, pass_no, query = request.split("/", 2)
        if int(pass_no) < first_timed_pass:
            continue  # warm-up passes are set-up, not measured passes
        per_query[query].append(
            request_metrics(spans, progress[request], selfs, cores))
    out: dict[str, float] = defaultdict(float)
    for runs in per_query.values():
        for key in set().union(*runs):
            out[key] += statistics.median([r.get(key, 0.0) for r in runs])
    wall = out["queries.build_s"] + out["queries.action_s"]
    out["executor.busy_share"] = out["executor.task_run_s"] / (wall * cores) if wall else 0.0
    return dict(out)


def open_loop(tracer, cores: int, window) -> dict[str, float]:
    """The stream's layer metrics; its ``streaming.*`` progress figures
    over the window come from the run itself (``workloads.run_open``)."""
    spans = [s for s in tracer.spans if s["request"]]
    return request_metrics(spans, None, self_times(tracer.spans), cores, window=window)
