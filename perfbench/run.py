"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload pipelines --seed 1 --seconds 20 --trace 0

Run from the repository root. With ``--trace 0`` the last line of stdout
holds the end-to-end metrics, with ``--trace 1`` the per-layer metrics of a
traced run (spans written to ``perfbench/.work/traces/``). Run metadata
(environment, per-query medians, errors) goes to ``perfbench/.work/runs/``
and, in short, to stderr. Inputs are generated under ``perfbench/.work/``
on first use; nothing is read or written outside the checkout.
"""

from __future__ import annotations

import time

T_START = time.time()  # set-up time counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import datagen, layers, stats, workloads  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

END_TO_END = {
    "pass_s": "s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "setup_s": "s",
}


def proc_status_mb(pid, field: str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024
    return 0.0


def retained_mb(spark) -> float:
    """Memory the Spark driver holds once a fixed amount of work is done: the
    Python process's resident set plus the JVM heap in use after a full GC."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return proc_status_mb(os.getpid(), "VmRSS") + heap.getUsed() / 2**20


def confine(trace_dir: str | None) -> dict[str, str]:
    """Keep Spark's and Python's scratch files inside the checkout, and let
    Python workers import the package. Returns the Spark conf to apply."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else []))
    conf = {
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace_dir is not None:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + trace_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def cpu_probe(spark) -> float:
    t0 = time.perf_counter()
    spark.range(200_000_000).selectExpr("sum(id)").collect()
    return time.perf_counter() - t0


def stop_jvm(spark) -> None:
    """Stop Spark and its JVM, and wait for the JVM to exit. ``spark.stop()``
    alone leaves the gateway JVM running until Python exits; the JVM exits
    when its stdin closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    traced = bool(args.trace)

    # Fails in a checkout without the package: no result is printed.
    from proteus_engine_spark.session import get_session

    meta: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                  "seconds": args.seconds}
    data_dir = os.path.join(WORK, "data", f"pb-sf{datagen.SCALE}-v{datagen.FORMAT_VERSION}")
    t = time.time()
    meta["data_generated"] = datagen.write_tables(data_dir)
    meta["datagen_s"] = time.time() - t
    # Input generation is a build step: it happens once per checkout and is
    # kept out of set-up time, which starts once the inputs exist.
    t_setup = T_START + meta["datagen_s"]

    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    meta["env"] = {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg_before": os.getloadavg(),
    }
    ticks0 = cpu_ticks()
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    trace_dir = os.path.join(WORK, "eventlog", f"{run_id}-{os.getpid()}") if traced else None
    if trace_dir:
        shutil.rmtree(trace_dir, ignore_errors=True)
        os.makedirs(trace_dir)
    conf = confine(trace_dir)

    spark = get_session(app_name=f"perfbench-{args.workload}", extra_conf=conf)
    session_start_s = time.time() - t_setup
    tracer = Tracer(traced)
    tracer.install(spark)
    setup = {}

    def setup_done():
        setup["s"] = time.time() - t_setup

    def memory():
        setup["retained_mb"] = retained_mb(spark)

    if args.workload == workloads.OPEN:
        out = workloads.run_open(spark, tracer, WORK, data_dir, args.seed, args.seconds,
                                 setup_done, memory)
    else:
        out = workloads.run_closed(spark, tracer, args.workload, data_dir, args.seed,
                                   args.seconds, setup_done, memory)

    meta["env"]["cpu_probe_s"] = cpu_probe(spark)
    jvm_pid = spark.sparkContext._gateway.proc.pid
    # Memory is a per-layer figure, not an end-to-end metric: between runs
    # of the same code, peak RSS swung from 1.8 to 3.0 GB with the JVM's
    # heap sizing, and the heap left after a full GC by a fifth.
    meta["peak_rss_mb"] = proc_status_mb(os.getpid(), "VmHWM") + proc_status_mb(jvm_pid, "VmHWM")
    meta["retained_mb"] = setup.get("retained_mb", 0.0)
    stop_jvm(spark)
    meta["env"]["loadavg_after"] = os.getloadavg()
    ticks1 = cpu_ticks()
    # Share of CPU time the hypervisor gave to other guests during the run.
    meta["env"]["steal_share"] = (ticks1[0] - ticks0[0]) / max(ticks1[1] - ticks0[1], 1)

    lat = out.latencies_ms
    tail = stats.tail_percentile(lat) if lat else None
    metrics = {
        "pass_s": out.pass_s,
        "latency_p50_ms": stats.percentile(lat, 50) if lat else 0.0,
        "latency_p90_ms": stats.percentile(lat, 90) if lat else 0.0,
        "setup_s": setup.get("s", 0.0),
    }
    meta.update(out.meta)
    meta.update({
        "latency_samples": len(lat),
        "latency_tail": {"percentile": tail[0], "ms": tail[1]} if tail else None,
        "failed_ratio": out.failed / max(out.attempted, 1),
        "errors": out.errors,
        "end_to_end": metrics,
    })

    if traced:
        tracer.stream_spans()
        lines = []
        for name in sorted(os.listdir(trace_dir)):
            with open(os.path.join(trace_dir, name)) as f:
                lines.extend(f)
        meta["eventlog"] = tracer.job_spans(lines)
        shutil.rmtree(trace_dir, ignore_errors=True)
        if args.workload == workloads.OPEN:
            per_layer = layers.open_loop(tracer, cores, out.meta["window"])
        else:
            per_layer = layers.closed_loop(tracer, cores, workloads.WARMUP_PASSES)
        per_layer.update(out.layers)
        per_layer.update({
            "session.start_s": session_start_s,
            "session.warmup_s": out.warmup_s,
            "trace.pass_s": out.pass_s,
            "memory.peak_rss_mb": meta["peak_rss_mb"],
            "memory.retained_mb": meta["retained_mb"],
        })
        metrics = {name: per_layer.get(name, 0.0) for name, _, _ in layers.METRICS}
        units = layers.UNITS
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        trace_path = os.path.join(WORK, "traces", f"{run_id}.json")
        tracer.dump(trace_path, {"meta": meta})
        meta["trace_file"] = os.path.relpath(trace_path, ROOT)
    else:
        units = END_TO_END

    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    with open(os.path.join(WORK, "runs", f"{run_id}.json"), "w") as f:
        json.dump(meta, f, indent=1, default=str)
    print(json.dumps({k: meta[k] for k in ("latency_samples", "latency_tail", "failed_ratio",
                                           "errors", "env")}, default=str), file=sys.stderr)
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
