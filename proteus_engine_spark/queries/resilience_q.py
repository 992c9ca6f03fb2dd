"""Oracle gates for surfaces previously covered only by pytest (SURVEY
§2.1/§2.9 rows the r6 verdict lists as "tests-only"): the socket text
source, the fromElements→stream path, and the savepoint stop/restore
mechanism. Each routes REAL corpus data through the mechanism under test
and checks the result against a DuckDB oracle, so a dropped, duplicated,
or mangled row fails the gate — the same discipline as the round-trip
gates in surface_q.

All scratch state is per-invocation (tempfile.mkdtemp under .scratch,
stale-GC'd by surface_q._scratch) — hermetic under concurrent runs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from proteus_engine_spark.queries.exact import dsum
from proteus_engine_spark.queries.registry import register
from proteus_engine_spark.queries.surface_q import _scratch
from proteus_engine_spark.sources import load_table


@register(
    "socket_text_source_agg",
    oracle="""
    SELECT substr(p_name, 1, 1) AS initial, COUNT(*) AS n,
           CAST(SUM(length(p_name)) AS BIGINT) AS total_len
    FROM part GROUP BY initial
    """,
    tags=("streaming", "source", "surface"),
)
def socket_text_source_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """socketTextStream gate (StreamExecutionEnvironment.socketTextStream,
    StreamExecutionEnvironment.java:1186): part names are served line-by-
    line from a real in-process TCP server into Spark's socket source and
    aggregated by initial with a length checksum — the same invariant as
    the file round-trip gate, but through the one source in the env that
    has no file-format decode path. The server binds port 0 (OS-assigned,
    collision-free) and holds the connection open until the query drains
    (the source treats a closed socket as end-of-stream)."""
    import socket
    import threading
    import time

    lines = [
        r["p_name"]
        for r in load_table(spark, sf_dir, "part").select("p_name").collect()
    ]
    ready = threading.Event()
    done = threading.Event()
    port_holder: dict[str, int] = {}

    def server() -> None:
        srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        srv.bind(("127.0.0.1", 0))
        port_holder["port"] = srv.getsockname()[1]
        srv.listen(1)
        ready.set()
        conn, _ = srv.accept()
        conn.sendall(("\n".join(lines) + "\n").encode())
        done.wait(120)
        conn.close()
        srv.close()

    t = threading.Thread(target=server, daemon=True)
    t.start()
    if not ready.wait(15):
        raise RuntimeError("socket server failed to bind")

    stream = (
        spark.readStream.format("socket")
        .option("host", "127.0.0.1")
        .option("port", str(port_holder["port"]))
        .load()
    )
    agg = stream.groupBy(F.substring("value", 1, 1).alias("initial")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.length("value")).alias("total_len"),
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("socket_text_gate_sink")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            q.processAllAvailable()
            rows = spark.table("socket_text_gate_sink").collect()
            if sum(r["n"] for r in rows) >= len(lines):
                break
            time.sleep(0.25)
    finally:
        done.set()
        q.stop()
        q.awaitTermination()
    return spark.table("socket_text_gate_sink")


@register(
    "stream_from_elements_agg",
    oracle="""
    SELECT n_regionkey, COUNT(*) AS n, CAST(SUM(length(n_name)) AS BIGINT) AS total_len
    FROM nation GROUP BY n_regionkey
    """,
    tags=("streaming", "source", "surface"),
)
def stream_from_elements_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream fromElements/fromCollection gate
    (StreamExecutionEnvironment.fromElements, :696): a driver-side row
    collection becomes a bounded stream — the engine's documented mapping
    stages the collection once and replays it through the file source
    (the same bridge the reference's fromCollection source makes from a
    Java collection to a stream). The aggregate checks every element
    arrived exactly once with its payload intact."""
    from proteus_engine_spark.sources.tables import from_rows

    rows = [
        (r["n_nationkey"], r["n_name"], r["n_regionkey"])
        for r in load_table(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .collect()
    ]
    elems = from_rows(
        spark, rows, "n_nationkey long, n_name string, n_regionkey long"
    )
    d = _scratch("from_elements", sf_dir)
    staged = os.path.join(d, "elems")
    elems.coalesce(1).write.parquet(staged)
    stream = (
        spark.readStream.schema("n_nationkey long, n_name string, n_regionkey long")
        .parquet(staged)
    )
    agg = stream.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.length("n_name")).alias("total_len"),
    )
    from proteus_engine_spark.streaming.sources import run_stream

    # state sized on events like the events-stream gates (nation is a few
    # KB and would plan the floor, half the partitions at sf0.1)
    out, _ = run_stream(
        agg, "from_elements_gate_sink", sf_dir, "events", output_mode="complete"
    )
    return out.select("n_regionkey", "n", "total_len")


@register(
    "savepoint_fork_resume",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY event_type
    """,
    tags=("streaming", "savepoint", "surface"),
)
def savepoint_fork_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Savepoint mechanism gate (SavepointStore.java:47; `flink savepoint`
    + `flink run -s`): events replay as six slice files; after the first
    three the query is stopped WITH a savepoint, the remaining slices
    arrive while no query runs, and a NEW query — restored from the
    savepoint into a fresh checkpoint — drains the rest into the same
    exactly-once parquet sink. The oracle is the batch aggregate over ALL
    events: a re-emitted pre-savepoint batch (duplicates) or a missed
    post-savepoint slice (loss) shifts n/total_value and fails the gate."""
    from proteus_engine_spark.sources.sinks import stream_to_parquet
    from proteus_engine_spark.streaming.savepoints import (
        restore_from_savepoint,
        trigger_savepoint,
    )

    d = _scratch("savepoint_gate", sf_dir)
    src, out = os.path.join(d, "src"), os.path.join(d, "out")
    ckpt, sp, ckpt2 = (
        os.path.join(d, "ckpt"),
        os.path.join(d, "sp"),
        os.path.join(d, "ckpt2"),
    )
    os.makedirs(src)
    schema = "event_id long, event_type string, value double"
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", F.col("value").cast("double")
    )

    def stage(i: int) -> None:
        tmp = os.path.join(d, f"slice{i}")
        ev.filter(F.col("event_id") % 6 == i).coalesce(1).write.parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        os.rename(os.path.join(tmp, part), os.path.join(src, f"{i:02d}.parquet"))

    def start(checkpoint: str):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        return stream_to_parquet(stream, out, checkpoint)

    for i in range(3):
        stage(i)
    q = start(ckpt)
    q.processAllAvailable()
    trigger_savepoint(ckpt, sp, q)  # stops the query, snapshots its state
    for i in range(3, 6):  # data arrives while no query is running
        stage(i)
    q2 = start(restore_from_savepoint(sp, ckpt2))
    q2.processAllAvailable()
    q2.stop()
    q2.awaitTermination()
    return (
        spark.read.parquet(out)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "total_value"))
    )
