"""Streaming sources and the bounded-stream runner.

Reference: StreamExecutionEnvironment sources (socketTextStream :1186,
readFile PROCESS_CONTINUOUSLY :991, fromElements :696, addSource :1391,
Kafka connectors in /root/reference/flink-connectors/) — mapped to
Structured Streaming's file/rate/kafka/socket sources.

For tests and oracle checks, the events parquet is replayed through the
file source (``file_stream``) and driven to completion by ``run_stream``:
bounded input drained with processAllAvailable(), which makes streaming
results deterministic and comparable to batch SQL — the PySpark analogue
of the reference's bounded ITCase streams (StreamITCase pattern in
flink-table tests).

Staged replays (``events_stream_ooo``, ``events_stream_late``, the CSV
gate's copy of events) are written once per scale factor by
``stage_replay``. Their arrival order lives in file mtimes, which not
every copy of a checkout keeps, so ``stage_replay`` re-applies it from
the ``fNN`` file names on every call.
"""

from __future__ import annotations

import os
import re
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".scratch",
)
_MTIME_BASE = 1_000_000_000  # fixed epoch: deterministic arrival order
_PIECE = re.compile(r"f(\d+)\.parquet")


def probe_parquet_schema(spark: SparkSession, path: str) -> T.StructType:
    """Footer-probe a parquet file's Spark-visible schema. If the file uses
    INT64 TIMESTAMP(NANOS) (which vanilla Spark rejects), fall back to the
    nanosAsLong legacy read — the conf mutation is scoped to the failure
    path, never applied when the data doesn't require it."""
    try:
        return spark.read.parquet(path).schema
    except Exception:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return spark.read.parquet(path).schema


def file_stream(
    spark: SparkSession,
    directory: str,
    pattern: str,
    probe: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """The parquet files of ``directory`` matching ``pattern`` as an
    unbounded stream (the senv.readFile(PROCESS_CONTINUOUSLY) equivalent).

    The stream schema is PROBED from the footer of ``probe`` (default: the
    one file ``pattern`` names), never assumed. A ``ts`` column, when the
    schema has one, is normalised to TIMESTAMP: the generated
    events.parquet stores ts as timestamp[us], which Spark reads natively;
    only if a layout ships TIMESTAMP(NANOS)-as-long does the nanos→micros
    division apply (mirroring sources/tables.py's batch path)."""
    schema = probe_parquet_schema(spark, os.path.join(directory, probe or pattern))
    reader = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", pattern)  # the file source needs a dir
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.load(directory)
    ts_type = schema["ts"].dataType if "ts" in schema.fieldNames() else None
    if isinstance(ts_type, T.LongType):
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ts_type, T.TimestampNTZType):
        # Watermarks require TIMESTAMP (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE);
        # the cast is wall-clock-preserving under the UTC session timezone
        # (session.py pins spark.sql.session.timeZone=UTC).
        raw = raw.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return raw


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as an unbounded stream."""
    return file_stream(spark, sf_dir, "events.parquet")


def rate_stream(spark: SparkSession, rows_per_second: int = 1000) -> DataFrame:
    """senv.generateSequence equivalent: the rate source (monotonic value +
    proc-time timestamp)."""
    return (
        spark.readStream.format("rate").option("rowsPerSecond", str(rows_per_second)).load()
    )


def _tree_bytes(path: str) -> int:
    """Bytes of a parquet source: the file, or every data file under a
    directory-layout source (Spark output: part files; ``_``/``.`` files
    such as _SUCCESS and checksums are not data). Raises OSError when the
    path does not exist."""
    if not os.path.isdir(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
        if not f.startswith(("_", "."))
    )


def state_partitions_for(
    spark: SparkSession,
    sf_dir: str,
    *tables: str,
    bytes_per_partition: int = 256 * 1024,
    floor: int = 4,
) -> int | None:
    """Scale-adaptive state-store partition count for a streaming query
    over ``<sf_dir>/<table>.parquet`` sources (default: events), each a
    file or a directory (guide §2 — partitioning derived from input size,
    not a local constant).

    Every stateful operator plans ``spark.sql.shuffle.partitions`` state
    store instances, and EVERY micro-batch pays a fixed per-instance cost
    (store init + delta-file commit, plus one Arrow runner round-trip per
    partition for Python-stateful operators) regardless of how many keys
    the partition holds. When the source is KB-MB scale those fixed costs
    dominate the whole query: the r18 interleaved A/B
    (plans/r18/ab_stream_parts1.json) measured the four heavy streaming
    gates 1.2-2x faster at 8 partitions than at 32 on a 2 MB source, and
    the r17 driver's own 8-core bench ran stream_session_windows_chained
    3x faster purely because its session default was 8.

    The returned value is ``clamp(source_bytes / bytes_per_partition,
    floor, session shuffle.partitions)`` — it NEVER exceeds the session's
    configured value, so a production deployment (real shuffle.partitions
    sizing, multi-GB+ sources) is unchanged; the count only drops toward
    ``floor`` when the source itself is small enough that per-store fixed
    costs provably dominate. ``floor`` stays above 1 because the
    Python-stateful gates' per-key transition walk still wants real
    parallelism (the A/B shows the delta-trigger walk degrading below 8).
    Returns None (= keep the session default) when a size cannot be
    determined."""
    try:
        total = sum(
            _tree_bytes(os.path.join(sf_dir, f"{t}.parquet"))
            for t in tables or ("events",)
        )
    except OSError:
        return None
    try:
        cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        return None
    n = (total + bytes_per_partition - 1) // bytes_per_partition
    return int(max(min(cap, n), min(floor, cap)))


def run_stream(
    df: DataFrame,
    query_name: str,
    sf_dir: str,
    *tables: str,
    output_mode: str = "append",
    checkpoint: str | None = None,
) -> tuple[DataFrame, list]:
    """Drive a bounded streaming DataFrame to completion into the memory
    sink ``query_name``; return the sink table and the query's progress
    events (for metric assertions: dropped-late-row counts, state
    operators). Test/oracle harness only — a production deployment writes
    to parquet/kafka with its own checkpointing.

    State is sized from the source tables ``<sf_dir>/<table>.parquet``
    (``state_partitions_for``). The count reaches the query through
    ``spark.sql.shuffle.partitions``, set on the shared session only
    around ``start()``: Structured Streaming clones the session
    configuration into the query at start, so the running stream keeps
    the value while the session is restored immediately; keyed-state
    results are partition-count-independent. The swap assumes a single
    thread plans and starts queries on the session, as every gate, test
    and benchmark does; a concurrent caller would plan with the swapped
    value. ``checkpoint`` keeps the query's checkpoint at that path (the
    queryable-state gate reads its state back); by default Spark uses a
    temporary one."""
    spark = df.sparkSession
    writer = (
        df.writeStream.outputMode(output_mode).format("memory").queryName(query_name)
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    parts = state_partitions_for(spark, sf_dir, *tables)
    if parts:
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        try:
            q = writer.start()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    else:
        q = writer.start()
    try:
        q.processAllAvailable()
        progress = list(q.recentProgress)
    finally:
        q.stop()
        q.awaitTermination()
    return spark.table(query_name), progress


def stage_replay(
    kind: str, sf_dir: str, write: Callable[[str], None], *params: object
) -> str:
    """Stage a replay directory once per scale factor, as
    ``<repo>/.scratch/<kind>_<sf tag>[_<param>...]``, and return its path.

    ``write(tmp)`` fills a fresh sibling directory, which a ``_SUCCESS``
    marker closes and an atomic rename (same filesystem) moves into
    place. Concurrent runs are safe: the content is deterministic, so
    the run that loses the rename discards its copy. A stage that crashed
    before its rename (target without ``_SUCCESS``) is cleared and redone.

    Arrival order: the file source replays pieces named ``fNN.parquet``
    in mtime order, and a copy of the checkout (``cp -r``, tar or rsync
    without ``-t``, CI caches) may flatten mtimes. So on EVERY call, not
    only on first staging, each piece's mtime is re-stamped from its
    index ``NN`` (``_MTIME_BASE + 60 * NN``); a stage already in order is
    left untouched."""
    sf_tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    target = os.path.join(_SCRATCH, "_".join(map(str, (kind, sf_tag, *params))))
    done = os.path.join(target, "_SUCCESS")
    if not os.path.exists(done):
        os.makedirs(_SCRATCH, exist_ok=True)
        tmp = tempfile.mkdtemp(prefix=f"{kind}_stage_", dir=_SCRATCH)
        write(tmp)
        open(os.path.join(tmp, "_SUCCESS"), "w").close()
        if os.path.isdir(target) and not os.path.exists(done):
            # A crashed stage left target without _SUCCESS: os.replace onto
            # a non-empty dir fails ENOTEMPTY forever, and reading it as
            # "concurrent run won" would stream from an incomplete dir.
            shutil.rmtree(target, ignore_errors=True)
        try:
            os.replace(tmp, target)
        except OSError:
            if not os.path.exists(done):
                raise  # neither ours nor a completed concurrent stage
            shutil.rmtree(tmp, ignore_errors=True)  # concurrent run won
    for name in os.listdir(target):
        m = _PIECE.fullmatch(name)
        if m:
            path = os.path.join(target, name)
            mtime = _MTIME_BASE + 60 * int(m.group(1))
            if os.stat(path).st_mtime != mtime:
                os.utime(path, (mtime, mtime))
    return target


def events_stream_ooo(
    spark: SparkSession,
    sf_dir: str,
    block_ms: int = 7_200_000,
    n_blocks: int = 6,
) -> DataFrame:
    """The events table replayed OUT OF ORDER across micro-batches — the
    harness for event-time correctness tests of watermark-buffered
    operators (the reference's RowTime*Over / WindowOperator ITCases feed
    late elements the same way).

    Staged once per sf (``stage_replay``): rows are split into files
    [head] [b1 b0 b3 b2 b5 b4] [tail], where b0..b5 are consecutive
    `block_ms` event-time blocks starting at 45% of the span and the
    pair-swap makes every other file arrive BEFORE an earlier-in-event-time
    file. File mtimes, re-applied from the file names on every call, force
    that arrival order, and maxFilesPerTrigger=1 makes each file its own
    micro-batch, so a downstream operator sees genuinely late (but
    within-watermark-delay) data. With 2h blocks the worst lateness is
    < 4h, so any watermark delay >= 4h (callers use 5h) loses no rows.
    """

    def write(tmp: str) -> None:
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        tbl = pq.read_table(os.path.join(sf_dir, "events.parquet"))
        ts_us = tbl.column("ts").to_numpy().astype("datetime64[us]").astype("int64")
        lo, hi = int(ts_us.min()), int(ts_us.max())
        swap_start = lo + (hi - lo) * 45 // 100
        # piece index per row: 0 = head, 1..n_blocks = swapped blocks
        # (block i -> piece 1 + (i XOR 1)), n_blocks+1 = tail
        blk = (ts_us - swap_start) // (block_ms * 1000)
        piece = np.where(
            ts_us < swap_start,
            0,
            np.where(blk >= n_blocks, n_blocks + 1, 1 + (blk ^ 1)),
        ).astype("int64")
        for p in range(n_blocks + 2):
            sub = tbl.filter(pa.array(piece == p))
            pq.write_table(sub, os.path.join(tmp, f"f{p:02d}.parquet"))

    target = stage_replay("ooo_events", sf_dir, write, block_ms, n_blocks)
    return file_stream(
        spark, target, "*.parquet", probe="f00.parquet", max_files_per_trigger=1
    )


# THE single source for the late-replay split point. The staging below,
# the gate bodies' delay computation (via late_cut_ms) and the gates'
# oracle SQL literals (f-string interpolation in queries/streaming_q.py)
# all derive from this one constant — changing the cut in one place keeps
# the splitter delay and the staged late set in sync.
LATE_CUT_PCT = 55


def _late_cut_formula(lo: int, hi: int, cut_pct: int) -> int:
    """THE shared split-point formula (staging + gates + oracle all use
    its result for the same cut_pct over the same bounds)."""
    return lo + (hi - lo) * cut_pct // 100


def late_cut_ms(sf_dir: str, cut_pct: int = LATE_CUT_PCT) -> tuple[int, int, int]:
    """(lo, hi, cut) epoch-ms bounds of the staged late split — the same
    formula the staging applies. Cost: one driver-side read of the ts
    column (decoded to take min/max — NOT a footer-statistics-only
    probe); the staging path avoids this read entirely by applying the
    formula to the ts array it already holds."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(os.path.join(sf_dir, "events.parquet"), columns=["ts"])
    ts_ms = tbl.column("ts").to_numpy().astype("datetime64[ms]").astype("int64")
    lo, hi = int(ts_ms.min()), int(ts_ms.max())
    return lo, hi, _late_cut_formula(lo, hi, cut_pct)


def events_stream_late(
    spark: SparkSession,
    sf_dir: str,
    cut_pct: int = LATE_CUT_PCT,
) -> DataFrame:
    """The events table replayed so that a known subset arrives LATE —
    beyond the watermark — the harness for sideOutputLateData-style
    observability (WindowedStream.java:171; the reference exposes dropped
    late elements as a side output, Spark as the
    numRowsDroppedByWatermark state-operator metric).

    Staged once per sf (``stage_replay``, as events_stream_ooo): rows
    split at cut = lo + (hi - lo) * cut_pct // 100 on epoch-ms —
      f00: on-time rows (ts_ms >= cut) EXCEPT the earliest one; contains
           the global max ts, so the watermark jumps to hi - delay.
      f01: the single earliest on-time row — a spacer batch, because
           Spark's late filter uses the watermark lagged one micro-batch
           behind eviction; after this batch the filter watermark is
           hi - delay.
      f02: every row with ts_ms < cut — all far below the filter
           watermark by construction, so ALL of them are dropped and
           counted: drop count == COUNT(ts_ms < cut), SQL-expressible.
    File mtimes, re-applied from the file names on every call, force
    arrival order; maxFilesPerTrigger=1 makes each file its own
    micro-batch.
    """

    def write(tmp: str) -> None:
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        tbl = pq.read_table(os.path.join(sf_dir, "events.parquet"))
        ts_ms = (
            tbl.column("ts").to_numpy().astype("datetime64[us]").astype("int64")
            // 1000
        )
        ids = tbl.column("event_id").to_numpy().astype("int64")
        # the one shared formula, over the ts array already in memory
        # (no second read of the file)
        cut = _late_cut_formula(int(ts_ms.min()), int(ts_ms.max()), cut_pct)
        on_time = ts_ms >= cut
        # earliest on-time row by (ts_ms, event_id) — the spacer
        ot_idx = np.flatnonzero(on_time)
        spacer = ot_idx[np.lexsort((ids[ot_idx], ts_ms[ot_idx]))[0]]
        piece = np.where(on_time, 0, 2)
        piece[spacer] = 1
        for p in range(3):
            sub = tbl.filter(pa.array(piece == p))
            pq.write_table(sub, os.path.join(tmp, f"f{p:02d}.parquet"))

    target = stage_replay("late_events", sf_dir, write, cut_pct)
    return file_stream(
        spark, target, "*.parquet", probe="f00.parquet", max_files_per_trigger=1
    )


def dropped_late_rows(progress: list) -> int:
    """Total input rows dropped by the watermark across a query's run —
    the observability half of the reference's sideOutputLateData
    (WindowedStream.java:171): Spark cannot re-route the dropped rows,
    but it counts them per stateful operator
    (StreamingQueryProgress.stateOperators[].numRowsDroppedByWatermark);
    SURVEY §2.9's 'dropped-late-rows observable via metrics' hook."""
    return sum(
        so.get("numRowsDroppedByWatermark", 0) if isinstance(so, dict)
        else so["numRowsDroppedByWatermark"]
        for pr in progress
        for so in (pr["stateOperators"] if isinstance(pr, dict) else pr["stateOperators"])
    )
