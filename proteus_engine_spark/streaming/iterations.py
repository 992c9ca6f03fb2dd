"""Stream iterations (SURVEY §2.9 — previously a documented non-goal).

Reference: DataStream.iterate() (DataStream.java:477) /
IterativeStream.closeWith (IterativeStream.java:79): the iteration head
re-ingests a feedback stream selected from the loop body's output; the
canonical IterateExample (flink-examples-streaming .../iteration/
IterateExample.java:83-98) maps each tuple through a step function, routes
not-yet-done tuples to the 'iterate' channel and finished ones to
'output'.

Spark-first: Structured Streaming's DAG has no in-graph feedback edge, so
the loop is closed THROUGH STORAGE at micro-batch granularity — the
iteration head is `source ∪ fileStream(feedback_dir)`, the body routes
each processed micro-batch with foreachBatch: feedback rows are appended
to feedback_dir (where the head's file source discovers them next
trigger), finished rows to the output sink. Latency per hop is one
micro-batch (the reference's in-memory edge is sub-second; its
`iterate(maxWaitMillis)` timeout exists because that edge can deadlock on
backpressure — the storage edge cannot, it just spills to files). Both
routes write ONE deterministically-named file per micro-batch
(`b{batch_id}.parquet`, atomically renamed into place), so a replayed
batch after a failure overwrites its own previous attempt instead of
appending a duplicate — the idempotent-per-epoch contract foreachBatch
requires for exactly-once.

Scale: the feedback volume per trigger is the live frontier, not the
corpus; each hop's files are pruned by normal file-source listing. For a
long-running production loop, compact or TTL the feedback dir (it only
ever needs the unprocessed tail); `run_iterative_to_completion` is the
bounded test/oracle harness, like `sources.run_stream`.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession


def iterative_stream(
    spark: SparkSession,
    source: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    feedback: Column,
    feedback_dir: str,
    schema: str | None = None,
) -> tuple[DataFrame, Column]:
    """Build the iteration: returns (body, feedback) where `body` is
    step(source ∪ feedback_stream). The feedback schema is the BODY's
    output schema (closeWith contract: the fed-back stream must be
    head-compatible — here both head inputs and the step are required to
    share one iteration-tuple schema, the IterateExample shape; pass
    `schema` to override the inferred one)."""
    os.makedirs(feedback_dir, exist_ok=True)
    fb_schema = schema or source.schema
    fb_stream = spark.readStream.schema(fb_schema).parquet(feedback_dir)
    head = source.unionByName(fb_stream)
    return step(head), feedback


def run_iterative_to_completion(
    body: DataFrame,
    feedback: Column,
    feedback_dir: str,
    out_dir: str,
    query_name: str,
    checkpoint: str | None = None,
) -> DataFrame:
    """Drive the loop until quiescent: each micro-batch routes rows
    matching `feedback` back to the head (append to feedback_dir) and the
    rest to out_dir; processAllAvailable() keeps triggering while feedback
    files keep appearing, so it returns exactly when the loop drains.
    Returns the accumulated output as a batch DataFrame."""
    import shutil
    import tempfile

    spark = body.sparkSession
    os.makedirs(out_dir, exist_ok=True)

    def _write_idempotent(df: DataFrame, target_dir: str, batch_id: int) -> None:
        # one deterministically-named file per epoch, renamed into place:
        # a replayed batch overwrites its own attempt (no duplicates), and
        # an empty frontier writes nothing (an empty file would be
        # "discovered" by the head and trigger empty batches forever).
        # The staging dir is a dot-prefixed sibling INSIDE the target dir
        # (ignored by the file source's default filters), not TMPDIR — a
        # cross-filesystem os.replace would raise EXDEV and kill the loop.
        os.makedirs(target_dir, exist_ok=True)
        tmp = tempfile.mkdtemp(prefix=".proteus_iter_route_", dir=target_dir)
        try:
            df.coalesce(1).write.mode("overwrite").parquet(tmp)
            part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
            os.replace(os.path.join(tmp, part), os.path.join(target_dir, f"b{batch_id}.parquet"))
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    def route(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.localCheckpoint(eager=True)  # route both ways off one pass
        fb = batch_df.filter(feedback)
        if not fb.isEmpty():
            _write_idempotent(fb, feedback_dir, batch_id)
        done = batch_df.filter(~feedback)
        if not done.isEmpty():
            _write_idempotent(done, out_dir, batch_id)

    w = body.writeStream.foreachBatch(route).queryName(query_name)
    if checkpoint is not None:
        # with a checkpoint, a restart resumes from committed offsets and a
        # replayed epoch overwrites its own b{batch_id} files — exactly-once;
        # without one, a re-run is a NEW query that re-reads the feedback
        # directory as input (fine for one-shot oracle harnesses)
        w = w.option("checkpointLocation", checkpoint)
    q = w.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    return spark.read.parquet(out_dir)
