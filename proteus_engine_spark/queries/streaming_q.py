"""Streaming queries: each runs a real Structured Streaming query (file
source over the events parquet, memory sink, processAllAvailable) and
returns the final table — deterministic on bounded input, so most carry
full DuckDB oracles against the equivalent batch SQL. This mirrors the
reference's bounded-stream ITCase strategy (SURVEY §5 layer 1, streaming
variants).

The driver runs these like any other query; each uses a unique memory-sink
name to avoid cross-query collisions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from proteus_engine_spark.queries.exact import dec, dsum
from proteus_engine_spark.queries.registry import register
from proteus_engine_spark.sources import load_table
from proteus_engine_spark.streaming.cep import Pattern, match_pattern
from proteus_engine_spark.streaming.side_inputs import (
    broadcast_side_input,
    forwarded_side_input,
    keyed_side_input,
)
from proteus_engine_spark.streaming.async_io import async_enrich
from proteus_engine_spark.streaming.sources import (
    LATE_CUT_PCT,
    events_stream,
    file_stream,
    late_cut_ms,
    run_stream,
    stage_replay,
)
from proteus_engine_spark.streaming.stateful import (
    bounded_over_agg,
    count_window_agg,
    event_time_sort,
    process_keyed,
    running_over_agg,
)
from proteus_engine_spark.streaming.windows import interval_join, unbounded_agg, windowed_agg


@register(
    "stream_tumble_agg",
    oracle="""
    SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
           event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
    tags=("streaming", "window"),
)
def stream_tumble_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling window agg with watermark
    (DataStreamGroupWindowAggregate parity). Complete output mode on bounded
    replay ⇒ final table equals the batch aggregate."""
    ev = events_stream(spark, sf_dir)
    agg = windowed_agg(
        ev, "ts", "10 minutes", "1 hour", ["event_type"],
        [F.count(F.lit(1)).alias("n"), dsum("value", "total_value")],
    )
    out, _ = run_stream(
        agg, "stream_tumble_agg_sink", sf_dir, "events", output_mode="complete"
    )
    return out.select("window_start", "event_type", "n", "total_value")


@register(
    "stream_csv_tumble_agg",
    oracle="""
    SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
           event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
    tags=("streaming", "window", "source"),
)
def stream_csv_tumble_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling window agg over a CSV FILE-SOURCE stream — the
    readTextFile/readCsvFile streaming variants (StreamExecutionEnvironment
    .readFile, :991) on a non-parquet wire format. Events are staged once
    per sf as a headerless CSV (ts as epoch millis — no timestamp-format
    parsing ambiguity), then replayed through readStream.csv with an
    explicit schema (schema inference on a stream would re-scan per batch).
    Exists precisely so the streaming gate does not hinge on a single
    source decode path: every other stream_* query replays parquet."""

    def write(tmp: str) -> None:
        ev = load_table(spark, sf_dir, "events")
        (
            ev.select(
                "event_id",
                F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
                "user_id",
                "event_type",
                "value",
            )
            .coalesce(1)
            .write.mode("overwrite")
            .option("header", "false")
            .csv(tmp)
        )

    scratch = stage_replay("csv_events", sf_dir, write)
    csv_schema = "event_id long, ts_ms long, user_id long, event_type string, value double"
    stream = (
        spark.readStream.schema(csv_schema)
        .option("header", "false")
        .csv(scratch)
        .withColumn("ts", F.timestamp_millis(F.col("ts_ms")))
    )
    agg = windowed_agg(
        stream, "ts", "10 minutes", "1 hour", ["event_type"],
        [F.count(F.lit(1)).alias("n"), dsum("value", "total_value")],
    )
    out, _ = run_stream(
        agg, "stream_csv_tumble_agg_sink", sf_dir, "events", output_mode="complete"
    )
    return out.select("window_start", "event_type", "n", "total_value")


@register(
    "stream_unbounded_agg",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type
    """,
    tags=("streaming", "agg"),
)
def stream_unbounded_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous unbounded group-agg (DataStreamGroupAggregate.scala:49,
    retraction via GroupAggProcessFunction) — retract/accumulate is Spark's
    state; complete mode emits the final table.

    COUNT(DISTINCT) is not supported on streams, so it is computed
    stream-natively in two stages: the stream aggregates exactly per
    (event_type, user_id) — distinct users ARE the state keys — and the
    streamed result table rolls up per event_type. No batch-side column:
    every value the oracle checks flowed through the stream. This is also
    the 100 TB shape (no global distinct; state sharded by pair key)."""
    ev = events_stream(spark, sf_dir)
    pairs = unbounded_agg(
        ev,
        ["event_type", "user_id"],
        [F.count(F.lit(1)).alias("n_pair"), F.sum(dec("value")).alias("v_pair")],
    )
    out, _ = run_stream(
        pairs, "stream_unbounded_agg_sink", sf_dir, "events", output_mode="complete"
    )
    # count(user_id), not count(*): SQL COUNT(DISTINCT user_id) excludes
    # NULLs, so the NULL-user group (a state key like any other) must not
    # count toward n_users while its events still count toward n/total.
    return out.groupBy("event_type").agg(
        F.sum("n_pair").alias("n"),
        F.sum("v_pair").cast("double").alias("total_value"),
        F.count(F.col("user_id")).alias("n_users"),
    )


@register(
    "stream_hop_agg",
    oracle="""
    SELECT ws AS window_start, event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM (
      SELECT time_bucket(INTERVAL 30 MINUTE, ts) - (k * INTERVAL 30 MINUTE) AS ws,
             event_type, value
      FROM events, UNNEST([0, 1]) AS t(k)
    ) x
    GROUP BY ws, event_type
    """,
    tags=("streaming", "window"),
)
def stream_hop_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sliding (hop) window agg: 1-hour windows every 30 minutes —
    each event lands in 2 windows (SlidingEventTimeWindows parity; the
    oracle replicates the window assigner with an UNNEST over offsets)."""
    ev = events_stream(spark, sf_dir)
    agg = windowed_agg(
        ev, "ts", "10 minutes", "1 hour", ["event_type"],
        [F.count(F.lit(1)).alias("n"), dsum("value", "total_value")],
        slide="30 minutes",
    )
    out, _ = run_stream(
        agg, "stream_hop_agg_sink", sf_dir, "events", output_mode="complete"
    )
    return out.select("window_start", "event_type", "n", "total_value")


@register(
    "stream_session_agg",
    oracle="""
    WITH marked AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 600000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id, MIN(ts) AS window_start, MAX(ts) + INTERVAL 10 MINUTE AS window_end,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM sessions
    GROUP BY user_id, sid
    """,
    tags=("streaming", "window"),
)
def stream_session_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows with a 10-minute gap per user
    (EventTimeSessionWindows + merging assigner parity — Spark's
    session_window merges in the state store). The oracle rebuilds sessions
    with the lag/cumsum island trick; window_end = last event + gap."""
    ev = events_stream(spark, sf_dir)
    agg = windowed_agg(
        ev, "ts", "10 minutes", "", ["user_id"],
        [F.count(F.lit(1)).alias("n"), dsum("value", "total_value")],
        session_gap="10 minutes",
    )
    out, _ = run_stream(
        agg, "stream_session_agg_sink", sf_dir, "events", output_mode="complete"
    )
    return out.select("user_id", "window_start", "window_end", "n", "total_value")


@register(
    "stream_event_time_sort",
    oracle="""
    WITH w AS (
      SELECT user_id, event_id, ts,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
      FROM events)
    SELECT * FROM w
    WHERE epoch_ms(ts) < (SELECT max(epoch_ms(ts)) FROM events) - 600000
    """,
    tags=("streaming", "sort", "stateful"),
)
def stream_event_time_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time sorted emission per key (DataStreamSort.scala:42 /
    RowTimeSortProcessFunction parity): rows buffer in keyed state until
    the watermark passes, then emit in (ts, id) order with contiguous
    per-key sequence numbers — seq is the true event-time rank even under
    out-of-order arrival. Withheld rows beyond the final watermark rank
    after every emitted row, so the oracle is the batch row_number minus
    the 10-minute watermark tail."""
    ev = events_stream(spark, sf_dir)
    sorted_ev = event_time_sort(ev, "user_id", "ts")
    return run_stream(sorted_ev, "stream_ets_sink", sf_dir, "events")[0]


@register(
    "stream_side_input_keyed",
    oracle="""
    SELECT e.event_id, e.user_id, e.event_type, n.n_name
    FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
    WHERE e.event_type = 'signup'
    """,
    tags=("streaming", "side_input"),
)
def stream_side_input_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROTEUS keyed side input (KeyedSideInput, DataStream.java:910): the
    side input is keyed like the stream; each key group sees its slice.
    Stream-static equi-join on the derived key — Catalyst distributes the
    static side by its stats (broadcast here; shuffled at 100 TB)."""
    ev = events_stream(spark, sf_dir).filter(F.col("event_type") == "signup")
    nation = load_table(spark, sf_dir, "nation")
    joined = keyed_side_input(
        ev.withColumn("nk", (F.col("user_id") % 25).cast("int")),
        nation,
        F.col("nk") == F.col("n_nationkey"),
        how="inner",
    ).select("event_id", "user_id", "event_type", "n_name")
    return run_stream(joined, "stream_side_input_keyed_sink", sf_dir, "events")[0]


@register(
    "stream_side_input_broadcast",
    oracle="""
    SELECT e.event_id, e.user_id, e.event_type, c.c_name, c.c_mktsegment
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.event_type = 'purchase'
    """,
    tags=("streaming", "side_input"),
)
def stream_side_input_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROTEUS broadcast side input (DataStream.withSideInput,
    DataStream.java:902): stream enriched against a bounded broadcast
    dataset via stream-static join — re-read per micro-batch, same
    visibility as the side-input gate drain."""
    ev = events_stream(spark, sf_dir).filter(F.col("event_type") == "purchase")
    cust = load_table(spark, sf_dir, "customer")
    joined = broadcast_side_input(
        ev, cust, F.col("user_id") == F.col("c_custkey"), how="inner"
    ).select("event_id", "user_id", "event_type", "c_name", "c_mktsegment")
    return run_stream(joined, "stream_side_input_sink", sf_dir, "events")[0]


@register(
    "stream_side_input_forwarded",
    oracle="""
    SELECT is_side, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_keys
    FROM (
      SELECT FALSE AS is_side, user_id FROM events WHERE event_type = 'click'
      UNION ALL
      SELECT TRUE AS is_side, c_custkey AS user_id FROM customer
    ) u
    GROUP BY is_side
    """,
    tags=("streaming", "side_input"),
)
def stream_side_input_forwarded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROTEUS forwarded side input (ForwardedSideInput, DataStream.java:907):
    main and side records interleaved in one operator as a tagged union
    (the documented Spark deviation — per-partition forwarding assumes fixed
    co-partitioning Spark does not expose). The side input is replayed as a
    stream too (stream∪batch union is unsupported — the gate-drain
    semantics are preserved because the bounded side fully arrives in the
    first micro-batch). Aggregated per tag so the oracle is deterministic."""
    from pyspark.sql import types as T

    ev = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select("user_id")
    )
    cust_schema = T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    )
    side = (
        spark.readStream.schema(cust_schema)
        .format("parquet")
        .option("pathGlobFilter", "customer.parquet")
        .load(sf_dir)
        .select(F.col("c_custkey").alias("user_id"))
    )
    tagged = forwarded_side_input(ev, side, tag_col="is_side")
    # COUNT(DISTINCT) stream-natively: aggregate exactly per (tag, key) in
    # the stream, then roll the streamed result up per tag — no column is
    # computed from a batch re-read (the oracle verifies the stream output).
    pairs = tagged.groupBy("is_side", "user_id").agg(F.count(F.lit(1)).alias("n_pair"))
    out, _ = run_stream(
        pairs, "stream_side_input_fwd_sink", sf_dir, "events", output_mode="complete"
    )
    # count(user_id) mirrors COUNT(DISTINCT user_id)'s NULL exclusion.
    return out.groupBy("is_side").agg(
        F.sum("n_pair").alias("n"),
        F.count(F.col("user_id")).alias("n_keys"),
    )


@register(
    "stream_split_select",
    oracle="""
    SELECT branch, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM (
      SELECT CASE WHEN value >= 50 THEN 'high' ELSE 'low' END AS branch, value
      FROM events WHERE event_type IN ('click', 'purchase')
    ) b
    GROUP BY branch
    """,
    tags=("streaming", "demux"),
)
def stream_split_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataStream.split/select demux parity (DataStream.java:242): one
    stream filtered into tagged branches, each processed independently,
    here re-unioned into a per-branch aggregate so the result is bounded
    and oracle-checkable."""
    ev = events_stream(spark, sf_dir).filter(
        F.col("event_type").isin("click", "purchase")
    )
    high = ev.filter(F.col("value") >= 50).withColumn("branch", F.lit("high"))
    low = ev.filter(F.col("value") < 50).withColumn("branch", F.lit("low"))
    agg = high.unionByName(low).groupBy("branch").agg(
        F.count(F.lit(1)).alias("n"), dsum("value", "total_value")
    )
    out, _ = run_stream(
        agg, "stream_split_select_sink", sf_dir, "events", output_mode="complete"
    )
    return out.select("branch", "n", "total_value")


@register(
    "stream_interval_join",
    oracle="""
    SELECT s.event_id AS purchase_id, c.event_id AS click_id, s.user_id
    FROM events s JOIN events c
      ON s.user_id = c.user_id
     AND s.event_type = 'purchase' AND c.event_type = 'click'
     AND c.ts >= s.ts - INTERVAL 30 MINUTE
     AND c.ts <= s.ts
    """,
    tags=("streaming", "join"),
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream time-bounded join (DataStreamWindowJoin.scala:45):
    clicks within the 30 minutes preceding each purchase by the same user.
    Watermarks bound both sides' state."""
    purchases = events_stream(spark, sf_dir).filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), F.col("user_id"), F.col("ts").alias("p_ts")
    )
    clicks = events_stream(spark, sf_dir).filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    joined = interval_join(
        purchases, clicks, "p_ts", "c_ts",
        F.col("user_id") == F.col("c_user"),
        lower="30 minutes", upper="0 seconds",
    ).select("purchase_id", "click_id", "user_id")
    return run_stream(joined, "stream_interval_join_sink", sf_dir, "events")[0]


@register(
    "stream_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    tags=("streaming", "dedup"),
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication (dropDuplicates with state — the reference
    reaches this via keyed ValueState; Spark manages the seen-set)."""
    ev = events_stream(spark, sf_dir).select("user_id", "event_type")
    dedup = ev.dropDuplicates(["user_id", "event_type"])
    return run_stream(dedup, "stream_dedup_sink", sf_dir, "events")[0]


@register(
    "stream_dedup_within_watermark",
    oracle="SELECT event_id, user_id, event_type FROM events",
    tags=("streaming", "dedup"),
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOUNDED-STATE streaming deduplication — dropDuplicatesWithinWatermark,
    the production variant of stream_dedup (whose seen-set grows forever;
    the reference bounds the same keyed ValueState with StateTtlConfig,
    flink-runtime state TTL). Per input event the stream carries TWO
    copies (an in-row explode, so both copies share a micro-batch and an
    event time — the dedup decision is deterministic under any batching);
    exactly one survives, and state for an id is evicted once the
    watermark passes its event time + delay, so state is bounded by the
    10-minute watermark window instead of the full key space. The oracle
    is every original event exactly once: a duplicate leaking through or
    a distinct id swallowed both fail the row hash."""
    ev = (
        events_stream(spark, sf_dir)
        .select(
            "event_id",
            "user_id",
            "event_type",
            "ts",
            F.explode(F.array(F.lit(1), F.lit(2))).alias("copy"),
        )
        .drop("copy")
    )
    dedup = (
        ev.withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type")
    )
    return run_stream(dedup, "stream_dedup_ww_sink", sf_dir, "events")[0]


@register(
    "stream_count_window",
    oracle="""
    WITH numbered AS (
      SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    )
    SELECT user_id, (rn - 1) // 10 AS win_id, COUNT(*) AS n,
           round(SUM(value), 6) AS total_value,
           arg_min(event_id, rn) AS first_id,
           arg_max(event_id, rn) AS last_id
    FROM numbered
    GROUP BY user_id, (rn - 1) // 10
    HAVING COUNT(*) = 10
    """,
    tags=("streaming", "stateful"),
)
def stream_count_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count windows (KeyedStream.countWindow, KeyedStream.java:383) as a
    custom stateful operator on applyInPandasWithState: only full windows
    emit (CountTrigger.FIRE); the open remainder stays in state."""
    ev = events_stream(spark, sf_dir)
    cw = count_window_agg(ev, "user_id", ["ts", "event_id"], "value", window_size=10)
    out, _ = run_stream(cw, "stream_count_window_sink", sf_dir, "events")
    return out.select(
        "user_id", "win_id", "n", F.round("total_value", 6).alias("total_value"),
        "first_id", "last_id",
    )


@register(
    "cep_signup_purchase",
    oracle="""
    WITH s AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'signup'),
         p AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
         pairs AS (
           SELECT s.user_id,
                  s.event_id AS signup_id, epoch_ms(s.ts) AS signup_ts,
                  p.event_id AS purchase_id, epoch_ms(p.ts) AS purchase_ts,
                  row_number() OVER (PARTITION BY s.user_id, s.event_id
                                     ORDER BY epoch_ms(p.ts), p.event_id) AS rn
           FROM s JOIN p
             ON s.user_id = p.user_id
            AND (epoch_ms(p.ts) > epoch_ms(s.ts) OR (epoch_ms(p.ts) = epoch_ms(s.ts) AND p.event_id > s.event_id))
            AND epoch_ms(p.ts) - epoch_ms(s.ts) <= 600000
         )
    SELECT user_id, signup_id, signup_ts, purchase_id, purchase_ts
    FROM pairs WHERE rn = 1
    """,
    tags=("streaming", "cep"),
)
def cep_signup_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP: signup followedBy purchase within 10 minutes, per user
    (Pattern.begin/followedBy/within, flink-cep Pattern.java:123,311,536).
    Relaxed contiguity consumes the FIRST matching purchase — the oracle
    mirrors that with a rank-1 pick over (ts, event_id)."""
    ev = load_table(spark, sf_dir, "events")
    pat = (
        Pattern.begin("signup", lambda r: r["event_type"] == "signup",
                      expr="event_type = 'signup'")
        .followed_by("purchase", lambda r: r["event_type"] == "purchase",
                     expr="event_type = 'purchase'")
        .within(600_000)
    )
    return match_pattern(ev, pat, key_col="user_id")


@register(
    "cep_strict_next",
    oracle="""
    SELECT user_id, event_id AS click_id, epoch_ms(ts) AS click_ts,
           next_id AS purchase_id, epoch_ms(next_ts) AS purchase_ts
    FROM (
      SELECT user_id, event_id, ts, event_type,
             lead(event_id)   OVER w AS next_id,
             lead(event_type) OVER w AS next_type,
             lead(ts)         OVER w AS next_ts
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
    ) s
    WHERE event_type = 'click' AND next_type = 'purchase'
      AND epoch_ms(next_ts) - epoch_ms(ts) <= 300000
    """,
    tags=("streaming", "cep"),
)
def cep_strict_next(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP strict contiguity: click NEXT purchase within 5 minutes
    (Pattern.next, flink-cep Pattern.java:186 — the immediately following
    event per key must match or the partial dies). The oracle mirrors the
    NFA with a lead() pair check. No prefilter (strict contiguity must see
    every row)."""
    ev = load_table(spark, sf_dir, "events")
    pat = (
        Pattern.begin("click", lambda r: r["event_type"] == "click")
        .next("purchase", lambda r: r["event_type"] == "purchase")
        .within(300_000)
    )
    return match_pattern(ev, pat, key_col="user_id").select(
        "user_id",
        F.col("click_id"), F.col("click_ts"),
        F.col("purchase_id"), F.col("purchase_ts"),
    )


@register(
    "stream_over_running_agg",
    oracle="""
    WITH w AS (
      SELECT user_id, event_id, ts,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS running_sum,
             COUNT(*) OVER w AS running_cnt,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
               / COUNT(*) OVER w AS running_avg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING))
    SELECT * FROM w
    WHERE epoch_ms(ts) < (SELECT max(epoch_ms(ts)) FROM events) - 600000
    """,
    tags=("streaming", "over"),
)
def stream_over_running_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OVER aggregation (DataStreamOverAggregate.scala:45 /
    RowTimeUnboundedOver parity): per-key running SUM/COUNT/AVG over an
    unbounded stream, one output row per event, accumulator in keyed
    state, arrivals watermark-buffered and accumulated in (ts, event_id)
    order — correct under out-of-order arrival, like the bounded shapes.
    The oracle is the equivalent batch OVER window (exact integer-cents
    accumulation is order-independent) minus the watermark-delay tail."""
    ev = events_stream(spark, sf_dir)
    out = running_over_agg(ev, "user_id", "ts", "value")
    return run_stream(out, "stream_over_running_sink", sf_dir, "events")[0]


@register(
    "stream_over_running_ooo",
    oracle="""
    WITH w AS (
      SELECT user_id, event_id, ts,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS running_sum,
             COUNT(*) OVER w AS running_cnt,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
               / COUNT(*) OVER w AS running_avg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING))
    SELECT * FROM w
    WHERE epoch_ms(ts) < (SELECT max(epoch_ms(ts)) FROM events) - 18000000
    """,
    tags=("streaming", "over"),
)
def stream_over_running_ooo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order-replay proof for the unbounded OVER operator
    (RowTimeUnboundedOver buffers by timestamp for exactly this): the
    pair-swapped-block replay (whole later blocks arrive before earlier
    ones), watermark delay 5h > the 4h worst-case lateness; the oracle is
    the same batch running window as the in-order gate minus the 5h tail —
    identical running sums under reordered arrival is the proof."""
    from proteus_engine_spark.streaming.sources import events_stream_ooo

    ev = events_stream_ooo(spark, sf_dir)
    out = running_over_agg(ev, "user_id", "ts", "value", watermark_delay="5 hours")
    return run_stream(out, "stream_over_running_ooo_sink", sf_dir, "events")[0]


@register(
    "stream_event_time_sort_ooo",
    oracle="""
    WITH w AS (
      SELECT user_id, event_id, ts,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
      FROM events)
    SELECT * FROM w
    WHERE epoch_ms(ts) < (SELECT max(epoch_ms(ts)) FROM events) - 18000000
    """,
    tags=("streaming", "sort", "stateful"),
)
def stream_event_time_sort_ooo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order-replay proof for streaming event-time sort
    (RowTimeSortProcessFunction parity): blocks arrive swapped, yet every
    emitted seq must equal the batch event-time rank — the watermark
    buffer re-sequences the swapped blocks before assigning ranks."""
    from proteus_engine_spark.streaming.sources import events_stream_ooo

    ev = events_stream_ooo(spark, sf_dir)
    out = event_time_sort(ev, "user_id", "ts", watermark_delay="5 hours")
    return run_stream(out, "stream_ets_ooo_sink", sf_dir, "events")[0]


@register(
    "stream_tumble_append",
    oracle="""
    SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
           event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    HAVING time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR
           <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
    """,
    tags=("streaming", "window", "append"),
)
def stream_tumble_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling window agg in APPEND output mode — the scale-safe streaming
    path: only windows the watermark has closed are emitted, exactly once,
    and window state is dropped after emission (complete mode re-emits the
    entire result table every trigger and retains all of it in state — fine
    for an oracle drain, wrong at 100 TB). The oracle keeps windows whose
    end <= final watermark (max event time - 10 min delay); the open tail
    windows stay unemitted, exactly as a production append sink would see."""
    ev = events_stream(spark, sf_dir)
    agg = windowed_agg(
        ev, "ts", "10 minutes", "1 hour", ["event_type"],
        [F.count(F.lit(1)).alias("n"), dsum("value", "total_value")],
    )
    out, _ = run_stream(agg, "stream_tumble_append_sink", sf_dir, "events")
    return out.select("window_start", "event_type", "n", "total_value")


@register(
    "stream_idle_timeout",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events, max(ts) AS last_ts
    FROM events
    GROUP BY user_id
    HAVING epoch_ms(max(ts)) + 1800000 < (SELECT epoch_ms(max(ts)) - 60000 FROM events)
    """,
    tags=("streaming", "stateful", "timer"),
)
def stream_idle_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ProcessFunction event-time timers (ProcessFunction.java:85 onTimer):
    per-user state counts events; an event-time timer re-armed at
    last_event + 30 min fires when the watermark passes it — the session-gap
    idle-key detection shape. Emission happens ONLY from the timer callback
    (state is dropped on fire), so the oracle is exactly the keys whose last
    event is more than 30 min older than the final watermark (global max
    event time - 1 min delay)."""
    import pandas as pd  # noqa: PLC0415 — worker-side import

    ev = events_stream(spark, sf_dir).withWatermark("ts", "1 minute").select("user_id", "ts")

    def fn(key, batch, st):
        if len(batch):
            mx = batch["ts"].max()
            prev = st.get("last")
            st = {
                "n": st.get("n", 0) + len(batch),
                "last": mx if prev is None or mx > prev else prev,
            }
        return None, st

    def on_timeout(key, st):
        return pd.DataFrame(
            {"user_id": [key[0]], "n_events": [st.get("n", 0)], "last_ts": [st.get("last")]}
        )

    out = process_keyed(
        ev,
        ["user_id"],
        fn,
        "user_id long, n_events long, last_ts timestamp",
        timeout="EventTimeTimeout",
        timeout_duration_ms=1_800_000,
        on_timeout=on_timeout,
        event_time_col="ts",
    )
    return run_stream(out, "stream_idle_timeout_sink", sf_dir, "events")[0]


def _enrich_lookup(row: dict) -> dict:
    """Deterministic stand-in for an external KV service (the lookup itself
    would be an HTTP/DB call in production — the concurrency, ordering, and
    batching semantics are what async_enrich provides)."""
    uid = row["user_id"]
    val = row["value"]
    return {
        "tier": "gold" if uid is not None and uid % 10 == 0 else "std",
        "score": val * 1.1 if val is not None else None,
    }


@register(
    "async_enrich_lookup",
    oracle="""
    SELECT event_id, user_id, value,
           CASE WHEN user_id % 10 = 0 THEN 'gold' ELSE 'std' END AS tier,
           value * 1.1 AS score
    FROM events
    """,
    tags=("streaming", "async"),
)
def async_enrich_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Async I/O enrichment (AsyncDataStream.orderedWait,
    AsyncDataStream.java:103): every event enriched through the bounded
    thread-pool lookup path (capacity=16, ordered). The lookup is a
    deterministic fake service, so the oracle mirrors it in SQL — what the
    gate verifies is the mapInPandas plumbing: batch iteration, concurrent
    per-row lookups, order preservation, column merge."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    return async_enrich(
        ev,
        _enrich_lookup,
        "event_id long, user_id long, value double, tier string, score double",
        capacity=16,
        ordered=True,
    )


@register(
    "cep_times_consecutive",
    oracle="""
    SELECT user_id, event_id AS click_id, epoch_ms(ts) AS click_ts
    FROM (
      SELECT user_id, event_id, ts, event_type,
             lag(event_type, 1) OVER w AS t1,
             lag(event_type, 2) OVER w AS t2,
             lag(ts, 2) OVER w AS ts2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
    ) s
    WHERE event_type = 'click' AND t1 = 'click' AND t2 = 'click'
      AND epoch_ms(ts) - epoch_ms(ts2) <= 7200000
    """,
    tags=("streaming", "cep"),
)
def cep_times_consecutive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP quantifier times(3) + consecutive(): three adjacent clicks per
    user within 2 hours (Pattern.times int, Pattern.java:274;
    consecutive(), Pattern.java:462). Every run of >=3 adjacent clicks
    emits one match per ending position (overlapping matches, NoSkip) —
    the oracle mirrors the NFA with a 2-step lag chain over the full event
    sequence (strict contiguity sees every event type). Emitted columns =
    the closing click of each triple."""
    ev = load_table(spark, sf_dir, "events")
    pat = (
        Pattern.begin("click", lambda r: r["event_type"] == "click")
        .times(3, consecutive=True)
        .within(7_200_000)
    )
    return match_pattern(ev, pat, key_col="user_id")


@register(
    "cep_one_or_more",
    oracle="""
    WITH s AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'signup'),
         p AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase')
    SELECT s.user_id,
           s.event_id AS signup_id, epoch_ms(s.ts) AS signup_ts,
           p.event_id AS purchase_id, epoch_ms(p.ts) AS purchase_ts,
           row_number() OVER (PARTITION BY s.user_id, s.event_id
                              ORDER BY epoch_ms(p.ts), p.event_id) AS purchase_cnt
    FROM s JOIN p
      ON s.user_id = p.user_id
     AND (epoch_ms(p.ts) > epoch_ms(s.ts) OR (epoch_ms(p.ts) = epoch_ms(s.ts) AND p.event_id > s.event_id))
     AND epoch_ms(p.ts) - epoch_ms(s.ts) <= 600000
    """,
    tags=("streaming", "cep"),
)
def cep_one_or_more(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP quantifier oneOrMore(): signup followedBy purchase+ within 10
    minutes (Pattern.oneOrMore, Pattern.java:332). The accumulating loop
    emits a match per prefix — the k-th purchase after a signup yields a
    match with purchase_cnt=k — so the oracle is the ranked signup→purchase
    join. Prefilter pushdown stays active (both steps relaxed + expr'd)."""
    ev = load_table(spark, sf_dir, "events")
    pat = (
        Pattern.begin("signup", lambda r: r["event_type"] == "signup",
                      expr="event_type = 'signup'")
        .followed_by("purchase", lambda r: r["event_type"] == "purchase",
                     expr="event_type = 'purchase'")
        .one_or_more()
        .within(600_000)
    )
    return match_pattern(ev, pat, key_col="user_id")


@register(
    "cep_until_stop",
    oracle="""
    WITH s AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'signup'),
         c AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
         st AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'error'),
    q AS (
      SELECT s.user_id, s.event_id AS signup_id, epoch_ms(s.ts) AS signup_ts,
             c.event_id AS click_id, epoch_ms(c.ts) AS click_ts, c.ts AS cts
      FROM s JOIN c ON s.user_id = c.user_id
        AND (epoch_ms(c.ts) > epoch_ms(s.ts) OR (epoch_ms(c.ts) = epoch_ms(s.ts) AND c.event_id > s.event_id))
        AND epoch_ms(c.ts) - epoch_ms(s.ts) <= 86400000
      WHERE NOT EXISTS (
        SELECT 1 FROM st WHERE st.user_id = s.user_id
          AND (epoch_ms(st.ts) > epoch_ms(s.ts) OR (epoch_ms(st.ts) = epoch_ms(s.ts) AND st.event_id > s.event_id))
          AND (epoch_ms(st.ts) < epoch_ms(c.ts) OR (epoch_ms(st.ts) = epoch_ms(c.ts) AND st.event_id < c.event_id)))
    )
    SELECT user_id, signup_id, signup_ts, click_id, click_ts,
           row_number() OVER (PARTITION BY user_id, signup_id
                              ORDER BY epoch_ms(cts), click_id) AS click_cnt
    FROM q
    """,
    tags=("streaming", "cep"),
)
def cep_until_stop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP loop stop condition (Pattern.until, Pattern.java:214): signup
    followedBy click+ within 24 hours, where an 'error' event CLOSES the
    loop — clicks after the first error no longer extend the run (and an
    error before the first click means the loop never starts), but the
    prefixes already emitted stand, and the stop event itself is NOT part
    of any match (:216 "the condition event is not part of the pattern").
    The oracle states exactly that: ranked signup→click join with a
    NOT EXISTS error strictly between signup and click in (ts, id) order —
    at sf0.01 the until condition prunes ~170 of ~900 candidate prefixes,
    so the gate fails if the stop is ignored OR over-applied. The
    prefilter keeps signup/click/error rows JVM-side (until's expr joins
    the step union, cep.py prefilter_expr)."""
    ev = load_table(spark, sf_dir, "events")
    pat = (
        Pattern.begin("signup", lambda r: r["event_type"] == "signup",
                      expr="event_type = 'signup'")
        .followed_by("click", lambda r: r["event_type"] == "click",
                     expr="event_type = 'click'")
        .one_or_more()
        .until(lambda r: r["event_type"] == "error", expr="event_type = 'error'")
        .within(86_400_000)
    )
    return match_pattern(ev, pat, key_col="user_id")


@register(
    "cep_times_or_more",
    oracle="""
    WITH s AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'signup'),
         c AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
    q AS (
      SELECT s.user_id, s.event_id AS signup_id, epoch_ms(s.ts) AS signup_ts,
             c.event_id AS click_id, epoch_ms(c.ts) AS click_ts,
             row_number() OVER (PARTITION BY s.user_id, s.event_id
                                ORDER BY epoch_ms(c.ts), c.event_id) AS click_cnt
      FROM s JOIN c ON s.user_id = c.user_id
        AND (epoch_ms(c.ts) > epoch_ms(s.ts) OR (epoch_ms(c.ts) = epoch_ms(s.ts) AND c.event_id > s.event_id))
        AND epoch_ms(c.ts) - epoch_ms(s.ts) <= 259200000
    )
    SELECT user_id, signup_id, signup_ts, click_id, click_ts, click_cnt
    FROM q WHERE click_cnt >= 3
    """,
    tags=("streaming", "cep"),
)
def cep_times_or_more(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP timesOrMore quantifier (Pattern.timesOrMore, Pattern.java:396):
    signup followedBy click{3,} within 3 days — the accumulating loop only
    starts emitting at the floor, then emits a match per further prefix
    (the k-th click yields a match with click_cnt=k for every k >= 3), so
    the oracle is the oneOrMore ranked join cut at rank >= 3. Contrast
    cep_one_or_more (floor 1: every prefix) and cep_times_consecutive
    (exact count with strict contiguity): this gate fails if the floor is
    off by one in either direction or if sub-floor prefixes leak out."""
    ev = load_table(spark, sf_dir, "events")
    pat = (
        Pattern.begin("signup", lambda r: r["event_type"] == "signup",
                      expr="event_type = 'signup'")
        .followed_by("click", lambda r: r["event_type"] == "click",
                     expr="event_type = 'click'")
        .times_or_more(3)
        .within(259_200_000)
    )
    return match_pattern(ev, pat, key_col="user_id")


@register(
    "cep_timeout_signups",
    oracle="""
    WITH f AS (SELECT user_id, event_id, ts, event_type FROM events
               WHERE event_type IN ('signup', 'purchase')),
         s AS (SELECT user_id, event_id, ts FROM f WHERE event_type = 'signup')
    SELECT s.user_id,
           s.event_id AS signup_id, epoch_ms(s.ts) AS signup_ts,
           CAST(NULL AS BIGINT) AS purchase_id, CAST(NULL AS BIGINT) AS purchase_ts,
           epoch_ms(s.ts) + 600000 AS timeout_ts
    FROM s
    WHERE NOT EXISTS (
      SELECT 1 FROM f p
      WHERE p.event_type = 'purchase' AND p.user_id = s.user_id
        AND (epoch_ms(p.ts) > epoch_ms(s.ts) OR (epoch_ms(p.ts) = epoch_ms(s.ts) AND p.event_id > s.event_id))
        AND epoch_ms(p.ts) - epoch_ms(s.ts) <= 600000)
    AND EXISTS (
      SELECT 1 FROM f e
      WHERE e.user_id = s.user_id AND epoch_ms(e.ts) - epoch_ms(s.ts) > 600000)
    """,
    tags=("streaming", "cep"),
)
def cep_timeout_signups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP timeout side output (PatternStream.select timeoutHandler,
    PatternStream.java:301): signups whose 10-minute purchase window
    expired unfulfilled — emitted as timed-out partials (purchase columns
    NULL, timeout_ts = window expiry) instead of being silently pruned.
    A partial times out when a later same-key candidate event passes the
    window edge; the oracle states exactly that (NOT EXISTS a qualifying
    purchase, EXISTS a candidate event beyond the window). The prefilter
    keeps only signup/purchase rows JVM-side, same as the match path."""
    ev = load_table(spark, sf_dir, "events")
    pat = (
        Pattern.begin("signup", lambda r: r["event_type"] == "signup",
                      expr="event_type = 'signup'")
        .followed_by("purchase", lambda r: r["event_type"] == "purchase",
                     expr="event_type = 'purchase'")
        .within(600_000)
    )
    return match_pattern(ev, pat, key_col="user_id", output="timeouts")


@register(
    "cep_not_followed_by",
    oracle="""
    WITH f AS (SELECT user_id, event_id, ts, event_type FROM events
               WHERE event_type IN ('signup', 'error', 'purchase')),
         s AS (SELECT user_id, event_id, ts FROM f WHERE event_type = 'signup'),
         c AS (SELECT user_id, event_id, ts, event_type FROM f
               WHERE event_type IN ('error', 'purchase')),
         first_c AS (
           SELECT s.user_id,
                  s.event_id AS signup_id, epoch_ms(s.ts) AS signup_ts,
                  c.event_id, c.ts, c.event_type,
                  row_number() OVER (PARTITION BY s.user_id, s.event_id
                                     ORDER BY epoch_ms(c.ts), c.event_id) AS rn
           FROM s JOIN c
             ON s.user_id = c.user_id
            AND (epoch_ms(c.ts) > epoch_ms(s.ts) OR (epoch_ms(c.ts) = epoch_ms(s.ts) AND c.event_id > s.event_id))
         )
    SELECT user_id, signup_id, signup_ts,
           event_id AS purchase_id, epoch_ms(ts) AS purchase_ts
    FROM first_c
    WHERE rn = 1 AND event_type = 'purchase'
      AND epoch_ms(ts) - signup_ts <= 600000
    """,
    tags=("streaming", "cep"),
)
def cep_not_followed_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP mid-pattern negation (Pattern.notFollowedBy, flink-cep
    Pattern.java:298): signup, NOT followed by an error, followed by
    purchase, within 10 minutes. The guard persists until the positive
    step consumes: the first error-or-purchase event after each signup
    decides the partial (error → dies, purchase in-window → match), other
    events are skipped. The oracle states exactly that with a rank-1 pick
    over the union of guard/positive candidates. Prefilter keeps
    signup/error/purchase rows JVM-side (forbidden events must reach the
    NFA — they are part of the OR)."""
    ev = load_table(spark, sf_dir, "events")
    pat = (
        Pattern.begin("signup", lambda r: r["event_type"] == "signup",
                      expr="event_type = 'signup'")
        .not_followed_by("error", lambda r: r["event_type"] == "error",
                         expr="event_type = 'error'")
        .followed_by("purchase", lambda r: r["event_type"] == "purchase",
                     expr="event_type = 'purchase'")
        .within(600_000)
    )
    return match_pattern(ev, pat, key_col="user_id")


@register(
    "cep_followed_by_any",
    oracle="""
    WITH s AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'signup'),
         p AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase')
    SELECT s.user_id,
           s.event_id AS signup_id, epoch_ms(s.ts) AS signup_ts,
           p.event_id AS purchase_id, epoch_ms(p.ts) AS purchase_ts
    FROM s JOIN p
      ON s.user_id = p.user_id
     AND (epoch_ms(p.ts) > epoch_ms(s.ts) OR (epoch_ms(p.ts) = epoch_ms(s.ts) AND p.event_id > s.event_id))
     AND epoch_ms(p.ts) - epoch_ms(s.ts) <= 600000
    """,
    tags=("streaming", "cep"),
)
def cep_followed_by_any(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP skip-till-ANY-match (Pattern.followedByAny, flink-cep
    Pattern.java:316): signup followedByAny purchase within 10 minutes —
    EVERY in-window purchase after each signup produces a match, not just
    the first (contrast cep_signup_purchase's rank-1 oracle: its oracle is
    this one with rn = 1)."""
    ev = load_table(spark, sf_dir, "events")
    pat = (
        Pattern.begin("signup", lambda r: r["event_type"] == "signup",
                      expr="event_type = 'signup'")
        .followed_by_any("purchase", lambda r: r["event_type"] == "purchase",
                         expr="event_type = 'purchase'")
        .within(600_000)
    )
    return match_pattern(ev, pat, key_col="user_id")


@register(
    "cep_absence_alert",
    oracle="""
    WITH s AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'signup')
    SELECT s.user_id, s.event_id AS signup_id, epoch_ms(s.ts) AS signup_ts
    FROM s
    WHERE NOT EXISTS (
      SELECT 1 FROM events p
      WHERE p.event_type = 'purchase' AND p.user_id = s.user_id
        AND (epoch_ms(p.ts) > epoch_ms(s.ts) OR (epoch_ms(p.ts) = epoch_ms(s.ts) AND p.event_id > s.event_id))
        AND epoch_ms(p.ts) - epoch_ms(s.ts) <= 600000)
    AND EXISTS (
      SELECT 1 FROM events e
      WHERE e.user_id = s.user_id AND epoch_ms(e.ts) - epoch_ms(s.ts) > 600000)
    """,
    tags=("streaming", "cep"),
)
def cep_absence_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP trailing negation (Pattern.notFollowedBy as last step + within,
    the absence-of-event alert): signups with NO purchase in the next 10
    minutes, emitted as MATCHES once the window expires unviolated —
    confirmed, like the timeout side-output, by a later same-key event of
    ANY type passing the window edge (which is why the prefilter is
    disabled for trailing negation: an unrelated click can be the trigger).
    Differs from cep_timeout_signups in mechanism (negative guard match vs
    timeout side-output) and trigger set (any event vs prefiltered
    candidates)."""
    ev = load_table(spark, sf_dir, "events")
    pat = (
        Pattern.begin("signup", lambda r: r["event_type"] == "signup",
                      expr="event_type = 'signup'")
        .not_followed_by("purchase", lambda r: r["event_type"] == "purchase",
                         expr="event_type = 'purchase'")
        .within(600_000)
    )
    return match_pattern(ev, pat, key_col="user_id")


@register(
    "cep_greedy_click_run",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, ts,  event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS rn
      FROM events),
    clicks AS (
      SELECT user_id, event_id, ts, rn,
             rn - row_number() OVER (PARTITION BY user_id ORDER BY rn) AS grp
      FROM seq WHERE event_type = 'click'),
    islands AS (
      SELECT user_id, grp, min(rn) AS a, max(rn) AS b
      FROM clicks GROUP BY user_id, grp),
    pur AS (
      SELECT i.user_id, i.b, min(p.rn) AS prn
      FROM islands i JOIN seq p
        ON p.user_id = i.user_id AND p.rn > i.b AND p.event_type = 'purchase'
      GROUP BY i.user_id, i.b)
    SELECT i.user_id,
           lc.event_id AS click_id, epoch_ms(lc.ts) AS click_ts,
           (i.b - st.rn + 1) AS click_cnt,
           pr.event_id AS purchase_id, epoch_ms(pr.ts) AS purchase_ts
    FROM islands i
    JOIN clicks st ON st.user_id = i.user_id AND st.rn BETWEEN i.a AND i.b
    JOIN clicks lc ON lc.user_id = i.user_id AND lc.rn = i.b
    JOIN pur    pu ON pu.user_id = i.user_id AND pu.b = i.b
    JOIN seq    pr ON pr.user_id = i.user_id AND pr.rn = pu.prn
    WHERE epoch_ms(pr.ts) - epoch_ms(st.ts) <= 7200000
    """,
    tags=("streaming", "cep"),
)
def cep_greedy_click_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP greedy loop (Pattern.greedy, flink-cep Pattern.java:361):
    maximal consecutive click run, then the first purchase after it,
    within 2 hours of the run suffix's start. Greedy spawns no per-prefix
    exit branches — each partial consumes its whole run and hands the
    run-breaking event to the (relaxed) purchase step, so every match's
    click_cnt is the run length from its start position (a non-greedy
    one_or_more here would emit every prefix of every suffix against
    every later purchase). Oracle: gaps-and-islands — maximal click
    islands per user sequence, one row per suffix start, joined to the
    first later purchase."""
    ev = load_table(spark, sf_dir, "events")
    pat = (
        Pattern.begin("click", lambda r: r["event_type"] == "click")
        .one_or_more(consecutive=True)
        .greedy()
        .followed_by("purchase", lambda r: r["event_type"] == "purchase")
        .within(7_200_000)
    )
    return match_pattern(ev, pat, key_col="user_id")


@register(
    "stream_over_bounded_rows",
    oracle="""
    WITH w AS (
      SELECT user_id, event_id, ts,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS w_sum,
             COUNT(*) OVER w AS w_cnt,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
               / COUNT(*) OVER w AS w_avg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
    SELECT * FROM w
    WHERE epoch_ms(ts) < (SELECT max(epoch_ms(ts)) FROM events) - 600000
    """,
    tags=("streaming", "over"),
)
def stream_over_bounded_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming BOUNDED OVER aggregation (DataStreamOverAggregate.scala:
    250-276 / RowTimeBoundedRowsOver parity): per-key SUM/COUNT/AVG over
    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW, one output row per event,
    watermark-buffered — rows are held in keyed state and released in
    (ts, event_id) order once the watermark passes them, the reference's
    MapState-by-timestamp discipline, so event-time order holds even under
    out-of-order arrival (gated separately: stream_over_bounded_rows_ooo).
    The oracle is the equivalent batch bounded window minus the
    watermark-delay tail (rows inside the final 10-minute delay stay
    buffered — append semantics, as in stream_tumble_append)."""
    ev = events_stream(spark, sf_dir)
    out = bounded_over_agg(ev, "user_id", "ts", "value", n_rows=5)
    return run_stream(out, "stream_over_bounded_sink", sf_dir, "events")[0]


@register(
    "stream_over_bounded_rows_ooo",
    oracle="""
    WITH w AS (
      SELECT user_id, event_id, ts,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS w_sum,
             COUNT(*) OVER w AS w_cnt,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
               / COUNT(*) OVER w AS w_avg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
    SELECT * FROM w
    WHERE epoch_ms(ts) < (SELECT max(epoch_ms(ts)) FROM events) - 18000000
    """,
    tags=("streaming", "over"),
)
def stream_over_bounded_rows_ooo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The out-of-order-replay proof for the bounded OVER operator
    (RowTimeBoundedRowsOver.scala buffers by timestamp and processes at
    the watermark precisely so late rows land in the right position):
    events arrive with adjacent 2-hour event-time blocks pair-swapped
    across micro-batches (maxFilesPerTrigger=1 — each file is its own
    batch, so an entire later block precedes an earlier one), watermark
    delay 5h > the 4h worst-case lateness. The oracle is the SAME batch
    bounded window as the in-order gate — identical results under
    reordered arrival is the point — minus the 5h watermark tail."""
    from proteus_engine_spark.streaming.sources import events_stream_ooo

    ev = events_stream_ooo(spark, sf_dir)
    out = bounded_over_agg(
        ev, "user_id", "ts", "value", n_rows=5, watermark_delay="5 hours"
    )
    return run_stream(out, "stream_over_bounded_ooo_sink", sf_dir, "events")[0]


@register(
    "stream_over_bounded_range",
    oracle="""
    WITH w AS (
      SELECT user_id, event_id, ts,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS w_sum,
             COUNT(*) OVER w AS w_cnt,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
               / COUNT(*) OVER w AS w_avg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts
                   RANGE BETWEEN INTERVAL 24 HOURS PRECEDING AND CURRENT ROW))
    SELECT * FROM w
    WHERE epoch_ms(ts) < (SELECT max(epoch_ms(ts)) FROM events) - 600000
    """,
    tags=("streaming", "over"),
)
def stream_over_bounded_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming bounded RANGE OVER aggregation — the last streaming OVER
    shape (RowTimeBoundedRangeOver.scala, dispatched from
    DataStreamOverAggregate.scala:250-276): per-key SUM/COUNT/AVG over
    RANGE BETWEEN INTERVAL 24 HOURS PRECEDING AND CURRENT ROW, one output
    row per event, rows within the interval carried in keyed state and
    evicted by timestamp delta (not row count). Peer rows (equal ts) share
    one complete frame — they release in the same watermark flush. Oracle:
    the equivalent batch RANGE window minus the 10-minute watermark tail."""
    from proteus_engine_spark.streaming.stateful import bounded_range_over_agg

    ev = events_stream(spark, sf_dir)
    out = bounded_range_over_agg(ev, "user_id", "ts", "value", range_ms=86_400_000)
    return run_stream(out, "stream_over_bounded_range_sink", sf_dir, "events")[0]


@register(
    "cep_allow_combinations",
    oracle="""
    WITH s AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'signup'),
    o AS (SELECT s.user_id, s.event_id AS signup_id, epoch_ms(s.ts) AS signup_ts,
                 c.event_id AS act_id, epoch_ms(c.ts) AS act_ts,
                 row_number() OVER (PARTITION BY s.user_id, s.event_id
                                    ORDER BY epoch_ms(c.ts), c.event_id) AS ord
          FROM s JOIN events c ON s.user_id = c.user_id
            AND (epoch_ms(c.ts) > epoch_ms(s.ts) OR (epoch_ms(c.ts) = epoch_ms(s.ts) AND c.event_id > s.event_id))
            AND epoch_ms(c.ts) - epoch_ms(s.ts) <= 14400000),
    x AS (SELECT o.*, 1 AS act_cnt FROM o WHERE ord = 1
          UNION ALL
          SELECT o.*, unnest(generate_series(2, ord)) AS act_cnt FROM o WHERE ord >= 2),
    m AS (SELECT *, CASE WHEN act_cnt = 1 THEN CAST(1 AS BIGINT)
                         ELSE CAST(factorial(CAST(ord - 2 AS INTEGER))
                              / (factorial(CAST(act_cnt - 2 AS INTEGER))
                                 * factorial(CAST(ord - act_cnt AS INTEGER)))
                              AS BIGINT) END AS mult
          FROM x),
    r AS (SELECT user_id, signup_id, signup_ts, act_id, act_ts, act_cnt,
                 unnest(generate_series(1, mult)) AS rep
          FROM m)
    SELECT user_id, signup_id, signup_ts, act_id, act_ts, act_cnt FROM r
    """,
    tags=("streaming", "cep"),
)
def cep_allow_combinations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP allowCombinations (Pattern.allowCombinations, Pattern.java:347
    — skip-till-any BETWEEN loop repeats): signup followedBy activity+
    within 4 hours, where the loop may skip intermediate events — every
    event combination containing the first in-window event matches. A
    match reports the loop's last event and its repeat count, so the
    all-subsets oracle enumerates, for each signup and each j-th in-window
    event, every size c in 2..j with multiplicity C(j-2, c-2) (the middle
    elements chosen between the pinned first event and the last), plus the
    singleton first event — replicated via unnest(generate_series) in
    DuckDB. Eager oneOrMore (cep_one_or_more) emits only the j prefixes;
    the binomial multiplicities are exactly what this mode adds."""
    ev = load_table(spark, sf_dir, "events")
    pat = (
        Pattern.begin("signup", lambda r: r["event_type"] == "signup",
                      expr="event_type = 'signup'")
        .followed_by("act", lambda r: True, expr="true")
        .one_or_more()
        .allow_combinations()
        .within(14_400_000)
    )
    return match_pattern(ev, pat, key_col="user_id")


@register(
    "stream_tumble_time_evictor",
    oracle="""
    WITH w AS (
      SELECT user_id, time_bucket(INTERVAL 1 HOUR, ts) AS win_start, ts, value
      FROM events
    ),
    m AS (SELECT user_id, win_start, max(epoch_ms(ts)) AS mx_ms FROM w GROUP BY 1, 2)
    SELECT w.user_id, w.win_start, COUNT(*) AS n,
           CAST(SUM(CAST(w.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM w JOIN m ON w.user_id = m.user_id AND w.win_start = m.win_start
    WHERE epoch_ms(w.ts) > m.mx_ms - 900000
    GROUP BY 1, 2
    HAVING w.win_start + INTERVAL 1 HOUR
           <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
    """,
    tags=("streaming", "window", "trigger", "evictor"),
)
def stream_tumble_time_evictor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evictor gate (TimeEvictor.java:35 on WindowedStream.evictor,
    WindowedStream.java:131): per-user 1-hour tumbling windows fire once at
    the watermark (EventTimeTrigger.java:36), but the window function sees
    only the elements within 15 minutes of the window's latest element —
    the rest are evicted first (evictBefore). The oracle recomputes the
    same cut in SQL: per (user, hour-bucket) max ts, keep ts > max - 15min,
    aggregate, and drop the open tail windows past the final watermark
    (append semantics, as in stream_tumble_append)."""
    from proteus_engine_spark.streaming.triggers import (
        EventTimeTrigger,
        TimeEvictor,
        triggered_window_agg,
    )

    ev = events_stream(spark, sf_dir)
    out = triggered_window_agg(
        ev, "user_id", "ts", "value",
        trigger=EventTimeTrigger(),
        evictor=TimeEvictor(15 * 60_000),
        window_ms=3_600_000,
        watermark_delay="10 minutes",
    )
    res, _ = run_stream(out, "stream_tumble_time_evictor_sink", sf_dir, "events")
    return res.select("user_id", "win_start", "n", "total_value")


@register(
    "stream_count_evictor_fires",
    oracle="""
    WITH f AS (
      SELECT user_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY epoch_ms(ts), event_id) AS rn,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
               PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS s3
      FROM events
      WHERE epoch_ms(ts) < (SELECT epoch_ms(max(ts)) - 600000 FROM events)
    )
    SELECT user_id, CAST(rn // 5 AS BIGINT) AS fire_seq,
           CAST(3 AS BIGINT) AS n, s3 AS total_value
    FROM f WHERE rn % 5 = 0
    """,
    tags=("streaming", "trigger", "evictor"),
)
def stream_count_evictor_fires(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigger-composition gate (PurgingTrigger.java:33 wrapping
    CountTrigger.java:33, plus CountEvictor.java:32, on
    GlobalWindows.java:32): per user, every 5th event in event-time order
    fires the global window; the evictor keeps only the last 3 of the 5
    buffered elements, the fire emits their sum, and the purge clears the
    buffer. Fire points and eviction fronts are positions in watermark-
    sequenced (ts, id) order — micro-batch boundaries cannot move them —
    so the oracle is plain SQL: rank events per user, emit the 3-row
    rolling sum at every rank divisible by 5. Events above the final
    watermark are never released (append semantics)."""
    from proteus_engine_spark.streaming.triggers import (
        CountEvictor,
        CountTrigger,
        PurgingTrigger,
        triggered_window_agg,
    )

    ev = events_stream(spark, sf_dir)
    out = triggered_window_agg(
        ev, "user_id", "ts", "value",
        trigger=PurgingTrigger(CountTrigger(5)),
        evictor=CountEvictor(3),
        window_ms=None,
        watermark_delay="10 minutes",
    )
    res, _ = run_stream(out, "stream_count_evictor_sink", sf_dir, "events")
    return res.select("user_id", "fire_seq", "n", "total_value")


@register(
    "stream_delta_trigger_fires",
    oracle="""
    WITH RECURSIVE e AS (
      SELECT user_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY epoch_ms(ts), event_id) AS rn,
             CAST(value AS DECIMAL(18,2)) AS v,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
               PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
               ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum
      FROM events
      WHERE epoch_ms(ts) < (SELECT epoch_ms(max(ts)) - 600000 FROM events)
    ),
    walk AS (
      SELECT user_id, rn, v AS base, 0 AS fires, FALSE AS fired, cum
      FROM e WHERE rn = 1
      UNION ALL
      SELECT e.user_id, e.rn,
             CASE WHEN abs(e.v - w.base) > 50.005 THEN e.v ELSE w.base END,
             CASE WHEN abs(e.v - w.base) > 50.005 THEN w.fires + 1 ELSE w.fires END,
             abs(e.v - w.base) > 50.005,
             e.cum
      FROM walk w JOIN e ON e.user_id = w.user_id AND e.rn = w.rn + 1
    )
    SELECT user_id, CAST(fires AS BIGINT) AS fire_seq,
           CAST(rn AS BIGINT) AS n, cum AS total_value
    FROM walk WHERE fired
    """,
    tags=("streaming", "trigger"),
)
def stream_delta_trigger_fires(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeltaTrigger gate (DeltaTrigger.java:44-89 on GlobalWindows.java:32
    — the reference's TopSpeedWindowing shape): per user, the first event's
    value becomes the baseline; each later event whose |value - baseline|
    exceeds 50.005 fires the global window (emitting all elements buffered
    so far — no purge, no evictor) and becomes the new baseline. The
    threshold sits half a cent off any representable value delta, so the
    float engine walk and the DECIMAL oracle walk take identical branches.
    Fire points are positions in watermark-sequenced (ts, id) order, so
    the oracle replays the same baseline walk as a sequential recursion:
    a recursive CTE stepping rank-by-rank per user (group-sized depth —
    the recursion is over the per-user event count, bounded by the
    watermark cut), emitting (fire_seq, n = elements buffered, cumulative
    sum) at every threshold crossing. Events above the final watermark
    are never released (append semantics)."""
    from proteus_engine_spark.streaming.triggers import (
        DeltaTrigger,
        triggered_window_agg,
    )

    ev = events_stream(spark, sf_dir)
    out = triggered_window_agg(
        ev, "user_id", "ts", "value",
        trigger=DeltaTrigger(50.005),
        window_ms=None,
        watermark_delay="10 minutes",
    )
    res, _ = run_stream(out, "stream_delta_trigger_sink", sf_dir, "events")
    return res.select("user_id", "fire_seq", "n", "total_value")


@register(
    "queryable_state_lookup",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY event_type
    """,
    tags=("streaming", "state", "queryable"),
)
def queryable_state_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Queryable-state gate (QueryableStateClient.java:64,
    KeyedStream.asQueryableState :987): the per-event-type aggregate runs
    as a CHECKPOINTED streaming query, and the returned frame is read from
    the operator's keyed STATE STORE via the state data source — not from
    the sink. The oracle sees the batch aggregate, so a state row that
    was lost, duplicated, or stale fails the gate. The sink table is
    intentionally ignored: the only data path to the result is
    checkpoint → QueryableStateClient.get_state()."""
    import tempfile

    from proteus_engine_spark.streaming.queryable import QueryableStateClient

    ev = events_stream(spark, sf_dir)
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum(dec("value")).alias("s")
    )
    ckpt = tempfile.mkdtemp(prefix="proteus_qstate_")
    # the state data source reads the partition count back from the
    # checkpoint's state metadata: the lookup is partition-count-independent
    run_stream(
        agg, "queryable_state_sink", sf_dir, "events",
        output_mode="complete", checkpoint=ckpt,
    )
    state = QueryableStateClient(spark, ckpt).get_state()
    return state.select(
        "event_type",
        F.col("count").alias("n"),
        F.col("sum").cast("double").alias("total_value"),
    )


@register(
    "stream_iterate_halving",
    oracle="""
    WITH RECURSIVE h AS (
      SELECT event_id, CAST(round(value * 100) AS BIGINT) // 2 AS v, 1 AS c
      FROM events
      UNION ALL
      SELECT event_id, v // 2, c + 1 FROM h WHERE v > 0
    )
    SELECT event_id, CAST(c AS BIGINT) AS n_iter FROM h WHERE v = 0
    """,
    tags=("streaming", "iteration"),
)
def stream_iterate_halving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-iteration gate (DataStream.iterate, DataStream.java:477;
    IterativeStream.closeWith :79; the IterateExample loop shape): every
    event enters the loop as (event_id, value-in-cents, 0); each hop halves
    the amount and increments the counter; rows loop back through the
    storage feedback edge while the amount is positive and exit with their
    hop count — so each row's n_iter is its own loop depth (up to ~17
    micro-batch hops here), which the recursive-CTE oracle recomputes
    exactly. A feedback row that is lost, duplicated, or mis-routed
    changes n_iter or the row count."""
    import tempfile

    from proteus_engine_spark.streaming.iterations import (
        iterative_stream,
        run_iterative_to_completion,
    )

    d = tempfile.mkdtemp(prefix="proteus_stream_iter_")
    ev = events_stream(spark, sf_dir).select(
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("v"),
        F.lit(0).cast("long").alias("c"),
    )

    def step(df: DataFrame) -> DataFrame:
        return df.select(
            "event_id", (F.col("v") / 2).cast("long").alias("v"),
            (F.col("c") + 1).alias("c"),
        )

    body, fb = iterative_stream(
        spark, ev, step, F.col("v") > 0, f"{d}/feedback",
        schema="event_id long, v long, c long",
    )
    out = run_iterative_to_completion(
        body, fb, f"{d}/feedback", f"{d}/out", "stream_iterate_halving_q"
    )
    return out.select("event_id", F.col("c").alias("n_iter"))


@register(
    "cep_group_times",
    oracle="""
    SELECT user_id,
           id2 AS click_id, epoch_ms(ts2) AS click_ts, CAST(2 AS BIGINT) AS click_cnt,
           id3 AS view_id, epoch_ms(ts3) AS view_ts, CAST(2 AS BIGINT) AS view_cnt
    FROM (
      SELECT user_id, event_id, ts, event_type,
             lead(event_type, 1) OVER w AS t1,
             lead(event_type, 2) OVER w AS t2,
             lead(event_type, 3) OVER w AS t3,
             lead(event_id, 2) OVER w AS id2,
             lead(event_id, 3) OVER w AS id3,
             lead(ts, 2) OVER w AS ts2,
             lead(ts, 3) OVER w AS ts3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
    ) s
    WHERE event_type = 'click' AND t1 = 'view' AND t2 = 'click' AND t3 = 'view'
    """,
    tags=("streaming", "cep", "group"),
)
def cep_group_times(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-pattern gate (GroupPattern.java:42; Pattern.begin(Pattern)
    .times(2).consecutive()): the sub-sequence (click NEXT view) repeated
    exactly twice with strict chaining — four adjacent events per user.
    The engine runs the STATE-COUNTED group loop (r14: the repeat count
    rides in NFA state and the group exits only at exactly n —
    GroupPattern.java:42's uniform quantifier treatment; the pre-r14
    variant enumeration is gone); the oracle finds the same
    runs with lead() over the per-user event order, reporting the LAST
    repeat's events and the repeat count, exactly the repeat-stable match
    schema match_group_pattern emits."""
    from proteus_engine_spark.streaming.cep import GroupPattern, match_group_pattern

    ev = load_table(spark, sf_dir, "events")
    sub = Pattern.begin(
        "click", lambda r: r["event_type"] == "click"
    ).next("view", lambda r: r["event_type"] == "view")
    g = GroupPattern.begin(sub).times(2).consecutive()
    return match_group_pattern(ev, g, "user_id")


@register(
    "cep_group_optional",
    oracle="""
    WITH o AS (
      SELECT user_id, event_id, ts, event_type,
             lead(event_type, 1) OVER w AS t1, lead(event_id, 1) OVER w AS id1,
             lead(ts, 1) OVER w AS ts1,
             lead(event_type, 2) OVER w AS t2, lead(event_id, 2) OVER w AS id2,
             lead(ts, 2) OVER w AS ts2,
             lead(event_type, 3) OVER w AS t3, lead(event_id, 3) OVER w AS id3,
             lead(ts, 3) OVER w AS ts3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
    )
    SELECT user_id,
           id1 AS click_id, epoch_ms(ts1) AS click_ts, CAST(1 AS BIGINT) AS click_cnt,
           id2 AS view_id, epoch_ms(ts2) AS view_ts, CAST(1 AS BIGINT) AS view_cnt,
           id3 AS purchase_id, epoch_ms(ts3) AS purchase_ts,
           CAST(1 AS BIGINT) AS purchase_cnt
    FROM o
    WHERE event_type = 'error' AND t1 = 'click' AND t2 = 'view' AND t3 = 'purchase'
    UNION ALL
    SELECT user_id,
           NULL AS click_id, NULL AS click_ts, CAST(0 AS BIGINT) AS click_cnt,
           NULL AS view_id, NULL AS view_ts, CAST(0 AS BIGINT) AS view_cnt,
           id1 AS purchase_id, epoch_ms(ts1) AS purchase_ts,
           CAST(1 AS BIGINT) AS purchase_cnt
    FROM o
    WHERE event_type = 'error' AND t1 = 'purchase'
    """,
    tags=("streaming", "cep", "group"),
)
def cep_group_optional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optional-group gate (GroupPattern + Pattern.optional — all-or-
    nothing skip of the whole sub-sequence, which per-step optional cannot
    express: error NEXT [click NEXT view]? NEXT purchase. An error
    followed by click-without-view then purchase must NOT match — the
    taken path needs the full sub-sequence, the skip path (the twin the
    NFA forks on group entry — state-counted since r14, no enumerated
    variants) needs purchase immediately after error. The oracle's two
    arms mirror the two paths, NULL ids and cnt=0 marking the skipped
    group."""
    from proteus_engine_spark.streaming.cep import GroupPattern, match_group_pattern

    ev = load_table(spark, sf_dir, "events")
    g = (
        GroupPattern.begin(
            Pattern.begin("error", lambda r: r["event_type"] == "error")
        )
        .next(
            Pattern.begin("click", lambda r: r["event_type"] == "click")
            .next("view", lambda r: r["event_type"] == "view")
        ).optional()
        .next(Pattern.begin("purchase", lambda r: r["event_type"] == "purchase"))
    )
    return match_group_pattern(ev, g, "user_id").drop("error_id", "error_ts", "error_cnt")


@register(
    "stream_over_sql_dispatch",
    oracle="""
    WITH w AS (
      SELECT user_id, event_id, ts,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS total
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 3 PRECEDING AND CURRENT ROW))
    SELECT * FROM w
    WHERE epoch_ms(ts) < (SELECT max(epoch_ms(ts)) FROM events) - 600000
    """,
    tags=("streaming", "over", "sql"),
)
def stream_over_sql_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-surface dispatch gate for streaming OVER
    (DataStreamOverAggregate.scala:250-276 is a SQL planner rule — the
    user writes the OVER clause, the engine picks the stateful operator):
    the canonical text `SUM(value) OVER (PARTITION BY user_id ORDER BY ts
    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)` must parse, route to the
    bounded-rows operator, and produce the batch window's values (minus
    the watermark tail)."""
    from proteus_engine_spark.plans.stream_over_sql import stream_over_sql

    ev = events_stream(spark, sf_dir)
    out = stream_over_sql(
        ev,
        "SUM(value) OVER (PARTITION BY user_id ORDER BY ts "
        "ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)",
        alias="total",
    )
    return run_stream(out, "stream_over_sql_sink", sf_dir, "events")[0]


@register(
    "stream_over_running_range_peers",
    oracle="""
    WITH src AS (
      SELECT user_id, event_id, date_trunc('hour', ts) AS ts_h, value
      FROM events),
    w AS (
      SELECT user_id, event_id, ts_h,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER pw AS DOUBLE) AS running_sum,
             COUNT(*) OVER pw AS running_cnt
      FROM src
      WINDOW pw AS (PARTITION BY user_id ORDER BY ts_h
                    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT * FROM w
    WHERE epoch_ms(ts_h) <= (SELECT max(epoch_ms(ts)) FROM events) - 4200000
    """,
    tags=("streaming", "over"),
)
def stream_over_running_range_peers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peer-inclusive unbounded RANGE OVER gate
    (RowTimeUnboundedRangeOver vs RowTimeUnboundedRowsOver — the
    reference dispatches BOTH unbounded variants): event times truncated
    to the hour create real peer groups (several events per user-hour),
    and every peer must report the aggregate over its WHOLE group — the
    SQL default RANGE frame. The rows-variant would emit strictly
    increasing counts within a group and fail the oracle. Watermark delay
    10 minutes on the truncated times ⇒ the oracle cuts rows whose hour
    bucket is within 70 minutes of the raw max (the bucket can lag the
    raw timestamp by up to an hour)."""
    ev = events_stream(spark, sf_dir).select(
        "user_id", "event_id", F.date_trunc("hour", F.col("ts")).alias("ts_h"), "value"
    )
    out = running_over_agg(
        ev, "user_id", "ts_h", "value", frame="range", watermark_delay="10 minutes"
    )
    res, _ = run_stream(out, "stream_over_rrange_sink", sf_dir, "events")
    return res.select("user_id", "event_id", "ts_h", "running_sum", "running_cnt")


@register(
    "stream_window_all",
    oracle="""
    SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY 1
    """,
    tags=("streaming", "window"),
)
def stream_window_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-keyed windowed stream gate (DataStream.windowAll /
    AllWindowedStream.java — windows over the WHOLE stream, no key):
    1-hour tumbling windows with count/sum/distinct-users. The distinct
    count is stream-native two-stage (window×user pairs are the state
    keys, rolled up per window), so window parallelism survives even
    though the reference executes windowAll single-parallel — the Spark
    plan shards by (window, user) then reduces per window."""
    ev = events_stream(spark, sf_dir)
    pairs = windowed_agg(
        ev, "ts", "10 minutes", "1 hour", ["user_id"],
        [F.count(F.lit(1)).alias("pn"), dsum("value", "pv")],
    )
    out, _ = run_stream(
        pairs, "stream_window_all_sink", sf_dir, "events", output_mode="complete"
    )
    return (
        out.groupBy("window_start")
        .agg(
            F.sum("pn").alias("n"),
            F.sum(F.col("pv").cast("decimal(18,2)")).cast("double").alias("total_value"),
            F.count(F.lit(1)).alias("n_users"),
        )
    )


@register(
    "cep_skip_past_last_event",
    oracle="""
    WITH f AS (SELECT user_id, event_id, ts, event_type FROM events
               WHERE event_type IN ('signup', 'purchase')),
    seq AS (
      SELECT *, COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS seg
      FROM f),
    s AS (SELECT user_id, seg, event_id AS signup_id, epoch_ms(ts) AS signup_ts,
                 row_number() OVER (PARTITION BY user_id, seg
                                    ORDER BY epoch_ms(ts), event_id) AS j
          FROM seq WHERE event_type = 'signup'),
    p AS (SELECT user_id, seg, event_id AS purchase_id, epoch_ms(ts) AS purchase_ts
          FROM seq WHERE event_type = 'purchase')
    SELECT s.user_id, s.signup_id, s.signup_ts,
           unnest(generate_series(1, s.j)) AS signup_cnt,
           p.purchase_id, p.purchase_ts
    FROM s JOIN p ON s.user_id = p.user_id AND s.seg = p.seg
    """,
    tags=("streaming", "cep"),
)
def cep_skip_past_last_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AfterMatchSkipStrategy gate (nfa/AfterMatchSkipStrategy.java:61
    SKIP_PAST_LAST_EVENT): signup+ followedBy purchase — when a purchase
    emits its matches, every partial holding any of the consumed events
    dies, so signup runs never leak across a purchase: matches for
    purchase k cover exactly the signups since purchase k-1. The oracle
    partitions each user's events into purchase-delimited segments and
    enumerates, per segment, every (last-signup s_j, cnt 1..j) prefix
    against the segment's closing purchase — the no-skip extra matches
    (old branches extended with next-segment signups) would fail it."""
    ev = load_table(spark, sf_dir, "events")
    pat = (
        Pattern.begin("signup", lambda r: r["event_type"] == "signup",
                      expr="event_type = 'signup'")
        .one_or_more()
        .followed_by("purchase", lambda r: r["event_type"] == "purchase",
                     expr="event_type = 'purchase'")
        .after_match_skip("skip_past_last_event")
    )
    return match_pattern(ev, pat, key_col="user_id")


@register(
    "cep_stream_ooo",
    oracle="""
    WITH s AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'signup'),
         p AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
         pairs AS (
           SELECT s.user_id,
                  s.event_id AS signup_id, epoch_ms(s.ts) AS signup_ts,
                  p.event_id AS purchase_id, epoch_ms(p.ts) AS purchase_ts,
                  row_number() OVER (PARTITION BY s.user_id, s.event_id
                                     ORDER BY epoch_ms(p.ts), p.event_id) AS rn
           FROM s JOIN p
             ON s.user_id = p.user_id
            AND (epoch_ms(p.ts) > epoch_ms(s.ts) OR (epoch_ms(p.ts) = epoch_ms(s.ts) AND p.event_id > s.event_id))
            AND epoch_ms(p.ts) - epoch_ms(s.ts) <= 14400000
         )
    SELECT user_id, signup_id, signup_ts, purchase_id, purchase_ts
    FROM pairs
    WHERE rn = 1
      AND purchase_ts < (SELECT max(epoch_ms(ts)) FROM events
                         WHERE event_type IN ('signup', 'purchase')) - 18000000
    """,
    tags=("streaming", "cep"),
)
def cep_stream_ooo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time STREAMING CEP under out-of-order arrival
    (AbstractKeyedCEPPatternOperator row-time mode: elements buffer in
    keyed state and feed the NFA only when the watermark passes them):
    the pair-swapped-block replay delivers whole later blocks before
    earlier ones, yet the emitted matches must equal the batch NFA's —
    signup followedBy first purchase within 4 hours — because the
    buffer re-sequences releases into strict (ts, id) order per key.
    Oracle: the batch CEP equivalent minus matches completing inside the
    5h watermark tail (their purchase is never released). The watermark
    derives from the PREFILTERED stream (predicate pushdown runs below
    the watermark node), so the tail is measured from the last
    signup/purchase event — the same behavior a pre-filtered Flink CEP
    input has."""
    from proteus_engine_spark.streaming.cep import match_pattern_stream
    from proteus_engine_spark.streaming.sources import events_stream_ooo

    ev = events_stream_ooo(spark, sf_dir)
    pat = (
        Pattern.begin("signup", lambda r: r["event_type"] == "signup",
                      expr="event_type = 'signup'")
        .followed_by("purchase", lambda r: r["event_type"] == "purchase",
                     expr="event_type = 'purchase'")
        .within(14_400_000)
    )
    out = match_pattern_stream(ev, pat, key_col="user_id", watermark_delay="5 hours")
    return run_stream(out, "cep_stream_ooo_sink", sf_dir, "events")[0]


@register(
    "cep_stream_timeouts",
    oracle="""
    WITH s AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'signup'),
         p AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase')
    SELECT s.user_id, s.event_id AS signup_id, epoch_ms(s.ts) AS signup_ts,
           CAST(NULL AS BIGINT) AS purchase_id, CAST(NULL AS BIGINT) AS purchase_ts,
           epoch_ms(s.ts) + 600000 AS timeout_ts
    FROM s
    WHERE NOT EXISTS (
            SELECT 1 FROM p
            WHERE p.user_id = s.user_id
              AND (epoch_ms(p.ts) > epoch_ms(s.ts) OR (epoch_ms(p.ts) = epoch_ms(s.ts) AND p.event_id > s.event_id))
              AND epoch_ms(p.ts) - epoch_ms(s.ts) <= 600000)
      AND epoch_ms(s.ts) + 600000
          < (SELECT max(epoch_ms(ts)) FROM events
             WHERE event_type IN ('signup', 'purchase')) - 600000
    """,
    tags=("streaming", "cep", "timeout"),
)
def cep_stream_timeouts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CEP timeout side output (PatternStream.select with a
    timeout handler, PatternStream.java:301, on the row-time operator): a
    signup whose 10-minute window the WATERMARK closes without a purchase
    emits a timed-out partial — signup columns filled, purchase columns
    NULL, timeout_ts = window expiry. The oracle is the NOT EXISTS
    anti-join over the same window, cut at the final watermark — which
    derives from the PREFILTERED stream (pushdown runs below the
    watermark node), i.e. the last signup/purchase event. Windows still
    open at that watermark stay pending, exactly the reference's
    watermark-relative NFA cleanup."""
    from proteus_engine_spark.streaming.cep import match_pattern_stream

    ev = events_stream(spark, sf_dir)
    pat = (
        Pattern.begin("signup", lambda r: r["event_type"] == "signup",
                      expr="event_type = 'signup'")
        .followed_by("purchase", lambda r: r["event_type"] == "purchase",
                     expr="event_type = 'purchase'")
        .within(600_000)
    )
    out = match_pattern_stream(
        ev, pat, key_col="user_id", watermark_delay="10 minutes", output="timeouts"
    )
    return run_stream(out, "cep_stream_timeouts_sink", sf_dir, "events")[0]


@register(
    "stream_window_cogroup",
    oracle="""
    WITH c AS (SELECT user_id, time_bucket(INTERVAL 1 HOUR, ts) AS b,
                      event_id AS click_id
               FROM events WHERE event_type = 'click'),
         p AS (SELECT user_id, time_bucket(INTERVAL 1 HOUR, ts) AS b,
                      event_id AS purchase_id
               FROM events WHERE event_type = 'purchase'),
         wm AS (SELECT least(
                  (SELECT max(epoch_ms(ts)) FROM events WHERE event_type = 'click'),
                  (SELECT max(epoch_ms(ts)) FROM events WHERE event_type = 'purchase')
                ) - 600000 AS w)
    SELECT c.user_id, c.b AS window_start, c.click_id, p.purchase_id
    FROM c LEFT JOIN p ON c.user_id = p.user_id AND c.b = p.b
    WHERE p.purchase_id IS NOT NULL
       OR epoch_ms(c.b) + 3600000 <= (SELECT w FROM wm)
    """,
    tags=("streaming", "join", "cogroup"),
)
def stream_window_cogroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming windowed coGroup (DataStream.coGroup(...).where(...)
    .window(...) — CoGroupedStreams.java; the window join/coGroup shape):
    clicks and purchases co-grouped per (user, 1h tumbling window) with
    OUTER semantics — unmatched clicks surface with NULL purchase, the
    part a plain windowed join drops. Spark-first: a stream-stream LEFT
    OUTER join on (key, window) — Catalyst recognizes the window equality
    for state eviction; matched pairs append as they arrive, NULL rows
    emit once the joint watermark (min over both sides) closes their
    window. Oracle: the batch bucket left-join; NULL rows cut to windows
    closed by the final joint watermark."""
    ev = events_stream(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .withWatermark("ts", "10 minutes")
        .select(
            "user_id", F.window("ts", "1 hour").alias("w"),
            F.col("event_id").alias("click_id"),
        )
    )
    purch = (
        ev.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "10 minutes")
        .select(
            F.col("user_id").alias("p_user"), F.window("ts", "1 hour").alias("pw"),
            F.col("event_id").alias("purchase_id"),
        )
    )
    j = clicks.join(
        purch,
        (F.col("user_id") == F.col("p_user")) & (F.col("w") == F.col("pw")),
        "left_outer",
    )
    out = j.select(
        "user_id", F.col("w.start").alias("window_start"), "click_id", "purchase_id"
    )
    return run_stream(out, "stream_window_cogroup_sink", sf_dir, "events")[0]


@register(
    "stream_late_rows_observed",
    oracle=f"""
    WITH b AS (SELECT epoch_ms(ts) AS ms FROM events),
         bounds AS (SELECT min(ms) AS lo, max(ms) AS hi FROM b),
         cutv AS (SELECT lo + (hi - lo) * {LATE_CUT_PCT} // 100 AS cut, hi FROM bounds)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM b, cutv WHERE ms < cut)
             AS n_dropped,
           (SELECT CAST(count(*) AS BIGINT) FROM b, cutv
             WHERE ms >= cut AND ms < hi - 600000) AS n_released
    """,
    tags=("streaming", "late", "observability"),
)
def stream_late_rows_observed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data observability gate (WindowedStream.sideOutputLateData,
    WindowedStream.java:171): the staged replay delivers every pre-cut
    row AFTER the watermark has jumped past it; the event-time sort
    operator (applyInPandasWithState — Spark's late filter counts RAW
    input rows there, unlike windowed aggregation where the count is
    post-partial-agg groups) drops them all, and the drop count is read
    back from StreamingQueryProgress.stateOperators[]
    .numRowsDroppedByWatermark via the dropped_late_rows helper — the
    reference re-routes the same rows to a side output; Spark counts
    them. The oracle recomputes the drop count (every row below the
    LATE_CUT_PCT cut — the oracle literal is interpolated from that one
    constant) and the released on-time row count (strictly below the final
    watermark) from the batch table, so a replay that leaks late rows
    into the sort, or a metric that under/over-counts, both fail."""
    from proteus_engine_spark.sources.tables import from_rows
    from proteus_engine_spark.streaming.sources import (
        dropped_late_rows,
        events_stream_late,
    )

    ev = events_stream_late(spark, sf_dir)
    sorted_ev = event_time_sort(ev, "user_id", "ts")
    sink, progress = run_stream(sorted_ev, "stream_late_obs_sink", sf_dir, "events")
    n_dropped = dropped_late_rows(progress)
    n_released = sink.count()
    return from_rows(
        spark,
        [(int(n_dropped), int(n_released))],
        schema="n_dropped long, n_released long",
    )


@register(
    "stream_late_side_output",
    oracle=f"""
    WITH b AS (SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms
               FROM events),
         bounds AS (SELECT min(ts_ms) AS lo, max(ts_ms) AS hi FROM b),
         cutv AS (SELECT lo + (hi - lo) * {LATE_CUT_PCT} // 100 AS cut FROM bounds)
    SELECT event_id, user_id, event_type, ts_ms
    FROM b, cutv WHERE ts_ms < cut
    """,
    tags=("streaming", "late", "side-output"),
)
def stream_late_side_output(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE sideOutputLateData (WindowedStream.java:171): the reference
    re-routes the late ROWS to a side output; r8's gate only proved the
    COUNT. Here the self-watermarking splitter (streaming/late.py) runs
    ahead of the watermark declaration, tags each arrival against the
    frontier prior micro-batches established, and the late branch is
    returned row-by-row. The staged replay delivers every pre-cut row
    two batches after the watermark jumped past it; with delay = hi -
    cut the splitter frontier lands exactly on the cut, so the recovered
    side output must hash-match the batch-SQL late set — every event
    below the LATE_CUT_PCT cut, with full payload, not a count. Cut,
    oracle literal and staged split all derive from the one
    streaming.sources.LATE_CUT_PCT constant via late_cut_ms."""
    from proteus_engine_spark.streaming.late import side_output_late_data
    from proteus_engine_spark.streaming.sources import events_stream_late

    # The delay that puts the frontier exactly on the staged cut — the
    # same shared formula the staging used (late_cut_ms; driver-side,
    # two scalars off one column read).
    _lo, hi, cut = late_cut_ms(sf_dir)

    ev = events_stream_late(spark, sf_dir)
    _on_time, late = side_output_late_data(ev, "ts", delay_ms=hi - cut)
    out = late.select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
    )
    return run_stream(out, "stream_late_side_sink", sf_dir, "events")[0]


@register(
    "stream_late_side_output_partitioned",
    oracle=f"""
    WITH b AS (SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms,
                      user_id % 8 AS pk
               FROM events),
         bounds AS (SELECT min(ts_ms) AS lo, max(ts_ms) AS hi FROM b),
         cutv AS (SELECT lo + (hi - lo) * {LATE_CUT_PCT} // 100 AS cut, hi
                  FROM bounds),
         pmax AS (SELECT pk, max(ts_ms) AS pmax_ts
                  FROM b, cutv WHERE ts_ms >= cut GROUP BY pk)
    SELECT b.event_id, b.user_id, b.event_type, b.ts_ms
    FROM b JOIN pmax ON b.pk = pmax.pk CROSS JOIN cutv
    WHERE b.ts_ms < cut AND b.ts_ms < pmax.pmax_ts - (hi - cut)
    """,
    tags=("streaming", "late", "side-output", "partitioned"),
)
def stream_late_side_output_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sideOutputLateData in its PRODUCTION shape: the splitter keyed by
    a source-partition column (`user_id % 8` stands in for a Kafka
    partition id), one watermark frontier PER partition — exactly the
    reference's per-partition watermark before operator merge
    (BoundedOutOfOrdernessTimestampExtractor assigned per source
    partition; WindowedStream.java:171 for the side output itself).
    Unlike the global-key gate above, the frontier each late row is
    judged against is its own partition's running max minus the delay,
    so a partition whose on-time maximum is far below the global max
    recovers FEWER late rows — the oracle recomputes that per-partition
    verdict in SQL (pmax = per-pk on-time max; late iff
    ts < pmax - (hi - cut)), proving the parallel-frontier path, not
    just the single-task audit path. At cluster scale this is the mode
    to run: state is one timestamp per partition and the splitter
    parallelizes across partitions instead of serializing through one
    task."""
    from proteus_engine_spark.streaming.late import side_output_late_data
    from proteus_engine_spark.streaming.sources import events_stream_late

    _lo, hi, cut = late_cut_ms(sf_dir)
    ev = events_stream_late(spark, sf_dir).withColumn(
        "part_id", (F.col("user_id") % 8).cast("long")
    )
    _on_time, late = side_output_late_data(
        ev, "ts", delay_ms=hi - cut, partition_col="part_id"
    )
    out = late.select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
    )
    return run_stream(out, "stream_late_side_part_sink", sf_dir, "events")[0]


@register(
    "cep_group_unbounded_repeat",
    oracle="""
    WITH RECURSIVE seq AS (
      SELECT user_id, event_id, ts, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS rn
      FROM events),
    pairs AS (
      SELECT c.user_id, c.rn AS start_rn, v.rn AS end_rn,
             c.event_id AS last_click_id, c.ts AS last_click_ts,
             v.event_id AS last_view_id, v.ts AS last_view_ts, 1 AS r
      FROM seq c JOIN seq v ON v.user_id = c.user_id AND v.rn = c.rn + 1
      WHERE c.event_type = 'click' AND v.event_type = 'view'),
    rec AS (
      SELECT * FROM pairs
      UNION ALL
      SELECT rec.user_id, rec.start_rn, p.end_rn,
             p.last_click_id, p.last_click_ts,
             p.last_view_id, p.last_view_ts, rec.r + 1
      FROM rec JOIN pairs p
        ON p.user_id = rec.user_id AND p.start_rn = rec.end_rn + 1)
    SELECT user_id,
           last_click_id AS click_id, epoch_ms(last_click_ts) AS click_ts,
           CAST(r AS BIGINT) AS click_cnt,
           last_view_id AS view_id, epoch_ms(last_view_ts) AS view_ts,
           CAST(r AS BIGINT) AS view_cnt
    FROM rec
    """,
    tags=("streaming", "cep", "group"),
)
def cep_group_unbounded_repeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNBOUNDED group repetition gate (GroupPattern.java:42 — the
    reference carries the group repeat count in NFA state; no enumeration
    cap): (click NEXT view) repeated one-or-more times with strict
    chaining between repeats. The engine's state-counted loop wires the
    group's last step back to its first and emits a match per prefix —
    repeat counts as deep as the data's alternation runs actually go,
    which no finite variant expansion can promise. The oracle is a
    genuinely recursive CTE: adjacent (click, view) pairs extended
    per-repeat, reporting the LAST repeat's events and the repeat count,
    the exact repeat-stable schema match_group_pattern emits."""
    from proteus_engine_spark.streaming.cep import GroupPattern, match_group_pattern

    ev = load_table(spark, sf_dir, "events")
    sub = Pattern.begin(
        "click", lambda r: r["event_type"] == "click"
    ).next("view", lambda r: r["event_type"] == "view")
    g = GroupPattern.begin(sub).one_or_more().consecutive()
    return match_group_pattern(ev, g, "user_id")


@register(
    "cep_group_times_state",
    oracle="""
    WITH RECURSIVE seq AS (
      SELECT user_id, event_id, ts, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS rn
      FROM events),
    pairs AS (
      SELECT c.user_id, c.rn AS start_rn, v.rn AS end_rn,
             c.event_id AS click_eid, c.ts AS click_t,
             v.event_id AS view_eid, v.ts AS view_t
      FROM seq c JOIN seq v ON v.user_id = c.user_id AND v.rn = c.rn + 1
      WHERE c.event_type = 'click' AND v.event_type = 'view'),
    nxt AS (
      SELECT p.user_id, p.end_rn,
             (SELECT min(c.rn) FROM seq c
              WHERE c.user_id = p.user_id AND c.rn > p.end_rn
                AND c.event_type = 'click') AS next_click_rn
      FROM pairs p),
    rec AS (
      SELECT user_id, start_rn, end_rn, click_eid, click_t, view_eid, view_t,
             1 AS r
      FROM pairs
      UNION ALL
      SELECT rec.user_id, rec.start_rn, p.end_rn,
             p.click_eid, p.click_t, p.view_eid, p.view_t, rec.r + 1
      FROM rec
      JOIN nxt ON nxt.user_id = rec.user_id AND nxt.end_rn = rec.end_rn
      JOIN pairs p ON p.user_id = rec.user_id
                  AND p.start_rn = nxt.next_click_rn
      WHERE rec.r < 3)
    SELECT user_id,
           click_eid AS click_id, epoch_ms(click_t) AS click_ts,
           CAST(3 AS BIGINT) AS click_cnt,
           view_eid AS view_id, epoch_ms(view_t) AS view_ts,
           CAST(3 AS BIGINT) AS view_cnt
    FROM rec WHERE r = 3
    """,
    tags=("streaming", "cep", "group"),
)
def cep_group_times_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATE-COUNTED group times(n) gate (r14, GroupPattern.java:42's
    uniform quantifiers — the r13 verdict's last CEP semantics delta):
    (click NEXT view) repeated exactly THREE times with RELAXED chaining
    between repeats. The repeat count rides in NFA state (the
    cep_group_unbounded_repeat loop) and the group exits ONLY at exactly
    n — no per-prefix matches, no enumerated step-sequence variants.
    Relaxed between-repeat semantics are deterministic: the loop-back
    partial consumes the FIRST click after the previous repeat's view,
    and dies if that click is not immediately followed by a view (strict
    inner step) — so the oracle's recursive CTE chains each pair to the
    pair starting at the next click rn (NULL-joined away when that click
    is unpaired), emitting depth-3 chains only, with the LAST repeat's
    events and cnt 3, the repeat-stable schema match_group_pattern
    emits."""
    from proteus_engine_spark.streaming.cep import GroupPattern, match_group_pattern

    ev = load_table(spark, sf_dir, "events")
    sub = Pattern.begin(
        "click", lambda r: r["event_type"] == "click"
    ).next("view", lambda r: r["event_type"] == "view")
    g = GroupPattern.begin(sub).times(3)
    return match_group_pattern(ev, g, "user_id")


@register(
    "cep_group_times_range",
    oracle="""
    WITH RECURSIVE seq AS (
      SELECT user_id, event_id, ts, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS rn
      FROM events),
    pairs AS (
      SELECT c.user_id, c.rn AS start_rn, v.rn AS end_rn,
             c.event_id AS click_eid, c.ts AS click_t,
             v.event_id AS view_eid, v.ts AS view_t
      FROM seq c JOIN seq v ON v.user_id = c.user_id AND v.rn = c.rn + 1
      WHERE c.event_type = 'click' AND v.event_type = 'view'),
    nxt AS (
      SELECT p.user_id, p.end_rn,
             (SELECT min(c.rn) FROM seq c
              WHERE c.user_id = p.user_id AND c.rn > p.end_rn
                AND c.event_type = 'click') AS next_click_rn
      FROM pairs p),
    rec AS (
      SELECT user_id, start_rn, end_rn, click_eid, click_t, view_eid, view_t,
             1 AS r
      FROM pairs
      UNION ALL
      SELECT rec.user_id, rec.start_rn, p.end_rn,
             p.click_eid, p.click_t, p.view_eid, p.view_t, rec.r + 1
      FROM rec
      JOIN nxt ON nxt.user_id = rec.user_id AND nxt.end_rn = rec.end_rn
      JOIN pairs p ON p.user_id = rec.user_id
                  AND p.start_rn = nxt.next_click_rn
      WHERE rec.r < 3)
    SELECT user_id,
           click_eid AS click_id, epoch_ms(click_t) AS click_ts,
           CAST(r AS BIGINT) AS click_cnt,
           view_eid AS view_id, epoch_ms(view_t) AS view_ts,
           CAST(r AS BIGINT) AS view_cnt
    FROM rec WHERE r IN (2, 3)
    """,
    tags=("streaming", "cep", "group"),
)
def cep_group_times_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GroupPattern times RANGE gate (r15 — Pattern.times(int from,
    int to), the reference's range overload, applied to a group): (click
    NEXT view) repeated between TWO and THREE times with relaxed
    chaining. Same single state-counted NFA as cep_group_times_state —
    the range just splits floor from cap (loop while count < to, exit at
    every count >= from), so a match emits per depth in [2, 3] with that
    depth's last repeat and count. The oracle is the times_state
    recursive CTE emitting r IN (2, 3) instead of r = 3 — per-prefix
    rows above the floor, the per-depth chain discipline
    cep_group_stream_unbounded established."""
    from proteus_engine_spark.streaming.cep import GroupPattern, match_group_pattern

    ev = load_table(spark, sf_dir, "events")
    sub = Pattern.begin(
        "click", lambda r: r["event_type"] == "click"
    ).next("view", lambda r: r["event_type"] == "view")
    g = GroupPattern.begin(sub).times(2, to=3)
    return match_group_pattern(ev, g, "user_id")


@register(
    "cep_group_inner_quantifier",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, ts, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS rn
      FROM events),
    clk AS (
      SELECT user_id, event_id, ts, rn,
             row_number() OVER (PARTITION BY user_id ORDER BY rn) AS cs
      FROM seq WHERE event_type = 'click'),
    vw AS (SELECT user_id, event_id, ts, rn FROM seq WHERE event_type = 'view'),
    rep1 AS (
      SELECT a1.user_id,
             (SELECT min(v.rn) FROM vw v
              WHERE v.user_id = a1.user_id AND v.rn > a2.rn) AS v1_rn
      FROM clk a1 JOIN clk a2 ON a2.user_id = a1.user_id AND a2.cs = a1.cs + 1),
    loop2 AS (
      SELECT r.user_id, c1.cs AS b1_cs
      FROM rep1 r JOIN clk c1
        ON c1.user_id = r.user_id
       AND c1.rn = (SELECT min(c.rn) FROM clk c
                    WHERE c.user_id = r.user_id AND c.rn > r.v1_rn)
      WHERE r.v1_rn IS NOT NULL),
    fin AS (
      SELECT l.user_id, b2.event_id AS click_eid, b2.ts AS click_t,
             w.event_id AS view_eid, w.ts AS view_t
      FROM loop2 l
      JOIN clk b2 ON b2.user_id = l.user_id AND b2.cs = l.b1_cs + 1
      JOIN vw w ON w.user_id = l.user_id
               AND w.rn = (SELECT min(v.rn) FROM vw v
                           WHERE v.user_id = l.user_id AND v.rn > b2.rn))
    SELECT user_id,
           click_eid AS click_id, epoch_ms(click_t) AS click_ts,
           CAST(2 AS BIGINT) AS click_cnt, CAST(2 AS BIGINT) AS click_icnt,
           view_eid AS view_id, epoch_ms(view_t) AS view_ts,
           CAST(2 AS BIGINT) AS view_cnt
    FROM fin
    """,
    tags=("streaming", "cep", "group"),
)
def cep_group_inner_quantifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantified INNER step inside a quantified group (r16 —
    GroupPattern.java:30/33: the group body is a full Pattern, NFACompiler
    compiles groups recursively, so inner states can themselves be loops):
    (click.times(2) followedBy view).times(2). The inner times(2) count
    rides the partial's own counter, the group count rides NFA state
    (__gcnt__), and a group loop-back resets the inner counter — nested
    state-counted loops, one compiled pattern, one shuffle on the key.

    Both quantifiers are exact, so the consume-first chain is fully
    deterministic and the oracle enumerates it without recursion: per
    anchor click, the inner repeat consumes the NEXT click (relaxed inner
    repeats) then the first view after it; the second group repeat starts
    at the first click after that view. Every click anchors a partial, so
    converging chains legitimately emit duplicate projected rows on both
    engines (only the last repeat's events are projected). Output pins
    the new dual-count schema: click_cnt = group repeats (2), click_icnt
    = inner count within the last repeat (2). Nested-loop semantics
    property-tested against a brute-force chain model in
    tests/test_round16.py."""
    from proteus_engine_spark.streaming.cep import GroupPattern, match_group_pattern

    ev = load_table(spark, sf_dir, "events")
    sub = Pattern.begin(
        "click", lambda r: r["event_type"] == "click"
    ).times(2).followed_by("view", lambda r: r["event_type"] == "view")
    g = GroupPattern.begin(sub).times(2)
    return match_group_pattern(ev, g, "user_id")


@register(
    "cep_group_inner_optional",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, ts, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS rn
      FROM events),
    clk AS (SELECT user_id, event_id, ts, rn FROM seq WHERE event_type = 'click'),
    err AS (SELECT user_id, event_id, ts, rn FROM seq WHERE event_type = 'error'),
    vw  AS (SELECT user_id, event_id, ts, rn FROM seq WHERE event_type = 'view'),
    r1 AS (
      SELECT a.user_id, a.rn AS c_rn,
             (SELECT min(v.rn) FROM vw v WHERE v.user_id = a.user_id
                AND v.rn > (SELECT min(e.rn) FROM err e
                            WHERE e.user_id = a.user_id AND e.rn > a.rn)) AS v_rn
      FROM clk a
      WHERE (SELECT min(e.rn) FROM err e
             WHERE e.user_id = a.user_id AND e.rn > a.rn) IS NOT NULL
      UNION ALL
      SELECT a.user_id, a.rn,
             (SELECT min(v.rn) FROM vw v
              WHERE v.user_id = a.user_id AND v.rn > a.rn)
      FROM clk a),
    c2 AS (
      SELECT r.user_id, c.rn AS c_rn, c.event_id AS c_eid, c.ts AS c_ts
      FROM r1 r JOIN clk c
        ON c.user_id = r.user_id
       AND c.rn = (SELECT min(x.rn) FROM clk x
                   WHERE x.user_id = r.user_id AND x.rn > r.v_rn)
      WHERE r.v_rn IS NOT NULL),
    fin AS (
      SELECT c.user_id, c.c_eid AS click_eid, c.c_ts AS click_t,
             e.event_id AS err_eid, e.ts AS err_t, 1 AS took,
             w.event_id AS view_eid, w.ts AS view_t
      FROM c2 c
      JOIN err e ON e.user_id = c.user_id
                AND e.rn = (SELECT min(x.rn) FROM err x
                            WHERE x.user_id = c.user_id AND x.rn > c.c_rn)
      JOIN vw w ON w.user_id = c.user_id
               AND w.rn = (SELECT min(v.rn) FROM vw v
                           WHERE v.user_id = c.user_id AND v.rn > e.rn)
      UNION ALL
      SELECT c.user_id, c.c_eid, c.c_ts,
             NULL, NULL, 0,
             w.event_id, w.ts
      FROM c2 c
      JOIN vw w ON w.user_id = c.user_id
               AND w.rn = (SELECT min(v.rn) FROM vw v
                           WHERE v.user_id = c.user_id AND v.rn > c.c_rn))
    SELECT user_id,
           click_eid AS click_id, epoch_ms(click_t) AS click_ts,
           CAST(2 AS BIGINT) AS click_cnt,
           err_eid AS error_id, epoch_ms(err_t) AS error_ts,
           CAST(2 AS BIGINT) AS error_cnt,
           CASE WHEN took = 1 THEN CAST(1 AS BIGINT) END AS error_icnt,
           view_eid AS view_id, epoch_ms(view_t) AS view_ts,
           CAST(2 AS BIGINT) AS view_cnt
    FROM fin
    """,
    tags=("streaming", "cep", "group"),
)
def cep_group_inner_optional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERIOR optional inner step inside a quantified group (r16, the
    second recursive-compilation increment after counting quantifiers):
    (click followedBy error? followedBy view).times(2). Each repeat
    independently forks take/skip on entering the optional step
    (fork-on-entry, per repeat), and loop-backs CLEAR the optional
    step's entry so the projected columns reflect the LAST repeat only
    (NULL error ids + NULL error_icnt when the final repeat skipped;
    error_cnt stays the group count). Take and skip branches that
    converge on the same view legitimately emit duplicate projected rows
    on both engines. The oracle enumerates the 2x2 take/skip paths as a
    UNION ALL of deterministic scalar-subquery chains; semantics
    property-tested vs a brute-force fork model in tests/test_round16.py
    (incl. the stale-entry pin)."""
    from proteus_engine_spark.streaming.cep import GroupPattern, match_group_pattern

    ev = load_table(spark, sf_dir, "events")
    sub = (
        Pattern.begin("click", lambda r: r["event_type"] == "click")
        .followed_by("error", lambda r: r["event_type"] == "error").optional()
        .followed_by("view", lambda r: r["event_type"] == "view")
    )
    g = GroupPattern.begin(sub).times(2)
    return match_group_pattern(ev, g, "user_id")


_TAIL_OPTIONAL_ORACLE = """
    WITH seq AS (
      SELECT user_id, event_id, ts, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS rn
      FROM events),
    clk AS (SELECT user_id, event_id, ts, rn FROM seq WHERE event_type = 'click'),
    pur AS (SELECT user_id, event_id, ts, rn FROM seq WHERE event_type = 'purchase'),
    r1 AS (
      SELECT a.user_id, p.rn AS end_rn
      FROM clk a JOIN pur p
        ON p.user_id = a.user_id
       AND p.rn = (SELECT min(x.rn) FROM pur x
                   WHERE x.user_id = a.user_id AND x.rn > a.rn)
      UNION ALL
      SELECT a.user_id, a.rn FROM clk a),
    c2 AS (
      SELECT r.user_id, c.rn AS c_rn, c.event_id AS c_eid, c.ts AS c_ts
      FROM r1 r JOIN clk c
        ON c.user_id = r.user_id
       AND c.rn = (SELECT min(x.rn) FROM clk x
                   WHERE x.user_id = r.user_id AND x.rn > r.end_rn)),
    fin AS (
      SELECT c.user_id, c.c_eid AS click_eid, c.c_ts AS click_t,
             p.event_id AS pur_eid, p.ts AS pur_t, 1 AS took
      FROM c2 c JOIN pur p
        ON p.user_id = c.user_id
       AND p.rn = (SELECT min(x.rn) FROM pur x
                   WHERE x.user_id = c.user_id AND x.rn > c.c_rn)
      UNION ALL
      SELECT c.user_id, c.c_eid, c.c_ts, NULL, NULL, 0 FROM c2 c)
    SELECT user_id,
           click_eid AS click_id, epoch_ms(click_t) AS click_ts,
           CAST(2 AS BIGINT) AS click_cnt,
           pur_eid AS purchase_id, epoch_ms(pur_t) AS purchase_ts,
           CAST(2 AS BIGINT) AS purchase_cnt,
           CASE WHEN took = 1 THEN CAST(1 AS BIGINT) END AS purchase_icnt
    FROM fin
"""


@register(
    "cep_group_tail_optional",
    oracle=_TAIL_OPTIONAL_ORACLE,
    tags=("streaming", "cep", "group"),
)
def cep_group_tail_optional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """optional() on a quantified group's TAIL step (r17 — the remaining
    quantified-tail placement after the allowCombinations lift; the
    reference's recursive group compilation, GroupPattern.java:30,
    imposes no such restriction): (click followedBy purchase?).times(2).
    A repeat may end right after its click — the skip twin forked on
    entering the optional tail routes through exit_step, closing the
    group repeat instead of bypassing the loop wiring; loop-backs clear
    the optional entry so projected columns are the LAST repeat's (NULL
    purchase ids + NULL purchase_icnt when the final repeat skipped).
    Take and skip paths that converge on the same events legitimately
    emit duplicate projected rows on both engines. The oracle enumerates
    the 2x2 take/skip paths as UNION ALL deterministic scalar-subquery
    chains (the cep_group_inner_optional discipline moved to the tail);
    semantics property-tested vs a brute-force fork model in
    tests/test_round17.py, including the loop-back stale-entry pin and
    composition with a counting interior step."""
    from proteus_engine_spark.streaming.cep import GroupPattern, match_group_pattern

    ev = load_table(spark, sf_dir, "events")
    sub = (
        Pattern.begin("click", lambda r: r["event_type"] == "click")
        .followed_by("purchase", lambda r: r["event_type"] == "purchase")
        .optional()
    )
    g = GroupPattern.begin(sub).times(2)
    return match_group_pattern(ev, g, "user_id")


@register(
    "cep_group_tail_optional_stream",
    oracle=_TAIL_OPTIONAL_ORACLE + """
    WHERE coalesce(epoch_ms(pur_t), epoch_ms(click_t))
          < (SELECT max(epoch_ms(ts)) FROM events) - 600000
    """,
    tags=("streaming", "cep", "group"),
)
def cep_group_tail_optional_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING tail-optional group: the cep_group_tail_optional pattern
    on the watermark-buffered row-time NFA (the reference compiles group
    patterns into the same keyed CEP operator it runs on streams, so the
    placement is not batch-only here either). A SKIPPED tail completes
    its match on the click itself, a taken tail on the purchase — so the
    watermark cut trims matches whose COMPLETING event (purchase when
    taken, else the click) falls in the unreleased 10-minute tail:
    coalesce(purchase_ts, click_ts) bounds the oracle."""
    from proteus_engine_spark.streaming.cep import (
        GroupPattern,
        match_group_pattern_stream,
    )

    ev = events_stream(spark, sf_dir)
    sub = (
        Pattern.begin("click", lambda r: r["event_type"] == "click")
        .followed_by("purchase", lambda r: r["event_type"] == "purchase")
        .optional()
    )
    g = GroupPattern.begin(sub).times(2)
    out = match_group_pattern_stream(
        ev, g, "user_id", watermark_delay="10 minutes"
    )
    return run_stream(out, "cep_group_tail_opt_sink", sf_dir, "events")[0]


@register(
    "cep_group_inner_combinations",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, ts, event_type, value,
             row_number() OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS rn
      FROM events),
    hclk AS (
      SELECT user_id, event_id, ts, rn,
             row_number() OVER (PARTITION BY user_id ORDER BY rn) AS cs
      FROM seq WHERE event_type = 'click' AND value > 100),
    vw AS (SELECT user_id, event_id, ts, rn FROM seq WHERE event_type = 'view'),
    rep1 AS (
      SELECT a.user_id,
             CASE WHEN l1.cs = a.cs THEN 1
                  ELSE CAST(power(2, l1.cs - a.cs - 1) AS BIGINT) END AS mult1,
             (SELECT min(v.rn) FROM vw v
              WHERE v.user_id = a.user_id AND v.rn > l1.rn) AS v1_rn
      FROM hclk a JOIN hclk l1
        ON l1.user_id = a.user_id AND l1.cs >= a.cs),
    hop AS (
      SELECT r.user_id, r.mult1, c2.rn AS c2_rn, c2.cs AS c2_cs
      FROM rep1 r JOIN hclk c2
        ON c2.user_id = r.user_id
       AND c2.rn = (SELECT min(c.rn) FROM hclk c
                    WHERE c.user_id = r.user_id AND c.rn > r.v1_rn)
      WHERE r.v1_rn IS NOT NULL),
    rep2x AS (
      SELECT h.user_id, h.mult1, l2.rn AS l2_rn, l2.cs - h.c2_cs AS span,
             l2.event_id AS click_eid, l2.ts AS click_t,
             unnest(CASE WHEN l2.cs = h.c2_cs THEN [CAST(1 AS BIGINT)]
                         ELSE generate_series(CAST(2 AS BIGINT),
                                              l2.cs - h.c2_cs + 1) END) AS icnt
      FROM hop h
      JOIN hclk l2 ON l2.user_id = h.user_id AND l2.cs >= h.c2_cs),
    rep2 AS (
      SELECT user_id, mult1, l2_rn, click_eid, click_t, icnt,
             CASE WHEN span = 0 THEN 1
                  ELSE CAST(factorial(CAST(span - 1 AS INTEGER))
                       / (factorial(CAST(icnt - 2 AS INTEGER))
                          * factorial(CAST(span - icnt + 1 AS INTEGER)))
                       AS BIGINT) END AS mult2
      FROM rep2x),
    fin AS (
      SELECT r.user_id, r.click_eid, r.click_t, r.icnt,
             r.mult1 * r.mult2 AS mult,
             w.event_id AS view_eid, w.ts AS view_t
      FROM rep2 r JOIN vw w
        ON w.user_id = r.user_id
       AND w.rn = (SELECT min(v.rn) FROM vw v
                   WHERE v.user_id = r.user_id AND v.rn > r.l2_rn)),
    expanded AS (
      SELECT user_id, click_eid, click_t, icnt, view_eid, view_t,
             unnest(generate_series(1, mult)) AS rep
      FROM fin)
    SELECT user_id,
           click_eid AS click_id, epoch_ms(click_t) AS click_ts,
           CAST(2 AS BIGINT) AS click_cnt, CAST(icnt AS BIGINT) AS click_icnt,
           view_eid AS view_id, epoch_ms(view_t) AS view_ts,
           CAST(2 AS BIGINT) AS view_cnt
    FROM expanded
    """,
    tags=("streaming", "cep", "group"),
)
def cep_group_inner_combinations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """allowCombinations on an INNER loop of a quantified group (r17 —
    the last documented CEP inner-step delta; Pattern.java:347 composes
    with any loop step and GroupPattern.java:30's recursive compilation
    imposes no inner-step restriction): (hclick.oneOrMore()
    .allowCombinations() followedBy view).times(2), where hclick =
    click with value > 100. Within each group repeat the loop's FIRST
    event stays pinned (entry contiguity for the anchor repeat,
    skip-till-next for loop-back repeats) and every LATER qualifying
    click is independently taken or skipped — each subset is a distinct
    NFA branch, so the match MULTISET carries binomial multiplicities:
    2^(middle clicks) per (anchor, last) pair in repeat 1 (all middles
    free) x C(middle, icnt-2) per (first, last, icnt) in repeat 2 (the
    projected repeat pins its size). The oracle enumerates exactly that
    with factorial/power arithmetic and unnest(generate_series(1, mult))
    replication — the cep_allow_combinations discipline nested under the
    group chain. The value > 100 slice bounds qualifying clicks per user
    (<= 7 at sf0.1), keeping the inherent exponential branch growth —
    the reference carries the same warning — data-bounded on both
    engines. Subset semantics property-tested against brute-force
    enumerations (interior AND tail placements) in
    tests/test_round17.py."""
    from proteus_engine_spark.streaming.cep import GroupPattern, match_group_pattern

    ev = load_table(spark, sf_dir, "events")
    sub = (
        Pattern.begin(
            "click",
            lambda r: r["event_type"] == "click" and r["value"] is not None
            and r["value"] > 100,
        )
        .one_or_more()
        .allow_combinations()
        .followed_by("view", lambda r: r["event_type"] == "view")
    )
    g = GroupPattern.begin(sub).times(2)
    return match_group_pattern(ev, g, "user_id")


@register(
    "cep_group_inner_negation",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, ts, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS rn
      FROM events),
    clk AS (SELECT user_id, event_id, ts, rn FROM seq WHERE event_type = 'click'),
    vw  AS (SELECT user_id, event_id, ts, rn FROM seq WHERE event_type = 'view'),
    er  AS (SELECT user_id, rn FROM seq WHERE event_type = 'error'),
    r1 AS (
      SELECT a.user_id, a.rn AS c_rn,
             (SELECT min(v.rn) FROM vw v
              WHERE v.user_id = a.user_id AND v.rn > a.rn) AS v_rn
      FROM clk a),
    ok1 AS (
      SELECT user_id, c_rn, v_rn FROM r1
      WHERE v_rn IS NOT NULL
        AND NOT EXISTS (SELECT 1 FROM er e
                        WHERE e.user_id = r1.user_id
                          AND e.rn > r1.c_rn AND e.rn < r1.v_rn)),
    c2 AS (
      SELECT o.user_id, c.rn AS c_rn, c.event_id AS c_eid, c.ts AS c_ts
      FROM ok1 o JOIN clk c
        ON c.user_id = o.user_id
       AND c.rn = (SELECT min(x.rn) FROM clk x
                   WHERE x.user_id = o.user_id AND x.rn > o.v_rn)),
    r2 AS (
      SELECT c.user_id, c.c_rn, c.c_eid, c.c_ts,
             (SELECT min(v.rn) FROM vw v
              WHERE v.user_id = c.user_id AND v.rn > c.c_rn) AS v_rn
      FROM c2 c),
    fin AS (
      SELECT r.user_id, r.c_eid, r.c_ts, w.event_id AS v_eid, w.ts AS v_ts
      FROM r2 r JOIN vw w ON w.user_id = r.user_id AND w.rn = r.v_rn
      WHERE NOT EXISTS (SELECT 1 FROM er e
                        WHERE e.user_id = r.user_id
                          AND e.rn > r.c_rn AND e.rn < r.v_rn))
    SELECT user_id,
           c_eid AS click_id, epoch_ms(c_ts) AS click_ts,
           CAST(2 AS BIGINT) AS click_cnt,
           v_eid AS view_id, epoch_ms(v_ts) AS view_ts,
           CAST(2 AS BIGINT) AS view_cnt
    FROM fin
    """,
    tags=("streaming", "cep", "group"),
)
def cep_group_inner_negation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERIOR negation inside a quantified group (r16, the third
    recursive-compilation increment): (click notFollowedBy error
    followedBy view).times(2) — a clean session-pair funnel where each
    repeat individually forbids an error between its click and its view,
    and the guard re-arms every repeat. An error arriving first kills
    that repeat's partial; negative steps never consume, so they
    contribute no match columns. The oracle chains two guarded repeats
    with NOT EXISTS error-between windows (deterministic consume-first
    scalar subqueries); semantics property-tested vs brute-force guard
    models for BOTH notFollowedBy and notNext in tests/test_round16.py."""
    from proteus_engine_spark.streaming.cep import GroupPattern, match_group_pattern

    ev = load_table(spark, sf_dir, "events")
    sub = (
        Pattern.begin("click", lambda r: r["event_type"] == "click")
        .not_followed_by("error", lambda r: r["event_type"] == "error")
        .followed_by("view", lambda r: r["event_type"] == "view")
    )
    g = GroupPattern.begin(sub).times(2)
    return match_group_pattern(ev, g, "user_id")


@register(
    "cep_group_inner_quantifier_stream",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, ts, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS rn
      FROM events),
    clk AS (
      SELECT user_id, event_id, ts, rn,
             row_number() OVER (PARTITION BY user_id ORDER BY rn) AS cs
      FROM seq WHERE event_type = 'click'),
    vw AS (SELECT user_id, event_id, ts, rn FROM seq WHERE event_type = 'view'),
    rep1 AS (
      SELECT a1.user_id,
             (SELECT min(v.rn) FROM vw v
              WHERE v.user_id = a1.user_id AND v.rn > a2.rn) AS v1_rn
      FROM clk a1 JOIN clk a2 ON a2.user_id = a1.user_id AND a2.cs = a1.cs + 1),
    loop2 AS (
      SELECT r.user_id, c1.cs AS b1_cs
      FROM rep1 r JOIN clk c1
        ON c1.user_id = r.user_id
       AND c1.rn = (SELECT min(c.rn) FROM clk c
                    WHERE c.user_id = r.user_id AND c.rn > r.v1_rn)
      WHERE r.v1_rn IS NOT NULL),
    fin AS (
      SELECT l.user_id, b2.event_id AS click_eid, b2.ts AS click_t,
             w.event_id AS view_eid, w.ts AS view_t
      FROM loop2 l
      JOIN clk b2 ON b2.user_id = l.user_id AND b2.cs = l.b1_cs + 1
      JOIN vw w ON w.user_id = l.user_id
               AND w.rn = (SELECT min(v.rn) FROM vw v
                           WHERE v.user_id = l.user_id AND v.rn > b2.rn))
    SELECT user_id,
           click_eid AS click_id, epoch_ms(click_t) AS click_ts,
           CAST(2 AS BIGINT) AS click_cnt, CAST(2 AS BIGINT) AS click_icnt,
           view_eid AS view_id, epoch_ms(view_t) AS view_ts,
           CAST(2 AS BIGINT) AS view_cnt
    FROM fin
    WHERE epoch_ms(view_t) < (SELECT max(epoch_ms(ts)) FROM events) - 600000
    """,
    tags=("streaming", "cep", "group"),
)
def cep_group_inner_quantifier_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING nested group loops: the cep_group_inner_quantifier
    pattern — (click.times(2) followedBy view).times(2) — on the
    watermark-buffered row-time NFA (the reference's NFACompiler output
    runs on AbstractKeyedCEPPatternOperator regardless of nesting, so
    inner-quantified groups are not batch-only there and aren't here:
    the compiled pattern reuses match_pattern_stream unchanged). A match
    emits when the watermark confirms its completing view, so the oracle
    is the batch deterministic-chain set minus the 10-minute watermark
    tail on the completing event (the cep_group_stream_unbounded cut)."""
    from proteus_engine_spark.streaming.cep import (
        GroupPattern,
        match_group_pattern_stream,
    )

    ev = events_stream(spark, sf_dir)
    sub = Pattern.begin(
        "click", lambda r: r["event_type"] == "click"
    ).times(2).followed_by("view", lambda r: r["event_type"] == "view")
    g = GroupPattern.begin(sub).times(2)
    out = match_group_pattern_stream(
        ev, g, "user_id", watermark_delay="10 minutes"
    )
    return run_stream(out, "cep_group_inner_quant_sink", sf_dir, "events")[0]


@register(
    "cep_group_stream_unbounded",
    oracle="""
    WITH RECURSIVE seq AS (
      SELECT user_id, event_id, ts, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS rn
      FROM events),
    pairs AS (
      SELECT c.user_id, c.rn AS start_rn, v.rn AS end_rn,
             c.event_id AS last_click_id, c.ts AS last_click_ts,
             v.event_id AS last_view_id, v.ts AS last_view_ts, 1 AS r
      FROM seq c JOIN seq v ON v.user_id = c.user_id AND v.rn = c.rn + 1
      WHERE c.event_type = 'click' AND v.event_type = 'view'),
    rec AS (
      SELECT * FROM pairs
      UNION ALL
      SELECT rec.user_id, rec.start_rn, p.end_rn,
             p.last_click_id, p.last_click_ts,
             p.last_view_id, p.last_view_ts, rec.r + 1
      FROM rec JOIN pairs p
        ON p.user_id = rec.user_id AND p.start_rn = rec.end_rn + 1)
    SELECT user_id,
           last_click_id AS click_id, epoch_ms(last_click_ts) AS click_ts,
           CAST(r AS BIGINT) AS click_cnt,
           last_view_id AS view_id, epoch_ms(last_view_ts) AS view_ts,
           CAST(r AS BIGINT) AS view_cnt
    FROM rec
    WHERE epoch_ms(last_view_ts) < (SELECT max(epoch_ms(ts)) FROM events) - 600000
    """,
    tags=("streaming", "cep", "group"),
)
def cep_group_stream_unbounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING unbounded group repetition (the reference compiles group
    patterns into the same keyed CEP operator it runs on streams —
    NFACompiler + AbstractKeyedCEPPatternOperator — so groups are not
    batch-only): (click NEXT view) one-or-more with strict chaining, the
    state-counted loop riding the watermark-buffered row-time NFA. A
    match emits when the watermark releases its final view event, so the
    oracle is the batch recursive-CTE match set minus the 10-minute
    watermark tail on the completing event."""
    from proteus_engine_spark.streaming.cep import (
        GroupPattern,
        match_group_pattern_stream,
    )

    ev = events_stream(spark, sf_dir)
    sub = Pattern.begin(
        "click", lambda r: r["event_type"] == "click"
    ).next("view", lambda r: r["event_type"] == "view")
    g = GroupPattern.begin(sub).one_or_more().consecutive()
    out = match_group_pattern_stream(
        ev, g, "user_id", watermark_delay="10 minutes"
    )
    return run_stream(out, "cep_group_stream_sink", sf_dir, "events")[0]


@register(
    "cep_group_allow_combinations",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, ts, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS rn
      FROM events),
    pairs AS (
      SELECT c.user_id, c.rn AS start_rn, v.rn AS end_rn,
             c.event_id AS click_eid, c.ts AS click_t,
             v.event_id AS view_eid, v.ts AS view_t
      FROM seq c JOIN seq v ON v.user_id = c.user_id AND v.rn = c.rn + 1
      WHERE c.event_type = 'click' AND v.event_type = 'view')
    SELECT p2.user_id,
           p2.click_eid AS click_id, epoch_ms(p2.click_t) AS click_ts,
           CAST(2 AS BIGINT) AS click_cnt,
           p2.view_eid AS view_id, epoch_ms(p2.view_t) AS view_ts,
           CAST(2 AS BIGINT) AS view_cnt
    FROM pairs p1 JOIN pairs p2
      ON p2.user_id = p1.user_id AND p2.start_rn > p1.end_rn
    """,
    tags=("streaming", "cep", "group"),
)
def cep_group_allow_combinations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GroupPattern.allow_combinations driver gate (r15 — Pattern.java:347's
    allowCombinations applied to a quantified GROUP, the between-repeat
    strategy the r15 followedByAny-fork fix made opt-in): (click NEXT
    view) times(2) with skip-till-ANY between repeats — the second
    repeat may start at ANY later adjacent (click, view) pair, not just
    the first, so every ordered combination of non-overlapping pairs
    matches. The NFA emits the LAST repeat's events with cnt 2, hence
    the oracle is the anchored-pair self-join on (same user, p2 starts
    after p1 ends) projecting p2 — one row per combination, a MULTISET
    with duplicates when one p2 follows several p1 anchors (the driver
    hash is multiset-exact). Output is pair-density-bounded (~C(k,2)
    per user on k adjacent pairs), deterministic, and polynomial — what
    makes this the one combinations gate that is oracle-expressible."""
    from proteus_engine_spark.streaming.cep import GroupPattern, match_group_pattern

    ev = load_table(spark, sf_dir, "events")
    sub = Pattern.begin(
        "click", lambda r: r["event_type"] == "click"
    ).next("view", lambda r: r["event_type"] == "view")
    g = GroupPattern.begin(sub).times(2).allow_combinations()
    return match_group_pattern(ev, g, "user_id")


@register(
    "cep_group_stream_timeouts",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, epoch_ms(ts) AS ms, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS rn
      FROM events WHERE event_type IN ('signup', 'purchase')),
    cut AS (SELECT max(ms) - 600000 AS wm FROM seq),
    a AS (SELECT user_id, event_id AS s0_id, ms AS t0, rn AS s0_rn
          FROM seq WHERE event_type = 'signup'),
    w1 AS (
      SELECT a.*,
             (SELECT min(p.rn) FROM seq p
              WHERE p.user_id = a.user_id AND p.rn > a.s0_rn
                AND p.event_type = 'purchase'
                AND p.ms <= a.t0 + 345600000) AS p1_rn
      FROM a),
    w2 AS (
      SELECT w1.*, p1.event_id AS p1_id, p1.ms AS p1_ms,
             (SELECT min(s.rn) FROM seq s
              WHERE s.user_id = w1.user_id AND s.rn > w1.p1_rn
                AND s.event_type = 'signup'
                AND s.ms <= w1.t0 + 345600000) AS s2_rn
      FROM w1 LEFT JOIN seq p1
        ON p1.user_id = w1.user_id AND p1.rn = w1.p1_rn),
    w3 AS (
      SELECT w2.*, s2.event_id AS s2_id, s2.ms AS s2_ms,
             EXISTS (SELECT 1 FROM seq p
                     WHERE p.user_id = w2.user_id AND p.rn > w2.s2_rn
                       AND p.event_type = 'purchase'
                       AND p.ms <= w2.t0 + 345600000) AS done
      FROM w2 LEFT JOIN seq s2
        ON s2.user_id = w2.user_id AND s2.rn = w2.s2_rn)
    SELECT user_id,
           CASE WHEN s2_rn IS NOT NULL THEN s2_id ELSE s0_id END AS signup_id,
           CASE WHEN s2_rn IS NOT NULL THEN s2_ms ELSE t0 END AS signup_ts,
           CASE WHEN p1_rn IS NOT NULL THEN CAST(1 AS BIGINT)
                ELSE CAST(NULL AS BIGINT) END AS signup_cnt,
           p1_id AS purchase_id, p1_ms AS purchase_ts,
           CASE WHEN p1_rn IS NOT NULL THEN CAST(1 AS BIGINT)
                ELSE CAST(NULL AS BIGINT) END AS purchase_cnt,
           t0 + 345600000 AS timeout_ts
    FROM w3
    WHERE (p1_rn IS NULL OR s2_rn IS NULL OR NOT done)
      AND t0 + 345600000 < (SELECT wm FROM cut)
    """,
    tags=("streaming", "cep", "group", "timeout"),
)
def cep_group_stream_timeouts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING group-pattern TIMEOUT side output (r14's last pytest-only
    code path, driver-certified per the r14 verdict item 4): the group
    (signup FOLLOWEDBY purchase) times(2) within 4 days, keyed per user,
    with ``output='timeouts'`` on match_group_pattern_stream — a partial
    whose window the WATERMARK closes mid-group emits the steps matched
    so far plus timeout_ts = t0 + within (PatternStream.java:301's
    timeout handler on NFACompiler-compiled groups).

    The relaxed NFA is deterministic per signup anchor, so the oracle
    enumerates the three timeout states directly: (A) no purchase within
    the window — signup filled, cnt NULL (zero COMPLETED repeats: the
    NULL-vs-0 encoding match_group_pattern documents), purchase NULL;
    (B) repeat 1 closed, no second signup — both cnts 1; (C) second
    signup consumed, no closing purchase — signup_id is the SECOND
    signup (loop steps report their last event), cnts still 1. A chain
    reaching the second purchase is a completed MATCH, excluded. The
    watermark cut mirrors cep_stream_timeouts: expr= hints push the
    signup/purchase filter below the watermark node (prefilter runs
    before withWatermark, so the scan prunes AND the watermark derives
    from the filtered stream), hence expiry < max(filtered ts) - 10min.
    """
    from proteus_engine_spark.streaming.cep import (
        GroupPattern,
        match_group_pattern_stream,
    )

    ev = events_stream(spark, sf_dir)
    sub = Pattern.begin(
        "signup", lambda r: r["event_type"] == "signup",
        expr="event_type = 'signup'",
    ).followed_by(
        "purchase", lambda r: r["event_type"] == "purchase",
        expr="event_type = 'purchase'",
    )
    g = GroupPattern.begin(sub).times(2).within(345_600_000)
    out = match_group_pattern_stream(
        ev, g, "user_id", watermark_delay="10 minutes", output="timeouts"
    )
    return run_stream(out, "cep_group_stream_timeouts_sink", sf_dir, "events")[0]


@register(
    "stream_session_windows_chained",
    oracle="""
    WITH h AS (SELECT user_id, time_bucket(INTERVAL 1 HOUR, ts) AS b,
                      CAST(count(*) AS BIGINT) AS n
               FROM events GROUP BY 1, 2),
    wm AS (SELECT max(epoch_ms(ts)) - 600000 AS w FROM events),
    d AS (SELECT user_id, b, n,
                 CASE WHEN epoch_ms(b) - epoch_ms(lag(b) OVER
                        (PARTITION BY user_id ORDER BY b)) = 3600000
                      THEN 0 ELSE 1 END AS brk
          FROM h),
    g AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY b
                                   ROWS UNBOUNDED PRECEDING) AS grp
          FROM d)
    SELECT user_id,
           min(epoch_ms(b)) + 3600000 AS session_start_ms,
           max(epoch_ms(b)) + 3600000 + 5400000 AS session_end_ms,
           CAST(sum(n) AS BIGINT) AS n_events,
           CAST(count(*) AS BIGINT) AS n_buckets
    FROM g
    GROUP BY user_id, grp
    HAVING max(epoch_ms(b)) + 3600000 + 5400000 <= (SELECT w FROM wm)
    """,
    tags=("streaming", "window", "session", "chained"),
)
def stream_session_windows_chained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful operators in ONE streaming query
    (streaming.windows.chained_window_sessions): a keyed 1-hour tumbling
    aggregate whose finalized windows feed a 90-minute SESSION-window
    aggregate downstream — sessions of consecutive active hours per
    user, the windows-on-windows composition Spark supports natively for
    time-window aggregations (the window struct carries event time, so
    watermark propagation is exact and no emitted row is ever late
    downstream; a CEP→session chain is UNSOUND by construction — a
    stateful-processing operator emits only watermark-confirmed rows,
    which any downstream stateful operator would drop — and Spark's
    multi-stateful correctness check rejects it, verified empirically).

    With gap (90min) > bucket (1h), adjacent active hours always merge
    and one silent hour always splits, so a session is exactly a maximal
    run of consecutive hourly buckets — the gaps-and-islands shape the
    oracle computes with a lag() break flag. Emission: a session closes
    when the watermark passes last_bucket_end + gap; the gap > bucket
    inequality also makes the cut exact (a session whose tail bucket is
    still open would need last_end > wm - 1h, contradicting
    last_end + 90min <= wm). Timestamps: the session struct anchors at
    bucket_end - 1µs, so unix_millis(...) + 1 is exactly the first
    bucket's end / last bucket's end + gap in ms.

    Bench-cost note (profiled r15): ~85% of the gate's wall time is
    stage 1's state-store writes — the one-shot replay materializes ALL
    ~95k (user, hour) state entries at sf0.1 in a single micro-batch
    (the stream_delta_trigger_fires cost class, not the chaining, which
    profiled FASTER than the hourly agg alone). In production the same
    state amortizes across micro-batches and is bounded by the
    watermark lag × active keys, never the corpus."""
    from proteus_engine_spark.streaming.windows import chained_window_sessions

    ev = events_stream(spark, sf_dir)
    out = chained_window_sessions(
        ev, "user_id", "ts",
        watermark="10 minutes", bucket="1 hour", gap="90 minutes",
        bucket_aggs=[F.count(F.lit(1)).alias("n")],
        session_aggs=[
            F.sum("n").alias("n_events"),
            F.count(F.lit(1)).alias("n_buckets"),
        ],
    )
    final = out.select(
        "user_id",
        (F.unix_millis(F.col("session_start")) + 1).alias("session_start_ms"),
        (F.unix_millis(F.col("session_end")) + 1).alias("session_end_ms"),
        "n_events",
        "n_buckets",
    )
    return run_stream(final, "stream_session_windows_chained_sink", sf_dir, "events")[0]


@register(
    "stream_window_quantile_bounds",
    oracle="""
    SELECT time_bucket(INTERVAL 1 DAY, ts) AS window_start,
           CAST(count(*) AS BIGINT) AS n_vals,
           true AS p50_ok, true AS p90_ok
    FROM events WHERE value IS NOT NULL
    GROUP BY 1
    """,
    tags=("streaming", "window", "sketch", "quantile"),
)
def stream_window_quantile_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed approximate QUANTILES on the stream — the quantile
    sketch (agg_approx_quantile_bounds) composed with streaming window
    aggregation, completing the composed-sketch family next to
    stream_window_approx_distinct (HLL) and stream_count_min_table
    (CM): percentile_approx(accuracy=100) runs INSIDE a watermarked
    1-day tumbling streaming aggregate (ApproximatePercentile's GK
    summary is exactly the fixed-size mergeable state streaming wants —
    at accuracy=100 the per-window sketch compresses once a window
    exceeds ~100 values, the real approximation regime at sf0.1's ~3.3k
    events/day). The verdict re-joins the streamed p50/p90 estimates to
    the batch table per window and checks each exact-rank window
    [count(<est), count(<=est)] overlaps round(q·n_w) ± (n_w div 100
    + 1) — the same analytic bound as the batch gate, per window. The
    oracle recomputes the per-window counts and expects uniformly true
    verdicts."""
    ev = events_stream(spark, sf_dir)
    agg = (
        ev.filter(F.col("value").isNotNull())
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(
            F.percentile_approx(
                "value", F.array(F.lit(0.5), F.lit(0.9)), F.lit(100)
            ).alias("ap")
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("ap")[0].alias("est50"),
            F.col("ap")[1].alias("est90"),
        )
    )
    streamed, _ = run_stream(
        agg, "stream_wqb_sink", sf_dir, "events", output_mode="complete"
    )
    from proteus_engine_spark.sources import load_table

    vals = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(F.window("ts", "1 day")["start"].alias("window_start"), "value")
    )
    ranks = (
        vals.join(F.broadcast(streamed), "window_start")
        .groupBy("window_start")
        .agg(
            F.count(F.lit(1)).alias("n_vals"),
            F.sum(F.when(F.col("value") <= F.col("est50"), 1).otherwise(0)).alias("le50"),
            F.sum(F.when(F.col("value") < F.col("est50"), 1).otherwise(0)).alias("lt50"),
            F.sum(F.when(F.col("value") <= F.col("est90"), 1).otherwise(0)).alias("le90"),
            F.sum(F.when(F.col("value") < F.col("est90"), 1).otherwise(0)).alias("lt90"),
        )
    )
    slack = F.expr("n_vals div 100") + F.lit(1)

    def ok(le, lt, q):
        target = F.round(F.lit(q) * F.col("n_vals")).cast("long")
        return (F.col(le) >= target - slack) & (F.col(lt) <= target + slack)

    return ranks.select(
        "window_start",
        "n_vals",
        ok("le50", "lt50", 0.5).alias("p50_ok"),
        ok("le90", "lt90", 0.9).alias("p90_ok"),
    )


@register(
    "stream_window_heavy_hitters",
    oracle=r"""
    WITH tok AS (
      SELECT CAST((doc_id + 1) // 100 AS BIGINT) AS window_id,
             unnest(string_split_regex(lower(text), '\s+')) AS token
      FROM documents),
    cnt AS (SELECT window_id, token, CAST(count(*) AS BIGINT) AS n
            FROM tok GROUP BY window_id, token),
    tot AS (SELECT window_id, sum(n) AS total FROM cnt GROUP BY window_id),
    mx AS (SELECT max(doc_id) + 1 AS max_min FROM documents)
    SELECT c.window_id, c.token, c.n AS exact_n, true AS within_bounds
    FROM cnt c JOIN tot t ON c.window_id = t.window_id CROSS JOIN mx
    WHERE c.n >= t.total // 32
      AND (c.window_id + 1) * 100 < mx.max_min - 10
    """,
    tags=("streaming", "window", "sketch", "datapipe"),
)
def stream_window_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed HEAVY HITTERS on the stream — the streaming member of the
    Misra-Gries arc (bounds r14, grouped/merge r17), completing the
    composed-sketch family next to stream_window_quantile_bounds (GK),
    stream_window_approx_distinct (HLL) and stream_count_min_table (CM).
    Spark has no built-in MG aggregate, so the sketch state is hand-held
    in keyed state (windowed_heavy_hitters, stateful.py): the document
    corpus replays as a token stream with a synthetic 1-doc-per-minute
    clock, keyed by (100-minute window, token-hash shard) — each of the
    4 shard keys holds an independent k=32 counter summary over its
    hash-disjoint token subset, emitted and cleared when the watermark
    passes the window end (event-time timer). Sharding is the scale
    story stated in the keying itself: per-window parallelism without
    weakening the bound (a token lives in exactly one shard, so its
    undercount is bounded by that shard's N/(k+1) <= N_w/(k+1), and
    shard summaries concatenate into the window summary — the
    disjoint-universe case of the merge the agg_heavy_hitters_merge gate
    certifies). The verdict joins the streamed summaries to the batch
    exact counts per CLOSED window: every true heavy hitter (exact >=
    N_w div 32) present, est <= exact, undercount <= N_w div 32; the
    windows inside the 10-minute watermark tail never close and are cut
    on both sides ((w+1)*100 < max_minute - 10)."""
    from proteus_engine_spark.streaming.stateful import windowed_heavy_hitters

    stream = file_stream(spark, sf_dir, "documents.parquet")
    toks = (
        stream.withColumn(
            "ts", F.timestamp_micros((F.col("doc_id") + 1) * 60_000_000)
        )
        .select(
            "ts",
            F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("token"),
        )
        .withWatermark("ts", "10 minutes")
    )
    sk = windowed_heavy_hitters(
        toks, "token", window_ms=100 * 60_000, k=32, shards=4
    )
    # state sized on events like the events-stream gates (documents is
    # ~4x smaller and would plan half the partitions at sf0.1)
    streamed, _ = run_stream(sk, "stream_whh_sink", sf_dir, "events")

    docs = load_table(spark, sf_dir, "documents")
    btoks = docs.select(
        F.expr("(doc_id + 1) div 100").alias("window_id"),
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("token"),
    )
    # Pin the window x vocabulary exact-count frame once — lazily the
    # `total` rollup re-ran the batch tokenize pass (r17 scan audit:
    # documents 3x in this plan; the 1-row max below is the remaining
    # narrow scan).
    exact = (
        btoks.groupBy("window_id", "token")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .localCheckpoint(eager=True)
    )
    total = exact.groupBy("window_id").agg(F.sum("exact_n").alias("total"))
    mx = docs.agg((F.max("doc_id") + 1).alias("max_min"))
    return (
        exact.join(F.broadcast(total), "window_id")
        .crossJoin(F.broadcast(mx))
        .filter(F.expr("(window_id + 1) * 100 < max_min - 10"))
        .filter(F.col("exact_n") >= F.expr("total div 32"))
        .join(
            streamed.withColumnRenamed("item", "token"),
            ["window_id", "token"],
            "left",
        )
        .select(
            "window_id",
            "token",
            "exact_n",
            (
                F.col("est").isNotNull()
                & (F.col("est") <= F.col("exact_n"))
                & (F.col("exact_n") - F.coalesce(F.col("est"), F.lit(0))
                   <= F.expr("total div 32"))
            ).alias("within_bounds"),
        )
    )


@register(
    "stream_window_approx_distinct",
    oracle="""
    SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct,
           true AS within_bounds
    FROM events GROUP BY 1
    """,
    tags=("streaming", "window", "sketch"),
)
def stream_window_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed approximate-distinct ON THE STREAM — the two families
    composed: HLL++ (approx_count_distinct, rsd 0.02) runs INSIDE a
    watermarked tumbling-window streaming aggregate (sketches are ideal
    streaming state — fixed-size, mergeable across micro-batches), and
    the gate emits the agg_approx_distinct_bounds verdict per window:
    |approx − exact| ≤ max(0.1·exact, 2) — the relative bound carries an
    absolute floor of 2 because at single-digit cardinalities the 10%
    slack is under one unit while HLL++ can still be off by one (the
    sparse-register regime; observed on the two smallest boundary
    windows of the replay). Exact counts come from the batch table
    (COUNT DISTINCT is not available in streaming aggregation — exactly
    why the sketch tier exists). The oracle recomputes the exact
    per-window counts and expects a uniformly true verdict."""
    ev = events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.approx_count_distinct("user_id", rsd=0.02).alias("approx"))
        .select(F.col("w.start").alias("window_start"), "approx")
    )
    streamed, _ = run_stream(
        agg, "stream_wad_sink", sf_dir, "events", output_mode="complete"
    )
    from proteus_engine_spark.sources import load_table

    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.countDistinct("user_id").alias("exact_distinct"))
        .select(F.col("w.start").alias("window_start"), "exact_distinct")
    )
    return exact.join(streamed, "window_start").select(
        "window_start",
        "exact_distinct",
        (
            F.abs(F.col("approx") - F.col("exact_distinct"))
            <= F.greatest(0.1 * F.col("exact_distinct"), F.lit(2.0))
        ).alias("within_bounds"),
    )
