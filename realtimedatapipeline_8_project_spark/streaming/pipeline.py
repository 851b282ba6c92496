"""Structured Streaming pipeline (SURVEY §2.10, E1 lifecycle).

Re-expresses the reference's streaming job (stream-processor.py:326-345):
source -> JSON decode with explicit schema -> normalize casts -> stream-static
broadcast enrichment -> derived metrics -> foreachBatch fan-out with
checkpointing. The transformation chain is *shared* between batch and
streaming (same DataFrame functions), which is what Structured Streaming is
for — one logical plan, incrementalized by the engine.

Reference semantics kept:
* explicit decode schema, null-on-mismatch        (:217-225, :242)
* 2s processing-time trigger (configurable)       (:340)
* append output mode                              (:339)
* checkpoint recovery                             (:341)
* maxOffsetsPerTrigger analog via maxFilesPerTrigger on the file source
* at-least-once foreachBatch + idempotent keyed sink => effective
  exactly-once on the materialized table (SURVEY T6)

Added (T7 — absent in the reference but core to "real-time analytics"):
watermarked tumbling / sliding / session windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.enrich import enrich_events
from ..schemas import EVENTS
from .metrics import MetricsRecorder
from .sinks import M4, MOMENTS, write_batch_fanout, write_partial


def read_kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    max_offsets_per_trigger: int = 10_000,
    starting_offsets: str = "latest",
) -> DataFrame:
    """Kafka streaming source with the reference's exact options
    (stream-processor.py:229-238): latest offsets, failOnDataLoss=false,
    maxOffsetsPerTrigger backpressure cap, session/request timeouts.
    Requires the spark-sql-kafka package on the cluster; tests substitute
    :func:`read_json_stream` — the downstream plan is identical because
    decode_events only needs a ``value`` column."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("failOnDataLoss", "false")
        .option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
        .option("kafka.session.timeout.ms", "30000")
        .option("kafka.request.timeout.ms", "40000")
        .load()
    )


def read_json_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-based streaming source of JSON event lines (test/replay stand-in
    for the Kafka source; same downstream plan). For Kafka, substitute
    ``spark.readStream.format("kafka")...`` — decode_events is unchanged."""
    reader = spark.readStream.format("text")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def decode_events(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """byte/str payload -> schema'd columns (SURVEY P1-P5).

    Mirrors stream-processor.py:240-249: CAST(value AS STRING), from_json
    with explicit schema (unknown fields dropped, nulls on mismatch),
    struct unnest, timestamp cast."""
    return (
        raw.select(F.col(value_col).cast("string").alias("json"))
        .select(F.from_json("json", EVENTS).alias("event"))
        .select("event.*")
    )


def derive(enriched: DataFrame) -> DataFrame:
    """Project the materialized-metrics shape (ENGAGEMENT_METRICS analog)."""
    return enriched.select(
        F.col("event_id"),
        F.col("ts").alias("event_time"),
        F.col("user_id"),
        F.col("event_type"),
        F.col("value").alias("duration"),
        F.col("c_mktsegment").alias("segment"),
        F.col("engagement_seconds"),
        F.col("engagement_pct"),
    )


def _foreach_batch(
    stream: DataFrame, checkpoint_dir: str, body, trigger: dict | None = None
) -> StreamingQuery:
    """Start ``body(batch_df, batch_id)`` as the append-mode
    foreachBatch sink of ``stream``, checkpointed at ``checkpoint_dir``.
    The default trigger is availableNow: process what has arrived, then
    stop (the batch-backfill trigger of every ``run_*`` driver)."""
    return (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(body)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


def start_pipeline(
    spark: SparkSession,
    source: DataFrame,
    dim: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    trigger: dict | None = None,
    recorder: MetricsRecorder | None = None,
):
    """Wire decode -> enrich -> derive -> foreachBatch fan-out.

    ``trigger`` examples: {"processingTime": "2 seconds"} (reference
    default), {"availableNow": True} (bounded replay for tests/backfill).
    ``recorder``: optional per-batch metrics/alerting hook (reference
    stream-processor.py:295-320)."""
    events = decode_events(source)
    enriched = derive(enrich_events(events, dim))
    return _foreach_batch(
        enriched,
        checkpoint_dir,
        lambda batch_df, batch_id: write_batch_fanout(
            batch_df, batch_id, output_dir, recorder=recorder
        ),
        trigger or {"processingTime": "2 seconds"},
    )


def run_replay(
    spark: SparkSession,
    source_path: str,
    dim: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    recorder: MetricsRecorder | None = None,
) -> None:
    """Bounded replay: drain everything currently in source_path
    (availableNow) and block until done — the test/backfill entry point."""
    src = read_json_stream(spark, source_path, max_files_per_trigger)
    q = start_pipeline(
        spark,
        src,
        dim,
        output_dir,
        checkpoint_dir,
        trigger={"availableNow": True},
        recorder=recorder,
    )
    q.awaitTermination()


def run_stats_replay(
    spark: SparkSession,
    source_path: str,
    output_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
) -> None:
    """Bounded replay maintaining the incremental observability state from
    the raw decoded stream: per-user integer moment tables (z-score
    outlier state) and per-(user, hour) M4 downsample cells: the
    ``MOMENTS`` and ``M4`` families of the partial-sink table, written by
    ``write_partial`` (one idempotent partial per micro-batch, a replay
    of a folded batch a no-op). The serving reads
    (``read_partial(MOMENTS)`` / ``read_m4`` + outliers_vs_moments) then
    equal the one-pass batch answers bit-for-bit, before and after
    ``compact_partial`` — pinned in tests/test_streaming.py."""
    src = read_json_stream(spark, source_path, max_files_per_trigger)
    events = decode_events(src)

    def _fanout(batch_df: DataFrame, batch_id: int) -> None:
        write_partial(MOMENTS, batch_df, batch_id, output_dir)
        write_partial(M4, batch_df, batch_id, output_dir)

    _foreach_batch(events, checkpoint_dir, _fanout).awaitTermination()


# --- T7: watermarked event-time window aggregations -----------------------


def streaming_tumbling_window(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling event-time counts/sums with late-data watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("bucket_start"), "event_type", "n", "sum_value")
    )


def streaming_sliding_window(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding event-time windows (each event lands in window/slide buckets)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("bucket_start"), "n")
    )


def streaming_dedup(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup: drop re-deliveries of the same key within the
    watermark horizon (``dropDuplicatesWithinWatermark``). State per key is
    retired once the watermark passes — bounded memory at any scale, which
    plain ``dropDuplicates`` on a stream cannot guarantee. This is the
    streaming half of the exact-dedup family (§2.13): the at-least-once
    Kafka/outbox delivery of the reference (utils/utils.py:121-128) makes
    duplicate deliveries a certainty, not an edge case."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def streaming_event_match_join(
    left: DataFrame,
    right: DataFrame,
    max_delay: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Time-bounded stream-stream inner join: match each left event to
    right events of the same user within (left.ts, left.ts + max_delay].

    Both sides carry watermarks and the join condition bounds event time in
    both directions, so Spark can expire join state — the required shape
    for an unbounded stream-stream join (without the time bound, state
    grows forever). Typical use: click -> purchase attribution."""
    l = left.select(
        F.col("event_id").alias("left_id"),
        F.col("user_id"),
        F.col("ts").alias("left_ts"),
    ).withWatermark("left_ts", watermark)
    r = right.select(
        F.col("event_id").alias("right_id"),
        F.col("user_id").alias("r_user_id"),
        F.col("ts").alias("right_ts"),
    ).withWatermark("right_ts", watermark)
    return l.join(
        r,
        (F.col("user_id") == F.col("r_user_id"))
        & (F.col("right_ts") > F.col("left_ts"))
        & (F.col("right_ts") <= F.col("left_ts") + F.expr(f"INTERVAL {max_delay}")),
        "inner",
    ).select("left_id", "right_id", "user_id", "left_ts", "right_ts")


def streaming_trailing_rollup(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming form of the trailing 1-hour per-user engagement rollup
    (the batch RANGE-frame operator, timeseries.q_trailing_range_frame —
    the README's "real-time engagement" shape). A per-event RANGE frame
    isn't incrementally maintainable, so the streaming analog discretizes
    the trail into sliding windows: each emitted (user, bucket) is the
    user's value-sum/count for the hour ending at ``bucket_end``,
    refreshed every ``slide``. Watermark bounds state: closed buckets are
    evicted, so memory is O(users x windows-in-watermark), not O(events).
    Exact per-event trails, when needed, belong to the stateful operator
    family (stateful.running_user_stats)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), F.col("user_id"))
        .agg(
            F.round(F.sum(F.col("value").cast("decimal(27,6)")), 2)
            .cast("double")
            .alias("trailing_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("w.end").alias("trail_end"),
            "user_id",
            "trailing_value",
            "n_events",
        )
    )


def streaming_session_window(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Session windows with a 30-minute inactivity gap — the genuinely
    stateful streaming operator (SURVEY §7 hard part e)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("session_value"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "session_value",
        )
    )
