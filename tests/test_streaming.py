"""End-to-end streaming tests (SURVEY §5.3-5.4): availableNow replay,
stream/batch parity, idempotent recovery, watermarked windows."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from realtimedatapipeline_8_project_spark.operators.enrich import (
    enrich_events,
    load_dim,
)
from realtimedatapipeline_8_project_spark.sources.tables import load_table
from realtimedatapipeline_8_project_spark.streaming.pipeline import (
    decode_events,
    derive,
    run_replay,
    streaming_session_window,
    streaming_tumbling_window,
)
from realtimedatapipeline_8_project_spark.streaming.sinks import (
    compact_latest,
    read_latest,
    write_batch_fanout,
)


@pytest.fixture()
def workdir(tmp_path):
    return str(tmp_path)


def _write_event_jsonl(spark, sf_dir, path, n_files=4):
    """Serialize the events fixture as JSON lines (the Kafka payload shape,
    to_jsonb(NEW) analog) split over several files => several micro-batches."""
    ev = load_table(spark, sf_dir, "events")
    rows = ev.select(
        F.to_json(
            F.struct(
                "event_id",
                F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").alias("ts"),
                "user_id",
                "event_type",
                "value",
                "props",
            )
        ).alias("j")
    ).collect()
    os.makedirs(path, exist_ok=True)
    per = (len(rows) + n_files - 1) // n_files
    for i in range(n_files):
        with open(os.path.join(path, f"part-{i}.jsonl"), "w") as f:
            for r in rows[i * per : (i + 1) * per]:
                f.write(r.j + "\n")
    return len(rows)


def test_stream_batch_parity(spark, sf_small, workdir):
    """Replaying the events through the streaming pipeline must produce the
    same materialized history as the equivalent batch computation."""
    src = os.path.join(workdir, "src")
    out = os.path.join(workdir, "out")
    chk = os.path.join(workdir, "chk")
    n = _write_event_jsonl(spark, sf_small, src)
    dim = load_dim(spark, sf_small)

    run_replay(spark, src, dim, out, chk, max_files_per_trigger=1)

    hist = spark.read.parquet(os.path.join(out, "history"))
    assert hist.count() == n

    batch = derive(enrich_events(load_table(spark, sf_small, "events"), dim))
    cols = [c for c in hist.columns if c != "batch_id"]
    got = sorted(map(str, hist.select(*sorted(cols)).collect()))
    want = sorted(map(str, batch.select(*sorted(cols)).collect()))
    assert got == want


def test_latest_view_is_keyed_and_current(spark, sf_small, workdir):
    src = os.path.join(workdir, "src")
    out = os.path.join(workdir, "out")
    chk = os.path.join(workdir, "chk")
    n = _write_event_jsonl(spark, sf_small, src)
    dim = load_dim(spark, sf_small)
    run_replay(spark, src, dim, out, chk)

    # virtual latest view
    latest = read_latest(spark, out)
    assert latest.count() == n
    assert latest.select("event_id").distinct().count() == n
    # compacted snapshot equals the virtual view
    compact_latest(spark, out)
    snap = spark.read.parquet(os.path.join(out, "latest"))
    assert sorted(map(str, snap.collect())) == sorted(map(str, latest.collect()))


def test_idempotent_rerun(spark, sf_small, workdir):
    """Re-running the same micro-batch (checkpoint-recovery semantics) must
    leave both sinks unchanged (SURVEY T6)."""
    out = os.path.join(workdir, "out")
    ev = load_table(spark, sf_small, "events").limit(50)
    dim = load_dim(spark, sf_small)
    batch = derive(enrich_events(ev, dim))

    write_batch_fanout(batch, 7, out)
    compact_latest(spark, out)
    first_hist = sorted(map(str, spark.read.parquet(os.path.join(out, "history")).collect()))
    first_latest = sorted(map(str, read_latest(spark, out).collect()))

    write_batch_fanout(batch, 7, out)  # replay same batch id
    compact_latest(spark, out)  # re-compaction is also idempotent
    assert sorted(map(str, spark.read.parquet(os.path.join(out, "history")).collect())) == first_hist
    assert sorted(map(str, read_latest(spark, out).collect())) == first_latest


def test_latest_wins_on_duplicate_key(spark, sf_small, workdir):
    """Same event_id arriving again with newer event_time replaces the row
    (Redis last-write-wins hash semantics, stream-processor.py:101-111)."""
    out = os.path.join(workdir, "out")
    dim = load_dim(spark, sf_small)
    ev = load_table(spark, sf_small, "events").limit(10)
    b1 = derive(enrich_events(ev, dim))
    write_batch_fanout(b1, 0, out)

    newer = derive(
        enrich_events(
            ev.withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 HOUR")).withColumn(
                "value", F.lit(999.0)
            ),
            dim,
        )
    )
    write_batch_fanout(newer, 1, out)

    latest = read_latest(spark, out)
    assert latest.count() == 10
    assert latest.where(F.col("duration") == 999.0).count() == 10
    # also correct when the older state was already compacted to a snapshot
    compact_latest(spark, out)
    snap = read_latest(spark, out)
    assert snap.where(F.col("duration") == 999.0).count() == 10


def test_history_time_travel_reads_prefix_snapshot(spark, sf_small, workdir):
    """read_history_asof(N) must equal the union of batches 0..N exactly
    (immutable batch partitions = free time travel), the partition filter
    must prune later batches from the scan, and the latest-view twin must
    reflect only pre-N updates."""
    out = os.path.join(workdir, "out")
    dim = load_dim(spark, sf_small)
    ev = load_table(spark, sf_small, "events").limit(30)
    b0 = derive(enrich_events(ev.limit(10), dim))
    b1 = derive(enrich_events(ev.offset(10).limit(10), dim))
    b2 = derive(
        enrich_events(
            ev.limit(10).withColumn("value", F.lit(777.0)).withColumn(
                "ts", F.col("ts") + F.expr("INTERVAL 2 HOURS")
            ),
            dim,
        )
    )
    from realtimedatapipeline_8_project_spark.streaming.sinks import (
        read_history_asof,
        read_latest_asof,
        write_history,
    )

    for i, b in enumerate([b0, b1, b2]):
        write_history(b, i, out)

    asof1 = read_history_asof(spark, out, 1)
    assert asof1.count() == 20
    assert asof1.select(F.max("batch_id")).first()[0] == 1
    # batch 2 re-delivers batch 0's keys with newer ts: latest as-of 1
    # must NOT see the 777 updates; latest as-of 2 must
    l1 = read_latest_asof(spark, out, 1)
    assert l1.where(F.col("duration") == 777.0).count() == 0
    l2 = read_latest_asof(spark, out, 2)
    assert l2.where(F.col("duration") == 777.0).count() == 10
    assert l2.count() == 20  # still keyed: 20 distinct events
    # partition pruning: the filter reaches the scan as a partition filter
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        asof1.explain("formatted")
    assert "PartitionFilters" in buf.getvalue()


def test_incremental_sketch_merges_to_batch_sketch(spark, sf_small, workdir):
    """Mergeable-sketch sink: per-batch partial count-min sketches summed
    on read must equal the one-pass batch sketch over all events, stay
    exact after an idempotent batch replay, and never undercount."""
    from realtimedatapipeline_8_project_spark.operators.sketches import (
        q_count_min_sketch,
    )
    from realtimedatapipeline_8_project_spark.streaming.sinks import (
        read_sketch,
        write_sketch,
    )

    out = os.path.join(workdir, "out")
    ev = load_table(spark, sf_small, "events")
    n = ev.count()
    per = (n + 3) // 4
    chunks = [
        ev.orderBy("event_id").offset(i * per).limit(per) for i in range(4)
    ]
    for i, c in enumerate(chunks):
        write_sketch(c, i, out)
    write_sketch(chunks[2], 2, out)  # replay one committed batch id

    got = sorted(map(tuple, read_sketch(spark, out).collect()))
    want = sorted(map(tuple, q_count_min_sketch(spark, sf_small).collect()))
    assert got == want


def test_incremental_hll_merges_to_batch_registers(spark, sf_small, workdir):
    """HLL register sink: per-batch partials merged by register MAX must
    equal the one-pass register table (and replaying a batch id changes
    nothing — max is idempotent)."""
    from pyspark.sql import functions as F2

    from realtimedatapipeline_8_project_spark.operators.sketches import (
        HLL_K,
        HLL_M,
        _hll_hash_spark,
    )
    from realtimedatapipeline_8_project_spark.streaming.sinks import (
        read_hll,
        write_hll,
    )

    out = os.path.join(workdir, "out")
    ev = load_table(spark, sf_small, "events")
    n = ev.count()
    per = (n + 2) // 3
    for i in range(3):
        write_hll(ev.orderBy("event_id").offset(i * per).limit(per), i, out)
    write_hll(ev.orderBy("event_id").limit(per), 0, out)  # replay batch 0

    got = sorted(map(tuple, read_hll(spark, out).collect()))
    h = _hll_hash_spark("user_id")
    want = sorted(
        map(
            tuple,
            ev.select(
                F2.col("event_type").alias("grp"),
                F2.expr(f"{h} % {HLL_M}").alias("bucket"),
                F2.expr(f"{h} div {HLL_M}").alias("rem"),
            )
            .select(
                "grp",
                "bucket",
                F2.when(F2.col("rem") == 0, F2.lit(HLL_K))
                .otherwise(F2.lit(HLL_K) - F2.length(F2.bin("rem")))
                .alias("rho"),
            )
            .groupBy("grp", "bucket")
            .agg(F2.max("rho").alias("m_j"))
            .collect(),
        )
    )
    assert got == want


def test_checkpoint_recovery_resumes_where_stopped(spark, sf_small, workdir):
    """Kill the stream after the first micro-batch, restart from the same
    checkpoint: the resumed query must NOT reprocess committed batches and
    the final history must exactly equal the batch computation (T3
    checkpoint recovery + T6 effective exactly-once, end to end)."""
    src = os.path.join(workdir, "src")
    out = os.path.join(workdir, "out")
    chk = os.path.join(workdir, "chk")
    n = _write_event_jsonl(spark, sf_small, src, n_files=4)
    dim = load_dim(spark, sf_small)

    from realtimedatapipeline_8_project_spark.streaming.pipeline import (
        read_json_stream,
        start_pipeline,
    )

    # phase 1: drain ONE file per trigger and stop after the first commit
    q = start_pipeline(
        spark,
        read_json_stream(spark, src, max_files_per_trigger=1),
        dim,
        out,
        chk,
        trigger={"processingTime": "0 seconds"},
    )
    import time as _t

    deadline = _t.time() + 60
    while _t.time() < deadline and not q.recentProgress:
        _t.sleep(0.2)
    q.stop()
    q.awaitTermination()
    done_rows = spark.read.parquet(os.path.join(out, "history")).count()
    assert 0 < done_rows <= n

    # phase 2: restart from the same checkpoint, drain the rest
    q2 = start_pipeline(
        spark,
        read_json_stream(spark, src, max_files_per_trigger=1),
        dim,
        out,
        chk,
        trigger={"availableNow": True},
    )
    q2.awaitTermination()

    hist = spark.read.parquet(os.path.join(out, "history"))
    assert hist.count() == n, "resume lost or duplicated rows"
    batch = derive(enrich_events(load_table(spark, sf_small, "events"), dim))
    cols = [c for c in hist.columns if c != "batch_id"]
    got = sorted(map(str, hist.select(*sorted(cols)).collect()))
    want = sorted(map(str, batch.select(*sorted(cols)).collect()))
    assert got == want


def test_decode_drops_unknown_and_nulls_on_malformed(spark):
    """from_json strictness: unknown fields dropped, malformed rows null
    (SURVEY §1.3)."""
    raw = spark.createDataFrame(
        [
            ('{"event_id": 1, "ts": "2024-01-01T00:00:00.000000", "user_id": 2, '
             '"event_type": "view", "value": 1.5, "props": "{}", "EXTRA": 9}',),
            ("not json at all",),
        ],
        ["value"],
    )
    out = decode_events(raw)
    assert out.columns == ["event_id", "ts", "user_id", "event_type", "value", "props"]
    rows = out.orderBy(F.col("event_id").asc_nulls_last()).collect()
    assert rows[0].event_id == 1 and rows[0].event_type == "view"
    assert rows[1].event_id is None


def test_streaming_tumbling_window_availablenow(spark, sf_small, workdir):
    """Watermarked tumbling window over a replayed stream equals the batch
    tumbling aggregation."""
    src = os.path.join(workdir, "src")
    _write_event_jsonl(spark, sf_small, src, n_files=2)
    raw = spark.readStream.format("text").load(src)
    events = decode_events(raw).withColumn("ts", F.col("ts").cast("timestamp"))
    agg = streaming_tumbling_window(events)
    out = os.path.join(workdir, "tumble")
    q = (
        agg.writeStream.outputMode("append")
        .option("checkpointLocation", os.path.join(workdir, "chk2"))
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", out)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(out)
    batch = (
        load_table(spark, sf_small, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("bucket_start"), "event_type", "n", "sum_value")
    )
    # append mode emits only windows closed by the watermark; every emitted
    # window must match the batch result exactly
    emitted = sorted(map(str, got.collect()))
    want = {str(r) for r in batch.collect()}
    assert len(emitted) > 0
    assert all(e in want for e in emitted)


def test_streaming_sliding_window_availablenow(spark, sf_small, workdir):
    """Watermarked sliding windows: every emitted bucket must match the
    batch sliding aggregation (each event lands in window/slide buckets)."""
    from realtimedatapipeline_8_project_spark.streaming.pipeline import (
        streaming_sliding_window,
    )

    src = os.path.join(workdir, "src")
    _write_event_jsonl(spark, sf_small, src, n_files=2)
    raw = spark.readStream.format("text").load(src)
    events = decode_events(raw).withColumn("ts", F.col("ts").cast("timestamp"))
    agg = streaming_sliding_window(events)
    out = os.path.join(workdir, "slide")
    q = (
        agg.writeStream.outputMode("append")
        .option("checkpointLocation", os.path.join(workdir, "chk_slide"))
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", out)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(out)
    batch = (
        load_table(spark, sf_small, "events")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("bucket_start"), "n")
    )
    emitted = sorted(map(str, got.collect()))
    want = {str(r) for r in batch.collect()}
    assert len(emitted) > 0
    assert all(e in want for e in emitted)


def test_streaming_trailing_rollup_availablenow(spark, sf_small, workdir):
    """Streaming analog of the batch trailing-RANGE rollup
    (timeseries.q_trailing_range_frame): every emitted (user, bucket)
    trail must match the batch sliding-window aggregation exactly."""
    from realtimedatapipeline_8_project_spark.streaming.pipeline import (
        streaming_trailing_rollup,
    )

    src = os.path.join(workdir, "src")
    _write_event_jsonl(spark, sf_small, src, n_files=2)
    raw = spark.readStream.format("text").load(src)
    events = decode_events(raw).withColumn("ts", F.col("ts").cast("timestamp"))
    agg = streaming_trailing_rollup(events)
    out = os.path.join(workdir, "trail")
    q = (
        agg.writeStream.outputMode("append")
        .option("checkpointLocation", os.path.join(workdir, "chk_trail"))
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", out)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(out)
    batch = (
        load_table(spark, sf_small, "events")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "user_id")
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
    emitted = sorted(map(str, got.collect()))
    want = {str(r) for r in batch.collect()}
    assert len(emitted) > 0
    assert all(e in want for e in emitted)


def test_streaming_session_window_availablenow(spark, sf_small, workdir):
    src = os.path.join(workdir, "src")
    _write_event_jsonl(spark, sf_small, src, n_files=1)
    raw = spark.readStream.format("text").load(src)
    events = decode_events(raw).withColumn("ts", F.col("ts").cast("timestamp"))
    agg = streaming_session_window(events)
    out = os.path.join(workdir, "sess")
    q = (
        agg.writeStream.outputMode("append")
        .option("checkpointLocation", os.path.join(workdir, "chk3"))
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", out)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(out)
    assert got.count() > 0
    # session invariant: no two sessions of the same user overlap
    a, b = got.alias("a"), got.alias("b")
    overlaps = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.session_start") < F.col("b.session_start"))
        & (F.col("b.session_start") < F.col("a.session_end")),
    ).count()
    assert overlaps == 0


def test_streaming_dedup_within_watermark(spark, sf_small, workdir):
    """Re-delivered events (at-least-once source semantics) are dropped by
    key; the deduped stream equals the distinct batch input."""
    from realtimedatapipeline_8_project_spark.streaming.pipeline import (
        streaming_dedup,
    )

    src = os.path.join(workdir, "src")
    n = _write_event_jsonl(spark, sf_small, src, n_files=2)
    # duplicate every file: same payloads delivered twice
    for f in list(os.listdir(src)):
        shutil.copy(os.path.join(src, f), os.path.join(src, f + ".redelivery"))
    raw = spark.readStream.format("text").load(src)
    events = decode_events(raw).withColumn("ts", F.col("ts").cast("timestamp"))
    deduped = streaming_dedup(events, watermark="40 days")
    out = os.path.join(workdir, "dedup_out")
    q = (
        deduped.writeStream.outputMode("append")
        .option("checkpointLocation", os.path.join(workdir, "chk_dedup"))
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", out)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(out)
    assert got.count() == n
    assert got.select("event_id").distinct().count() == n


def test_stream_stream_join_availablenow(spark, sf_small, workdir):
    """Time-bounded stream-stream inner join (click -> next purchases within
    1 hour, same user) equals the batch join over the same input."""
    from realtimedatapipeline_8_project_spark.streaming.pipeline import (
        streaming_event_match_join,
    )

    src = os.path.join(workdir, "src")
    _write_event_jsonl(spark, sf_small, src, n_files=2)
    raw = spark.readStream.format("text").load(src)
    events = decode_events(raw).withColumn("ts", F.col("ts").cast("timestamp"))
    clicks = events.where(F.col("event_type") == "click")
    purchases = events.where(F.col("event_type") == "purchase")
    joined = streaming_event_match_join(
        clicks, purchases, max_delay="1 hour", watermark="40 days"
    )
    out = os.path.join(workdir, "ssj_out")
    q = (
        joined.writeStream.outputMode("append")
        .option("checkpointLocation", os.path.join(workdir, "chk_ssj"))
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", out)
        .start()
    )
    q.awaitTermination()
    got = sorted(map(str, spark.read.parquet(out).collect()))

    ev = load_table(spark, sf_small, "events")
    c = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("left_id"),
        "user_id",
        F.col("ts").alias("left_ts"),
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("right_id"),
        F.col("user_id").alias("r_user_id"),
        F.col("ts").alias("right_ts"),
    )
    want = sorted(
        map(
            str,
            c.join(
                p,
                (F.col("user_id") == F.col("r_user_id"))
                & (F.col("right_ts") > F.col("left_ts"))
                & (F.col("right_ts") <= F.col("left_ts") + F.expr("INTERVAL 1 HOUR")),
            )
            .select("left_id", "right_id", "user_id", "left_ts", "right_ts")
            .collect(),
        )
    )
    assert len(got) > 0
    assert got == want


def test_incremental_rollup_matches_batch(spark, sf_small, workdir):
    """The merged rollup partials equal the batch hourly aggregation, stay
    correct after compaction, and batch replay is idempotent."""
    from realtimedatapipeline_8_project_spark.streaming.sinks import (
        compact_rollup,
        read_rollup,
    )

    src = os.path.join(workdir, "src")
    out = os.path.join(workdir, "out")
    chk = os.path.join(workdir, "chk")
    _write_event_jsonl(spark, sf_small, src, n_files=4)
    dim = load_dim(spark, sf_small)
    run_replay(spark, src, dim, out, chk, max_files_per_trigger=1)

    batch = derive(enrich_events(load_table(spark, sf_small, "events"), dim))
    want = sorted(
        map(
            str,
            batch.groupBy(
                F.window("event_time", "1 hour").alias("w"), "event_type"
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("duration").alias("sum_duration"),
                F.sum("engagement_seconds").alias("sum_engagement_seconds"),
            )
            .select(
                F.col("w.start").alias("bucket_start"),
                "event_type",
                "n",
                "sum_duration",
                "sum_engagement_seconds",
            )
            .collect(),
        )
    )
    got = sorted(map(str, read_rollup(spark, out).collect()))
    assert got == want

    compact_rollup(spark, out)
    assert sorted(map(str, read_rollup(spark, out).collect())) == want
    # a later batch on top of the compacted state still merges exactly
    from realtimedatapipeline_8_project_spark.streaming.sinks import write_rollup

    write_rollup(batch.limit(25), 99, out)
    merged = read_rollup(spark, out)
    n_total = merged.agg(F.sum("n")).first()[0]
    assert n_total == load_table(spark, sf_small, "events").count() + 25


def test_rate_limit_bounds_micro_batches(spark, sf_small, workdir):
    """T4 rate limiting: maxFilesPerTrigger=1 over 4 source files must
    drain in >= 4 micro-batches (one file per trigger), and without the
    cap availableNow drains in fewer batches."""
    src = os.path.join(workdir, "src")
    _write_event_jsonl(spark, sf_small, src, n_files=4)
    dim = load_dim(spark, sf_small)

    out1, chk1 = os.path.join(workdir, "o1"), os.path.join(workdir, "c1")
    run_replay(spark, src, dim, out1, chk1, max_files_per_trigger=1)
    batches_limited = (
        spark.read.parquet(os.path.join(out1, "history"))
        .select("batch_id")
        .distinct()
        .count()
    )
    assert batches_limited >= 4

    out2, chk2 = os.path.join(workdir, "o2"), os.path.join(workdir, "c2")
    run_replay(spark, src, dim, out2, chk2)
    batches_free = (
        spark.read.parquet(os.path.join(out2, "history"))
        .select("batch_id")
        .distinct()
        .count()
    )
    assert batches_free < batches_limited


def test_incremental_moments_merge_and_score_like_batch(spark, sf_small, workdir):
    """Moments sink: per-batch (n, s, ss) partials summed on read must
    equal the one-pass moments, survive an idempotent batch replay, and
    scoring events against the merged table must reproduce the batch
    q_dq_outliers rows exactly."""
    from realtimedatapipeline_8_project_spark.operators.relational import (
        event_moments,
        outliers_vs_moments,
        q_dq_outliers,
        quantize_events,
    )
    from realtimedatapipeline_8_project_spark.streaming.sinks import (
        read_moments,
        write_moments,
    )

    out = os.path.join(workdir, "out")
    ev = load_table(spark, sf_small, "events")
    n = ev.count()
    per = (n + 3) // 4
    chunks = [
        ev.orderBy("event_id").offset(i * per).limit(per) for i in range(4)
    ]
    for i, c in enumerate(chunks):
        write_moments(c, i, out)
    write_moments(chunks[1], 1, out)  # replay a committed batch id

    merged = read_moments(spark, out)
    got = sorted(map(tuple, merged.collect()))
    want = sorted(
        map(tuple, event_moments(quantize_events(ev)).collect())
    )
    assert got == want

    scored = sorted(
        map(
            tuple,
            outliers_vs_moments(quantize_events(ev), merged).collect(),
        )
    )
    batch = sorted(map(tuple, q_dq_outliers(spark, sf_small).collect()))
    assert scored == batch
    assert len(batch) > 0  # the fixture does contain outliers


def test_incremental_m4_merges_to_batch_downsample(spark, sf_small, workdir):
    """M4 sink: per-batch partial cells merged on read (min/max/min_by/
    max_by/sum) must equal the one-pass q_m4_downsample, including after
    an idempotent replay of a committed batch."""
    from realtimedatapipeline_8_project_spark.operators.timeseries import (
        q_m4_downsample,
    )
    from realtimedatapipeline_8_project_spark.streaming.sinks import (
        read_m4,
        write_m4,
    )

    out = os.path.join(workdir, "out")
    ev = load_table(spark, sf_small, "events")
    n = ev.count()
    per = (n + 2) // 3
    for i in range(3):
        write_m4(ev.orderBy("event_id").offset(i * per).limit(per), i, out)
    write_m4(ev.orderBy("event_id").limit(per), 0, out)  # replay batch 0

    got = sorted(map(tuple, read_m4(spark, out).collect()))
    want = sorted(map(tuple, q_m4_downsample(spark, sf_small).collect()))
    assert got == want
    assert len(want) > 0


def test_stats_replay_stream_equals_batch(spark, sf_small, workdir):
    """End-to-end streaming wiring for the moments/M4 sinks: JSON source
    -> decode -> foreachBatch partials over several micro-batches; the
    merged serving views must equal the one-pass batch answers, and
    scoring against streamed moments must reproduce q_dq_outliers."""
    from realtimedatapipeline_8_project_spark.operators.relational import (
        q_dq_outliers,
        outliers_vs_moments,
        quantize_events,
    )
    from realtimedatapipeline_8_project_spark.operators.timeseries import (
        q_m4_downsample,
    )
    from realtimedatapipeline_8_project_spark.streaming.pipeline import (
        run_stats_replay,
    )
    from realtimedatapipeline_8_project_spark.streaming.sinks import (
        read_m4,
        read_moments,
    )

    src = os.path.join(workdir, "src")
    out = os.path.join(workdir, "out")
    chk = os.path.join(workdir, "chk")
    _write_event_jsonl(spark, sf_small, src, n_files=4)
    run_stats_replay(spark, src, out, chk, max_files_per_trigger=1)

    got_m4 = sorted(map(tuple, read_m4(spark, out).collect()))
    want_m4 = sorted(map(tuple, q_m4_downsample(spark, sf_small).collect()))
    assert got_m4 == want_m4

    ev = load_table(spark, sf_small, "events")
    scored = sorted(
        map(
            tuple,
            outliers_vs_moments(
                quantize_events(ev), read_moments(spark, out)
            ).collect(),
        )
    )
    batch = sorted(map(tuple, q_dq_outliers(spark, sf_small).collect()))
    assert scored == batch and len(batch) > 0


def test_stats_replay_checkpoint_incremental_restart(spark, sf_small, workdir):
    """Restarting the stats replay from the same checkpoint after new data
    arrives must fold ONLY the new files into the partial state (committed
    batches are not reprocessed), and a restart with no new data must
    change nothing — the merged moments always equal the one-pass batch
    over everything drained so far."""
    from realtimedatapipeline_8_project_spark.operators.relational import (
        event_moments,
        quantize_events,
    )
    from realtimedatapipeline_8_project_spark.streaming.pipeline import (
        run_stats_replay,
    )
    from realtimedatapipeline_8_project_spark.streaming.sinks import read_moments

    src = os.path.join(workdir, "src")
    out = os.path.join(workdir, "out")
    chk = os.path.join(workdir, "chk")
    _write_event_jsonl(spark, sf_small, src, n_files=4)
    # hold one file back
    held = os.path.join(workdir, "part-3.jsonl")
    os.rename(os.path.join(src, "part-3.jsonl"), held)

    run_stats_replay(spark, src, out, chk, max_files_per_trigger=1)
    partial_n = read_moments(spark, out).agg(F.sum("n")).first()[0]

    # no new data: restart is a no-op
    run_stats_replay(spark, src, out, chk, max_files_per_trigger=1)
    assert read_moments(spark, out).agg(F.sum("n")).first()[0] == partial_n

    # late file arrives; restart folds only the delta
    os.rename(held, os.path.join(src, "part-3.jsonl"))
    run_stats_replay(spark, src, out, chk, max_files_per_trigger=1)

    got = sorted(map(tuple, read_moments(spark, out).collect()))
    ev = load_table(spark, sf_small, "events")
    want = sorted(map(tuple, event_moments(quantize_events(ev)).collect()))
    assert got == want


def test_purge_keys_rewrites_only_affected_partitions(spark, sf_small, workdir):
    """GDPR purge: purged event_ids vanish from history, as-of reads, and
    the compacted latest snapshot; unaffected batch partitions keep their
    files untouched (checked by mtime); cost = affected partitions only."""
    import glob
    import time as _time

    from realtimedatapipeline_8_project_spark.streaming.sinks import (
        compact_latest,
        expire_batches,
        purge_keys,
        read_history_asof,
        read_latest,
        write_history,
    )

    out = os.path.join(workdir, "out")
    dim = load_dim(spark, sf_small)
    ev = load_table(spark, sf_small, "events").limit(30)
    batches = [
        derive(enrich_events(ev.limit(10), dim)),
        derive(enrich_events(ev.offset(10).limit(10), dim)),
        derive(enrich_events(ev.offset(20).limit(10), dim)),
    ]
    for i, b in enumerate(batches):
        write_history(b, i, out)
    compact_latest(spark, out)

    # purge two keys that live only in batch 1
    victims = [r.event_id for r in batches[1].select("event_id").limit(2).collect()]
    keys = spark.createDataFrame([(k,) for k in victims], "event_id long")

    hist = os.path.join(out, "history")
    mtimes_before = {
        p: os.path.getmtime(p)
        for p in glob.glob(os.path.join(hist, "batch_id=*", "*.parquet"))
    }
    _time.sleep(1.1)  # mtime resolution guard
    n_rewritten = purge_keys(spark, out, keys)
    assert n_rewritten == 1  # only batch 1 contained the victims

    remaining = spark.read.parquet(hist)
    assert remaining.count() == 28
    assert remaining.where(F.col("event_id").isin(victims)).count() == 0
    # time travel reconstructs the PURGED view (legal erasure semantics)
    asof1 = read_history_asof(spark, out, 1)
    assert asof1.count() == 18
    assert asof1.where(F.col("event_id").isin(victims)).count() == 0
    # the compacted serving snapshot forgot the keys too
    latest = read_latest(spark, out)
    assert latest.count() == 28
    assert latest.where(F.col("event_id").isin(victims)).count() == 0
    # batches 0 and 2 were not rewritten: same files, same mtimes
    untouched = {
        p: m
        for p, m in mtimes_before.items()
        if "batch_id=1" not in p
    }
    for p, m in untouched.items():
        assert os.path.exists(p) and os.path.getmtime(p) == m, p

    # retention: dropping batches < 1 removes exactly one partition dir
    assert expire_batches(spark, out, keep_from_batch_id=1) == 1
    left = spark.read.parquet(hist)
    assert left.select("batch_id").distinct().count() == 2
    assert left.count() == 18  # batch1 (8 after purge) + batch2 (10)


def test_latest_swap_never_leaks_tmp_dir(spark, sf_small, workdir):
    """ADVICE r5: the write-then-swap of the compacted latest snapshot
    must remove its _latest_tmp staging dir on success AND on failure,
    and a purge must leave no staging residue either."""
    from realtimedatapipeline_8_project_spark.streaming.sinks import (
        purge_keys,
        write_history,
    )

    out = os.path.join(workdir, "out")
    dim = load_dim(spark, sf_small)
    ev = load_table(spark, sf_small, "events").limit(10)
    write_history(derive(enrich_events(ev, dim)), 0, out)
    compact_latest(spark, out)
    assert not os.path.exists(os.path.join(out, "_latest_tmp"))

    victims = [r.event_id for r in ev.select("event_id").limit(2).collect()]
    keys = spark.createDataFrame([(k,) for k in victims], "event_id long")
    purge_keys(spark, out, keys)
    assert not os.path.exists(os.path.join(out, "_latest_tmp"))
    got = spark.read.parquet(os.path.join(out, "latest"))
    assert got.where(F.col("event_id").isin(victims)).isEmpty()

    # failed STAGING write: latest untouched, incomplete tmp cleaned
    import pytest as _pytest

    from realtimedatapipeline_8_project_spark.streaming.sinks import (
        _swap_latest,
        recover_latest,
    )

    boom = spark.createDataFrame([(1,)], "event_id long").select(
        F.expr("assert_true(event_id > 99)").alias("x"), "event_id"
    )
    with _pytest.raises(Exception):
        _swap_latest(boom, spark, out)
    assert not os.path.exists(os.path.join(out, "_latest_tmp"))

    # crash BETWEEN the delete and the rewrite: tmp is the only complete
    # copy of the snapshot — recover_latest must finish the swap, byte
    # content preserved (simulated by moving the snapshot into staging)
    latest_dir = os.path.join(out, "latest")
    before = sorted(map(str, spark.read.parquet(latest_dir).collect()))
    shutil.move(latest_dir, os.path.join(out, "_latest_tmp"))
    assert recover_latest(spark, out) is True
    assert sorted(map(str, spark.read.parquet(latest_dir).collect())) == before
    assert not os.path.exists(os.path.join(out, "_latest_tmp"))
    assert recover_latest(spark, out) is False  # idempotent no-op


def test_corrupt_latest_snapshot_raises_not_silently_drops(
    spark, sf_small, workdir
):
    """read_latest / compact_latest: only PATH_NOT_FOUND means 'no
    snapshot yet'. A corrupt snapshot may hold the sole copy of
    retention-expired keys — reading past it (or replacing it with a
    history-only rebuild) would silently drop them from serving."""
    import pytest as _pytest

    from realtimedatapipeline_8_project_spark.streaming.sinks import (
        write_history,
    )

    out = os.path.join(workdir, "out")
    dim = load_dim(spark, sf_small)
    ev = load_table(spark, sf_small, "events").limit(10)
    enriched = derive(enrich_events(ev, dim))
    write_history(enriched, 0, out)
    compact_latest(spark, out)
    # corrupt every snapshot data file
    latest_dir = os.path.join(out, "latest")
    for root, _, files in os.walk(latest_dir):
        for f in files:
            if f.endswith(".parquet"):
                with open(os.path.join(root, f), "wb") as fh:
                    fh.write(b"junk")
    def snapshot_bytes():
        got = {}
        for root, _, files in os.walk(latest_dir):
            for f in files:
                p = os.path.join(root, f)
                with open(p, "rb") as fh:
                    got[os.path.relpath(p, latest_dir)] = fh.read()
        return got

    corrupt = snapshot_bytes()
    with _pytest.raises(Exception, match="(?i)parquet|footer|corrupt"):
        read_latest(spark, out).collect()
    with _pytest.raises(Exception, match="(?i)parquet|footer|corrupt"):
        compact_latest(spark, out)
    # the failed compaction left the corrupt snapshot exactly as it was
    assert snapshot_bytes() == corrupt
    # and the missing-snapshot path still works
    shutil.rmtree(latest_dir)
    assert read_latest(spark, out).count() == 10
