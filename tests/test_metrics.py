"""Per-batch monitoring/alerting hook (SURVEY §2.10; reference
stream-processor.py:113-120, 295-320 — per-batch row counts, latency
logging, 3 s sink / 4 s batch alert thresholds per BASELINE.md)."""

from __future__ import annotations

import json
import os
import time

from realtimedatapipeline_8_project_spark.operators.enrich import (
    enrich_events,
    load_dim,
)
from realtimedatapipeline_8_project_spark.sources.tables import load_table
from realtimedatapipeline_8_project_spark.streaming.metrics import (
    MetricsRecorder,
    attach_progress_listener,
)
from realtimedatapipeline_8_project_spark.streaming.pipeline import (
    derive,
    read_json_stream,
    run_replay,
)
from realtimedatapipeline_8_project_spark.streaming.sinks import (
    write_batch_fanout,
)
from .test_streaming import _write_event_jsonl


def test_recorder_counts_and_thresholds():
    rec = MetricsRecorder(sink_alert_sec=3.0, batch_alert_sec=4.0)
    m = rec.record(0, 100, {"history": 0.5, "rollup": 0.2}, 1.0)
    assert m.alerts == []
    m = rec.record(1, 50, {"history": 3.5}, 4.5)
    assert len(m.alerts) == 2
    assert "history write latency 3.50s" in m.alerts[0]
    assert "exceeds 4s threshold" in m.alerts[1]
    assert rec.total_rows == 150
    assert len(rec.alerts) == 2


def test_fanout_records_per_batch_metrics(spark, sf_small, tmp_path):
    """Every micro-batch of a replay contributes one metrics record whose
    row counts sum to the input size. The default alert thresholds are
    checked on injected timings just either side of each one, so the
    outcome does not depend on how fast the host writes."""
    src, out, chk = (str(tmp_path / d) for d in ("src", "out", "chk"))
    n = _write_event_jsonl(spark, sf_small, src)
    dim = load_dim(spark, sf_small)
    jsonl = str(tmp_path / "metrics" / "batches.jsonl")
    rec = MetricsRecorder(jsonl_path=jsonl)

    run_replay(spark, src, dim, out, chk, max_files_per_trigger=1, recorder=rec)

    assert len(rec.batches) >= 2  # one file per trigger => several batches
    assert rec.total_rows == n
    assert all(m.total_seconds > 0 for m in rec.batches)
    assert all(set(m.sink_seconds) == {"history", "rollup"} for m in rec.batches)
    # durable JSON-lines mirror
    with open(jsonl, encoding="utf-8") as f:
        lines = [json.loads(l) for l in f]
    assert sum(l["n_rows"] for l in lines) == n
    assert [l["alerts"] for l in lines] == [m.alerts for m in rec.batches]

    # the default thresholds (3 s per sink write, 4 s per batch) on
    # injected timings, one case on each side of each threshold
    injected = str(tmp_path / "metrics" / "injected.jsonl")
    rec2 = MetricsRecorder(jsonl_path=injected)
    below = {"history": 2.99, "rollup": 2.99}
    slow_history = {"history": 3.01, "rollup": 2.99}
    slow_rollup = {"history": 2.99, "rollup": 3.01}
    assert rec2.record(0, 5, below, 3.99).alerts == []
    assert rec2.record(1, 5, slow_history, 3.99).alerts == [
        "history write latency 3.01s exceeds 3s threshold for batch 1"
    ]
    assert rec2.record(2, 5, slow_rollup, 3.99).alerts == [
        "rollup write latency 3.01s exceeds 3s threshold for batch 2"
    ]
    assert rec2.record(3, 5, below, 4.01).alerts == [
        "batch 3 processing time 4.01s exceeds 4s threshold"
    ]
    with open(injected, encoding="utf-8") as f:
        carried = [json.loads(l)["alerts"] for l in f]
    assert carried == [m.alerts for m in rec2.batches]
    assert rec2.alerts == [a for alerts in carried for a in alerts]
    assert len(rec2.alerts) == 3


def test_fanout_alerts_when_threshold_exceeded(spark, sf_small, tmp_path):
    """A zero threshold makes any real batch fire the alert path."""
    out = str(tmp_path / "out")
    ev = load_table(spark, sf_small, "events").limit(20)
    batch = derive(enrich_events(ev, load_dim(spark, sf_small)))
    rec = MetricsRecorder(sink_alert_sec=0.0, batch_alert_sec=0.0)
    write_batch_fanout(batch, 3, out, recorder=rec)
    assert len(rec.batches) == 1
    assert any("exceeds 0s threshold" in a for a in rec.alerts)
    assert any("write latency" in a for a in rec.alerts)


def test_progress_listener_bridge(spark, sf_small, tmp_path):
    """Spark's own progress events land in the recorder (async delivery —
    poll with timeout)."""
    src = str(tmp_path / "src")
    n = _write_event_jsonl(spark, sf_small, src, n_files=2)
    rec = MetricsRecorder()
    listener = attach_progress_listener(spark, rec)
    try:
        q = (
            read_json_stream(spark, src)
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "chk"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        deadline = time.time() + 20
        while time.time() < deadline and rec.total_rows < n:
            time.sleep(0.2)
        assert rec.total_rows >= n
        assert all(m.batch_id >= 0 for m in rec.batches)
    finally:
        spark.streams.removeListener(listener)
