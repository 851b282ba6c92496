"""Names and units of every metric the benchmark prints.

The end-to-end metrics are the same on every workload, so a change can be
compared workload by workload; what an "op" is depends on the workload
(a micro-batch of ``ingest_outbox``, a request of ``serve_mixed``). A
per-layer metric of a layer that a workload bypasses reads 0 there.
"""

from __future__ import annotations

END_TO_END = {
    "setup_s": "s",  # process start to the first timed operation
    "ops_per_s": "ops/s",  # events ingested, or requests answered, per second
    "op_p50_s": "s",  # median latency of one micro-batch or one request
    "rss_after_gc_mb": "MB",  # JVM + benchmark process + Python workers, after a full GC
}

INGEST_LAYERS = {
    "sources.outbox_stream.poll_s": "s",
    "streaming.pipeline.plan_s": "s",
    "streaming.sinks.history_write_s": "s",
    "streaming.sinks.rollup_write_s": "s",
    "streaming.sinks.fanout_s": "s",
    "streaming.checkpoint_s": "s",
    "streaming.jobs_per_batch": "count",
    "streaming.sinks.bytes_per_event": "bytes",
    "streaming.sinks.files_per_batch": "count",
}

STATE_LAYERS = {  # sink state after set-up, reported by both workloads
    "streaming.sinks.history_bytes": "bytes",
    "streaming.sinks.latest_snapshot_bytes": "bytes",
    "streaming.sinks.rollup_partitions": "count",
}

SERVE_LAYERS = {
    "streaming.sinks.read_latest.plan_s": "s",
    "streaming.sinks.read_latest.exec_s": "s",
    "streaming.sinks.read_rollup.plan_s": "s",
    "streaming.sinks.read_rollup.exec_s": "s",
    "serve.scan.plan_s": "s",
    "serve.scan.exec_s": "s",
    "serve.point.rows_scanned_per_result": "count",
    "serve.scan.rows_scanned_per_result": "count",
}

TRACE = {  # traced half against the untraced half of one traced run
    "trace.overhead_frac": "fraction",  # traced / untraced op_p50_s - 1
    "trace.throughput_overhead_frac": "fraction",  # untraced / traced ops_per_s - 1
}


def per_layer() -> dict[str, str]:
    from .operators_pass import layer_names

    return {**INGEST_LAYERS, **STATE_LAYERS, **SERVE_LAYERS, **layer_names(), **TRACE}
