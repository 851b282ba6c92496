"""``ingest_outbox``: a closed-loop drain of a pre-filled outbox through
the outbox source, ``start_pipeline`` and the history + rollup fan-out,
at ``maxRowsPerTrigger`` = 10 000.

Warm-up batches run first (JIT, code cache, broadcast of the dimension);
their rate sizes the rest of the outbox, which is generated before the
timed window opens. The window then holds every batch that starts inside
it. Per-batch
latency is the stream's own ``triggerExecution``; throughput is delivered
events over the span from the first timed batch's start to the last
one's end.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import sys
import time

from . import checks, engine, gen, metrics, stats

WARMUP_BATCHES = 10
BACKLOG = 3  # outbox files kept pending ahead of the stream
HEADROOM = 1.5  # outbox generated for this many times the warm-up rate
MIN_TIMED_FILES = 9  # three measure() calls of a traced run, 3 batches each


def _recorder():
    """A MetricsRecorder that also notes when each batch's fan-out ended,
    so the traced run can place its sink spans."""
    from realtimedatapipeline_8_project_spark.streaming.metrics import MetricsRecorder

    class Recorder(MetricsRecorder):
        def __init__(self):
            super().__init__()
            self.ended: dict[int, float] = {}

        def record(self, batch_id, n_rows, sink_seconds=None, total_seconds=0.0):
            self.ended[batch_id] = time.perf_counter()
            return super().record(batch_id, n_rows, sink_seconds, total_seconds)

    return Recorder()


def _start_epoch(p) -> float:
    t = dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return t.replace(tzinfo=dt.timezone.utc).timestamp()


class Ingest:
    name = "ingest_outbox"
    op = "micro-batch"

    def __init__(self, ctx) -> None:
        from realtimedatapipeline_8_project_spark.operators.enrich import load_dim

        self.ctx = ctx
        spark, state = ctx.spark, ctx.state
        self.spec = gen.StreamSpec(seed=ctx.seed)
        self.customer = gen.write_customers(self.spec, state.path("dim"))
        self.recorder = _recorder()
        self.drain = engine.Drain(spark, state, load_dim(spark, state.path("dim")), self.recorder)
        self.summaries: list[gen.Summary] = []  # one per generated file
        self.windows: list[tuple[float, float]] = []  # traced batches
        self.timed = 0  # batches measured, over every measure() call
        # warm up, generating meanwhile the files that the rate seen so far
        # asks for; the timed part is fed from the generated files
        while True:
            need = self._needed()
            if self.generated < need:
                self._generate()
            elif self.drain.committed() >= WARMUP_BATCHES:
                break
            else:
                time.sleep(0.02)
            self._top_up()
        self.state_layers = engine.sink_state(self.drain.out)

    @staticmethod
    def layers() -> list[str]:
        return [*metrics.INGEST_LAYERS, *metrics.STATE_LAYERS]

    @property
    def generated(self) -> int:
        return len(self.summaries)

    def _generate(self) -> None:
        _, d = gen.write_outbox_file(self.spec, self.generated, self.drain.staging)
        self.summaries.append(gen.summarise(self.spec, d))

    def _needed(self) -> int:
        """Outbox files for warm-up, backlog and the timed part, the last
        sized from the rate of the three latest batches. measure() takes
        at least two batches and waits for the one in flight."""
        last = [p for p in self.drain.query.recentProgress if p["numInputRows"] > 0][-3:]
        if not last:
            return WARMUP_BATCHES + BACKLOG
        rate = stats.median([p["numInputRows"] / (p["durationMs"]["triggerExecution"] / 1e3)
                             for p in last])
        timed = math.ceil(HEADROOM * self.ctx.seconds * rate / self.spec.rows_per_file)
        return max(WARMUP_BATCHES, self.drain.committed()) + BACKLOG + max(timed, MIN_TIMED_FILES)

    def _top_up(self) -> None:
        fed, done = self.drain.fed, len(self.recorder.batches)
        while len(fed) < self.generated and len(fed) - done < BACKLOG:
            self.drain.feed(gen.file_name(len(fed)))

    def _sink(self, *parts: str) -> str:
        return os.path.join(self.drain.out, *parts)

    def measure(self, seconds: float, tracer) -> dict:
        """Keep the backlog full until the deadline, and at least until
        one batch has run entirely inside the window."""
        opened = time.time()
        deadline = opened + seconds
        at_open = len(self.recorder.batches)
        while len(self.drain.fed) < self.generated and (
            time.time() < deadline or len(self.recorder.batches) < at_open + 2
        ):
            self._top_up()
            time.sleep(0.02)
        if time.time() < deadline:
            print(f"outbox ran out {deadline - time.time():.1f} s before the deadline",
                  file=sys.stderr)
        deadline = max(deadline, time.time())
        # the batch in flight at the deadline started before it
        self.drain.wait_committed(min(self.drain.committed() + 1, len(self.drain.fed)))
        progress = {
            int(p["batchId"]): p
            for p in self.drain.query.recentProgress
            if p["numInputRows"] > 0
        }
        timed = [b for b in sorted(progress) if opened <= _start_epoch(progress[b]) < deadline]
        if not timed:
            raise RuntimeError("no batch started in the timed window: the outbox ran out")
        rec = {m.batch_id: m for m in self.recorder.batches}
        lat = [progress[b]["durationMs"]["triggerExecution"] / 1e3 for b in timed]
        events = sum(rec[b].n_rows for b in timed)
        t0 = _start_epoch(progress[timed[0]])
        t1 = max(_start_epoch(progress[b]) + s for b, s in zip(timed, lat))
        self.timed += len(timed)
        if tracer.enabled:
            self.windows = [(_start_epoch(progress[b]), _start_epoch(progress[b]) + s)
                            for b, s in zip(timed, lat)]
        return {
            "ops": len(timed),
            "ops_per_s": events / (t1 - t0),
            "latencies": lat,
            "named": {
                "ingest_events_per_s": (events / (t1 - t0), "events/s", len(timed)),
                "ingest_batch_p50_s": (stats.median(lat), "s", len(lat)),
                "ingest_batch_tail_s": stats.tail_named(lat),
            },
            "layers": self._layers(progress, rec, timed, tracer),
        }

    def trace_extras(self, tracer, layers: dict) -> tuple[int, list[str]]:
        return 0, []

    def finish(self) -> tuple[int, list[str]]:
        """Stop the stream once everything fed is committed, then compare
        the whole history with DuckDB over every fed outbox file. A wrong
        history fails every timed batch (the batches counted as attempted)."""
        self.drain.wait_committed(len(self.drain.fed))
        self.drain.stop()
        history = (
            self.ctx.spark.read.parquet(self._sink("history")).drop("batch_id").toArrow()
        )
        files = [os.path.join(self.drain.outbox, f) for f in self.drain.fed]
        problems = checks.check_history(history, files, self.customer)
        return (self.timed if problems else 0), problems

    def generator_record(self) -> dict:
        return gen.observed(self.spec, self.summaries[: len(self.drain.fed)])

    def event_log_layers(self, log) -> dict:
        jobs = sum(log.jobs_in(a, b) for a, b in self.windows)
        return {"streaming.jobs_per_batch": jobs / max(len(self.windows), 1)}

    def _layers(self, progress, rec, timed, tracer) -> dict:
        """Per-layer numbers of the timed batches, read from the stream's
        progress, the recorder and the sink directories."""
        med = stats.median
        d = [progress[b]["durationMs"] for b in timed]
        for b in timed:
            end, m = self.recorder.ended[b], rec[b]
            h, r = m.sink_seconds["history"], m.sink_seconds["rollup"]
            root = tracer.add("streaming.sinks.fanout", end - m.total_seconds, end, request=b)
            tracer.add("streaming.sinks.history_write", end - h - r, end - r, root, b)
            tracer.add("streaming.sinks.rollup_write", end - r, end, root, b)
        size = files = 0
        for b in timed:
            hs, hf = engine.dir_size(self._sink("history", f"batch_id={b}"))
            _, rf = engine.dir_size(self._sink("rollup", f"batch_id={b}"))
            size, files = size + hs, files + hf + rf
        events = sum(rec[b].n_rows for b in timed)
        return {
            **self.state_layers,
            "sources.outbox_stream.poll_s": med([(x.get("latestOffset", 0) + x.get("getBatch", 0)) / 1e3 for x in d]),
            "streaming.pipeline.plan_s": med([x.get("queryPlanning", 0) / 1e3 for x in d]),
            "streaming.sinks.history_write_s": med([rec[b].sink_seconds["history"] for b in timed]),
            "streaming.sinks.rollup_write_s": med([rec[b].sink_seconds["rollup"] for b in timed]),
            "streaming.sinks.fanout_s": med([rec[b].total_seconds for b in timed]),
            "streaming.checkpoint_s": med([(x.get("walCommit", 0) + x.get("commitOffsets", 0)) / 1e3 for x in d]),
            "streaming.sinks.bytes_per_event": size / max(events, 1),
            "streaming.sinks.files_per_batch": files / len(timed),
        }
