"""``serve_mixed``: closed-loop serving reads over sinks the pipeline
built during set-up.

Set-up drains a seeded event set through the same outbox -> pipeline ->
sinks path, runs ``compact_latest`` and ``compact_rollup``, then drains a
further tail that stays uncompacted, so reads see both the snapshot and
fresh partitions. The timed part is a fixed number of client threads,
each sending its next request when the previous one answered, in a
60/30/10 mix:

* ``point``: ``read_latest`` filtered to one ``event_id`` (the Redis analog);
* ``scan``: one user's history in a time range, newest first, limited
  (the Cassandra partition-key range analog);
* ``rollup``: ``read_rollup`` over an hour range and event type.

Keys are Zipf-skewed and favour recent ones. Every response is checked
against the generator's own events after the timed part.
"""

from __future__ import annotations

import datetime as dt
import itertools
import random
import threading
import time

from . import checks, engine, gen, metrics, operators_pass, stats
from .trace import Tracer

# 12 batches of 10 000 events; README.md ("Serving state size") says why
SETUP_FILES = 10  # drained, then compacted
TAIL_FILES = 2  # drained after compaction, left as fresh partitions
MIX = (("point", 60), ("scan", 30), ("rollup", 10))
CYCLE = sum(w for _, w in MIX) // 10  # requests in one cycle of the mix
SCAN_LIMIT = 20
WARMUP_REQUESTS = 24  # answered before timing, across all clients
COLS = ("event_id", "event_time", "user_id", "event_type", "duration",
        "segment", "engagement_seconds", "engagement_pct")
ROLLUP_COLS = ("bucket_start", "event_type", "n", "sum_duration", "sum_engagement_seconds")


def clients() -> int:
    return min(4, engine.cpus())


def rows_scanned(df) -> int:
    """Rows produced by the scan nodes of ``df``'s executed plan (read
    from the plan's SQL metrics after the action ran)."""
    stack, total = [df._jdf.queryExecution().executedPlan()], 0
    while stack:
        p = stack.pop()
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(p.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(p.plan())
            continue
        if "Scan" in cls:
            m = p.metrics().get("numOutputRows")
            if m.isDefined():
                total += int(m.get().value())
        kids = p.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return total


class Requests:
    """Deterministic request streams, one per client thread."""

    def __init__(self, spec: gen.StreamSpec, truth: checks.Truth) -> None:
        self.spec = spec
        ids = sorted(truth.latest, reverse=True)  # most recent first
        self.ids = ids
        self.id_zipf = gen._Zipf(len(ids), 0.8)
        self.keys = gen.key_ranks(spec)
        self.key_zipf = gen._Zipf(spec.customers, spec.zipf_s)
        last = max(r[1] for r in truth.latest.values())
        self.last_hour = last.replace(minute=0, second=0, microsecond=0)
        self.hours = max(int((last - min(r[1] for r in truth.latest.values())).total_seconds() // 3600), 2)
        self.hour_zipf = gen._Zipf(self.hours, 1.0)

    def stream(self, client: int):
        """Endless requests; the kinds follow a fixed shuffled cycle of
        the mix, so every run sends the mix's exact proportions."""
        rng = random.Random(f"{self.spec.seed}/requests/{client}")
        cycle = [k for k, w in MIX for _ in range(w // 10)]  # CYCLE requests
        rng.shuffle(cycle)
        for kind in itertools.cycle(cycle):
            if kind == "point":
                yield kind, (self.ids[self.id_zipf.rank(rng.random())],)
            elif kind == "scan":
                hi = self.last_hour + dt.timedelta(hours=1) - dt.timedelta(
                    hours=self.hour_zipf.rank(rng.random()))
                lo = hi - dt.timedelta(hours=1 + int(rng.random() * 6))
                yield kind, (self.keys[self.key_zipf.rank(rng.random())], lo, hi)
            else:
                hi = self.last_hour + dt.timedelta(hours=1) - dt.timedelta(
                    hours=self.hour_zipf.rank(rng.random()))
                lo = hi - dt.timedelta(hours=6 + int(rng.random() * 18))
                et = gen.EVENT_TYPES[int(rng.random() * len(gen.EVENT_TYPES))]
                yield kind, (et, lo, hi)


class Serve:
    name = "serve_mixed"
    op = "request"

    def __init__(self, ctx) -> None:
        from realtimedatapipeline_8_project_spark.operators.enrich import load_dim
        from realtimedatapipeline_8_project_spark.streaming import sinks
        from realtimedatapipeline_8_project_spark.streaming.metrics import MetricsRecorder

        self.ctx, self.sinks = ctx, sinks
        spark, state = ctx.spark, ctx.state
        self.spec = gen.StreamSpec(seed=ctx.seed)
        gen.write_customers(self.spec, state.path("dim"))
        self.recorder = MetricsRecorder()
        drain = engine.Drain(spark, state, load_dim(spark, state.path("dim")), self.recorder)
        delivered: list[gen.Event] = []
        self.summaries: list[gen.Summary] = []

        def ingest(files: range) -> None:
            """Generate each file and feed it at once, so the stream drains
            one file while the next is generated; wait for all of them."""
            for k in files:
                _, d = gen.write_outbox_file(self.spec, k, drain.staging)
                drain.feed(gen.file_name(k))
                delivered.extend(d)
                self.summaries.append(gen.summarise(self.spec, d))
            drain.wait_committed(files.stop)

        ingest(range(SETUP_FILES))
        sinks.compact_latest(spark, drain.out)
        sinks.compact_rollup(spark, drain.out)
        ingest(range(SETUP_FILES, SETUP_FILES + TAIL_FILES))
        drain.stop()
        self.out = drain.out
        self.last_batch = drain.last_batch()
        self.delivered = delivered
        self.truth = checks.Truth(self.spec, delivered)
        self.requests = Requests(self.spec, self.truth)
        self.done: list[tuple] = []  # (kind, args, rows, ...) of every timed request
        self.rounds = 0
        self.state_layers = engine.sink_state(self.out)
        # warm the read paths with the closed loop itself, untimed
        self.measure(0.0, Tracer(False), min_requests=WARMUP_REQUESTS, record=False)

    @staticmethod
    def layers() -> list[str]:
        return [*metrics.SERVE_LAYERS, *metrics.STATE_LAYERS, *operators_pass.layer_names()]

    def _call(self, kind: str, args: tuple, tracer, request: int, scanned=None) -> list[tuple]:
        """One request through the public read API; ``tracer`` spans the
        call that builds the read and the action that runs it."""
        from pyspark.sql import functions as F

        spark, sinks, span = self.ctx.spark, self.sinks, tracer.span
        with span(f"serve.{kind}", request):
            if kind == "point":
                with span("streaming.sinks.read_latest"):
                    df = sinks.read_latest(spark, self.out).where(
                        F.col("event_id") == args[0]).select(*COLS)
            elif kind == "scan":
                user, lo, hi = args
                with span("serve.scan.plan"):
                    df = (
                        sinks.read_history_asof(spark, self.out, self.last_batch)
                        .where((F.col("user_id") == user) & (F.col("event_time") >= lo)
                               & (F.col("event_time") < hi))
                        .orderBy(F.desc("event_time"), F.desc("event_id"))
                        .limit(SCAN_LIMIT)
                        .select(*COLS)
                    )
            else:
                etype, lo, hi = args
                with span("streaming.sinks.read_rollup"):
                    df = sinks.read_rollup(spark, self.out).where(
                        (F.col("event_type") == etype) & (F.col("bucket_start") >= lo)
                        & (F.col("bucket_start") < hi)).select(*ROLLUP_COLS)
            with span(f"serve.{kind}.exec"):
                rows = [tuple(r) for r in df.collect()]
            if scanned is not None and kind in ("point", "scan"):
                scanned.setdefault(kind, []).append((rows_scanned(df), len(rows)))
        return rows

    def measure(self, seconds: float, tracer, min_requests: int = CYCLE,
                record: bool = True) -> dict:
        """Closed loop: each client sends its next request when the last
        one answered, until the deadline has passed, ``min_requests``
        have been answered and every kind at least once. ``record`` keeps
        the answers for checking and summarises them."""
        n_clients = clients()
        round_, self.rounds = self.rounds, self.rounds + 1  # fresh streams per call
        results: list[list] = [[] for _ in range(n_clients)]
        scanned: dict[str, list] | None = {} if tracer.enabled else None
        errors: list[BaseException] = []
        lock = threading.Lock()
        count = {k: 0 for k, _ in MIX}

        def more() -> bool:
            return (time.perf_counter() < deadline[0] or sum(count.values()) < min_requests
                    or min(count.values()) == 0)
        start = threading.Barrier(n_clients + 1)
        deadline = [0.0]

        def client(i: int) -> None:
            try:
                reqs = self.requests.stream(round_ * n_clients + i)
                start.wait()
                while more():
                    kind, args = next(reqs)
                    t0 = time.perf_counter()
                    rows = self._call(kind, args, tracer, i * 1_000_000 + len(results[i]), scanned)
                    results[i].append((kind, args, rows, time.perf_counter() - t0, t0))
                    with lock:
                        count[kind] += 1
            except BaseException as exc:  # re-raised in the caller after join
                errors.append(exc)

        threads = [threading.Thread(target=client, args=(i,)) for i in range(n_clients)]
        for t in threads:
            t.start()
        opened = time.perf_counter()
        deadline[0] = opened + seconds
        start.wait()
        for t in threads:
            t.join()
        if errors:
            raise errors[0]
        done = [r for rs in results for r in rs]
        if not record:
            return {}
        self.done.extend(done)
        ended = max(r[4] + r[3] for r in done)
        lat = {k: [r[3] for r in done if r[0] == k] for k, _ in MIX}
        rate = len(done) / (ended - opened)
        named = {"serve_requests_per_s": (rate, "req/s", len(done))}
        for k, xs in lat.items():
            named[f"serve_{k}_p50_s"] = (stats.median(xs) if xs else None, "s", len(xs))
            named[f"serve_{k}_tail_s"] = stats.tail_named(xs)
        layers = dict(self.state_layers)
        if tracer.enabled:
            for name, kind, plan in (
                ("streaming.sinks.read_latest", "point", "streaming.sinks.read_latest"),
                ("streaming.sinks.read_rollup", "rollup", "streaming.sinks.read_rollup"),
                ("serve.scan", "scan", "serve.scan.plan"),
            ):
                layers[f"{name}.plan_s"] = stats.median(tracer.durations(plan))
                layers[f"{name}.exec_s"] = stats.median(tracer.durations(f"serve.{kind}.exec"))
            for k in ("point", "scan"):
                pairs = scanned.get(k, [])
                layers[f"serve.{k}.rows_scanned_per_result"] = (
                    sum(s for s, _ in pairs) / max(sum(n for _, n in pairs), 1))
        return {"ops": len(done), "ops_per_s": rate, "latencies": [r[3] for r in done],
                "named": named, "layers": layers}

    def trace_extras(self, tracer, layers: dict) -> tuple[int, list[str]]:
        """The operator-layer pass, on the traced run only."""
        table_dir = self.ctx.state.path("tables")
        operators_pass.write_fixture(self.delivered, self.spec, table_dir)
        got, problems = operators_pass.run(self.ctx.spark, table_dir, self.spec.seed, tracer)
        layers.update(got)
        return len(operators_pass.QUERIES), problems

    def finish(self) -> tuple[int, list[str]]:
        """Check every timed response against the generator's truth."""
        t = self.truth
        want = {"point": lambda a: t.point(*a), "scan": lambda a: t.scan(*a, SCAN_LIMIT),
                "rollup": lambda a: t.rollup_range(*a)}
        problems = []
        for kind, args, rows, _, _ in self.done:
            got = sorted(rows) if kind == "rollup" else rows
            if not checks.same_rows(got, want[kind](args)):
                problems.append(f"{kind}{args}: got {got[:3]}, want {want[kind](args)[:3]}")
        return len(problems), problems

    def generator_record(self) -> dict:
        return gen.observed(self.spec, self.summaries)

    def event_log_layers(self, log) -> dict:
        return operators_pass.event_log_layers(log)
