"""Operator-layer pass of the traced serving run: registry queries over
the set-up's event set, timed per query (the span around the
``QUERIES[name]`` call vs. the one around ``.count()``), with Spark's
task metrics from the event log and every answer checked against the
query's DuckDB oracle (``plans.registry.ORACLES``)."""

from __future__ import annotations

import os
import random
import time

from . import checks, gen

QUERIES = ("enrich_broadcast_left_join", "win_sessionize", "range_join_bucketed")
PASSES = 2  # a cold pass, then the measured warm pass


def module_of(name: str) -> str:
    from realtimedatapipeline_8_project_spark.plans.registry import QUERIES as REG

    return REG[name].__module__.rsplit(".", 1)[1]


def layer_names() -> dict[str, str]:
    """Per-layer metric names (and units) this pass reports."""
    out = {"analytics.cold_pass_s": "s"}
    for q in QUERIES:
        base = f"operators.{module_of(q)}.{q}"
        out.update({f"{base}.plan_s": "s", f"{base}.exec_s": "s",
                    f"{base}.shuffle_bytes": "bytes", f"{base}.spill_bytes": "bytes",
                    f"{base}.executor_run_s": "s", f"{base}.gc_s": "s"})
    return out


def write_fixture(delivered: list[gen.Event], spec: gen.StreamSpec, out_dir: str) -> None:
    """``events.parquet`` (first deliveries, the fixture's schema) and
    ``customer.parquet`` in a table directory the registry can read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    seen, rows = set(), []
    for e in delivered:
        if e.event_id not in seen:
            seen.add(e.event_id)
            rows.append(e)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(pa.table({
        "event_id": pa.array([e.event_id for e in rows], pa.int64()),
        "ts": pa.array([e.ts for e in rows], pa.timestamp("us")),
        "user_id": pa.array([e.user_id for e in rows], pa.int64()),
        "event_type": pa.array([e.event_type for e in rows], pa.string()),
        "value": pa.array([e.value for e in rows], pa.float64()),
        "props": pa.array([e.props for e in rows], pa.string()),
    }), os.path.join(out_dir, "events.parquet"))
    gen.write_customers(spec, out_dir)


def run(spark, table_dir: str, seed: int, tracer) -> tuple[dict, list[str]]:
    """Run the passes in a seed-permuted order; returns (layers, problems)."""
    from realtimedatapipeline_8_project_spark.plans.registry import QUERIES as REG

    order = list(QUERIES)
    random.Random(f"{seed}/queries").shuffle(order)
    sc = spark.sparkContext
    layers: dict[str, float] = {}
    try:
        for p in range(PASSES):
            t0 = time.perf_counter()
            for q in order:
                base = f"operators.{module_of(q)}.{q}"
                sc.setJobGroup(f"perfbench/{q}/{p}", q)
                with tracer.span(f"{base}.plan") as plan:
                    df = REG[q](spark, table_dir)
                with tracer.span(f"{base}.exec") as ex:
                    df.count()
                layers[f"{base}.plan_s"] = plan.end - plan.start if p else 0.0
                layers[f"{base}.exec_s"] = ex.end - ex.start if p else 0.0
            if p == 0:
                layers["analytics.cold_pass_s"] = time.perf_counter() - t0
        problems = []
        for q in order:
            sc.setJobGroup(f"perfbench/{q}/check", q)
            problems += check(REG[q](spark, table_dir).toArrow(), q, table_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return layers, problems


def check(table, name: str, table_dir: str) -> list[str]:
    import duckdb

    from realtimedatapipeline_8_project_spark.plans.registry import ORACLES

    con = duckdb.connect()
    try:
        for t in ("events", "customer"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(table_dir, t + '.parquet')}')")
        con.register("got", checks.naive_utc(table))
        return [f"{name}: {p}" for p in checks.multiset_diff(con, "SELECT * FROM got", ORACLES[name])]
    finally:
        con.close()


def event_log_layers(log) -> dict[str, float]:
    out = {}
    for q in QUERIES:
        base = f"operators.{module_of(q)}.{q}"
        for k, v in log.group_metrics(f"perfbench/{q}/{PASSES - 1}").items():
            out[f"{base}.{k}"] = v
    return out
