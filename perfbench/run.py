"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload from the repository root against the engine's public
entry points on ``local[<cpus>]``, checks every answer, prints each
metric on its own line with unit and sample count, and prints as the last
line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). Exits 1 on any wrong answer.

``--trace 1`` is a separate run for the per-layer numbers: it measures
a quarter of the time untraced, half traced and a quarter untraced, and
reports the difference as the tracing overhead. Traced means Spark's
event log is attached and spans are recorded around every call into the
engine. The spans are written to ``.perfbench_traces/`` when the run
ends.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def _process_start() -> float:
    """This process's start on the time.monotonic clock (both count from
    boot on Linux)."""
    with open("/proc/self/stat") as fh:
        ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    return ticks / os.sysconf("SC_CLK_TCK")


STARTED = _process_start()
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import realtimedatapipeline_8_project_spark  # noqa: E402,F401  (fails without the program)

from perfbench import engine, metrics, stats  # noqa: E402
from perfbench.eventlog import EventLog  # noqa: E402
from perfbench.ingest import Ingest  # noqa: E402
from perfbench.serve import Serve  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

WORKLOADS = {w.name: w for w in (Ingest, Serve)}


class Context:
    def __init__(self, spark, state, seed: int, seconds: float) -> None:
        self.spark, self.state, self.seed, self.seconds = spark, state, seed, seconds


def log(msg: str) -> None:
    print(f"[{time.monotonic() - STARTED:7.2f}s] {msg}", file=sys.stderr, flush=True)


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    """Set up, measure, check; returns everything the report needs."""
    state = engine.RunState(workload)
    spark = None
    try:
        spark = engine.start_session(state)
        log("session up")
        wl = WORKLOADS[workload](Context(spark, state, seed, seconds))
        setup_s = time.monotonic() - STARTED
        log("set-up done")
        tracer = Tracer(trace)
        extra_attempted, extra_problems = 0, []
        if trace:
            # untraced, traced, untraced: drift along the run (warm-up,
            # host speed) falls on both sides of the traced half
            before = wl.measure(seconds / 4, Tracer(False))
            event_log = engine.EventLogger(spark, state.path("eventlog", "measured"))
            res = wl.measure(seconds / 2, tracer)
            event_log.close()
            after = wl.measure(seconds / 4, Tracer(False))
            base = {"ops": before["ops"] + after["ops"],
                    "ops_per_s": (before["ops_per_s"] + after["ops_per_s"]) / 2,
                    "latencies": before["latencies"] + after["latencies"]}
            event_log = engine.EventLogger(spark, state.path("eventlog", "operators"))
            extra_attempted, extra_problems = wl.trace_extras(tracer, res["layers"])
        else:
            base = res = wl.measure(seconds, tracer)
        peak_rss = engine.peak_rss_mb()
        rss = engine.settled_rss_mb(spark)
        log("measured")
        failed, wrong = wl.finish()
        log("checked")
        record = wl.generator_record()
        if trace:
            event_log.close()
            res["layers"].update(wl.event_log_layers(EventLog(state.path("eventlog"))))
        engine.stop_session(spark)
        spark = None
    finally:
        if spark is not None:
            engine.stop_session(spark)
        state.close()
    attempted = res["ops"] + (base["ops"] if trace else 0) + extra_attempted
    return {"wl": wl, "setup_s": setup_s, "base": base, "res": res, "rss": rss,
            "peak_rss": peak_rss, "tracer": tracer, "attempted": attempted,
            "failed": failed + len(extra_problems), "problems": wrong + extra_problems,
            "record": record}


def report(args, r: dict) -> dict:
    """Print the metric lines; return the result object."""
    wl, res, tracer = r["wl"], r["res"], r["tracer"]
    for p in r["problems"][:20]:
        print(f"WRONG: {p}")
    lat = res["latencies"]
    p50 = stats.median(lat)
    print(f"workload {args.workload} seed {args.seed}: {len(lat)} timed {wl.op}s; "
          f"generator {json.dumps(r['record'])}")
    print(f"error_rate = {r['failed'] / r['attempted']:.6f} fraction (n={r['attempted']})")
    for name, (v, unit, n, *note) in res["named"].items():
        shown = "unavailable" if v is None else f"{v:.6g}"
        print(f"{name} = {shown} {unit} (n={' '.join([str(n), *note])})")
    print(f"setup_s = {r['setup_s']:.4f} s (n=1)")
    print(f"peak_rss_mb = {r['peak_rss']:.1f} MB (n=1)")
    print(f"rss_after_gc_mb = {r['rss']:.1f} MB (n=1)")
    print(f"ops_per_s = {res['ops_per_s']:.6g} ops/s (n={res['ops']} {wl.op}s)")
    print(f"op_p50_s = {p50:.6f} s (n={len(lat)} {wl.op}s)")
    print(f"op latencies (s): {[round(x, 3) for x in lat]}")
    if not args.trace:
        values = {"setup_s": r["setup_s"], "ops_per_s": res["ops_per_s"],
                  "op_p50_s": p50, "rss_after_gc_mb": r["rss"]}
        out = {k: {"value": values[k], "unit": u} for k, u in metrics.END_TO_END.items()}
    else:
        base_p50 = stats.median(r["base"]["latencies"])
        layers = dict(res["layers"])
        layers["trace.overhead_frac"] = p50 / base_p50 - 1
        layers["trace.throughput_overhead_frac"] = r["base"]["ops_per_s"] / res["ops_per_s"] - 1
        missing = set(wl.layers()) | set(metrics.TRACE)
        missing -= set(layers)
        if missing:
            raise RuntimeError(f"workload did not report {sorted(missing)}")
        for k, v in sorted(tracer.self_times().items()):
            print(f"self time {k} = {v:.6f} s")
        print(f"spans recorded = {len(tracer.spans)}")
        print(f"tracing overhead = {layers['trace.overhead_frac']:+.4f} of op_p50_s "
              f"(untraced {base_p50:.6f} s n={len(r['base']['latencies'])}, "
              f"traced {p50:.6f} s n={len(lat)}); "
              f"{layers['trace.throughput_overhead_frac']:+.4f} of ops_per_s")
        out = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
               for k, u in metrics.per_layer().items()}
        traces = os.path.join(engine.REPO, ".perfbench_traces")
        os.makedirs(traces, exist_ok=True)
        tracer.dump(os.path.join(traces, f"{args.workload}-seed{args.seed}.json"))
    return {"correct": r["failed"] == 0, "attempted": r["attempted"],
            "failed": r["failed"], "metrics": out}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    result = report(args, run(args.workload, args.seed, args.seconds, bool(args.trace)))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
