"""Tests of the benchmark itself (not of the engine).

    python -m pytest perfbench/tests -q            # pure Python, seconds
    python -m pytest perfbench/tests -q -m slow    # smoke runs, a few minutes

The smoke test (marked ``slow``) starts Spark and runs every workload,
traced and untraced, with a two-second measurement.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import subprocess
import sys

import pytest

from perfbench import checks, gen, stats

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_generator_is_deterministic(tmp_path):
    spec = gen.StreamSpec(seed=7, rows_per_file=500)
    a, _ = gen.write_outbox_file(spec, 3, str(tmp_path / "a"))
    b, _ = gen.write_outbox_file(spec, 3, str(tmp_path / "b"))
    with open(a, "rb") as fa, open(b, "rb") as fb:
        assert fa.read() == fb.read()
    other, _ = gen.outbox_file(gen.StreamSpec(seed=8, rows_per_file=500), 3)
    assert other != gen.outbox_file(spec, 3)[0]
    assert gen.customers(spec) == gen.customers(gen.StreamSpec(seed=7))


def test_generator_realises_requested_properties():
    spec = gen.StreamSpec(seed=1)
    _, delivered = gen.outbox_file(spec, 0)
    got = gen.observed(spec, [gen.summarise(spec, delivered)])
    assert got["rows"] == spec.rows_per_file
    assert abs(got["dup_rate"] - spec.dup_rate) < 0.005
    assert abs(got["miss_rate"] - spec.miss_rate) < 0.01
    assert abs(got["out_of_order"] - spec.out_of_order) < 0.01
    assert abs(got["null_value_share"] - spec.null_value_share) < 0.03
    assert got["top_key_share"] > 0.05  # Zipf skew: one key dominates


def test_file_summaries_add_up_to_the_whole_stream():
    spec = gen.StreamSpec(seed=4, rows_per_file=800)
    files = [gen.outbox_file(spec, k)[1] for k in range(3)]
    whole = gen.observed(spec, [gen.summarise(spec, [e for f in files for e in f])])
    assert gen.observed(spec, [gen.summarise(spec, f) for f in files]) == whole


def test_outbox_lines_decode_to_the_events():
    spec = gen.StreamSpec(seed=2, rows_per_file=50)
    data, delivered = gen.outbox_file(spec, 1)
    lines = data.decode().splitlines()
    assert len(lines) == len(delivered)
    for line, e in zip(lines, delivered):
        p = json.loads(json.loads(line)["payload"])
        assert p["event_id"] == e.event_id and p["value"] == e.value
        assert dt.datetime.fromisoformat(p["ts"]) == e.ts


def test_tail_refuses_fewer_than_ten_beyond():
    assert stats.tail_rank(10) is None
    assert stats.tail_named(list(range(10)))[0] is None
    with pytest.raises(ValueError):
        stats.percentile(list(range(100)), 95)  # 5 samples beyond
    assert stats.tail_rank(100) == 90.0 and stats.percentile(list(range(100)), 90) == 89
    v, _, n, note = stats.tail_named([float(i) for i in range(1000)])
    assert note == "p99" and n == 1000 and sum(x > v for x in range(1000)) == 10


def _ingest_fixture(tmp_path, rows=300):
    spec = gen.StreamSpec(seed=5, rows_per_file=rows, customers=50)
    customer = gen.write_customers(spec, str(tmp_path / "dim"))
    path, delivered = gen.write_outbox_file(spec, 0, str(tmp_path / "outbox"))
    return spec, customer, path, delivered


def _history_rows(spec, delivered):
    import pyarrow as pa

    truth = checks.Truth(spec, delivered)
    rows = [truth.row(e) for e in delivered]
    names = ["event_id", "event_time", "user_id", "event_type", "duration",
             "segment", "engagement_seconds", "engagement_pct"]
    return pa.table({n: [r[i] for r in rows] for i, n in enumerate(names)})


def test_ingest_checker_accepts_truth_and_rejects_corruption(tmp_path):
    import pyarrow as pa

    spec, customer, path, delivered = _ingest_fixture(tmp_path)
    good = _history_rows(spec, delivered)
    assert checks.check_history(good, [path], customer) == []
    # one flipped last bit in one double
    vals = good.column("engagement_seconds").to_pylist()
    i = next(j for j, v in enumerate(vals) if v)
    vals[i] = vals[i] * (1 + 2**-52)
    bad = good.set_column(6, "engagement_seconds", pa.array(vals, pa.float64()))
    assert checks.check_history(bad, [path], customer)
    assert checks.check_history(good.slice(1), [path], customer)  # a lost row


def test_serve_checker_rejects_corrupted_answers():
    spec = gen.StreamSpec(seed=3, rows_per_file=2000, customers=100)
    _, delivered = gen.outbox_file(spec, 0)
    truth = checks.Truth(spec, delivered)
    dup = next(e for i, e in enumerate(delivered) if e in delivered[:i])
    point = truth.point(dup.event_id)
    assert len(point) == 1 and checks.same_rows(point, [truth.row(dup)])
    wrong = [point[0][:4] + (-1.0,) + point[0][5:]]
    assert not checks.same_rows(wrong, point)
    lo, hi = dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2)
    scan = truth.scan(dup.user_id, lo, hi, 5)
    assert scan and not checks.same_rows(scan[1:], scan)
    assert not checks.same_rows(list(reversed(scan)), scan) or len(scan) == 1
    roll = truth.rollup_range("view", lo, hi)
    assert roll
    bumped = [roll[0][:2] + (roll[0][2] + 1,) + roll[0][3:]] + roll[1:]
    assert not checks.same_rows(bumped, roll)


@pytest.mark.slow
@pytest.mark.parametrize("workload", ["ingest_outbox", "serve_mixed"])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run_prints_every_metric(workload, trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    key = "per_layer" if trace else "end_to_end"
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "2", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stdout[-2000:] + p.stderr[-4000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert sorted(result["metrics"]) == sorted(m["name"] for m in bench[key])
    for m in bench[key]:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
