"""The latest snapshot as a fold artifact with a horizon
(streaming/sinks.py ``compact_latest`` / ``read_latest``).

Served answers equal a pure-Python latest-wins over every row the sink
still holds, through replays, exact ordering ties, repeated compactions,
expiry of folded and unfolded batches, purges on both sides of a
compaction, a crashed install and a missing snapshot. A purge that
empties the snapshot after full retention is refused loudly, and the
retired swap's layouts are refused with a "rebuild" error."""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil

import pytest

from realtimedatapipeline_8_project_spark import fold
from realtimedatapipeline_8_project_spark.streaming import sinks as SK

SCHEMA = "event_id long, val string, event_time timestamp, duration double"
COLS = ("event_id", "val", "event_time", "duration")
T0 = dt.datetime(2024, 1, 1)


def _rows(rng, n):
    """Random rows over a small key and ordering domain, so one key
    recurs across batches and exact (event_time, duration) ties with
    different payloads are common."""
    return [
        (
            rng.randrange(24),
            f"v{rng.randrange(10**6)}",
            T0 + dt.timedelta(minutes=rng.randrange(4)),
            float(rng.randrange(3)),
        )
        for _ in range(n)
    ]


def _write(spark, out, batch_id, rows):
    SK.write_history(spark.createDataFrame(rows, SCHEMA), batch_id, out)


def _keys(spark, keys):
    return spark.createDataFrame([(k,) for k in keys], "event_id long")


class _Model:
    """What the sink holds, in Python: the present history partitions
    and every row a compaction has folded into the snapshot."""

    def __init__(self):
        self.hist: dict[int, list] = {}
        self.snap: list = []

    def compact(self):
        self.snap += [r for rows in self.hist.values() for r in rows]

    def expire(self, keep_from):
        self.hist = {b: r for b, r in self.hist.items() if b >= keep_from}

    def purge(self, keys):
        self.snap = [r for r in self.snap if r[0] not in keys]
        self.hist = {
            b: [r for r in rows if r[0] not in keys]
            for b, rows in self.hist.items()
        }

    def allowed(self) -> dict[int, set]:
        """Per key, every row that ties for the latest (event_time,
        duration): latest-wins does not order rows within a tie."""
        best: dict[int, list] = {}
        for r in self.snap + [r for rows in self.hist.values() for r in rows]:
            if r[0] not in best or r[2:] > best[r[0]][0][2:]:
                best[r[0]] = [r]
            elif r[2:] == best[r[0]][0][2:]:
                best[r[0]].append(r)
        return {k: set(v) for k, v in best.items()}


def _check(spark, out, model):
    got = {
        r.event_id: tuple(r)
        for r in SK.read_latest(spark, out).select(*COLS).collect()
    }
    allowed = model.allowed()
    assert got.keys() == allowed.keys()
    for k, row in got.items():
        assert row in allowed[k], (k, row, allowed[k])


@pytest.mark.parametrize("seed", [11, 12])
def test_read_latest_equals_python_latest_wins(
    spark, tmp_path, monkeypatch, seed
):
    rng = random.Random(seed)
    out = str(tmp_path / "sink")
    m = _Model()

    def write(batch_id, replay=False):
        rows = m.hist[batch_id] if replay else _rows(rng, 12)
        _write(spark, out, batch_id, rows)
        m.hist[batch_id] = rows

    def purge():
        keys = set(rng.sample(range(24), 3))
        SK.purge_keys(spark, out, _keys(spark, sorted(keys)))
        m.purge(keys)

    # no snapshot yet: history alone, a replayed batch changes nothing
    write(0)
    write(1)
    write(1, replay=True)
    _check(spark, out, m)
    purge()
    _check(spark, out, m)

    SK.compact_latest(spark, out)
    m.compact()
    assert fold.read_horizon(os.path.join(out, "latest")) == 1
    _check(spark, out, m)

    write(2)
    write(3)
    write(3, replay=True)
    _check(spark, out, m)
    assert SK.expire_batches(spark, out, keep_from_batch_id=2) == 2  # folded
    _check(spark, out, m)

    # a crashed install is refused until recovered, then serves the fold
    def crash(*a, **k):
        raise RuntimeError("simulated crash inside the install")

    monkeypatch.setattr(shutil, "move", crash)
    with pytest.raises(RuntimeError, match="simulated"):
        SK.compact_latest(spark, out)
    monkeypatch.undo()
    with pytest.raises(ValueError, match="fold.recover"):
        SK.read_latest(spark, out)
    assert fold.recover(out, "latest") is True
    m.compact()
    assert fold.read_horizon(os.path.join(out, "latest")) == 3
    _check(spark, out, m)

    write(4)
    # drops folded batches 2-3 and unfolded batch 4, whose rows go
    assert SK.expire_batches(spark, out, keep_from_batch_id=5) == 3
    m.expire(5)
    _check(spark, out, m)

    write(5)
    write(6)
    purge()
    _check(spark, out, m)
    SK.compact_latest(spark, out)
    m.compact()
    write(6, replay=True)  # a folded batch, replayed as the sink holds it
    write(7)
    _check(spark, out, m)
    purge()
    _check(spark, out, m)

    SK.expire_batches(spark, out, keep_from_batch_id=99)
    m.expire(99)
    _check(spark, out, m)  # the snapshot alone


def test_purge_that_empties_the_snapshot_after_full_retention(
    spark, tmp_path
):
    """Every history batch expired, then every key purged: the snapshot
    installs empty with its horizon kept, and a read says there is
    nothing to serve instead of answering from nothing. A later batch
    serves alone."""
    out = str(tmp_path / "sink")
    rows = _rows(random.Random(5), 6)
    _write(spark, out, 0, rows)
    SK.compact_latest(spark, out)
    assert SK.expire_batches(spark, out, keep_from_batch_id=99) == 1
    SK.purge_keys(spark, out, _keys(spark, sorted({r[0] for r in rows})))
    latest = os.path.join(out, "latest")
    assert fold.batch_ids(latest) == set()
    assert fold.read_horizon(latest) == 0
    with pytest.raises(ValueError, match="nothing to serve"):
        SK.read_latest(spark, out)

    fresh = [(99, "fresh", T0, 1.0)]
    _write(spark, out, 1, fresh)
    got = [tuple(r) for r in SK.read_latest(spark, out).select(*COLS).collect()]
    assert got == fresh
    SK.compact_latest(spark, out)
    got = [tuple(r) for r in SK.read_latest(spark, out).select(*COLS).collect()]
    assert got == fresh


@pytest.mark.parametrize("layout", ["latest", "_latest_tmp"])
def test_retired_snapshot_layouts_are_refused(spark, tmp_path, layout):
    """The retired whole-dir swap wrote ``latest/`` with no horizon and
    staged into ``_latest_tmp``. Neither says which history the snapshot
    absorbed, so reads, compactions and purges refuse both with a
    "rebuild" error instead of serving or folding around them."""
    out = str(tmp_path / "sink")
    rows = _rows(random.Random(6), 6)
    _write(spark, out, 0, rows)
    spark.createDataFrame(rows, SCHEMA).write.parquet(os.path.join(out, layout))
    calls = {
        "read_latest": lambda: SK.read_latest(spark, out),
        "compact_latest": lambda: SK.compact_latest(spark, out),
        "purge_keys": lambda: SK.purge_keys(spark, out, _keys(spark, [rows[0][0]])),
    }
    for name, call in calls.items():
        with pytest.raises(ValueError, match="rebuild"):
            call()
        assert SK.read_history_asof(spark, out, 0).count() == len(rows), name
