"""Sink-read memo (streaming/sinks.py ``_read_dir``): every parquet read
of a sink directory reuses the resolved relation (file index + inferred
schema) while the directory's full-tree stamp is unchanged, and rebuilds
it the moment anything under it changes.

Two properties: a read that follows any sink mutation sees exactly what
a fresh ``spark.read.parquet`` would, and a rebuild of a serving read
over an unchanged directory submits no Spark job (no listing, no
schema-inference job). A third test pins that no other function in
sinks.py reads parquet, so a future reader cannot bypass the memo."""

from __future__ import annotations

import ast
import glob
import inspect
import os

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from realtimedatapipeline_8_project_spark.operators.enrich import (
    enrich_events,
    load_dim,
)
from realtimedatapipeline_8_project_spark.sources import tables
from realtimedatapipeline_8_project_spark.sources.tables import load_table
from realtimedatapipeline_8_project_spark.streaming import sinks
from realtimedatapipeline_8_project_spark.streaming.pipeline import derive
from realtimedatapipeline_8_project_spark.streaming.sinks import (
    compact_latest,
    compact_rollup,
    expire_batches,
    purge_keys,
    read_history_asof,
    read_latest,
    read_rollup,
    write_history,
    write_rollup,
)


@pytest.fixture()
def out(tmp_path):
    return str(tmp_path / "out")


@pytest.fixture()
def batches(spark, sf_small):
    """Three disjoint 10-event enriched batches."""
    dim = load_dim(spark, sf_small)
    ev = load_table(spark, sf_small, "events").orderBy("event_id").limit(30)
    return [
        derive(enrich_events(ev.offset(10 * i).limit(10), dim)).localCheckpoint()
        for i in range(3)
    ]


def _next_job_id(spark) -> int:
    """The DAG scheduler's next job id: every submitted job takes one."""
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _jobs_during(spark, build) -> int:
    before = _next_job_id(spark)
    build()
    return _next_job_id(spark) - before


def _ids(df) -> set:
    return {r.event_id for r in df.select("event_id").collect()}


def _rollup_n(spark, out) -> int:
    return read_rollup(spark, out).agg(F.sum("n")).first()[0]


def _write(batch, batch_id, out) -> None:
    write_history(batch, batch_id, out)
    write_rollup(batch, batch_id, out)


def test_reads_see_every_sink_change(spark, batches, out):
    ids = [_ids(b) for b in batches]
    _write(batches[0], 0, out)
    assert _ids(read_latest(spark, out)) == ids[0]
    assert _rollup_n(spark, out) == 10

    # a new history batch
    _write(batches[1], 1, out)
    assert _ids(read_latest(spark, out)) == ids[0] | ids[1]
    assert _ids(read_history_asof(spark, out, 1)) == ids[0] | ids[1]
    assert _rollup_n(spark, out) == 20

    # compact_latest swap: expire the history, so only the snapshot
    # serves; a second swap must replace the memoized first snapshot
    compact_latest(spark, out)
    assert expire_batches(spark, out, keep_from_batch_id=2) == 2
    assert _ids(read_latest(spark, out)) == ids[0] | ids[1]
    _write(batches[2], 2, out)
    compact_latest(spark, out)
    assert expire_batches(spark, out, keep_from_batch_id=3) == 1
    assert _ids(read_latest(spark, out)) == ids[0] | ids[1] | ids[2]

    # compact_rollup folds every partial into batch_id=-1
    assert _rollup_n(spark, out) == 30
    compact_rollup(spark, out)
    assert os.listdir(os.path.join(out, "rollup")).count("batch_id=-1") == 1
    assert _rollup_n(spark, out) == 30

    # purge_keys rewrites the snapshot (history is expired by now)
    victims = sorted(ids[1])[:2]
    keys = spark.createDataFrame([(k,) for k in victims], "event_id long")
    purge_keys(spark, out, keys)
    assert _ids(read_latest(spark, out)) == (ids[0] | ids[1] | ids[2]) - set(
        victims
    )


def test_expire_and_purge_are_seen_by_history_reads(spark, batches, out):
    ids = [_ids(b) for b in batches]
    for i, b in enumerate(batches):
        write_history(b, i, out)
    assert _ids(read_history_asof(spark, out, 9)) == ids[0] | ids[1] | ids[2]
    assert expire_batches(spark, out, keep_from_batch_id=1) == 1
    assert _ids(read_history_asof(spark, out, 9)) == ids[1] | ids[2]
    victims = sorted(ids[2])[:3]
    keys = spark.createDataFrame([(k,) for k in victims], "event_id long")
    assert purge_keys(spark, out, keys) == 1
    assert _ids(read_history_asof(spark, out, 9)) == (ids[1] | ids[2]) - set(
        victims
    )


def test_in_place_rewrite_of_a_part_file_is_seen(spark, batches, out):
    write_history(batches[0], 0, out)
    hist = os.path.join(out, "history")
    victim = sorted(glob.glob(os.path.join(hist, "batch_id=0", "part-*.parquet")))[0]
    # the rewrite below bypasses Hadoop's checksum file; drop it first,
    # and read once more so the memo holds the crc-less layout
    os.remove(os.path.join(os.path.dirname(victim), f".{os.path.basename(victim)}.crc"))
    before = _ids(read_history_asof(spark, out, 0))
    t = pq.read_table(victim)
    kept = t.slice(0, 1)
    kept = kept.set_column(
        kept.schema.get_field_index("duration"),
        "duration",
        pc.add(kept["duration"], 1000),
    )
    pq.write_table(kept, victim)  # same name, same directory entries
    dropped = set(t["event_id"].to_pylist()[1:])
    got = read_history_asof(spark, out, 0).select("event_id", "duration")
    assert _ids(got) == before - dropped
    assert got.where(F.col("event_id").isin(list(kept["event_id"].to_pylist()))
                     ).first()["duration"] == kept["duration"][0].as_py()


def test_unchanged_rebuild_submits_no_spark_job(spark, batches, out):
    _write(batches[0], 0, out)
    compact_latest(spark, out)
    compact_rollup(spark, out)
    _write(batches[1], 1, out)
    builds = {
        "read_latest": lambda: read_latest(spark, out),
        "read_rollup": lambda: read_rollup(spark, out),
        "read_history_asof": lambda: read_history_asof(spark, out, 1),
    }
    # first build of each read lists the tree and infers the schema —
    # which is what makes the counter able to see a build's jobs at all
    assert _jobs_during(spark, builds["read_latest"]) > 0
    for name, build in builds.items():
        build()
        assert _jobs_during(spark, build) == 0, name
    # any change rebuilds (the history read is re-resolved)
    _write(batches[2], 2, out)
    assert _jobs_during(spark, builds["read_history_asof"]) > 0
    assert _jobs_during(spark, builds["read_history_asof"]) == 0
    assert _ids(read_latest(spark, out)) == (
        _ids(batches[0]) | _ids(batches[1]) | _ids(batches[2])
    )


def test_stopped_session_entries_are_evicted(spark, batches, out):
    """Only one SparkContext lives per process, so an entry under any
    other applicationId belongs to a stopped session: the next memo fill
    drops it (the _evict_other_apps discipline shared with load_table)."""
    write_history(batches[0], 0, out)
    hist = os.path.abspath(os.path.join(out, "history"))
    dead = ("app-stopped-0", hist)
    tables._TABLE_MEMO[dead] = (tables._artifact_stamp(hist), None)
    tables._ARTIFACT_OK.add(("app-stopped-0", hist, None))
    read_history_asof(spark, out, 0)
    assert dead not in tables._TABLE_MEMO
    assert not any(k[0] == "app-stopped-0" for k in tables._ARTIFACT_OK)
    app = spark.sparkContext.applicationId
    assert (app, hist) in tables._TABLE_MEMO
    assert all(k[0] == app for k in tables._TABLE_MEMO)


def test_only_the_memo_helper_reads_parquet():
    """Any DataFrameReader access (``<session>.read``) in sinks.py outside
    ``_read_dir`` would bring back the per-request listing and
    schema-inference job. File-handle ``fh.read()`` calls are not
    reader accesses (they are called; ``spark.read`` never is)."""
    tree = ast.parse(inspect.getsource(sinks))
    called = {
        id(n.func) for n in ast.walk(tree) if isinstance(n, ast.Call)
    }
    reads = [
        n
        for n in ast.walk(tree)
        if isinstance(n, ast.Attribute) and n.attr == "read" and id(n) not in called
    ]
    (helper,) = [
        n
        for n in ast.walk(tree)
        if isinstance(n, ast.FunctionDef) and n.name == "_read_dir"
    ]
    inside = {id(n) for n in ast.walk(helper)}
    assert [n for n in reads if id(n) in inside], "helper must read"
    assert [n.lineno for n in reads if id(n) not in inside] == []
