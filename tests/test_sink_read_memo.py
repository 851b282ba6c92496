"""Sink-read memo (streaming/sinks.py ``_read_dir``): every parquet read
of a sink directory reuses the resolved relation (file index + inferred
schema) while the directory's full-tree stamp is unchanged, and rebuilds
it the moment anything under it changes.

Two properties: a read that follows any sink mutation sees exactly what
a fresh ``spark.read.parquet`` would, and a rebuild of a serving read
over an unchanged directory submits no Spark job (no listing, no
schema-inference job). A third test pins that no other function in
sinks.py reads parquet, so a future reader cannot bypass the memo; a
fourth pins that every compacted artifact commits through the one fold
protocol in ``fold.py``, a fifth that sinks.py moves and removes no
directory itself, and a sixth that every associative sink is an entry
of the one partial table."""

from __future__ import annotations

import ast
import glob
import inspect
import os
import pathlib
import re
import types

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import realtimedatapipeline_8_project_spark as pkg
from realtimedatapipeline_8_project_spark import fold
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


def test_one_fold_protocol():
    """The fold markers and the batch-partition layout are spelled only
    in ``fold.py``: no other package module holds a string literal
    naming a marker (a second spelling is how the sinks once grew a
    second staged-compaction path), the dynamic partition overwrite,
    the partition dir name or the partition column of a read schema
    (every batch write, schema-pinned read and partition path goes
    through ``fold``), and no module — package or test — imports fold
    names through ``operators/text_analysis.py``, the protocol's former
    home."""
    markers = (
        "_STAGED",
        "_INSTALLING",
        "_MANIFEST.json",
        "_compaction_horizon.json",
        "_compacted_through",
        "partitionOverwriteMode",
        "batch_id=",
        "batch_id int",
    )
    fold_names = {
        n
        for n, v in vars(fold).items()
        if not n.startswith("__")
        and n != "annotations"
        and not isinstance(v, types.ModuleType)
    }
    root = pathlib.Path(pkg.__file__).parent
    package = sorted(root.rglob("*.py"))
    tests = sorted(pathlib.Path(__file__).parent.glob("*.py"))
    spelled, via_text_analysis = [], []
    for path in package + tests:
        tree = ast.parse(path.read_text())
        for n in ast.walk(tree):
            if (
                path in package
                and path.name != "fold.py"
                and isinstance(n, ast.Constant)
                and isinstance(n.value, str)
                and any(m in n.value for m in markers)
            ):
                spelled.append(f"{path.name}:{n.lineno}")
            if (
                isinstance(n, ast.ImportFrom)
                and (n.module or "").endswith("text_analysis")
                and {a.name for a in n.names} & fold_names
            ):
                via_text_analysis.append(f"{path.name}:{n.lineno}")
    assert spelled == []
    assert via_text_analysis == []


def test_sinks_move_no_directory():
    """Every install and drop of a sink artifact goes through ``fold``:
    sinks.py imports no ``shutil`` and calls no ``shutil.*``,
    ``os.rename`` or ``os.replace``, so a second install path (the
    retired snapshot swap was one) cannot come back."""
    tree = ast.parse(inspect.getsource(sinks))
    found = []
    for n in ast.walk(tree):
        if isinstance(n, ast.Import) and any(
            a.name == "shutil" for a in n.names
        ):
            found.append(f"{n.lineno}: import shutil")
        elif isinstance(n, ast.ImportFrom) and n.module in ("shutil", "os"):
            found.append(f"{n.lineno}: from {n.module} import")
        elif (
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and isinstance(n.func.value, ast.Name)
            and (
                n.func.value.id == "shutil"
                or (n.func.value.id == "os" and n.func.attr in ("rename", "replace"))
            )
        ):
            found.append(f"{n.lineno}: {n.func.value.id}.{n.func.attr}")
    assert found == []


def test_one_build_once_protocol():
    """The one-time artifact protocol (``build_once``) is owned by
    ``sources/tables.py``: no other package module spells its marker,
    keeps a ``_VERIFIED_`` memo of its own, or consults the
    catalog-table memo — except ``graph.py``, whose bucketed catalog
    table has no directory to carry a manifest. A builder that re-grows
    its own probe-and-rebuild block fails here."""
    memo_calls = {"artifact_verified", "mark_artifact_verified"}
    root = pathlib.Path(pkg.__file__).parent
    found = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel == "sources/tables.py":
            continue
        text = path.read_text()
        if "_COMPLETE" in text:
            found.append(f"{rel}: _COMPLETE")
        for n in ast.walk(ast.parse(text)):
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store):
                defined = n.id
            elif isinstance(n, (ast.FunctionDef, ast.ClassDef)):
                defined = n.name
            else:
                defined = ""
            if defined.startswith("_VERIFIED_"):
                found.append(f"{rel}:{n.lineno} defines {defined}")
            if isinstance(n, ast.Call) and rel != "operators/graph.py":
                f = n.func
                called = getattr(f, "id", None) or getattr(f, "attr", None)
                if called in memo_calls:
                    found.append(f"{rel}:{n.lineno} calls {called}")
    assert found == []


def test_one_partial_sink_definition():
    """Every associative sink in sinks.py is an entry of the one partial
    table: only ``write_partial`` consults the fold horizon
    (``fold.folded``), only ``read_partial`` and ``read_latest`` refuse
    a crashed install (``fold.check_servable``), and no hand-spelled
    write/read/compact function of a table family is defined, so a
    seventh hand-spelled family cannot come back."""
    owners = {
        "folded": {"write_partial"},
        "check_servable": {"read_partial", "read_latest"},
    }
    retired = re.compile(r"(write|read|compact)_(sketch|hll|qhist|moments)")
    found, seen = [], set()
    for top in ast.parse(inspect.getsource(sinks)).body:
        name = getattr(top, "name", "<module>")
        if retired.fullmatch(name):
            found.append(f"{top.lineno}: defines {name}")
        for n in ast.walk(top):
            if (
                isinstance(n, ast.Attribute)
                and isinstance(n.value, ast.Name)
                and n.value.id == "fold"
                and n.attr in owners
            ):
                seen.add((n.attr, name))
                if name not in owners[n.attr]:
                    found.append(f"{n.lineno}: {name} uses fold.{n.attr}")
    assert found == []
    assert seen == {(a, f) for a, fs in owners.items() for f in fs}
