"""Streaming quality-stats maintenance (streaming/quality_ingest.py):
the artifact-trained weights must equal the batch operator's weights
EXACTLY (int64 sufficient statistics are associative), replays are
no-ops before AND after compaction, a crashed compaction recovers, and
cold/empty states train to the documented zero weights."""

from __future__ import annotations

import json
import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

from realtimedatapipeline_8_project_spark import fold
from realtimedatapipeline_8_project_spark.operators.quality_filter import (
    train_quality_lr,
)
from realtimedatapipeline_8_project_spark.sources.tables import load_table
from realtimedatapipeline_8_project_spark.streaming.quality_ingest import (
    QSTATS,
    QSTATS_SUBDIR,
    compact_quality_stats,
    read_quality_stats,
    run_quality_ingest,
    train_from_stats_artifact,
)
from realtimedatapipeline_8_project_spark.streaming.sinks import write_partial


def _slices(spark, sf_dir, m=4):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return [docs.where(F.col("doc_id") % m == i) for i in range(m)]


def test_streamed_stats_train_equals_batch_operator(spark, sf_small, tmp_path):
    """Four corpus slices drained batch-by-batch: the merged artifact's
    weights == train_quality_lr on the full fixture, integer-exact."""
    out = str(tmp_path / "q")
    for i, sl in enumerate(_slices(spark, sf_small)):
        write_partial(QSTATS, sl, i, out)
    want, _ = train_quality_lr(spark, sf_small)
    assert train_from_stats_artifact(spark, out) == want

    # unfolded replay: dynamic partition overwrite keeps it idempotent
    write_partial(QSTATS, _slices(spark, sf_small)[2], 2, out)
    assert train_from_stats_artifact(spark, out) == want

    # compaction folds to one row; weights unchanged; folded replay
    # is a horizon-guard no-op (a landed replay would DOUBLE-COUNT the
    # partial sums into the Gram matrix)
    compact_quality_stats(spark, out)
    assert fold.read_horizon(os.path.join(out, QSTATS_SUBDIR)) >= 3
    assert train_from_stats_artifact(spark, out) == want
    write_partial(QSTATS, _slices(spark, sf_small)[1], 1, out)
    assert train_from_stats_artifact(spark, out) == want
    live = os.path.join(out, QSTATS_SUBDIR)
    assert {
        d for d in os.listdir(live) if d.startswith("batch_id=")
    } == {"batch_id=-1"}


def test_availablenow_stream_with_mid_stream_compaction(
    spark, sf_small, tmp_path
):
    """The real foreachBatch loop over file arrivals, compact_every
    firing mid-stream; malformed rows gated; weights == batch."""
    docs = load_table(spark, sf_small, "documents").select(
        "doc_id", "text"
    )
    src = str(tmp_path / "src")
    os.makedirs(src)
    rows = docs.collect()
    for i in range(3):
        with open(os.path.join(src, f"b{i}.jsonl"), "w") as fh:
            for r in rows:
                if r.doc_id % 3 == i:
                    fh.write(
                        json.dumps({"doc_id": r.doc_id, "text": r.text})
                        + "\n"
                    )
            if i == 1:  # malformed arrivals: gated by the corpus filter
                fh.write(json.dumps({"doc_id": None, "text": "x y"}) + "\n")
                fh.write(json.dumps({"doc_id": -7, "text": "w w"}) + "\n")
        time.sleep(1.1)
    raw = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1")
        .load(src)
    )
    stream = raw.select(
        F.get_json_object("value", "$.doc_id").cast("long").alias("doc_id"),
        F.get_json_object("value", "$.text").alias("text"),
    )
    out = str(tmp_path / "q")
    run_quality_ingest(
        stream, out, str(tmp_path / "chk"), compact_every=2
    ).awaitTermination()
    # fired mid-stream
    assert fold.read_horizon(os.path.join(out, QSTATS_SUBDIR)) >= 1
    want, _ = train_quality_lr(spark, sf_small)
    assert train_from_stats_artifact(spark, out) == want


def _crash_in_install(spark, out, monkeypatch):
    """Compact with the install crashing at its first move: the previous
    compacted row is removed, the complete staging not yet moved in."""

    def boom(*a, **k):
        raise RuntimeError("simulated crash inside the install")

    monkeypatch.setattr(shutil, "move", boom)
    with pytest.raises(RuntimeError, match="simulated"):
        compact_quality_stats(spark, out)
    monkeypatch.undo()


def test_crash_recovery_and_interleaved_write(
    spark, sf_small, tmp_path, monkeypatch
):
    """The shared fold protocol on this sink: a compaction whose install
    crashed is recovered (by the explicit recover call AND by the next
    write's recover-at-entry), value-identical."""
    out = str(tmp_path / "q")
    sl = _slices(spark, sf_small)
    staging = os.path.join(out, f"_{QSTATS_SUBDIR}_compact_tmp")
    write_partial(QSTATS, sl[0], 0, out)
    compact_quality_stats(spark, out)
    write_partial(QSTATS, sl[1], 1, out)
    want = list(read_quality_stats(spark, out).collect()[0])

    _crash_in_install(spark, out, monkeypatch)
    assert fold.recover(out, QSTATS_SUBDIR) is True
    base = [r for r in read_quality_stats(spark, out).collect()[0]]
    assert base == want

    write_partial(QSTATS, sl[2], 2, out)
    _crash_in_install(spark, out, monkeypatch)
    write_partial(QSTATS, sl[3], 3, out)  # recover-at-entry, then write
    assert not os.path.isdir(staging)
    merged = read_quality_stats(spark, out).collect()[0]
    assert merged["n"] > base[0]


def test_cold_and_empty_states_train_to_zero(spark, tmp_path):
    out = str(tmp_path / "q")
    # cold: no artifact at all
    assert train_from_stats_artifact(spark, out) == [0] * 6
    # an all-malformed batch writes the zero identity row
    bad = spark.createDataFrame(
        [(None, "x y"), (3, None)], "doc_id long, text string"
    )
    write_partial(QSTATS, bad, 0, out)
    assert read_quality_stats(spark, out).collect()[0]["n"] == 0
    assert train_from_stats_artifact(spark, out) == [0] * 6
    # compacting the zero artifact folds cleanly and stays zero
    compact_quality_stats(spark, out)
    assert train_from_stats_artifact(spark, out) == [0] * 6
