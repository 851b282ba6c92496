"""Streaming vector ingestion (streaming/vector_ingest.py): the
embeddings-side twin of the dedup ingest loop — per-batch frozen-
codebook assignment into the grown IVF lists, cold-start codebook
bootstrap, replay idempotence, auto-compaction, and the entry-point
drift-acting retrain."""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from realtimedatapipeline_8_project_spark.operators.similarity import (
    IVF_CODEBOOK,
    _km_assign,
    _km_quantize,
    ivf_drift,
    read_ivf_lists,
)
from realtimedatapipeline_8_project_spark.sources.tables import load_table
from realtimedatapipeline_8_project_spark.streaming.vector_ingest import (
    run_vector_ingest,
    vector_ingest_batch,
)

COLS = ["k", "vec_id", "qv", "d"]


def _emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )


def _rows(spark, root):
    return sorted(
        map(str, read_ivf_lists(spark, root).select(*COLS).collect())
    )


def _assign_all(spark, pop, root):
    cents = spark.read.parquet(os.path.join(root, IVF_CODEBOOK))
    return sorted(
        map(
            str,
            _km_assign(_km_quantize(pop), cents).select(*COLS).collect(),
        )
    )


def test_killed_cold_start_codebook_write_does_not_wedge(
    spark, sf_small, tmp_path
):
    """A cold-start codebook write killed mid-job leaves
    ``codebook/_temporary/0`` and no data file. Replaying batch 0 must
    train the same codebook and lists a clean index dir gets, not fail
    to infer a schema on every replay; a stored codebook whose data
    cannot be read still fails the batch."""
    batch = _emb(spark, sf_small).where(F.col("vec_id") % 2 == 0)
    clean, killed = str(tmp_path / "clean"), str(tmp_path / "killed")
    vector_ingest_batch(batch, 0, clean)
    os.makedirs(os.path.join(killed, IVF_CODEBOOK, "_temporary", "0"))
    vector_ingest_batch(batch, 0, killed)

    def codebook(root):
        cb = spark.read.parquet(os.path.join(root, IVF_CODEBOOK))
        return sorted(map(str, cb.collect()))

    assert codebook(killed) == codebook(clean)
    assert _rows(spark, killed) == _rows(spark, clean)
    corrupt = str(tmp_path / "corrupt")
    os.makedirs(os.path.join(corrupt, IVF_CODEBOOK))
    with open(os.path.join(corrupt, IVF_CODEBOOK, "part-0.parquet"), "wb") as fh:
        fh.write(b"not parquet")
    with pytest.raises(Exception, match="part-0.parquet"):
        vector_ingest_batch(batch, 0, corrupt)


def test_streamed_vectors_equal_batch_assignment(spark, sf_small, tmp_path):
    """Three JSONL micro-batches through run_vector_ingest: the grown
    lists equal a one-shot assignment of the whole population under the
    bootstrap codebook (trained on batch 0's arrivals), malformed rows
    are gated, and a replayed committed batch changes nothing."""
    emb = _emb(spark, sf_small)
    src = str(tmp_path / "src")
    os.makedirs(src)
    batches = [
        emb.where(F.col("vec_id") % 3 == b).collect() for b in range(3)
    ]
    for i, rows in enumerate(batches):
        with open(os.path.join(src, f"b{i}.jsonl"), "w") as fh:
            for r in rows:
                fh.write(
                    json.dumps(
                        {"vec_id": r.vec_id, "embedding": list(r.embedding)}
                    )
                    + "\n"
                )
            if i == 1:  # malformed arrivals: gated, never indexed
                fh.write(json.dumps({"vec_id": None, "embedding": [1.0]}) + "\n")
                fh.write(json.dumps({"vec_id": 777_777, "embedding": []}) + "\n")
                fh.write(json.dumps({"vec_id": 777_778}) + "\n")
        time.sleep(1.1)  # distinct mtimes -> deterministic arrival order

    raw = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1")
        .load(src)
    )
    vecs = raw.select(
        F.get_json_object("value", "$.vec_id").cast("long").alias("vec_id"),
        F.from_json(
            F.get_json_object("value", "$.embedding"), "array<float>"
        ).alias("embedding"),
    )
    root = str(tmp_path / "ivf")
    run_vector_ingest(vecs, root, str(tmp_path / "chk")).awaitTermination()

    got = _rows(spark, root)
    assert got == _assign_all(spark, emb, root)
    ids = {r.vec_id for r in read_ivf_lists(spark, root).collect()}
    assert 777_777 not in ids and 777_778 not in ids and None not in ids
    # drift stats: one row per batch, none signalling
    drift = ivf_drift(spark, root).collect()
    assert len(drift) == 3
    assert not any(r.needs_retrain for r in drift)
    # replaying a committed batch is a no-op (same partition, same rows)
    replay = spark.createDataFrame(batches[1], emb.schema)
    vector_ingest_batch(replay, 1, root)
    assert _rows(spark, root) == got


def test_vector_ingest_auto_compacts(spark, sf_small, tmp_path):
    """compact_every folds committed list partitions at the batch grain
    with keep_last=1 — the newest (replayable) batch survives, served
    rows never change."""
    emb = _emb(spark, sf_small)
    root = str(tmp_path / "ivf")
    for b in range(4):
        vector_ingest_batch(
            emb.where(F.col("vec_id") % 4 == b), b, root, compact_every=2
        )
    lpath = os.path.join(root, "lists")
    assert sorted(
        d for d in os.listdir(lpath) if d.startswith("batch_id=")
    ) == ["batch_id=-1", "batch_id=3"]
    assert _rows(spark, root) == _assign_all(spark, emb, root)
    # an absorbed batch's replay refuses loudly instead of double-serving
    with pytest.raises(ValueError, match="horizon"):
        vector_ingest_batch(
            emb.where(F.col("vec_id") % 4 == 0), 0, root, compact_every=2
        )


def test_vector_ingest_retrains_on_drift_at_batch_entry(
    spark, sf_small, tmp_path
):
    """A drifted batch lands under the old codebook and flags; the NEXT
    batch's entry check retrains (fresh codebook over the grown
    population, history reset, horizon barrier) and then lands its own
    vectors under the new codebook — the whole index equals a
    from-scratch assignment of everything under the new codebook."""
    emb = _emb(spark, sf_small)
    root = str(tmp_path / "ivf")
    parts = [emb.where(F.col("vec_id") % 3 == b) for b in range(3)]
    vector_ingest_batch(parts[0], 0, root, retrain_on_drift=True)
    old_cents = sorted(
        map(
            str,
            spark.read.parquet(os.path.join(root, IVF_CODEBOOK)).collect(),
        )
    )
    vector_ingest_batch(parts[1], 1, root, retrain_on_drift=True)
    assert sorted(
        map(
            str,
            spark.read.parquet(os.path.join(root, IVF_CODEBOOK)).collect(),
        )
    ) == old_cents  # in-distribution arrivals: no retrain
    shifted = parts[2].select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        F.expr(
            "transform(embedding, x -> x + CAST(5.0 AS FLOAT))"
        ).alias("embedding"),
    )
    vector_ingest_batch(shifted, 2, root, retrain_on_drift=True)
    drift = {r.batch_id: r for r in ivf_drift(spark, root).collect()}
    assert drift[2].needs_retrain  # flagged, not yet acted on
    # next batch entry: retrain fires first, then the batch lands
    vector_ingest_batch(parts[2], 3, root, retrain_on_drift=True)
    new_cents = sorted(
        map(
            str,
            spark.read.parquet(os.path.join(root, IVF_CODEBOOK)).collect(),
        )
    )
    assert new_cents != old_cents
    drift2 = {r.batch_id: r for r in ivf_drift(spark, root).collect()}
    assert set(drift2) == {-1, 3}
    assert not drift2[-1].needs_retrain and not drift2[3].needs_retrain
    pop = emb.unionByName(
        shifted.select(
            "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
        )
    )
    assert _rows(spark, root) == _assign_all(spark, pop, root)
    # a pre-retrain batch replay refuses on the horizon barrier
    with pytest.raises(ValueError, match="horizon"):
        vector_ingest_batch(parts[1], 1, root, retrain_on_drift=True)


def test_replayed_drifted_batch_does_not_wedge_the_stream(
    spark, sf_small, tmp_path
):
    """ADVICE r9: batch N lands (lists + drift stats crossing the
    ratio) but its offsets never commit, so the stream replays N. The
    replay re-enters the retrain check with N's OWN stats on disk — an
    unbounded entry-point retrain would absorb N (horizon = N) and the
    replay's write_ivf_batch(N) would then refuse forever, permanently
    wedging the stream. Bounded to the committed frontier
    (max_batch = N - 1) the replay must land idempotently; the retrain
    then fires at N+1's entry exactly as the module docstring argues."""
    emb = _emb(spark, sf_small)
    root = str(tmp_path / "ivf")
    parts = [emb.where(F.col("vec_id") % 3 == b) for b in range(3)]
    vector_ingest_batch(parts[0], 0, root, retrain_on_drift=True)
    old_cents = sorted(
        map(
            str,
            spark.read.parquet(os.path.join(root, IVF_CODEBOOK)).collect(),
        )
    )
    shifted = parts[1].select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        F.expr(
            "transform(embedding, x -> x + CAST(5.0 AS FLOAT))"
        ).alias("embedding"),
    )
    # batch 1 lands; its own stats cross the drift ratio; offsets never
    # commit (crash) -> the stream replays batch 1:
    vector_ingest_batch(shifted, 1, root, retrain_on_drift=True)
    before = _rows(spark, root)
    vector_ingest_batch(shifted, 1, root, retrain_on_drift=True)  # replay
    assert _rows(spark, root) == before  # idempotent, NOT wedged
    assert sorted(
        map(
            str,
            spark.read.parquet(os.path.join(root, IVF_CODEBOOK)).collect(),
        )
    ) == old_cents  # the replay's entry check saw committed stats only
    # batch 2's entry: batch 1 is now committed — the retrain fires,
    # absorbs 0 and 1, and batch 2 lands under the fresh codebook
    vector_ingest_batch(parts[2], 2, root, retrain_on_drift=True)
    drift = {r.batch_id: r for r in ivf_drift(spark, root).collect()}
    assert set(drift) == {-1, 2}
    pop = parts[0].unionByName(
        shifted.select(
            "vec_id",
            F.col("embedding").cast("array<float>").alias("embedding"),
        )
    ).unionByName(parts[2])
    assert _rows(spark, root) == _assign_all(spark, pop, root)


def test_bounded_retrain_excludes_live_batch_and_keeps_tombstones(
    spark, sf_small, tmp_path
):
    """Unit mechanics of retrain_ivf(max_batch=...): a partition above
    the bound is neither absorbed into the compacted lists nor counted
    into the horizon (its replay is accepted, never double-served), and
    the tombstone set SURVIVES the install (the excluded partition's
    replay re-appends vectors a tombstone may mask — dropping it would
    resurrect a completed GDPR delete)."""
    from realtimedatapipeline_8_project_spark.operators.similarity import (
        IVF_TOMBSTONES,
        delete_ivf_vectors,
        retrain_ivf,
        write_ivf_batch,
    )

    emb = _emb(spark, sf_small)
    root = str(tmp_path / "ivf")
    parts = [emb.where(F.col("vec_id") % 2 == b) for b in range(2)]
    vector_ingest_batch(parts[0], 0, root)  # bootstraps the codebook
    cents = spark.read.parquet(os.path.join(root, IVF_CODEBOOK))
    assigned1 = _km_assign(_km_quantize(parts[1]), cents)
    write_ivf_batch(assigned1, 1, root)  # half-landed: never committed
    victim = parts[1].select("vec_id").orderBy("vec_id").limit(1)
    victim_id = victim.collect()[0].vec_id
    delete_ivf_vectors(spark, root, victim, 2)
    assert retrain_ivf(spark, root, force=True, max_batch=0) is True
    # the excluded partition is gone from the lists (dropped, to be
    # replayed), the horizon admits its replay, tombstones survived
    assert os.path.isdir(os.path.join(root, IVF_TOMBSTONES))
    new_cents = spark.read.parquet(os.path.join(root, IVF_CODEBOOK))
    write_ivf_batch(
        _km_assign(_km_quantize(parts[1]), new_cents), 1, root
    )  # the replay: accepted, not refused
    got = {r.vec_id for r in read_ivf_lists(spark, root).collect()}
    want = {
        r.vec_id for r in parts[0].unionByName(parts[1]).collect()
    } - {victim_id}
    assert got == want  # everything served once; the delete still holds


def test_fleet_probe_parity_across_compaction_and_retrain(
    spark, sf_small, tmp_path
):
    """VERDICT r11 #8 (stretch): the batch fleet probe wired into the
    streaming maintenance loop — between ingest batches, ivf_probe_batch
    over a mixed query frame (two in-corpus vectors with self-exclusion
    + one external off-lattice vector) must equal the per-vector
    ivf_probe on the SAME stored artifacts, at every maintenance state:
    fresh lists, across an auto-compaction fold, and across a
    drift-triggered entry-point retrain (new codebook, reset history,
    horizon barrier) followed by another fold. Both paths read through
    read_ivf_lists, so tombstone masking and partition layout changes
    are invisible to the parity."""
    from realtimedatapipeline_8_project_spark.operators.similarity import (
        ivf_probe,
        ivf_probe_batch,
    )

    emb = _emb(spark, sf_small)
    root = str(tmp_path / "ivf")
    parts = [emb.where(F.col("vec_id") % 3 == b) for b in range(3)]

    def assert_parity():
        lists = read_ivf_lists(spark, root)
        cents = spark.read.parquet(os.path.join(root, IVF_CODEBOOK))
        src = {
            r.vec_id: list(r.qv)
            for r in _km_quantize(emb)
            .where(F.col("vec_id").isin(0, 7, 13))
            .collect()
        }
        qvs = {
            0: src[0],
            7: src[7],
            900_001: [x + 555 for x in src[13]],  # external vector
        }
        queries = spark.createDataFrame(
            list(qvs.items()), "qid long, qv array<bigint>"
        )
        got: dict[int, list] = {}
        for r in ivf_probe_batch(
            lists, cents, queries, exclude_self=True
        ).collect():
            got.setdefault(r.qid, []).append((r.rank, r.dist, r.vec_id))
        assert set(got) == set(qvs)
        for qid, qv in qvs.items():
            single = [
                (i + 1, r.dist, r.vec_id)
                for i, r in enumerate(
                    ivf_probe(lists, cents, qv, exclude_id=qid).collect()
                )
            ]
            assert sorted(got[qid]) == single, qid

    vector_ingest_batch(parts[0], 0, root, compact_every=2,
                        retrain_on_drift=True)
    assert_parity()  # fresh single-batch lists
    vector_ingest_batch(parts[1], 1, root, compact_every=2,
                        retrain_on_drift=True)  # fold fires ((1+1) % 2)
    assert_parity()  # across the compaction boundary
    shifted = parts[2].select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        F.expr(
            "transform(embedding, x -> x + CAST(5.0 AS FLOAT))"
        ).alias("embedding"),
    )
    vector_ingest_batch(shifted, 2, root, compact_every=2,
                        retrain_on_drift=True)  # drifted batch flags
    vector_ingest_batch(parts[2], 3, root, compact_every=2,
                        retrain_on_drift=True)  # retrain + fold
    drift = {r.batch_id for r in ivf_drift(spark, root).collect()}
    assert drift == {-1, 3}  # the retrain actually happened
    assert_parity()  # across the retrain + second fold
