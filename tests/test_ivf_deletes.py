"""Vector deletes in the grown IVF lists (operators/similarity.py:
delete_ivf_vectors + the tombstone-aware read_ivf_lists /
compact_ivf_lists / retrain install): a deleted vector must vanish
from every probe — tombstone-masked immediately, physically purged at
compaction or retrain — with the same replay-idempotence and
crash-independence discipline as the text index's tombstones (minus
the stats machinery, which IVF deliberately does not need)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import realtimedatapipeline_8_project_spark.operators.similarity as SIM
from realtimedatapipeline_8_project_spark.operators.similarity import (
    IVF_CODEBOOK,
    IVF_GROW_BATCHES,
    IVF_LISTS,
    IVF_LISTS_SCHEMA,
    IVF_STATS,
    IVF_TOMBSTONES,
    IVF_TOMBSTONES_SCHEMA,
    _km_assign,
    _km_quantize,
    compact_ivf_lists,
    delete_ivf_vectors,
    frozen_ivf_codebook,
    probe_over_lists,
    read_ivf_lists,
    write_ivf_batch,
)
from realtimedatapipeline_8_project_spark.sources.tables import load_table

L_COLS = ["k", "vec_id", "qv", "d"]


def _grow(spark, sf_dir, root, batches=3):
    q = _km_quantize(load_table(spark, sf_dir, "embeddings"))
    frozen_ivf_codebook(q).write.mode("overwrite").parquet(
        os.path.join(root, IVF_CODEBOOK)
    )
    cents = spark.read.parquet(os.path.join(root, IVF_CODEBOOK))
    for b in range(batches):
        write_ivf_batch(
            _km_assign(q.where(F.col("vec_id") % batches == b), cents),
            b,
            root,
        )
    return q


def _stored_vec_ids(spark, root, sub, schema):
    path = os.path.join(root, sub)
    if not os.path.isdir(path):
        return set()
    return {
        r.vec_id
        for r in spark.read.schema(schema + ", batch_id int")
        .parquet(path)
        .select("vec_id")
        .collect()
    }


def test_delete_masks_vectors_from_every_read_and_probe(
    spark, sf_small, tmp_path
):
    """After delete_ivf_vectors: read_ivf_lists == the undeleted lists
    minus the victims (row-identical — same k, qv, d: assignment is
    untouched), and the served probe equals the probe math over that
    hand-filtered frame; no victim ever appears among the neighbors."""
    root = str(tmp_path / "ivf")
    _grow(spark, sf_small, root)
    full = read_ivf_lists(spark, root).select(*L_COLS).collect()
    victims = F.col("vec_id") % 9 == 4
    delete_ivf_vectors(
        spark,
        root,
        read_ivf_lists(spark, root).where(victims).select("vec_id"),
        3,
    )
    lists = read_ivf_lists(spark, root)
    got = sorted(map(str, lists.select(*L_COLS).collect()))
    want = sorted(str(r) for r in full if r.vec_id % 9 != 4)
    assert got == want
    cents = spark.read.parquet(os.path.join(root, IVF_CODEBOOK))
    served = probe_over_lists(lists, cents).collect()
    assert served and all(r.vec_id % 9 != 4 for r in served)
    # drift history is NEVER touched by deletes (it is the retrain
    # signal's record of assignment quality at ingestion time)
    stats = spark.read.parquet(os.path.join(root, IVF_STATS))
    assert stats.agg(F.sum("n")).collect()[0][0] == len(full)


def test_delete_replay_and_unknown_ids_are_noops(spark, sf_small, tmp_path):
    root = str(tmp_path / "ivf")
    _grow(spark, sf_small, root)
    ids = read_ivf_lists(spark, root).where(
        F.col("vec_id") % 9 == 4
    ).select("vec_id")
    delete_ivf_vectors(spark, root, ids, 3)
    once = sorted(
        map(str, read_ivf_lists(spark, root).select(*L_COLS).collect())
    )
    # replay: same batch, same ids — own-partition overwrite
    delete_ivf_vectors(spark, root, ids, 3)
    assert (
        sorted(
            map(str, read_ivf_lists(spark, root).select(*L_COLS).collect())
        )
        == once
    )
    # unknown ids: tombstones land, mask nothing, swept at compaction
    ghost = spark.range(1).select((F.col("id") + 10_000_000).alias("vec_id"))
    delete_ivf_vectors(spark, root, ghost, 4)
    assert (
        sorted(
            map(str, read_ivf_lists(spark, root).select(*L_COLS).collect())
        )
        == once
    )
    compact_ivf_lists(spark, root, keep_last=0)
    assert (
        sorted(
            map(str, read_ivf_lists(spark, root).select(*L_COLS).collect())
        )
        == once
    )
    assert (
        _stored_vec_ids(spark, root, IVF_TOMBSTONES, IVF_TOMBSTONES_SCHEMA)
        == set()
    )


def test_compaction_physically_purges_deleted_vectors(
    spark, sf_small, tmp_path
):
    """Full compaction purges victims' rows from storage, sweeps the
    spent tombstones, and leaves reads identical; an absorbed-then-
    replayed delete batch re-appends only harmless no-op rows (IVF
    tombstones carry no stats side-effect, so there is deliberately no
    horizon refusal — the next sweep removes them again)."""
    root = str(tmp_path / "ivf")
    _grow(spark, sf_small, root)
    ids = read_ivf_lists(spark, root).where(
        F.col("vec_id") % 9 == 4
    ).select("vec_id")
    victims = {r.vec_id for r in ids.collect()}
    delete_ivf_vectors(spark, root, ids, 3)
    before = sorted(
        map(str, read_ivf_lists(spark, root).select(*L_COLS).collect())
    )
    compact_ivf_lists(spark, root, keep_last=0)
    assert (
        sorted(
            map(str, read_ivf_lists(spark, root).select(*L_COLS).collect())
        )
        == before
    )
    assert not (
        _stored_vec_ids(spark, root, IVF_LISTS, IVF_LISTS_SCHEMA) & victims
    )
    assert (
        _stored_vec_ids(spark, root, IVF_TOMBSTONES, IVF_TOMBSTONES_SCHEMA)
        == set()
    )
    # replay of the absorbed delete batch: harmless no-op rows, swept
    vdf = spark.createDataFrame([(i,) for i in sorted(victims)], "vec_id long")
    delete_ivf_vectors(spark, root, vdf, 3)
    assert (
        sorted(
            map(str, read_ivf_lists(spark, root).select(*L_COLS).collect())
        )
        == before
    )
    compact_ivf_lists(spark, root, keep_last=0)
    assert (
        _stored_vec_ids(spark, root, IVF_TOMBSTONES, IVF_TOMBSTONES_SCHEMA)
        == set()
    )


def test_absorbed_tombstone_survives_while_home_batch_is_kept(
    spark, sf_small, tmp_path
):
    """The survival rule, vector flavor: an absorbed tombstone whose
    vector still has stored list rows (home batch inside the keep_last
    margin) folds into the compacted tombstone partition instead of
    purging — and purges on the next pass."""
    root = str(tmp_path / "ivf")
    q = _grow(spark, sf_small, root)
    kept_home = (
        q.where(F.col("vec_id") % 3 == 2).select("vec_id").limit(2)
    )
    kept_ids = {r.vec_id for r in kept_home.collect()}
    absorbed_home = (
        q.where(F.col("vec_id") % 3 == 0)
        .where(F.col("vec_id") != 0)  # keep the probe vector alive
        .select("vec_id")
        .limit(2)
    )
    absorbed_ids = {r.vec_id for r in absorbed_home.collect()}
    delete_ivf_vectors(spark, root, kept_home.unionByName(absorbed_home), 3)
    delete_ivf_vectors(
        spark, root, q.where(F.col("vec_id") % 3 == 1).select("vec_id").limit(1), 4
    )
    before = sorted(
        map(str, read_ivf_lists(spark, root).select(*L_COLS).collect())
    )
    compact_ivf_lists(spark, root, keep_last=1)  # lists batch 2 kept;
    # tombstone batch 3 absorbed, batch 4 kept
    assert (
        sorted(
            map(str, read_ivf_lists(spark, root).select(*L_COLS).collect())
        )
        == before
    )
    stored_t = _stored_vec_ids(
        spark, root, IVF_TOMBSTONES, IVF_TOMBSTONES_SCHEMA
    )
    # kept-home victims survive the fold; absorbed-home victims purged
    assert kept_ids <= stored_t
    assert not (absorbed_ids & stored_t)
    stored_l = _stored_vec_ids(spark, root, IVF_LISTS, IVF_LISTS_SCHEMA)
    assert kept_ids <= stored_l and not (absorbed_ids & stored_l)
    compact_ivf_lists(spark, root, keep_last=0)
    assert (
        sorted(
            map(str, read_ivf_lists(spark, root).select(*L_COLS).collect())
        )
        == before
    )
    assert not (
        _stored_vec_ids(spark, root, IVF_LISTS, IVF_LISTS_SCHEMA) & kept_ids
    )


def test_retrain_physically_drops_deleted_vectors(spark, sf_small, tmp_path):
    """retrain_ivf re-assigns through the tombstone-filtered read, so
    the installed lists exclude the victims entirely and the spent
    tombstones are removed by the install — the wholesale purge path."""
    from realtimedatapipeline_8_project_spark.operators.similarity import (
        retrain_ivf,
    )

    root = str(tmp_path / "ivf")
    _grow(spark, sf_small, root)
    ids = read_ivf_lists(spark, root).where(
        F.col("vec_id") % 9 == 4
    ).select("vec_id")
    victims = {r.vec_id for r in ids.collect()}
    delete_ivf_vectors(spark, root, ids, 3)
    survivors_before = {
        r.vec_id for r in read_ivf_lists(spark, root).select("vec_id").collect()
    }
    assert retrain_ivf(spark, root, force=True)  # bypass the drift gate
    stored = _stored_vec_ids(spark, root, IVF_LISTS, IVF_LISTS_SCHEMA)
    assert stored == survivors_before  # victims gone, survivors intact
    assert not (stored & victims)
    assert not os.path.isdir(os.path.join(root, IVF_TOMBSTONES))


def test_after_delete_query_fixture_and_serving(spark, sf_small):
    """The r10-bound registry query: build + delete + compact fixture,
    served probe excludes every victim and equals the grown query's
    result recomputed over the victim-filtered lists (same codebook —
    deletes do not retrain)."""
    from realtimedatapipeline_8_project_spark.operators.similarity import (
        IVF_DELETE_MOD,
        IVF_DELETE_REM,
        build_ivf_grown,
        build_ivf_grown_with_deletes,
        q_knn_after_delete,
    )

    served = q_knn_after_delete(spark, sf_small).collect()
    assert served and all(
        r.vec_id % IVF_DELETE_MOD != IVF_DELETE_REM for r in served
    )
    full_root = build_ivf_grown(spark, sf_small)
    filtered = read_ivf_lists(spark, full_root).where(
        F.col("vec_id") % IVF_DELETE_MOD != IVF_DELETE_REM
    )
    cents = spark.read.parquet(os.path.join(full_root, IVF_CODEBOOK))
    want = probe_over_lists(filtered, cents).collect()
    assert [tuple(r) for r in served] == [tuple(r) for r in want]
    # the fixture is cached: a second call serves without rebuilding
    root = build_ivf_grown_with_deletes(spark, sf_small)
    stamp = os.path.getmtime(os.path.join(root, "_COMPLETE"))
    q_knn_after_delete(spark, sf_small)
    assert os.path.getmtime(os.path.join(root, "_COMPLETE")) == stamp


def test_negative_ivf_delete_batch_id_refuses(spark, sf_small, tmp_path):
    root = str(tmp_path / "ivf")
    _grow(spark, sf_small, root)
    import pytest

    with pytest.raises(ValueError, match=">= 0"):
        delete_ivf_vectors(
            spark,
            root,
            read_ivf_lists(spark, root).select("vec_id").limit(1),
            -1,
        )


def test_spent_compacted_vec_tombstones_resweep(spark, sf_small, tmp_path):
    """The vector twin of the re-sweep rule: tombstones folded into the
    compacted partition while their vectors were still stored must be
    swept by a later compaction whose lists fold purges the vectors —
    without requiring any new delete batch."""
    from realtimedatapipeline_8_project_spark.operators.similarity import (
        _compact_ivf_tombstones,
    )

    root = str(tmp_path / "ivf")
    _grow(spark, sf_small, root)
    ids = read_ivf_lists(spark, root).where(
        F.col("vec_id").isin(5, 8)
    ).select("vec_id")
    delete_ivf_vectors(spark, root, ids, 3)
    before = sorted(
        map(str, read_ivf_lists(spark, root).select(*L_COLS).collect())
    )
    _compact_ivf_tombstones(spark, root, keep_last=0)
    assert (
        _stored_vec_ids(spark, root, IVF_TOMBSTONES, IVF_TOMBSTONES_SCHEMA)
        == {5, 8}
    )
    assert _compact_ivf_tombstones(spark, root, keep_last=0) == 0
    compact_ivf_lists(spark, root, keep_last=0)
    assert (
        sorted(
            map(str, read_ivf_lists(spark, root).select(*L_COLS).collect())
        )
        == before
    )
    assert (
        _stored_vec_ids(spark, root, IVF_TOMBSTONES, IVF_TOMBSTONES_SCHEMA)
        == set()
    )


def test_stale_retrain_staging_installs_before_new_writes_and_deletes(
    spark, sf_small, tmp_path, monkeypatch
):
    """A retrain that crashed after staging (_STAGED on disk) must be
    INSTALLED before any later write or delete mutates the tree: a
    delete issued against the old generation would otherwise be wiped
    when the stale staging finally installs (its lists were re-assigned
    before the delete existed and the install clears the tombstone set)
    — resurrecting a completed GDPR delete. Writer-entry recovery
    closes the window."""
    import pytest as _pytest

    root = str(tmp_path / "ivf")
    _grow(spark, sf_small, root)

    def boom(index_dir):
        raise RuntimeError("simulated crash before the retrain install")

    monkeypatch.setattr(SIM, "_install_retrain", boom)
    with _pytest.raises(RuntimeError, match="simulated"):
        SIM.retrain_ivf(spark, root, force=True)
    monkeypatch.undo()
    tmp = os.path.join(root, "_retrain_tmp")
    assert os.path.isdir(tmp)  # fully staged, never installed

    # materialized ids: real delete requests come from their own source,
    # never as a lazy plan over the files the recovery will replace
    vict_ids = {
        r.vec_id
        for r in read_ivf_lists(spark, root)
        .where(F.col("vec_id").isin(5, 8))
        .select("vec_id")
        .collect()
    }
    victims = spark.createDataFrame(
        [(i,) for i in sorted(vict_ids)], "vec_id long"
    )
    delete_ivf_vectors(spark, root, victims, 0)
    # the delete recovered (installed) the staged retrain FIRST...
    assert not os.path.isdir(tmp)
    served = {
        r.vec_id for r in read_ivf_lists(spark, root).select("vec_id").collect()
    }
    assert not (served & vict_ids)
    # ...so no later recovery can replay the stale generation over it
    assert SIM.recover_ivf_retrain(spark, root) is False
    served2 = {
        r.vec_id for r in read_ivf_lists(spark, root).select("vec_id").collect()
    }
    assert not (served2 & vict_ids)


def test_read_ivf_lists_refuses_a_crashed_compaction(
    spark, sf_small, tmp_path
):
    """A crash inside compact_ivf_lists' install, after the old
    compacted partition was removed and before the staged one moved in,
    leaves the lists without their folded vectors: read_ivf_lists must
    refuse instead of serving the unfolded batches alone, and serve
    every vector again once the install is recovered."""
    import shutil

    root = str(tmp_path / "ivf")
    _grow(spark, sf_small, root)
    compact_ivf_lists(spark, root, keep_last=1)
    before = sorted(
        map(str, read_ivf_lists(spark, root).select(*L_COLS).collect())
    )

    def boom(*a, **k):
        raise RuntimeError("simulated crash inside the install")

    real_move, shutil.move = shutil.move, boom
    try:
        with pytest.raises(RuntimeError, match="simulated"):
            compact_ivf_lists(spark, root, keep_last=0)
    finally:
        shutil.move = real_move
    with pytest.raises(ValueError, match="crashed before it finished"):
        read_ivf_lists(spark, root)
    assert SIM.recover_ivf_compaction(spark, root) is True
    after = sorted(
        map(str, read_ivf_lists(spark, root).select(*L_COLS).collect())
    )
    assert after == before
