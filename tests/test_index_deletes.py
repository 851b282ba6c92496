"""Tombstone deletes in the incrementally maintained search index
(operators/text_analysis.py: delete_index_docs + the delete-aware
read_index / compact_index): served results must equal an index built
from the corpus WITHOUT the deleted docs — ranking, df and corpus
stats included — through every connective; deletes must be idempotent
under replay, refuse absorbed batches, and physically purge at
compaction with the same any-crash-point safety as the other folds."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

import realtimedatapipeline_8_project_spark.operators.text_analysis as TA
from realtimedatapipeline_8_project_spark import fold
from realtimedatapipeline_8_project_spark.fold import COMPACTED_BATCH_ID
from realtimedatapipeline_8_project_spark.operators.text_analysis import (
    DOCS_SCHEMA,
    INDEX_DOCS,
    INDEX_POSTINGS,
    INDEX_STATS,
    INDEX_TOMBSTONES,
    POSTINGS_SCHEMA,
    TOMBSTONES_SCHEMA,
    all_hits_over_postings,
    any_hits_over_postings,
    batch_postings,
    bm25_topk_over_postings,
    compact_index,
    delete_index_docs,
    exclude_hits_over_postings,
    phrase_hits_over_postings,
    prefix_hits_over_postings,
    read_index,
    recover_index_compaction,
    write_index_batch,
)
from realtimedatapipeline_8_project_spark.sources.tables import load_table

P_COLS = ["term", "doc_id", "tf", "dl", "positions"]


def _docs(spark, sf_dir, n=200):
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .where(F.col("doc_id") < n)
    )


def _build(spark, docs, root, batches=3):
    for b in range(batches):
        write_index_batch(
            batch_postings(docs.where(F.col("doc_id") % batches == b)), b, root
        )


def _snap(spark, root):
    postings, stats = read_index(spark, root)
    return (
        sorted(map(str, postings.select(*P_COLS).collect())),
        stats.collect(),
    )


def _raw_doc_ids(spark, root, sub, schema):
    path = os.path.join(root, sub)
    if not os.path.isdir(path):
        return set()
    return {
        r.doc_id
        for r in spark.read.schema(schema + ", batch_id int")
        .parquet(path)
        .select("doc_id")
        .collect()
    }


def test_delete_equals_filtered_rebuild_through_every_connective(
    spark, sf_small, tmp_path
):
    """The load-bearing semantics: after delete_index_docs, EVERY serving
    helper (AND, OR, AND-NOT, prefix, phrase, BM25) returns exactly what
    an index built from the corpus WITHOUT those docs returns — postings
    exclusion, df, and the BM25 corpus stats (n_docs, total_dl via the
    negative stats row) all corrected."""
    docs = _docs(spark, sf_small)
    root, root2 = str(tmp_path / "idx"), str(tmp_path / "twin")
    _build(spark, docs, root)
    delete_index_docs(
        spark, root, docs.where(F.col("doc_id") % 7 == 3).select("doc_id"), 3
    )
    _build(spark, docs.where(F.col("doc_id") % 7 != 3), root2)

    a_post, a_stats = read_index(spark, root)
    b_post, b_stats = read_index(spark, root2)
    assert a_stats.collect() == b_stats.collect()
    for helper in (
        all_hits_over_postings,
        any_hits_over_postings,
        exclude_hits_over_postings,
        prefix_hits_over_postings,
        phrase_hits_over_postings,
    ):
        assert sorted(map(str, helper(a_post).collect())) == sorted(
            map(str, helper(b_post).collect())
        ), helper.__name__
    assert (
        bm25_topk_over_postings(a_post, a_stats).collect()
        == bm25_topk_over_postings(b_post, b_stats).collect()
    )


def test_delete_replay_is_idempotent_and_second_delete_is_noop(
    spark, sf_small, tmp_path
):
    docs = _docs(spark, sf_small)
    root = str(tmp_path / "idx")
    _build(spark, docs, root)
    ids = docs.where(F.col("doc_id") % 7 == 3).select("doc_id")
    delete_index_docs(spark, root, ids, 3)
    once = _snap(spark, root)
    tombs_once = _raw_doc_ids(spark, root, INDEX_TOMBSTONES, TOMBSTONES_SCHEMA)
    # replay of the SAME delete batch overwrites only its own partitions
    # with identical rows (the dynamic-overwrite discipline)
    delete_index_docs(spark, root, ids, 3)
    assert _snap(spark, root) == once
    assert (
        _raw_doc_ids(spark, root, INDEX_TOMBSTONES, TOMBSTONES_SCHEMA)
        == tombs_once
    )
    # a NEW batch deleting already-tombstoned docs subtracts NOTHING
    # twice: its partition lands empty, stats and reads unchanged
    delete_index_docs(spark, root, ids, 4)
    assert _snap(spark, root) == once
    assert (
        _raw_doc_ids(spark, root, INDEX_TOMBSTONES, TOMBSTONES_SCHEMA)
        == tombs_once
    )


def test_delete_of_unknown_doc_is_a_noop(spark, sf_small, tmp_path):
    docs = _docs(spark, sf_small)
    root = str(tmp_path / "idx")
    _build(spark, docs, root)
    before = _snap(spark, root)
    ghost = spark.range(1).select(
        (F.col("id") + 10_000_000).alias("doc_id")
    )
    delete_index_docs(spark, root, ghost, 3)
    assert _snap(spark, root) == before


def test_delete_requires_docs_artifact(spark, tmp_path):
    """A dir without the v3 ``docs/`` artifact (e.g. pre-v3 layout)
    must refuse the delete loudly — silently finding nothing to delete
    would report success while erasing nothing."""
    root = str(tmp_path / "notanindex")
    os.makedirs(root)
    with open(os.path.join(root, "_format_version.json"), "w") as fh:
        json.dump({"version": TA.INDEX_FORMAT_VERSION}, fh)
    with pytest.raises(ValueError, match="docs"):
        delete_index_docs(
            spark, root, spark.range(1).select(F.col("id").alias("doc_id")), 0
        )


def test_compaction_physically_purges_deleted_docs(spark, sf_small, tmp_path):
    """After a full compaction (keep_last=0) the deleted docs' postings
    are GONE from storage (GDPR erasure completes), every absorbed
    tombstone is purged, the docs rows of dead docs are swept, the
    negative stats row folded — and reads are identical before/after."""
    docs = _docs(spark, sf_small)
    root = str(tmp_path / "idx")
    _build(spark, docs, root)
    deleted = {
        r.doc_id
        for r in docs.where(F.col("doc_id") % 7 == 3)
        .select("doc_id")
        .collect()
    }
    delete_index_docs(
        spark, root, docs.where(F.col("doc_id") % 7 == 3).select("doc_id"), 3
    )
    before = _snap(spark, root)
    compact_index(spark, root, keep_last=0)
    assert _snap(spark, root) == before
    stored = _raw_doc_ids(spark, root, INDEX_POSTINGS, POSTINGS_SCHEMA)
    assert not (stored & deleted)  # physical erasure, not just filtering
    assert (
        _raw_doc_ids(spark, root, INDEX_TOMBSTONES, TOMBSTONES_SCHEMA)
        == set()
    )
    assert not (
        _raw_doc_ids(spark, root, INDEX_DOCS, DOCS_SCHEMA) & deleted
    )
    # the negative stats row folded with the positives: one stats row
    sdirs = [
        d
        for d in os.listdir(os.path.join(root, INDEX_STATS))
        if d.startswith("batch_id=")
    ]
    assert sdirs == [f"batch_id={COMPACTED_BATCH_ID}"]
    # absorbed delete batches refuse replay (tombstone horizon)
    with pytest.raises(ValueError, match="tombstone"):
        delete_index_docs(
            spark,
            root,
            docs.where(F.col("doc_id") % 7 == 3).select("doc_id"),
            3,
        )


def test_absorbed_tombstone_survives_while_home_batch_is_kept(
    spark, sf_small, tmp_path
):
    """A tombstone whose partition is ABSORBED but whose doc still has
    stored postings (its home batch sits inside the keep_last replay
    margin) must SURVIVE into the compacted tombstone partition —
    purging it would resurrect the doc — and purge on the next pass
    once the home batch is absorbed. A tombstone in a KEPT delete
    batch stays in its own partition (its replay must stay able to
    overwrite it)."""
    docs = _docs(spark, sf_small)
    root = str(tmp_path / "idx")
    _build(spark, docs, root)
    # delete batch 3: docs {2, 5} — home batch 2 (2%3, 5%3), which
    # keep_last=1 will KEEP; delete batch 4: doc {0} — home batch 0,
    # which the fold absorbs
    delete_index_docs(
        spark, root, docs.where(F.col("doc_id").isin(2, 5)).select("doc_id"), 3
    )
    delete_index_docs(
        spark, root, docs.where(F.col("doc_id") == 0).select("doc_id"), 4
    )
    before = _snap(spark, root)
    compact_index(spark, root, keep_last=1)
    assert _snap(spark, root) == before
    # batch-3 tombstones absorbed but their docs' postings stay stored
    # (home batch kept) -> they survive into the compacted partition;
    # batch-4's tombstone keeps its own (kept) partition
    tpath = os.path.join(root, INDEX_TOMBSTONES)
    tdirs = {
        d for d in os.listdir(tpath) if d.startswith("batch_id=")
    }
    assert tdirs == {f"batch_id={COMPACTED_BATCH_ID}", "batch_id=4"}
    assert (
        _raw_doc_ids(spark, root, INDEX_TOMBSTONES, TOMBSTONES_SCHEMA)
        == {0, 2, 5}
    )
    stored = _raw_doc_ids(spark, root, INDEX_POSTINGS, POSTINGS_SCHEMA)
    assert {2, 5} <= stored and 0 not in stored  # 0 physically purged
    # second pass absorbs the home batch: physical purge completes
    compact_index(spark, root, keep_last=0)
    assert _snap(spark, root) == before
    assert (
        _raw_doc_ids(spark, root, INDEX_TOMBSTONES, TOMBSTONES_SCHEMA)
        == set()
    )
    assert not (
        _raw_doc_ids(spark, root, INDEX_POSTINGS, POSTINGS_SCHEMA)
        & {0, 2, 5}
    )


def test_delete_crash_between_writes_heals_on_replay(
    spark, sf_small, tmp_path, monkeypatch
):
    """delete_index_docs writes tombstones THEN the negative stats row;
    a crash between the two leaves stats uncorrected — the documented
    contract is the caller's checkpoint replays the batch (exactly the
    write_index_batch contract), and the replay lands both."""
    docs = _docs(spark, sf_small)
    root = str(tmp_path / "idx")
    _build(spark, docs, root)
    ids = docs.where(F.col("doc_id") % 7 == 3).select("doc_id")

    real = TA._delete_stats_id

    def boom(batch_id):
        raise RuntimeError("simulated crash before the stats write")

    monkeypatch.setattr(TA, "_delete_stats_id", boom)
    with pytest.raises(RuntimeError, match="simulated"):
        delete_index_docs(spark, root, ids, 3)
    monkeypatch.setattr(TA, "_delete_stats_id", real)
    # torn state: tombstones landed, stats did not — the replay heals it
    delete_index_docs(spark, root, ids, 3)

    root2 = str(tmp_path / "twin")
    _build(spark, docs.where(F.col("doc_id") % 7 != 3), root2)
    assert _snap(spark, root) == _snap(spark, root2)


def test_compaction_of_deleted_index_survives_crash_at_every_step(
    spark, sf_small, tmp_path
):
    """The exhaustive crash-point discipline of the plain-index test,
    on an index WITH tombstones: crash at every filesystem mutation of
    the five folds (postings, tombstones, docs, stats, term_stats);
    after recovery plus one resumed compaction, reads are
    row-identical, the deleted docs are physically gone, the per-term
    bounds are realigned (read_term_stats serves again — it refused
    while tombstones lived or partitions mismatched mid-crash), and no
    staging dir survives."""
    import shutil as _shutil

    docs = _docs(spark, sf_small, n=120)
    real_move, real_rmtree = _shutil.move, _shutil.rmtree
    real_horizon = fold.write_horizon

    # the pre-compaction tree and its reads are built once; every crash
    # point compacts a fresh copy of it
    pristine = str(tmp_path / "pristine")
    _build(spark, docs, pristine)
    delete_index_docs(
        spark,
        pristine,
        docs.where(F.col("doc_id") % 5 == 1).select("doc_id"),
        3,
    )
    before = _snap(spark, pristine)

    crash_point = 0
    while True:
        root = str(tmp_path / f"idx{crash_point}")
        _shutil.copytree(pristine, root)

        calls = {"n": 0}

        def _trip():
            calls["n"] += 1
            if calls["n"] > crash_point:
                raise RuntimeError(f"simulated crash at {crash_point}")

        def move(*a, **k):
            _trip()
            return real_move(*a, **k)

        def rmtree(*a, **k):
            _trip()
            return real_rmtree(*a, **k)

        def horizon(*a, **k):
            _trip()
            return real_horizon(*a, **k)

        crashed = False
        try:
            _shutil.move, _shutil.rmtree = move, rmtree
            fold.write_horizon = horizon
            compact_index(spark, root)
        except RuntimeError:
            crashed = True
        finally:
            _shutil.move, _shutil.rmtree = real_move, real_rmtree
            fold.write_horizon = real_horizon

        if crashed:
            recover_index_compaction(spark, root)
            compact_index(spark, root)  # resume the un-staged folds
        assert _snap(spark, root) == before, f"crash point {crash_point}"
        deleted = {
            r.doc_id
            for r in docs.where(F.col("doc_id") % 5 == 1)
            .select("doc_id")
            .collect()
        }
        assert not (
            _raw_doc_ids(spark, root, INDEX_POSTINGS, POSTINGS_SCHEMA)
            & deleted
        )
        assert (
            _raw_doc_ids(spark, root, INDEX_TOMBSTONES, TOMBSTONES_SCHEMA)
            == set()
        )
        # the bounds artifact is realigned with the purged postings:
        # read_term_stats serves (no live tombstones, partitions 1:1)
        # and its df for a surviving doc's term counts no victims
        assert TA.read_term_stats(spark, root) is not None, (
            f"crash point {crash_point}: bounds not realigned"
        )
        for tmp_sub in (
            "_postings_compact_tmp",
            "_tombstones_compact_tmp",
            "_docs_compact_tmp",
            "_stats_compact_tmp",
            "_term_stats_compact_tmp",
            "_postings_rev_compact_tmp",
            "_fuzzy_compact_tmp",
        ):
            assert not os.path.isdir(os.path.join(root, tmp_sub))
        if not crashed:
            break
        crash_point += 1
    assert crash_point >= 10  # five folds' installs, every mutation


def test_bm25_after_delete_plan_is_corpus_free(spark, sf_small):
    """The registry query serves from the stored artifacts: no
    documents scan, no Python, term filter pushed into the postings
    scan (the fixture build caches per fixture identity, so the
    serving plan is pure index reads)."""
    from realtimedatapipeline_8_project_spark.plans.registry import QUERIES

    df = QUERIES["text_bm25_after_delete"](spark, sf_small)
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "documents.parquet" not in p
    assert "Python" not in p
    assert "term" in p and "In(term" in p


def test_negative_delete_batch_id_refuses(spark, sf_small, tmp_path):
    """The negative key space is reserved (COMPACTED partition is -1,
    delete-stats keys are -(M+2)): a negative delete batch_id would
    silently overwrite one of them — refuse loudly instead."""
    docs = _docs(spark, sf_small, n=30)
    root = str(tmp_path / "idx")
    _build(spark, docs, root)
    for bad in (-1, -2, -6):
        with pytest.raises(ValueError, match=">= 0"):
            delete_index_docs(
                spark, root, docs.limit(1).select("doc_id"), bad
            )


def test_spent_compacted_tombstones_resweep_without_new_deletes(
    spark, sf_small, tmp_path
):
    """A tombstone already folded into the compacted partition becomes
    spent when a LATER postings fold purges its doc — and must then be
    swept even though no new delete batches ever arrive (erasure must
    not wait for an unrelated future delete)."""
    from realtimedatapipeline_8_project_spark.operators.text_analysis import (
        compact_index_tombstones,
    )

    docs = _docs(spark, sf_small, n=90)
    root = str(tmp_path / "idx")
    _build(spark, docs, root)
    victims = docs.where(F.col("doc_id").isin(2, 5)).select("doc_id")
    delete_index_docs(spark, root, victims, 3)
    before = _snap(spark, root)
    # fold the tombstone batch alone: postings still stored -> survive
    compact_index_tombstones(spark, root, keep_last=0)
    tdirs = {
        d
        for d in os.listdir(os.path.join(root, INDEX_TOMBSTONES))
        if d.startswith("batch_id=")
    }
    assert tdirs == {f"batch_id={COMPACTED_BATCH_ID}"}
    assert (
        _raw_doc_ids(spark, root, INDEX_TOMBSTONES, TOMBSTONES_SCHEMA)
        == {2, 5}
    )
    # a second tombstone-only pass with nothing newly spent is a no-op
    assert compact_index_tombstones(spark, root, keep_last=0) == 0
    # the postings fold purges the victims; the tombstone RE-SWEEP in
    # the same compaction must then clear the spent compacted rows
    compact_index(spark, root, keep_last=0)
    assert _snap(spark, root) == before
    assert (
        _raw_doc_ids(spark, root, INDEX_TOMBSTONES, TOMBSTONES_SCHEMA)
        == set()
    )
    assert not (
        _raw_doc_ids(spark, root, INDEX_POSTINGS, POSTINGS_SCHEMA) & {2, 5}
    )


def test_dead_docs_rows_resweep_and_full_purged_redelete_is_noop(
    spark, sf_small, tmp_path
):
    """The docs-dir twin of the tombstone re-sweep: once a doc's
    postings AND tombstone are both physically gone, its lingering
    (doc_id, dl) row is not clutter — a later delete of the same id
    would find it, pass the already-tombstoned check (the tombstone is
    gone), and write a SECOND permanent negative stats row. The
    re-sweep removes the dead row at the next compaction even when no
    batch partitions fold, after which a re-delete of the fully-purged
    id is a no-op by construction (nothing left to resolve against)."""
    from realtimedatapipeline_8_project_spark.operators.text_analysis import (
        compact_index_tombstones,
    )

    docs = _docs(spark, sf_small, n=90)
    root = str(tmp_path / "idx")
    _build(spark, docs, root)
    # ghost delete batch 0, victim (doc 4, home batch 1) in batch 1 —
    # the KEPT tombstone batch, so the first fold keeps d suppressed
    ghost = spark.range(1).select((F.col("id") + 10_000_000).alias("doc_id"))
    delete_index_docs(spark, root, ghost, 0)
    delete_index_docs(
        spark, root, docs.where(F.col("doc_id") == 4).select("doc_id"), 1
    )
    before = _snap(spark, root)
    compact_index(spark, root, keep_last=1)
    assert _snap(spark, root) == before
    # postings purged while the tombstone (kept batch) stayed live, so
    # the docs row correctly survived (a tombstone replay resolves dl
    # against it)
    assert 4 not in _raw_doc_ids(spark, root, INDEX_POSTINGS, POSTINGS_SCHEMA)
    assert 4 in _raw_doc_ids(spark, root, INDEX_DOCS, DOCS_SCHEMA)
    # standalone tombstone fold purges the now-spent tombstone WITHOUT
    # any docs fold running — the docs row is now dead and lingering
    compact_index_tombstones(spark, root, keep_last=0)
    assert (
        _raw_doc_ids(spark, root, INDEX_TOMBSTONES, TOMBSTONES_SCHEMA)
        == set()
    )
    assert 4 in _raw_doc_ids(spark, root, INDEX_DOCS, DOCS_SCHEMA)
    # the next compaction has NOTHING to fold on the postings side —
    # the docs RE-SWEEP must still remove the dead row
    compact_index(spark, root, keep_last=1)
    assert _snap(spark, root) == before
    assert 4 not in _raw_doc_ids(spark, root, INDEX_DOCS, DOCS_SCHEMA)
    # fully purged: a re-delete resolves against nothing and subtracts
    # nothing — the no-op the double-delete guarantee promises
    delete_index_docs(
        spark, root, docs.where(F.col("doc_id") == 4).select("doc_id"), 9
    )
    assert _snap(spark, root) == before


def test_delete_everything_then_compact_installs_dual_horizons(
    spark, sf_small, tmp_path
):
    """The hypothesis-found r12 edge (fixed pin, independent of the
    .hypothesis example database): delete EVERY doc, then compact with
    keep_last=0. The compacted postings partition is zero rows
    (staged_empty), and the suffix/fuzzy dual installs must still
    record their horizon handshakes into freshly-created dual dirs —
    not crash, and not leave the duals permanently 'stale'. Serving
    afterwards returns empty frames through the fresh-dual path."""
    from realtimedatapipeline_8_project_spark.operators.text_analysis import (
        INDEX_FUZZY,
        INDEX_POSTINGS_REV,
        fuzzy_hits_incremental,
        suffix_hits_incremental,
    )

    docs = _docs(spark, sf_small, n=30)
    root = str(tmp_path / "idx")
    _build(spark, docs, root)
    delete_index_docs(spark, root, docs.select("doc_id"), 3)
    compact_index(spark, root, keep_last=0)
    h = fold.read_horizon(os.path.join(root, INDEX_POSTINGS))
    assert h is not None
    # both duals installed their handshakes into (empty) live dirs
    assert fold.read_horizon(os.path.join(root, INDEX_POSTINGS_REV)) == h
    assert fold.read_horizon(os.path.join(root, INDEX_FUZZY)) == h
    # the emptied index serves empty answers, fresh-path (no raise)
    assert suffix_hits_incremental(spark, root).count() == 0
    assert fuzzy_hits_incremental(spark, root).count() == 0
    post, _stats = read_index(spark, root)
    assert post.count() == 0


def test_read_index_refuses_a_crashed_compaction(spark, sf_small, tmp_path):
    """A crash inside compact_index's postings install, after the old
    compacted partition was removed and before the staged one moved in,
    leaves postings without its folded rows: read_index must refuse
    instead of serving the unfolded batches alone, and serve every row
    again once the install is recovered."""
    import shutil as _shutil

    root = str(tmp_path / "idx")
    _build(spark, _docs(spark, sf_small, n=90), root)
    compact_index(spark, root, keep_last=1)
    before = _snap(spark, root)

    def boom(*a, **k):
        raise RuntimeError("simulated crash inside the install")

    real_move, _shutil.move = _shutil.move, boom
    try:
        with pytest.raises(RuntimeError, match="simulated"):
            compact_index(spark, root)
    finally:
        _shutil.move = real_move
    with pytest.raises(ValueError, match="crashed before it finished"):
        read_index(spark, root)
    assert recover_index_compaction(spark, root) is True
    assert _snap(spark, root) == before
