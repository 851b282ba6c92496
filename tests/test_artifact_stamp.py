"""The full-tree stamp and the one build-once protocol over it.

``_artifact_stamp`` records (size, mtime, inode) of every entry in a
tree, at every depth: an IN-PLACE overwrite or truncation of a part
file moves no parent's mtime (ADVICE r15), so a stamp of the root and
its children alone would miss it. ``build_once`` records that stamp's
entries as the artifact's build manifest in ``_COMPLETE`` and reuses a
root only while the tree still matches it — in any session or process,
with no Spark job."""

from __future__ import annotations

import glob
import json
import os

from realtimedatapipeline_8_project_spark.operators import text_analysis as TA
from realtimedatapipeline_8_project_spark.operators.similarity import (
    build_ivf_grown,
    q_knn_ivf_grown,
)
from realtimedatapipeline_8_project_spark.operators.text_analysis import (
    build_scored_index,
)
from realtimedatapipeline_8_project_spark.sources import tables
from realtimedatapipeline_8_project_spark.sources.tables import (
    _artifact_stamp,
    _build_manifest,
    build_once,
)


def _next_job_id(spark) -> int:
    """The DAG scheduler's next job id: every submitted job takes one."""
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _recorded(root: str):
    with open(os.path.join(root, "_COMPLETE")) as fh:
        return json.load(fh)


def test_grandchild_truncation_invalidates_verified_memo(spark, sf_small):
    root = build_scored_index(spark, sf_small)
    assert _recorded(root) == _build_manifest(root)
    parts = sorted(glob.glob(os.path.join(root, "postings", "part-*")))
    assert parts, "scored index must have grandchild part files"
    child_dir = os.path.dirname(parts[0])
    before = (os.stat(root), os.stat(child_dir))
    # in-place truncation of every part file, with every PARENT mtime
    # restored afterwards — the exact blind spot ADVICE r15 named (no
    # create/delete/rename, so no parent mtime moves on its own; we
    # pin them anyway)
    for victim in parts:
        with open(victim, "r+b") as fh:
            fh.truncate(4)
    os.utime(child_dir, ns=(before[1].st_atime_ns, before[1].st_mtime_ns))
    os.utime(root, ns=(before[0].st_atime_ns, before[0].st_mtime_ns))
    assert os.stat(root).st_mtime_ns == before[0].st_mtime_ns
    assert os.stat(child_dir).st_mtime_ns == before[1].st_mtime_ns
    # the grandchild's own (size, mtime) entry no longer matches the
    # recorded manifest...
    assert _recorded(root) != _build_manifest(root)
    # ...so the next build call rebuilds a readable artifact
    root2 = build_scored_index(spark, sf_small)
    assert root2 == root
    assert _recorded(root) == _build_manifest(root)
    assert (
        spark.read.parquet(os.path.join(root2, "postings")).count() > 0
    )


def test_stamp_records_grandchild_size_and_mtime(tmp_path):
    root = tmp_path / "art"
    (root / "component").mkdir(parents=True)
    gc = root / "component" / "part-000.parquet"
    gc.write_bytes(b"x" * 100)
    s1 = _artifact_stamp(str(root))
    st = os.stat(gc)
    with open(gc, "r+b") as fh:
        fh.truncate(10)
    os.utime(gc, ns=(st.st_atime_ns, st.st_mtime_ns))  # size-only change
    s2 = _artifact_stamp(str(root))
    assert s1 != s2


def _truncate_keeping_parent_mtimes(victim: str, root: str) -> None:
    parents = []
    d = os.path.dirname(victim)
    while True:
        parents.append((d, os.stat(d)))
        if os.path.samefile(d, root):
            break
        d = os.path.dirname(d)
    with open(victim, "r+b") as fh:
        fh.truncate(4)
    for d, st in parents:
        os.utime(d, ns=(st.st_atime_ns, st.st_mtime_ns))
        assert os.stat(d).st_mtime_ns == st.st_mtime_ns


def test_batch_partition_truncation_three_levels_deep(tmp_path):
    """Incremental-index artifacts are batch-partitioned one level below
    their component dirs (root/postings/batch_id=N/part-*.parquet): an
    in-place truncation there must fail the manifest check exactly like
    a grandchild's does (the manifest covers the whole tree)."""
    root = str(tmp_path / "idx")
    victim = os.path.join(root, "postings", "batch_id=3", "part-00000.parquet")
    builds = []

    def build(r: str) -> None:
        os.makedirs(os.path.dirname(victim))
        with open(victim, "wb") as fh:
            fh.write(b"PAR1" + b"x" * 100 + b"PAR1")
        builds.append(r)

    assert build_once(root, build) == root
    assert build_once(root, build) == root
    assert len(builds) == 1  # intact: reused
    _truncate_keeping_parent_mtimes(victim, root)
    assert build_once(root, build) == root
    assert len(builds) == 2  # truncated: rebuilt
    assert os.path.getsize(victim) == 108


def test_stamp_records_rename_install_with_equal_size_and_mtime(tmp_path):
    """A rename-based install (the sinks' write-then-swap) of a file with
    the same name, size and — on a coarse filesystem clock — mtime still
    changes the stamp: the installed entry has a new inode."""
    root = tmp_path / "art"
    (root / "component").mkdir(parents=True)
    live = root / "component" / "part-000.parquet"
    live.write_bytes(b"a" * 100)
    st, dst = os.stat(live), os.stat(root / "component")
    s1 = _artifact_stamp(str(root))
    staged = root / "component" / "_staged"
    staged.write_bytes(b"b" * 100)
    os.replace(staged, live)
    os.utime(live, ns=(st.st_atime_ns, st.st_mtime_ns))
    os.utime(root / "component", ns=(dst.st_atime_ns, dst.st_mtime_ns))
    assert os.stat(root / "component").st_size == dst.st_size
    assert os.stat(live).st_size == st.st_size
    assert os.stat(live).st_mtime_ns == st.st_mtime_ns
    assert _artifact_stamp(str(root)) != s1


def test_truncated_ivf_list_rebuilds_in_the_same_process(spark, sf_small):
    """A truncated ``lists/`` part file of the grown IVF index is caught
    by the next build call in the SAME process (no per-process memo
    vouches for the root), which rebuilds: the probe then serves its
    earlier rows instead of failing to read the damaged file."""
    root = build_ivf_grown(spark, sf_small)
    want = [tuple(r) for r in q_knn_ivf_grown(spark, sf_small).collect()]
    parts = sorted(glob.glob(os.path.join(root, "lists", "*", "part-*")))
    assert parts, "grown IVF lists must have batch-partition part files"
    _truncate_keeping_parent_mtimes(parts[0], root)
    assert build_ivf_grown(spark, sf_small) == root
    got = [tuple(r) for r in q_knn_ivf_grown(spark, sf_small).collect()]
    assert got == want


def test_intact_artifact_in_a_new_session_submits_no_job(spark, sf_small):
    """A new session (the catalog-table memo cleared) reuses an intact
    scored index on the recorded manifest alone: no readability probe
    job, however many component dirs the artifact has."""
    root = build_scored_index(spark, sf_small)
    tables._ARTIFACT_OK.clear()
    before = _next_job_id(spark)
    assert build_scored_index(spark, sf_small) == root
    assert _next_job_id(spark) == before


def test_empty_marker_rebuilds_once_then_reuses(
    spark, sf_small, tmp_path, monkeypatch
):
    """An artifact whose ``_COMPLETE`` is empty (the marker format that
    recorded no manifest) is rebuilt on the next call, and the rebuilt
    artifact is then reused: no job, marker and part files untouched."""
    root = str(tmp_path / "scored")
    monkeypatch.setattr(TA, "scored_index_path", lambda s, d: root)
    build_scored_index(spark, sf_small)
    with open(os.path.join(root, "_COMPLETE"), "w") as fh:
        fh.write("")
    stale = _artifact_stamp(root)
    build_scored_index(spark, sf_small)
    rebuilt = _artifact_stamp(root)
    assert rebuilt[3] != stale[3]  # new files, new inodes
    assert _recorded(root) == _build_manifest(root)
    before = _next_job_id(spark)
    build_scored_index(spark, sf_small)
    assert _next_job_id(spark) == before
    assert _artifact_stamp(root) == rebuilt
