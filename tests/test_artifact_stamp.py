"""Artifact-readability memo stamp depth (ADVICE r15, fixed r16).

The r15 session memo keyed artifact verification on (root + immediate
children) mtimes, claiming grandchild changes were caught "because
their parent's mtime moves" — true only for create/delete/rename. An
IN-PLACE overwrite or truncation of a grandchild part file (e.g.
scored-index postings/part-*.parquet) moves neither the root's nor the
child dir's mtime, so a memoized verification would have served a
corrupted artifact the per-call probe it replaced would have caught.
The r16 stamp stopped at grandchildren, which still missed
batch-partitioned artifacts one level deeper; the stamp now records
(size, mtime, inode) of every entry in the whole tree."""

from __future__ import annotations

import glob
import os

from realtimedatapipeline_8_project_spark.operators.text_analysis import (
    build_scored_index,
)
from realtimedatapipeline_8_project_spark.sources.tables import (
    _artifact_stamp,
    artifact_verified,
    mark_artifact_verified,
)


def test_grandchild_truncation_invalidates_verified_memo(spark, sf_small):
    root = build_scored_index(spark, sf_small)  # marks verified
    assert artifact_verified(spark, root)
    parts = sorted(glob.glob(os.path.join(root, "postings", "part-*")))
    assert parts, "scored index must have grandchild part files"
    child_dir = os.path.dirname(parts[0])
    before = (os.stat(root), os.stat(child_dir))
    # in-place truncation (every part file, so the rebuild-on-doubt
    # probe cannot luck into an intact one), with every PARENT mtime
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
    # the grandchild's own (size, mtime) entry must change the stamp...
    assert not artifact_verified(spark, root)
    # ...so the next build call re-probes, catches the corruption, and
    # rebuilds a readable artifact
    root2 = build_scored_index(spark, sf_small)
    assert root2 == root
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


def test_batch_partition_truncation_three_levels_deep(spark, tmp_path):
    """Incremental-index artifacts are batch-partitioned one level below
    their component dirs (root/postings/batch_id=N/part-*.parquet): an
    in-place truncation there must invalidate a memoized verification
    exactly like a grandchild's does (the stamp walks the whole tree)."""
    root = str(tmp_path / "idx")
    part_dir = os.path.join(root, "postings", "batch_id=3")
    os.makedirs(part_dir)
    victim = os.path.join(part_dir, "part-00000.parquet")
    with open(victim, "wb") as fh:
        fh.write(b"PAR1" + b"x" * 100 + b"PAR1")
    mark_artifact_verified(spark, root)
    assert artifact_verified(spark, root)
    _truncate_keeping_parent_mtimes(victim, root)
    assert not artifact_verified(spark, root)


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
