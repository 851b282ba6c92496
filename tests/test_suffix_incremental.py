"""Incrementally maintained suffix dual (r11): the reversed-term dual
mirrors the COMPACTED postings partition (re-derived inside the
compaction), replayable-tail batches serve from the primary postings
with an endswith filter, and a horizon mismatch (mid-crash, never
built, stale) degrades to the primary-only scan — identical rows to a
corpus re-derivation at every lifecycle point."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

import realtimedatapipeline_8_project_spark.operators.text_analysis as TA
from realtimedatapipeline_8_project_spark import fold
from realtimedatapipeline_8_project_spark.fold import COMPACTED_BATCH_ID
from realtimedatapipeline_8_project_spark.operators.text_analysis import (
    INDEX_POSTINGS,
    INDEX_POSTINGS_REV,
    batch_postings,
    compact_index,
    delete_index_docs,
    read_index,
    suffix_hits_incremental,
    write_index_batch,
)

SUFFIXES = ("g", "er")


def _docs(spark, n=120):
    rows = []
    for i in range(n):
        toks = ["running" if i % 3 == 0 else "walk"]
        toks += ["faster" if i % 4 == 0 else "slow"]
        toks += ["big" if i % 5 == 0 else "pad", f"w{i % 7}"]
        rows.append((i, " ".join(toks)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _expected(spark, idx, suffixes):
    """Pure-Python re-derivation over the merged, tombstone-aware
    postings — the ground truth every serving state must equal."""
    postings, _ = read_index(spark, idx)
    rows = postings.select("term", "doc_id", "tf").collect()
    per_doc = {}
    for r in rows:
        if any(r.term.endswith(s) for s in suffixes):
            terms, tf, flags = per_doc.setdefault(
                r.doc_id, (set(), [0], [False] * len(suffixes))
            )
            terms.add(r.term)
            tf[0] += r.tf
            for i, s in enumerate(suffixes):
                flags[i] = flags[i] or r.term.endswith(s)
    return sorted(
        (d, len(t), tf[0])
        for d, (t, tf, flags) in per_doc.items()
        if all(flags)
    )


def _got(spark, idx, suffixes):
    return sorted(
        (r.doc_id, r.n_terms_matched, r.total_tf)
        for r in suffix_hits_incremental(spark, idx, suffixes).collect()
    )


def test_incremental_suffix_through_full_lifecycle(spark, tmp_path):
    docs = _docs(spark)
    idx = str(tmp_path / "idx")
    for b in range(3):
        write_index_batch(
            batch_postings(docs.where(F.col("doc_id") % 3 == b)), b, idx
        )
    # no compaction yet: horizon None -> primary-only fallback, correct
    assert _got(spark, idx, SUFFIXES) == _expected(spark, idx, SUFFIXES)
    assert _got(spark, idx, ("g",)) == _expected(spark, idx, ("g",))
    assert not os.path.isdir(os.path.join(idx, INDEX_POSTINGS_REV))
    # compaction builds the dual at the postings horizon
    compact_index(spark, idx, keep_last=1)
    cdir = os.path.join(
        idx, INDEX_POSTINGS_REV, f"batch_id={COMPACTED_BATCH_ID}"
    )
    assert os.path.isdir(cdir)
    assert fold.read_horizon(
        os.path.join(idx, INDEX_POSTINGS_REV)
    ) == fold.read_horizon(os.path.join(idx, INDEX_POSTINGS))
    assert _got(spark, idx, SUFFIXES) == _expected(spark, idx, SUFFIXES)
    # a new tail batch serves from the primary alongside the dual
    write_index_batch(
        batch_postings(
            spark.createDataFrame(
                [(500, "stronger running g"), (501, "walk pad")],
                "doc_id long, text string",
            )
        ),
        3,
        idx,
    )
    want = _expected(spark, idx, SUFFIXES)
    assert any(d == 500 for d, _, _ in want)  # tail doc visible
    assert _got(spark, idx, SUFFIXES) == want
    # deletes mask immediately (tombstone-aware on BOTH legs)
    victim = next(d for d, _, _ in want if d < 400)
    delete_index_docs(
        spark, idx, spark.createDataFrame([(victim,)], "doc_id long"), 4
    )
    want = _expected(spark, idx, SUFFIXES)
    assert all(d != victim for d, _, _ in want)
    assert _got(spark, idx, SUFFIXES) == want
    # the next compaction purges physically and re-aligns the dual
    compact_index(spark, idx, keep_last=1)
    assert _got(spark, idx, SUFFIXES) == _expected(spark, idx, SUFFIXES)
    dual = (
        spark.read.schema(TA.REV_SCHEMA + ", batch_id int")
        .parquet(os.path.join(idx, INDEX_POSTINGS_REV))
    )
    assert dual.where(F.col("doc_id") == victim).count() == 0


def test_stale_dual_falls_back_then_heals(spark, tmp_path):
    """A dual whose recorded horizon disagrees with the postings (the
    crash window between the postings install and the dual re-derive)
    must be IGNORED — serving degrades to the primary-only scan, stays
    correct, and the next compaction re-aligns it."""
    docs = _docs(spark, n=60)
    idx = str(tmp_path / "idx")
    for b in range(3):
        write_index_batch(
            batch_postings(docs.where(F.col("doc_id") % 3 == b)), b, idx
        )
    compact_index(spark, idx, keep_last=1)
    rpath = os.path.join(idx, INDEX_POSTINGS_REV)
    # tamper: pretend the dual was derived at an older horizon
    fold.write_horizon(rpath, -99)
    want = _expected(spark, idx, SUFFIXES)
    assert _got(spark, idx, SUFFIXES) == want
    # healing: the maintenance pass re-derives at the current horizon
    TA.compact_index_suffix_dual(spark, idx)
    assert fold.read_horizon(rpath) == fold.read_horizon(
        os.path.join(idx, INDEX_POSTINGS)
    )
    assert _got(spark, idx, SUFFIXES) == want


def test_fresh_dual_plan_pushes_prefix_probe(spark, tmp_path):
    """With a fresh dual, the dual leg's scan carries the pushed
    StringStartsWith(rterm) prefix probe (range-pruned) and the tail
    leg the pushed StringEndsWith(term) — both filters reach parquet."""
    from .test_plans import plan_of_df

    docs = _docs(spark, n=60)
    idx = str(tmp_path / "idx")
    for b in range(3):
        write_index_batch(
            batch_postings(docs.where(F.col("doc_id") % 3 == b)), b, idx
        )
    compact_index(spark, idx, keep_last=1)
    p = plan_of_df(suffix_hits_incremental(spark, idx, SUFFIXES))
    assert "StringStartsWith(rterm," in p, p
    assert "StringEndsWith(term," in p, p
