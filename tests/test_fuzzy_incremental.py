"""Incrementally maintained fuzzy dual (r11): the deletion-neighborhood
dual mirrors the COMPACTED postings' vocabulary, tail batches contribute
candidates through a distributed variant-membership check, and a
horizon mismatch degrades to the full-vocabulary membership check —
identical rows to a corpus re-derivation at every lifecycle point."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

import realtimedatapipeline_8_project_spark.operators.text_analysis as TA
from realtimedatapipeline_8_project_spark import fold
from realtimedatapipeline_8_project_spark.fold import COMPACTED_BATCH_ID
from realtimedatapipeline_8_project_spark.operators.text_analysis import (
    INDEX_FUZZY,
    INDEX_POSTINGS,
    _within_one_edit,
    batch_postings,
    compact_index,
    delete_index_docs,
    fuzzy_hits_incremental,
    read_index,
    write_index_batch,
)

TYPOS = ("sart", "winow")


def _docs(spark, n=90):
    rows = []
    for i in range(n):
        toks = ["start" if i % 3 == 0 else "walk"]
        toks += ["window" if i % 4 == 0 else "slow"]
        toks += ["pad", f"w{i % 5}"]
        rows.append((i, " ".join(toks)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _expected(spark, idx, typos):
    """Pure-Python re-derivation over the merged, tombstone-aware
    postings with the exact distance-1 predicate."""
    postings, _ = read_index(spark, idx)
    rows = postings.select("term", "doc_id", "tf").collect()
    per_doc = {}
    for r in rows:
        hit = [_within_one_edit(r.term, q) for q in typos]
        if any(hit):
            terms, tf, flags = per_doc.setdefault(
                r.doc_id, (set(), [0], [False] * len(typos))
            )
            terms.add(r.term)
            tf[0] += r.tf
            for i, h in enumerate(hit):
                flags[i] = flags[i] or h
    return sorted(
        (d, len(t), tf[0])
        for d, (t, tf, flags) in per_doc.items()
        if all(flags)
    )


def _got(spark, idx, typos):
    return sorted(
        (r.doc_id, r.n_terms_matched, r.total_tf)
        for r in fuzzy_hits_incremental(spark, idx, typos).collect()
    )


def test_incremental_fuzzy_through_full_lifecycle(spark, tmp_path):
    docs = _docs(spark)
    idx = str(tmp_path / "idx")
    for b in range(3):
        write_index_batch(
            batch_postings(docs.where(F.col("doc_id") % 3 == b)), b, idx
        )
    # no compaction yet: full-vocabulary membership check, correct
    want = _expected(spark, idx, TYPOS)
    assert want  # non-degenerate: AND form matches something
    assert _got(spark, idx, TYPOS) == want
    assert _got(spark, idx, ("sart",)) == _expected(spark, idx, ("sart",))
    assert not os.path.isdir(os.path.join(idx, INDEX_FUZZY))
    # compaction builds the dual at the postings horizon
    compact_index(spark, idx, keep_last=1)
    assert os.path.isdir(
        os.path.join(idx, INDEX_FUZZY, f"batch_id={COMPACTED_BATCH_ID}")
    )
    assert fold.read_horizon(
        os.path.join(idx, INDEX_FUZZY)
    ) == fold.read_horizon(os.path.join(idx, INDEX_POSTINGS))
    assert _got(spark, idx, TYPOS) == _expected(spark, idx, TYPOS)
    # a tail batch introduces a BRAND-NEW vocabulary term within
    # distance 1 of a typo ("winnow" is distance 2 from winow? no:
    # winow -> winnow is one insertion) — only the tail membership
    # check can find it
    write_index_batch(
        batch_postings(
            spark.createDataFrame(
                [(700, "winnow start pad"), (701, "walk pad")],
                "doc_id long, text string",
            )
        ),
        3,
        idx,
    )
    want = _expected(spark, idx, TYPOS)
    assert any(d == 700 for d, _, _ in want)
    assert _got(spark, idx, TYPOS) == want
    # deletes mask immediately
    victim = next(d for d, _, _ in want if d < 400)
    delete_index_docs(
        spark, idx, spark.createDataFrame([(victim,)], "doc_id long"), 4
    )
    want = _expected(spark, idx, TYPOS)
    assert all(d != victim for d, _, _ in want)
    assert _got(spark, idx, TYPOS) == want
    # re-compaction folds the new vocab into the dual and stays exact
    compact_index(spark, idx, keep_last=1)
    assert _got(spark, idx, TYPOS) == _expected(spark, idx, TYPOS)


def test_stale_fuzzy_dual_falls_back_then_heals(spark, tmp_path):
    docs = _docs(spark, n=45)
    idx = str(tmp_path / "idx")
    for b in range(3):
        write_index_batch(
            batch_postings(docs.where(F.col("doc_id") % 3 == b)), b, idx
        )
    compact_index(spark, idx, keep_last=1)
    fpath = os.path.join(idx, INDEX_FUZZY)
    fold.write_horizon(fpath, -99)
    want = _expected(spark, idx, TYPOS)
    assert _got(spark, idx, TYPOS) == want
    TA.compact_index_fuzzy_dual(spark, idx)
    assert fold.read_horizon(fpath) == fold.read_horizon(
        os.path.join(idx, INDEX_POSTINGS)
    )
    assert _got(spark, idx, TYPOS) == want


def test_fresh_fuzzy_plan_probes_dual_and_postings_pushed(spark, tmp_path):
    """With a fresh dual: the candidate lookup carries a pushed
    In(variant) on the dual scan, and the final serve a pushed
    In(term) postings probe."""
    from .test_plans import plan_of_df

    docs = _docs(spark, n=45)
    idx = str(tmp_path / "idx")
    for b in range(3):
        write_index_batch(
            batch_postings(docs.where(F.col("doc_id") % 3 == b)), b, idx
        )
    compact_index(spark, idx, keep_last=1)
    p = plan_of_df(fuzzy_hits_incremental(spark, idx, TYPOS))
    assert "In(term, [" in p, p  # the final probe is term-pushed
