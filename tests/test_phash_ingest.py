"""Streaming perceptual near-dup ingestion (streaming/phash_ingest.py):
per-batch classification == the incremental batch operator with base =
union of committed prior batches; the maintained hash artifact equals
the full-corpus hash set; replays are no-ops before AND after
compaction (the shared fold protocol); the Hamming
threshold is stamped and mismatches fail loud."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StructField,
    StructType,
)

from realtimedatapipeline_8_project_spark import fold
from realtimedatapipeline_8_project_spark.operators.multimodal import (
    PH_HAM_T,
    incremental_phash_pairs,
    phash_media,
)
from realtimedatapipeline_8_project_spark.streaming.phash_ingest import (
    PHASHES_SUBDIR,
    compact_phash,
    phash_ingest_batch,
    read_phash_pairs,
    read_phash_set,
    run_phash_ingest,
)

SCHEMA = StructType(
    [
        StructField("media_id", LongType(), True),
        StructField("payload", BinaryType(), True),
    ]
)

# planted corpus: _X-alike payloads land at Hamming 0-1; ramps never
# pair with anything (measured > PH_HAM_T against all others)
_X = b"the quick brown fox jumps over the lazy dog " * 4
_XE = bytearray(_X)
_XE[90] = 126  # one-byte edit of _X
_UP = bytes(range(200))
_DN = bytes(reversed(range(200)))

BATCHES = [
    # batch 0: 10/11 are byte-identical (internal pair); 12 unrelated
    [(10, _X), (11, _X), (12, _UP)],
    # batch 1: 20 is a near-copy of _X (cross-batch); 21 fresh
    [(20, bytes(_XE)), (21, _DN)],
    # batch 2: 30 copies batch 1's ramp exactly; 31 NULL payload
    [(30, _DN), (31, None)],
]


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _pair_rows(spark, out):
    return sorted(map(tuple, read_phash_pairs(spark, out).collect()))


def _admitted(rows):
    """The stream's admission tiers, mirrored: NULL ids malformed,
    NULL/empty payloads gated as missing media."""
    return [(i, p) for i, p in rows if i is not None and p]


def _expected_batch(spark, prior_rows, batch_rows, batch_id):
    base = phash_media(_df(spark, _admitted(prior_rows)))
    delta = phash_media(_df(spark, _admitted(batch_rows)))
    inc = incremental_phash_pairs(base, delta)
    return sorted((*t, batch_id) for t in map(tuple, inc.collect()))


def test_streamed_batches_equal_incremental_operator(spark, tmp_path):
    out = str(tmp_path / "phash")
    want = []
    for i, rows in enumerate(BATCHES):
        phash_ingest_batch(_df(spark, rows), i, out)
        prior = [r for b in BATCHES[:i] for r in b]
        want.extend(_expected_batch(spark, prior, rows, i))
    got = _pair_rows(spark, out)
    assert got == sorted(want)
    # the planted relationships all surfaced in their arrival batch
    pairs = {(a, b): (h, bid) for a, b, h, bid in got}
    assert pairs[(10, 11)][0] == 0 and pairs[(10, 11)][1] == 0
    assert (10, 20) in pairs and (11, 20) in pairs  # cross-batch edit
    assert pairs[(21, 30)] == (0, 2)  # exact cross-batch ramp copy
    assert not any({12, 31} & {a, b} for a, b in pairs)
    # the artifact is the admitted corpus hash set (NULL-id rows
    # malformed; NULL/empty payloads gated as MISSING media — review
    # r15: they must reach neither the artifact nor the pairing)
    all_rows = _admitted([r for b in BATCHES for r in b])
    want_hashes = sorted(
        map(tuple, phash_media(_df(spark, all_rows)).collect())
    )
    assert (
        sorted(map(tuple, read_phash_set(spark, out).collect()))
        == want_hashes
    )
    assert 31 not in {h[0] for h in want_hashes}


def test_replay_and_compaction_contract(spark, tmp_path):
    out = str(tmp_path / "phash")
    for i, rows in enumerate(BATCHES):
        phash_ingest_batch(_df(spark, rows), i, out)
    got = _pair_rows(spark, out)
    hashes = sorted(map(tuple, read_phash_set(spark, out).collect()))
    # unfolded replay: idempotent dynamic partition overwrite
    phash_ingest_batch(_df(spark, BATCHES[1]), 1, out)
    assert _pair_rows(spark, out) == got
    # compaction folds the hash partitions, serving state unchanged
    compact_phash(spark, out)
    assert fold.read_horizon(os.path.join(out, PHASHES_SUBDIR)) >= 2
    assert sorted(map(tuple, read_phash_set(spark, out).collect())) == hashes
    # folded replay: the horizon guard no-ops the whole body
    phash_ingest_batch(_df(spark, BATCHES[0]), 0, out)
    assert _pair_rows(spark, out) == got
    # the stream keeps classifying against the folded frontier
    phash_ingest_batch(_df(spark, [(40, _X)]), 3, out)
    newp = {
        (a, b)
        for a, b, _, bid in _pair_rows(spark, out)
        if bid == 3
    }
    assert newp == {(10, 40), (11, 40), (20, 40)}


def test_threshold_stamp_fails_loud(spark, tmp_path):
    out = str(tmp_path / "phash")
    phash_ingest_batch(_df(spark, BATCHES[0]), 0, out)
    # unsupported threshold: loud (the banding verifies at PH_HAM_T)
    with pytest.raises(ValueError, match="unsupported"):
        phash_ingest_batch(
            _df(spark, BATCHES[1]), 1, out, ham_t=PH_HAM_T + 10
        )
    # stamped-threshold mismatch: rewrite the marker to simulate an
    # artifact built under a different (hypothetical) threshold
    with open(os.path.join(out, "_phash_t"), "w") as fh:
        fh.write("2")
    with pytest.raises(ValueError, match="threshold"):
        phash_ingest_batch(_df(spark, BATCHES[1]), 1, out)
    # corrupt marker: diagnosable rebuild-the-artifact error
    for garbage in ("", "not-a-number"):
        with open(os.path.join(out, "_phash_t"), "w") as fh:
            fh.write(garbage)
        with pytest.raises(ValueError, match="corrupt"):
            phash_ingest_batch(_df(spark, BATCHES[1]), 1, out)


def test_all_malformed_batch_on_boundary_still_compacts(spark, tmp_path):
    out = str(tmp_path / "phash")
    phash_ingest_batch(_df(spark, BATCHES[0]), 0, out, compact_every=2)
    before = sorted(map(tuple, read_phash_set(spark, out).collect()))
    # batch 1 is all-malformed AND lands on the boundary ((1+1)%2==0)
    phash_ingest_batch(
        _df(spark, [(None, None)]), 1, out, compact_every=2
    )
    assert fold.read_horizon(os.path.join(out, PHASHES_SUBDIR)) >= 0
    assert sorted(map(tuple, read_phash_set(spark, out).collect())) == before
    # harmless replay, then normal classification continues
    phash_ingest_batch(
        _df(spark, [(None, None)]), 1, out, compact_every=2
    )
    phash_ingest_batch(_df(spark, BATCHES[1]), 2, out, compact_every=2)
    assert (10, 20) in {(a, b) for a, b, _, _ in _pair_rows(spark, out)}


def test_purge_forgets_and_replay_cannot_resurrect(spark, tmp_path):
    """GDPR purge: the victim leaves the hash artifact AND every pair
    report mentioning it; a checkpoint replay of its admission batch
    cannot resurrect it (fold-first closes the rewrite window); the
    purge is idempotent; the stream keeps classifying against the
    remaining frontier afterwards."""
    from realtimedatapipeline_8_project_spark.streaming.phash_ingest import (
        purge_phash,
    )

    out = str(tmp_path / "phash")
    for i, rows in enumerate(BATCHES):
        phash_ingest_batch(_df(spark, rows), i, out)
    before = _pair_rows(spark, out)
    assert any({10} & {a, b} for a, b, _, _ in before)

    def _keys(ids):
        return spark.createDataFrame(
            [(i,) for i in ids], "media_id long"
        )

    touched = purge_phash(spark, out, _keys([10]))
    assert touched >= 1
    # artifact forgot the victim, kept everyone else
    left = {r[0] for r in read_phash_set(spark, out).collect()}
    assert 10 not in left and {11, 12, 20, 21, 30} <= left
    # every pair mentioning the victim is gone; the rest intact
    after = _pair_rows(spark, out)
    assert not any({10} & {a, b} for a, b, _, _ in after)
    assert sorted(after) == sorted(
        r for r in before if 10 not in (r[0], r[1])
    )
    # replay of the victim's admission batch: folded no-op, stays gone
    phash_ingest_batch(_df(spark, BATCHES[0]), 0, out)
    assert 10 not in {r[0] for r in read_phash_set(spark, out).collect()}
    assert _pair_rows(spark, out) == after
    # idempotent re-run
    purge_phash(spark, out, _keys([10]))
    assert _pair_rows(spark, out) == after
    # classification continues against the remaining frontier: a new
    # copy of _X pairs with 11 and 20, not the purged 10
    phash_ingest_batch(_df(spark, [(50, _X)]), 3, out)
    newp = {
        (a, b) for a, b, _, bid in _pair_rows(spark, out) if bid == 3
    }
    assert newp == {(11, 50), (20, 50)}
    # purging every member of a pair partition removes it outright
    # (the fully-victim dynamic-overwrite subtlety)
    purge_phash(spark, out, _keys([11, 20, 21, 30, 50]))
    assert _pair_rows(spark, out) == []
    assert {r[0] for r in read_phash_set(spark, out).collect()} == {12}
    # empty keys / cold artifact: no-ops
    assert purge_phash(spark, out, _keys([])) == 0
    assert purge_phash(spark, str(tmp_path / "never"), _keys([1])) == 0


def test_purge_refuses_half_landed_batches(spark, tmp_path):
    """Review r15: a batch whose pair partition landed but whose hash
    partition did not (the crash window between the two writes) would
    be re-derived from source by the stream's replay — undoing a
    reported-success purge. The purge fails loud instead, naming the
    drain-then-purge remedy; after the replay completes the batch, the
    purge goes through."""
    import shutil

    from realtimedatapipeline_8_project_spark.streaming.phash_ingest import (
        PHASHES_SUBDIR as _PH,
        purge_phash,
    )

    out = str(tmp_path / "phash")
    phash_ingest_batch(_df(spark, BATCHES[0]), 0, out)
    phash_ingest_batch(_df(spark, BATCHES[1]), 1, out)
    # simulate the crash window: batch 1's hash partition vanishes
    shutil.rmtree(os.path.join(out, _PH, "batch_id=1"))

    def _keys(ids):
        return spark.createDataFrame(
            [(i,) for i in ids], "media_id long"
        )

    with pytest.raises(ValueError, match="never committed"):
        purge_phash(spark, out, _keys([20]))
    # victim still discoverable (no silent partial erasure)
    assert any(
        {20} & {a, b} for a, b, _, _ in _pair_rows(spark, out)
    )
    # the stream's replay completes the half-landed batch...
    phash_ingest_batch(_df(spark, BATCHES[1]), 1, out)
    # ...and the purge now goes through everywhere
    assert purge_phash(spark, out, _keys([20])) >= 1
    assert 20 not in {r[0] for r in read_phash_set(spark, out).collect()}
    assert not any(
        {20} & {a, b} for a, b, _, _ in _pair_rows(spark, out)
    )


def test_cold_artifact_reads(spark, tmp_path):
    out = str(tmp_path / "never_written")
    assert read_phash_pairs(spark, out).count() == 0
    assert [f.name for f in read_phash_pairs(spark, out).schema.fields] == [
        "media_id_a",
        "media_id_b",
        "hamming",
        "batch_id",
    ]


def test_available_now_stream_end_to_end(spark, tmp_path):
    """The real availableNow foreachBatch loop over a file stream
    equals running the batches by hand."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    out = str(tmp_path / "phash")
    ckpt = str(tmp_path / "ckpt")
    all_rows = _admitted([r for b in BATCHES for r in b])
    _df(spark, all_rows).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(SCHEMA)
        .parquet(src)
    )
    q = run_phash_ingest(stream, out, ckpt, compact_every=None)
    q.awaitTermination(120)
    got = {
        (a, b, h) for a, b, h, _ in _pair_rows(spark, out)
    }
    # one-batch drain == incremental with empty base == full operator
    want = {
        tuple(t)
        for t in map(
            tuple,
            incremental_phash_pairs(
                phash_media(_df(spark, [])),
                phash_media(_df(spark, all_rows)),
            ).collect(),
        )
    }
    assert got == want


def test_phash_batch_job_count_pin(spark, tmp_path):
    """Optimization r16 (VERDICT r15 #8): the Spark actions of one
    steady-state phash ingest batch, measured with the status tracker
    over a job group. The r15 body spent one action per batch on an
    ``admitted.isEmpty()`` probe that only special-cased the rare
    all-malformed batch (whose writes are harmless no-ops anyway);
    with it removed a batch runs exactly two: the classify+pair write
    and the hash append.

    Each action is one top-level SQL execution, and every job it runs
    carries that execution's root-id tag, so the pin counts distinct
    root ids: one per action, however many jobs AQE spends
    materializing its query stages. That number is not stable: which
    side of the pair write's band join AQE broadcasts follows the order
    in which the two table-cache stages of the persisted hash frame
    finish (both orders seen on one machine), and the job total read 7
    in full test runs against 6 in isolation, while the action count is
    2 either way."""
    import re

    from realtimedatapipeline_8_project_spark.streaming.phash_ingest import (
        phash_ingest_batch,
    )

    sc = spark.sparkContext
    out = str(tmp_path / "art")
    batch = spark.createDataFrame(
        [(i, bytes(b"payload-%d" % i) * 20) for i in range(50)],
        "media_id long, payload binary",
    )
    phash_ingest_batch(batch, 0, out)  # cold path: artifact created
    steady = batch.withColumn("media_id", batch.media_id + 100)
    sc.setJobGroup("phash-jobcount-r16", "job-count pin")
    try:
        phash_ingest_batch(steady, 1, out)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    ids = sc.statusTracker().getJobIdsForGroup("phash-jobcount-r16")
    store = sc._jsc.sc().statusStore()
    roots = {
        j: re.search(
            r"execution-root-id-(\d+)", store.job(j).jobTags().mkString(",")
        ).group(1)
        for j in ids
    }
    assert ids and len(set(roots.values())) <= 2, roots


def test_phash_all_malformed_batch_still_safe_without_empty_probe(
    spark, tmp_path
):
    """The case the removed isEmpty() guard special-cased: a batch whose
    every row is malformed/degenerate must leave the artifact exactly
    as an explicit skip would — no hash rows, no pair rows, and later
    batches classify against the committed frontier as usual."""
    from pyspark.sql import functions as F

    from realtimedatapipeline_8_project_spark.streaming.phash_ingest import (
        phash_ingest_batch,
        read_phash_pairs,
        read_phash_set,
    )

    out = str(tmp_path / "art")
    bad = spark.createDataFrame(
        [(None, b"x"), (1, None), (2, b"")],
        "media_id long, payload binary",
    )
    phash_ingest_batch(bad, 0, out)
    assert read_phash_set(spark, out).count() == 0
    assert read_phash_pairs(spark, out).count() == 0
    good = spark.createDataFrame(
        [(10, b"payload-a" * 10), (11, b"payload-a" * 10)],
        "media_id long, payload binary",
    )
    phash_ingest_batch(good, 1, out)
    hashes = read_phash_set(spark, out)
    assert hashes.count() == 2
    pairs = read_phash_pairs(spark, out)
    assert pairs.where(F.col("batch_id") == 1).count() == 1  # identical pair
