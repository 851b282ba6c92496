"""Streaming substring-dedup ingestion (streaming/gram_ingest.py):
per-batch classification == the batch incremental operator with
base = union of committed prior batches; the maintained gram artifact
equals the full-corpus gram set; replays are no-ops before AND after
compaction (the shared fold protocol); malformed rows
are gated."""

from __future__ import annotations

import json
import os
import time

import pytest

from pyspark.sql import functions as F

from realtimedatapipeline_8_project_spark import fold
from realtimedatapipeline_8_project_spark.operators.substring_dedup import (
    SUBDUP_K,
    _gram_table,
    _span_report,
    incremental_substring_spans,
)
from realtimedatapipeline_8_project_spark.streaming.gram_ingest import (
    compact_grams,
    gram_ingest_batch,
    read_gram_set,
    read_subdup_reports,
    run_gram_ingest,
)

# planted corpus: K=8; passages are 10-12 tokens so spans are maximal
_P1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
_P2 = "north south east west up down left right above below"
_U0 = "one two three four five six seven eight nine ten"
_U1 = "red orange yellow green blue indigo violet umber ochre teal"
_U2 = "wolf bear lynx otter marten badger stoat weasel vole shrew"

BATCHES = [
    # batch 0: 11/12 share _P1 (batch-internal dup); 10 unique
    [(10, f"{_U0}"), (11, f"{_P1} {_U1}"), (12, _P1)],
    # batch 1: 20 copies _U0 from batch 0 (cross-batch dup); 21 fresh
    [(20, _U0), (21, f"{_P2} {_U2}")],
    # batch 2: 30 copies batch 1's _P2 passage; 31 fresh
    [(30, _P2), (31, "ash elm oak yew fir pine cedar birch rowan hazel")],
]


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _report_rows(spark, out):
    return sorted(
        map(tuple, read_subdup_reports(spark, out).collect())
    )


def _expected_batch_report(spark, prior_rows, batch_rows, batch_id):
    """The batch operator's answer: incremental spans with base = the
    union of committed prior batches."""
    base = _df(spark, prior_rows)
    delta = _df(spark, batch_rows)
    rep = _span_report(incremental_substring_spans(base, delta))
    return sorted(
        (*t, batch_id) for t in map(tuple, rep.collect())
    )


def test_streamed_batches_equal_incremental_operator(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, rows in enumerate(BATCHES):
        with open(os.path.join(src, f"b{i}.jsonl"), "w") as fh:
            for doc_id, text in rows:
                fh.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
            if i == 1:  # malformed arrivals: gated, never classified
                fh.write(json.dumps({"doc_id": None, "text": "x y z"}) + "\n")
                fh.write(json.dumps({"doc_id": 777, "text": None}) + "\n")
        time.sleep(1.1)  # distinct mtimes -> deterministic arrival order

    raw = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1")
        .load(src)
    )
    docs = raw.select(
        F.get_json_object("value", "$.doc_id").cast("long").alias("doc_id"),
        F.get_json_object("value", "$.text").alias("text"),
    )
    out = str(tmp_path / "subdup")
    run_gram_ingest(docs, out, str(tmp_path / "chk")).awaitTermination()

    # per-batch reports == the batch incremental operator, batch by batch
    want = []
    for i, rows in enumerate(BATCHES):
        prior = [r for b in BATCHES[:i] for r in b]
        want.extend(_expected_batch_report(spark, prior, rows, i))
    got = _report_rows(spark, out)
    assert got == sorted(want)
    # the planted shape actually exercised every leg: batch-internal
    # dup (11, 12), cross-batch copies (20, 30), fresh docs absent
    flagged = {r[0] for r in got}
    assert flagged == {11, 12, 20, 30}
    assert 777 not in flagged and None not in flagged

    # the maintained artifact == the full-corpus distinct gram set
    all_docs = _df(spark, [r for b in BATCHES for r in b])
    want_grams = sorted(
        r.gram
        for r in _gram_table(all_docs, SUBDUP_K)
        .select("gram")
        .distinct()
        .collect()
    )
    got_grams = sorted(r.gram for r in read_gram_set(spark, out).collect())
    assert got_grams == want_grams

    # replay of a committed batch: byte-identical serving state
    gram_ingest_batch(_df(spark, BATCHES[2]), 2, out)
    assert _report_rows(spark, out) == got
    assert sorted(
        r.gram for r in read_gram_set(spark, out).collect()
    ) == want_grams

    # compaction folds the artifact, serving state unchanged; a replay
    # of a folded batch is a no-op through the horizon guard
    compact_grams(spark, out)
    assert fold.read_horizon(os.path.join(out, "grams")) >= 2
    assert sorted(
        r.gram for r in read_gram_set(spark, out).collect()
    ) == want_grams
    gram_ingest_batch(_df(spark, BATCHES[1]), 1, out)  # folded: no-op
    assert _report_rows(spark, out) == got
    assert sorted(
        r.gram for r in read_gram_set(spark, out).collect()
    ) == want_grams

    # a NEW batch after compaction classifies against the folded base:
    # a doc copying batch-0 text is flagged, a fresh doc is not
    gram_ingest_batch(
        _df(spark, [(40, _P1), (41, "quark lepton boson gluon photon muon tau pion kaon eta2")]),
        3,
        out,
    )
    got3 = _report_rows(spark, out)
    flagged3 = {r[0] for r in got3}
    assert 40 in flagged3 and 41 not in flagged3


def test_cold_artifact_reads_and_empty_batch(spark, tmp_path):
    """A cold output dir serves the typed empty report; an all-short
    or all-malformed batch writes nothing and classifies nothing."""
    out = str(tmp_path / "subdup")
    rep = read_subdup_reports(spark, out)
    assert rep.count() == 0
    assert "dup_tokens" in rep.columns
    gram_ingest_batch(
        _df(spark, [(1, "too short"), (2, None)]), 0, out
    )
    # short docs produce no grams and no spans; the report write is an
    # empty frame (dir may exist, zero partitions) — reads stay typed
    assert read_subdup_reports(spark, out).count() == 0


def test_k_mismatch_fails_loud(spark, tmp_path):
    """Review r14: an artifact built at one K can never string-match
    grams built at another, so a restarted stream with a different K
    must raise — not silently classify every duplicated doc clean."""
    import pytest as _pytest

    out = str(tmp_path / "subdup")
    gram_ingest_batch(_df(spark, BATCHES[0]), 0, out)
    with _pytest.raises(ValueError, match="k=8"):
        gram_ingest_batch(_df(spark, BATCHES[1]), 1, out, k=10)
    # the original k keeps working
    gram_ingest_batch(_df(spark, BATCHES[1]), 1, out)
    assert {r[0] for r in _report_rows(spark, out)} >= {11, 12, 20}


def test_compaction_of_zero_partition_artifact(spark, tmp_path):
    """Review r14: compact_every firing while the artifact holds zero
    gram partitions (every batch so far was all-short documents) must
    fold the empty set, not crash the micro-batch with an
    unable-to-infer-schema read — a wedged checkpoint replays the
    failure forever."""
    out = str(tmp_path / "subdup")
    gram_ingest_batch(
        _df(spark, [(1, "too short"), (2, "also tiny")]),
        0,
        out,
        compact_every=1,
    )
    # the stream survives and a later real batch classifies normally
    gram_ingest_batch(_df(spark, BATCHES[0]), 1, out, compact_every=1)
    assert {r[0] for r in _report_rows(spark, out)} == {11, 12}
    assert read_gram_set(spark, out).count() > 0


def test_hashed_stream_reports_equal_string_stream(spark, tmp_path):
    """The production key (xxhash64, 8 bytes per stored gram) must
    reproduce the string-keyed stream's reports batch for batch, and a
    key-type-mismatched restart fails loud (the stamped-meta guard)."""
    import pytest as _pytest

    out_s = str(tmp_path / "string")
    out_h = str(tmp_path / "hashed")
    for i, rows in enumerate(BATCHES):
        gram_ingest_batch(_df(spark, rows), i, out_s)
        gram_ingest_batch(_df(spark, rows), i, out_h, hashed=True)
    assert _report_rows(spark, out_s) == _report_rows(spark, out_h)
    # hashed artifact stores bigint keys and round-trips reads
    g = read_gram_set(spark, out_h)
    assert dict(g.dtypes)["gram"] == "bigint"
    assert g.count() == read_gram_set(spark, out_s).count()
    # compaction keeps the hashed serving state identical
    compact_grams(spark, out_h)
    assert _report_rows(spark, out_s) == _report_rows(spark, out_h)
    # restarting the string artifact with hashed keys fails loud
    with _pytest.raises(ValueError, match="key=string"):
        gram_ingest_batch(_df(spark, BATCHES[0]), 3, out_s, hashed=True)


def test_corrupt_k_marker_fails_diagnosable(spark, tmp_path):
    """ADVICE r14: an empty or torn _gram_k marker must raise the
    descriptive rebuild-the-artifact ValueError, not a bare
    IndexError/ValueError from the parse — the stop was already loud,
    but undiagnosable. A marker has exactly three fields (K, key type,
    cleaned mode): a bare K or a two-field marker is corrupt too."""
    out = str(tmp_path / "subdup")
    gram_ingest_batch(_df(spark, BATCHES[0]), 0, out)
    for garbage in (
        "",
        "not-a-number string",
        f"{SUBDUP_K}",
        f"{SUBDUP_K} string",
    ):
        with open(os.path.join(out, "_gram_k"), "w") as fh:
            fh.write(garbage)
        with pytest.raises(ValueError, match="corrupt"):
            gram_ingest_batch(_df(spark, BATCHES[1]), 1, out)


def test_all_malformed_batch_on_boundary_still_compacts(spark, tmp_path):
    """ADVICE r14: an all-malformed batch landing on a compact_every
    boundary must still fold the prior partitions — returning before
    the boundary check deferred compaction a full cycle (growth-bound
    loosening, no correctness impact)."""
    from realtimedatapipeline_8_project_spark.streaming.gram_ingest import (
        GRAMS_SUBDIR,
    )

    out = str(tmp_path / "subdup")
    gram_ingest_batch(_df(spark, BATCHES[0]), 0, out, compact_every=2)
    before = read_gram_set(spark, out).count()
    # batch 1 is all-malformed AND lands on the boundary ((1+1)%2==0)
    gram_ingest_batch(_df(spark, [(None, None)]), 1, out, compact_every=2)
    # batch 0 folded
    assert fold.read_horizon(os.path.join(out, GRAMS_SUBDIR)) >= 0
    assert read_gram_set(spark, out).count() == before
    # a replay of the empty boundary batch is harmless and the stream
    # keeps classifying normally afterwards
    gram_ingest_batch(_df(spark, [(None, None)]), 1, out, compact_every=2)
    gram_ingest_batch(_df(spark, BATCHES[1]), 2, out, compact_every=2)
    assert {r[0] for r in _report_rows(spark, out)} >= {11, 12, 20}


@pytest.mark.slow
def test_hashed_stream_compaction_replay_at_scale(spark, tmp_path):
    """VERDICT r14 #8: the PRODUCTION spelling (hashed=True, 8-byte
    xxhash64 gram keys) driven through the full crash contract at
    sf0.1 corpus scale — a real availableNow stream over three
    fixture-corpus slices with compact_every on a batch boundary, then
    replays before and after a further manual compaction. The string
    spelling has this coverage via the planted-corpus stream test;
    this gives the hashed loop the same, at the scale the driver
    sweeps."""
    docs = (
        spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
        .select("doc_id", "text")
    )
    src = str(tmp_path / "src")
    os.makedirs(src)
    # three arrival slices with distinct mtimes -> deterministic order
    for i in range(3):
        docs.where(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(src, f"b{i}"))
        time.sleep(1.1)
    raw = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/b*")
    )
    out = str(tmp_path / "subdup")
    run_gram_ingest(
        raw,
        out,
        str(tmp_path / "chk"),
        compact_every=2,  # boundary fires after batch 1, mid-stream
        hashed=True,
    ).awaitTermination()

    # mid-stream compaction fired and batch 2 then classified against
    # the FOLDED base
    assert fold.read_horizon(os.path.join(out, "grams")) >= 1
    reports = _report_rows(spark, out)
    assert {r[-1] for r in reports} <= {0, 1, 2}

    # maintained artifact == the full-corpus distinct hashed gram set
    want_grams = sorted(
        r.g
        for r in _gram_table(docs, SUBDUP_K)
        .select(F.xxhash64("gram").alias("g"))
        .distinct()
        .collect()
    )
    got_grams = sorted(r.gram for r in read_gram_set(spark, out).collect())
    assert got_grams == want_grams

    # replay of a committed (unfolded) batch: serving state unchanged
    gram_ingest_batch(
        docs.where(F.col("doc_id") % 3 == 2), 2, out, hashed=True
    )
    assert _report_rows(spark, out) == reports
    # fold everything; replay of a folded batch is a horizon-guard no-op
    compact_grams(spark, out)
    assert fold.read_horizon(os.path.join(out, "grams")) >= 2
    gram_ingest_batch(
        docs.where(F.col("doc_id") % 3 == 1), 1, out, hashed=True
    )
    assert _report_rows(spark, out) == reports
    assert sorted(
        r.gram for r in read_gram_set(spark, out).collect()
    ) == want_grams


def test_boundary_compaction_on_cold_artifact_is_noop(spark, tmp_path):
    """Review r15: an all-malformed FIRST batch landing on a
    compact_every boundary must not crash on the not-yet-created grams
    dir (PATH_NOT_FOUND there wedges the checkpoint in a replay loop);
    folding nothing is a no-op and later real batches classify
    normally."""
    out = str(tmp_path / "subdup")
    gram_ingest_batch(_df(spark, [(None, None)]), 0, out, compact_every=1)
    assert not os.path.isdir(os.path.join(out, "grams"))
    gram_ingest_batch(_df(spark, BATCHES[0]), 1, out, compact_every=1)
    assert {r[0] for r in _report_rows(spark, out)} == {11, 12}
    assert read_gram_set(spark, out).count() > 0


def test_emit_cleaned_stream_equals_incremental_cut(spark, tmp_path):
    """emit_cleaned=True maintains the per-batch removal projection:
    batch for batch it equals incremental_substring_cut(committed
    prior union, batch) — same hits, same shared cut_projection — and
    replays are idempotent before and after compaction."""
    import hashlib

    from realtimedatapipeline_8_project_spark.operators.substring_dedup import (
        incremental_substring_cut,
    )
    from realtimedatapipeline_8_project_spark.streaming.gram_ingest import (
        read_cleaned,
    )

    out = str(tmp_path / "subdup")
    for i, rows in enumerate(BATCHES):
        gram_ingest_batch(_df(spark, rows), i, out, emit_cleaned=True)
    got = sorted(map(tuple, read_cleaned(spark, out).collect()))
    want = []
    for i, rows in enumerate(BATCHES):
        prior = [r for b in BATCHES[:i] for r in b]
        cut = incremental_substring_cut(_df(spark, prior), _df(spark, rows))
        want.extend((*t, i) for t in map(tuple, cut.collect()))
    assert got == sorted(want)

    # the projection is total: EVERY batch doc has a cleaned row
    assert {r[0] for r in got} == {d for b in BATCHES for d, _ in b}
    # doc 12 is a pure copy of batch-internal passage _P1: fully cut
    (r12,) = [r for r in got if r[0] == 12]
    assert r12[2] == 0
    assert r12[3] == hashlib.sha256(b"").hexdigest()
    # doc 31 is fresh: keeps everything, sha of its own normalized text
    (r31,) = [r for r in got if r[0] == 31]
    assert r31[1] == r31[2]

    # unfolded replay: idempotent partition overwrite
    gram_ingest_batch(_df(spark, BATCHES[2]), 2, out, emit_cleaned=True)
    assert sorted(map(tuple, read_cleaned(spark, out).collect())) == got
    # folded replay: the horizon guard no-ops the whole batch body
    compact_grams(spark, out)
    gram_ingest_batch(_df(spark, BATCHES[1]), 1, out, emit_cleaned=True)
    assert sorted(map(tuple, read_cleaned(spark, out).collect())) == got
    # a report-only artifact (emit_cleaned never set) serves the typed
    # empty cleaned frame
    out2 = str(tmp_path / "reports_only")
    gram_ingest_batch(_df(spark, BATCHES[0]), 0, out2)
    assert read_cleaned(spark, out2).count() == 0


def test_emit_cleaned_null_text_docs_get_empty_rows(spark, tmp_path):
    """Review r15: a NULL-text row with a real doc_id is excluded from
    the gram/report machinery but must still land in the cleaned
    projection as the empty document — incremental_substring_cut's
    _words_of semantics — or the doc silently vanishes from the
    downstream corpus."""
    import hashlib

    from realtimedatapipeline_8_project_spark.operators.substring_dedup import (
        incremental_substring_cut,
    )
    from realtimedatapipeline_8_project_spark.streaming.gram_ingest import (
        read_cleaned,
    )

    empty_sha = hashlib.sha256(b"").hexdigest()
    out = str(tmp_path / "subdup")
    # batch 0: two real docs + one NULL-text doc (doc_id 99)
    b0 = BATCHES[0] + [(99, None)]
    gram_ingest_batch(_df(spark, b0), 0, out, emit_cleaned=True)
    got = sorted(map(tuple, read_cleaned(spark, out).collect()))
    assert (99, 0, 0, empty_sha, 0) in got
    # batch-for-batch identical to the batch operator on the same rows
    want = sorted(
        (*t, 0)
        for t in map(
            tuple,
            incremental_substring_cut(
                _df(spark, []), _df(spark, b0)
            ).collect(),
        )
    )
    assert got == want
    # an ALL-NULL-text batch (no grams, no spans) still writes its
    # cleaned rows — the early-return path must not skip them
    gram_ingest_batch(
        _df(spark, [(100, None), (101, None)]), 1, out, emit_cleaned=True
    )
    got1 = sorted(
        map(
            tuple,
            read_cleaned(spark, out)
            .where(F.col("batch_id") == 1)
            .collect(),
        )
    )
    assert got1 == [(100, 0, 0, empty_sha, 1), (101, 0, 0, empty_sha, 1)]
    # ...and the stream keeps classifying normally afterwards
    gram_ingest_batch(_df(spark, BATCHES[1]), 2, out, emit_cleaned=True)
    assert {r[0] for r in _report_rows(spark, out)} >= {11, 12, 20}


def test_emit_cleaned_mode_flip_fails_loud(spark, tmp_path):
    """Review r15: emit_cleaned is stamped into the artifact marker —
    flipping it ON over committed plain batches would serve an
    incomplete cleaned corpus (those batches can never be re-cleaned);
    flipping it OFF lets the cleaned dir go silently stale. Both
    directions fail loud."""
    out_plain = str(tmp_path / "plain")
    gram_ingest_batch(_df(spark, BATCHES[0]), 0, out_plain)
    with pytest.raises(ValueError, match="emit_cleaned"):
        gram_ingest_batch(
            _df(spark, BATCHES[1]), 1, out_plain, emit_cleaned=True
        )
    out_clean = str(tmp_path / "cleaned")
    gram_ingest_batch(_df(spark, BATCHES[0]), 0, out_clean, emit_cleaned=True)
    with pytest.raises(ValueError, match="emit_cleaned"):
        gram_ingest_batch(_df(spark, BATCHES[1]), 1, out_clean)
    # same mode continues fine after the rejected attempts
    gram_ingest_batch(_df(spark, BATCHES[1]), 1, out_plain)
    gram_ingest_batch(
        _df(spark, BATCHES[1]), 1, out_clean, emit_cleaned=True
    )
    assert {r[0] for r in _report_rows(spark, out_plain)} >= {11, 12, 20}
