"""Regression pins for the round-9 review findings across the sink,
ingest and outbox maintenance paths: fully-expired history must still
serve from the snapshot, rollup compaction must be crash-recoverable,
batch outbox reads must report garbage as garbage, a shrinking outbox
file must fail loudly instead of spinning, duplicate doc_ids within a
micro-batch must collapse deterministically, and sub-shingle-width
docs must not co-band into an ever-growing candidate set."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from realtimedatapipeline_8_project_spark.sources.tables import load_table


def _mk_history(spark, out, batches):
    for bid, keys in batches:
        (
            spark.createDataFrame(
                [(k, f"v{k}", 10 + k, 5 + k) for k in keys],
                "event_id long, val string, event_time long, duration long",
            )
            .withColumn("batch_id", F.lit(bid))
            .write.mode("overwrite")
            .partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(os.path.join(out, "history"))
        )


def test_latest_serves_from_snapshot_after_full_retention(spark, tmp_path):
    """expire_batches may legitimately drop EVERY history partition; the
    compacted snapshot then holds the only copy of the keys, and
    read_latest must serve it instead of dying on schema inference over
    the file-less history dir. An as-of read over that state is
    unanswerable and must say so."""
    from realtimedatapipeline_8_project_spark.streaming.sinks import (
        compact_latest,
        expire_batches,
        read_history_asof,
        read_latest,
    )

    out = str(tmp_path / "sink")
    _mk_history(spark, out, [(0, [1, 2]), (1, [3])])
    compact_latest(spark, out)
    dropped = expire_batches(spark, out, keep_from_batch_id=99)
    assert dropped == 2
    got = {r.event_id for r in read_latest(spark, out).collect()}
    assert got == {1, 2, 3}  # snapshot-only serving
    with pytest.raises(ValueError, match="unanswerable"):
        read_history_asof(spark, out, 0)


def test_compact_rollup_is_staged_and_recoverable(spark, tmp_path):
    """The old compact_rollup rewrote the whole rollup dir through a
    second Spark job — a crash inside it destroyed every partial with
    the only copy stranded in a staging dir nothing consulted. Pinned:
    the staging completes before the live dir is touched, a simulated
    crash between remove and rename is finished by recover_rollup with
    value-identical reads, and success leaves no staging dir."""
    import shutil as _shutil

    import realtimedatapipeline_8_project_spark.streaming.sinks as SK

    out = str(tmp_path / "sink")
    events = spark.createDataFrame(
        [(i, "watch" if i % 2 else "click", 10 * i, 2 * i) for i in range(40)],
        "event_id long, event_type string, duration long, "
        "engagement_seconds long",
    ).withColumn(
        "event_time", F.timestamp_seconds(F.col("event_id") * 600 + 1)
    )
    SK.write_rollup(events.where(F.col("event_id") < 20), 0, out)
    SK.write_rollup(events.where(F.col("event_id") >= 20), 1, out)
    before = sorted(map(str, SK.read_rollup(spark, out).collect()))

    real_move = _shutil.move

    def boom(*a, **k):
        raise RuntimeError("simulated crash before the rename")

    _shutil.move = boom
    try:
        with pytest.raises(RuntimeError, match="simulated"):
            SK.compact_rollup(spark, out)
    finally:
        _shutil.move = real_move
    # live dir was removed, staging is complete: recovery must land it
    assert SK.recover_rollup(spark, out) is True
    assert sorted(map(str, SK.read_rollup(spark, out).collect())) == before
    # a clean compaction leaves one partition and no staging dir
    SK.compact_rollup(spark, out)
    assert sorted(map(str, SK.read_rollup(spark, out).collect())) == before
    dirs = [
        d
        for d in os.listdir(os.path.join(out, "rollup"))
        if d.startswith("batch_id=")
    ]
    assert dirs == ["batch_id=-1"]
    assert not os.path.isdir(os.path.join(out, "_rollup_tmp"))


def _rollup_events(spark, n=30):
    return spark.createDataFrame(
        [(i, "watch" if i % 2 else "click", 10 * i, 2 * i) for i in range(n)],
        "event_id long, event_type string, duration long, "
        "engagement_seconds long",
    ).withColumn(
        "event_time", F.timestamp_seconds(F.col("event_id") * 600 + 1)
    )


def test_rollup_replay_of_folded_batch_is_noop(spark, tmp_path):
    """Review r13 (the qhist guard, extended to its named precedent):
    after compact_rollup folds batches 0..1, a foreachBatch replay of
    batch 1 must NOT re-create its partition beside the compacted rows;
    a new batch above the marker still lands and a second compaction
    folds it."""
    import realtimedatapipeline_8_project_spark.streaming.sinks as SK

    events = _rollup_events(spark)
    out = str(tmp_path / "sink")
    thirds = [events.where(F.col("event_id") % 3 == i) for i in range(3)]
    SK.write_rollup(thirds[0], 0, out)
    SK.write_rollup(thirds[1], 1, out)
    SK.compact_rollup(spark, out)
    folded = sorted(map(str, SK.read_rollup(spark, out).collect()))

    SK.write_rollup(thirds[1], 1, out)  # checkpoint replay: no-op
    assert sorted(map(str, SK.read_rollup(spark, out).collect())) == folded
    assert {
        d
        for d in os.listdir(os.path.join(out, "rollup"))
        if d.startswith("batch_id=")
    } == {"batch_id=-1"}

    SK.write_rollup(thirds[2], 2, out)  # genuinely new batch lands
    import realtimedatapipeline_8_project_spark.streaming.sinks as _sk

    want = sorted(
        map(str, _sk._merge_rollup(_sk._rollup_partial(events)).collect())
    )
    assert sorted(map(str, SK.read_rollup(spark, out).collect())) == want
    SK.compact_rollup(spark, out)
    SK.write_rollup(thirds[2], 2, out)  # replay after the second fold
    assert sorted(map(str, SK.read_rollup(spark, out).collect())) == want


def test_compaction_guard_crash_windows(spark, tmp_path):
    """Review r13, the two crash windows the first (qhist-only) guard
    left open — pinned on the shared discipline via the rollup sink:

    (a) a batch written BETWEEN a crashed install (live dir gone,
        complete staging holding the only copy) and the next recovery
        must survive that recovery — the writer recovers at entry, so
        the batch lands in the recovered dir instead of a doomed fresh
        one that recovery's rmtree would destroy;
    (b) a staging with _SUCCESS but a TORN (zero-byte) marker is
        incomplete: discarded with the live dir untouched — installing
        it would silently disable the replay guard (int('') -> -1);
    (c) a staging with _SUCCESS but NO marker (the crash between the
        parquet job and the marker install) is incomplete too: while
        the live dir exists it is discarded and the live dir keeps
        serving."""
    import shutil

    import realtimedatapipeline_8_project_spark.streaming.sinks as SK

    events = _rollup_events(spark)
    out = str(tmp_path / "sink")
    thirds = [events.where(F.col("event_id") % 3 == i) for i in range(3)]
    SK.write_rollup(thirds[0], 0, out)
    SK.write_rollup(thirds[1], 1, out)
    SK.compact_rollup(spark, out)

    # (a) crash between remove and rename: live gone, staging complete
    shutil.move(
        os.path.join(out, "rollup"), os.path.join(out, "_rollup_tmp")
    )
    SK.write_rollup(thirds[2], 2, out)  # recovers at entry, then writes
    assert not os.path.isdir(os.path.join(out, "_rollup_tmp"))
    want = sorted(
        map(str, SK._merge_rollup(SK._rollup_partial(events)).collect())
    )
    # batch 2 AND the recovered folded batches all serve
    assert sorted(map(str, SK.read_rollup(spark, out).collect())) == want

    # (b) torn marker: copy live to staging, truncate the marker — the
    # staging must be discarded and the intact live dir keeps serving
    shutil.copytree(
        os.path.join(out, "rollup"), os.path.join(out, "_rollup_tmp")
    )
    with open(
        os.path.join(out, "_rollup_tmp", "_compacted_through"), "w"
    ) as fh:
        pass  # zero-byte: the torn-write shape
    assert SK.recover_rollup(spark, out) is False
    assert not os.path.isdir(os.path.join(out, "_rollup_tmp"))
    assert sorted(map(str, SK.read_rollup(spark, out).collect())) == want

    # (c) missing marker: same rule — discarded, live dir untouched
    shutil.copytree(
        os.path.join(out, "rollup"), os.path.join(out, "_rollup_tmp")
    )
    os.remove(os.path.join(out, "_rollup_tmp", "_compacted_through"))
    # _SUCCESS present: only the marker is missing
    open(os.path.join(out, "_rollup_tmp", "_SUCCESS"), "a").close()
    assert SK.recover_rollup(spark, out) is False
    assert not os.path.isdir(os.path.join(out, "_rollup_tmp"))
    assert SK._compacted_through(out, "rollup") >= 1
    assert sorted(map(str, SK.read_rollup(spark, out).collect())) == want


def test_outbox_batch_read_reports_garbage_as_garbage(spark, tmp_path):
    """A malformed producer line in a plain batch read must surface the
    raw parse error — not the 'file appears recreated' diagnosis, which
    only holds for a committed-range replay (there is no checkpoint to
    restart from in a batch read, so that advice was nonsense there)."""
    from realtimedatapipeline_8_project_spark.sources.outbox_stream import (
        make_outbox_source,
    )

    spark.dataSource.register(make_outbox_source())
    src = str(tmp_path / "outbox")
    os.makedirs(src)
    with open(os.path.join(src, "events.jsonl"), "w") as fh:
        fh.write("this is not json\n")
    with pytest.raises(Exception) as ei:
        spark.read.format("outbox").option("path", src).load().collect()
    msg = str(ei.value)
    assert "recreated" not in msg
    assert "fresh checkpoint" not in msg


def test_outbox_drain_fails_loudly_when_file_shrinks_mid_poll(
    spark, tmp_path, monkeypatch
):
    """If the file shrinks between the size check and the chunked reads
    (append-only violated mid-poll), the drain loop used to spin forever
    on empty reads — it must raise the loud contract error instead. The
    simple stream reader runs driver-side, so inflating getsize for the
    outbox file simulates exactly that race."""
    import json as _json

    from realtimedatapipeline_8_project_spark.sources.outbox_stream import (
        make_outbox_source,
    )

    spark.dataSource.register(make_outbox_source())
    src = str(tmp_path / "outbox")
    os.makedirs(src)
    fpath = os.path.join(src, "events.jsonl")
    with open(fpath, "w") as fh:
        for i in range(3):
            fh.write(
                _json.dumps(
                    {
                        "id": i,
                        "topic": "t",
                        "key": str(i),
                        "payload": "{}",
                    }
                )
                + "\n"
            )

    real = os.path.getsize

    def inflated(p):
        n = real(p)
        return n + 64 if str(p) == fpath else n

    monkeypatch.setattr(os.path, "getsize", inflated)
    # drive the simple reader directly (in-process, where the patched
    # getsize is visible — a live query plans in a separate worker)
    ds = make_outbox_source()(options={"path": src})
    reader = ds.simpleStreamReader(ds.schema())
    with pytest.raises(ValueError, match="shrank while being drained"):
        reader.read(reader.initialOffset())


def test_duplicate_doc_id_within_batch_collapses_once(
    spark, sf_small, tmp_path
):
    """At-least-once redelivery of the SAME doc_id inside one micro-batch
    must land exactly one kept row (the strict < pairing in
    intra_batch_dedup never pairs equal ids, so without the gate
    collapse it fanned out quadratically into kept, bands and index) —
    and a replay recomputes the same pick (deterministic min_by)."""
    from realtimedatapipeline_8_project_spark.streaming.ingest import (
        INDEX,
        dedup_ingest_batch,
        read_kept,
    )
    from realtimedatapipeline_8_project_spark.operators.text_analysis import (
        read_index,
    )

    docs = (
        load_table(spark, sf_small, "documents")
        .select("doc_id", "text")
        .where(F.col("doc_id") < 40)
    )
    dup = docs.where(F.col("doc_id") == 7)
    batch = docs.unionByName(dup).unionByName(dup)  # id 7 delivered 3x
    corpus = str(tmp_path / "corpus")
    dedup_ingest_batch(batch, 0, corpus, maintain_index=True)
    kept = read_kept(spark, corpus)
    assert kept.where(F.col("doc_id") == 7).count() == 1
    assert kept.groupBy("doc_id").count().where("count > 1").count() == 0
    bands = spark.read.parquet(os.path.join(corpus, "bands"))
    per_doc = bands.where(F.col("doc_id") == 7).count()
    assert per_doc == bands.groupBy("doc_id").count().agg(
        F.max("count")
    ).collect()[0][0] or per_doc > 0  # one band set, not N copies
    postings, stats = read_index(spark, os.path.join(corpus, INDEX))
    assert stats.collect()[0].n_docs == kept.count()
    # replay: identical result (the pick is deterministic)
    snap = sorted(map(str, kept.collect()))
    dedup_ingest_batch(batch, 0, corpus, maintain_index=True)
    assert sorted(map(str, read_kept(spark, corpus).collect())) == snap


def test_short_docs_do_not_coband_into_growing_candidate_sets(
    spark, tmp_path
):
    """Sub-shingle-width docs have empty shingle sets that hash to one
    constant signature — left alone they all co-band, and per-batch
    candidate cost grows with every short doc ever kept (none of which
    the NULL-jaccard verify ever dedups). The gate rebuckets them by
    exact text hash: all admitted (semantics unchanged), but stored
    buckets collide only for text-identical docs."""
    from realtimedatapipeline_8_project_spark.streaming.ingest import (
        dedup_ingest_batch,
        read_kept,
    )

    shorts = spark.createDataFrame(
        [(i, f"w{i} x") for i in range(20)] + [(100, "w0 x")],
        "doc_id long, text string",
    )
    corpus = str(tmp_path / "corpus")
    dedup_ingest_batch(shorts, 0, corpus)
    # all admitted (short docs are never near-dup-deduped)
    assert read_kept(spark, corpus).count() == 21
    bands = spark.read.parquet(os.path.join(corpus, "bands"))
    rows = bands.collect()
    assert rows and all(r.band == -1 for r in rows)
    # distinct texts -> distinct buckets; identical texts share one
    n_buckets = bands.select("bucket").distinct().count()
    assert n_buckets == 20  # 21 docs, one duplicated text
    # a second batch of fresh short docs ingests cleanly (lockstep
    # holds: short docs DO write band rows, just exact-text-keyed)
    more = spark.createDataFrame(
        [(200 + i, f"z{i} q") for i in range(5)], "doc_id long, text string"
    )
    dedup_ingest_batch(more, 1, corpus)
    assert read_kept(spark, corpus).count() == 26


def test_swap_family_recovers_pending_install_at_entry(spark, tmp_path):
    """ADVICE r9: every MUTATOR of the latest/rollup swap family must
    finish a crash-pending install before acting — recovery only-at-
    read is not enough. Each scenario starts from the dangerous state
    'crashed between remove and rename' (live dir gone, the COMPLETE
    staging dir holding the only copy of the snapshot):

    - compact_rollup re-run: without recover-at-entry its read raises
      PATH_NOT_FOUND inside the try and the except handler deletes the
      staging — permanently destroying every partial;
    - compact_latest re-run: would rebuild from history alone and
      install a snapshot missing the retention-expired keys only the
      staged snapshot still holds;
    - purge_keys: the isdir gate would skip the cache purge and a LATER
      recovery would resurrect the victims into the serving view."""
    import shutil as _shutil

    import realtimedatapipeline_8_project_spark.streaming.sinks as SK

    # --- rollup -----------------------------------------------------
    out_r = str(tmp_path / "rollup_sink")
    events = spark.createDataFrame(
        [(i, "watch" if i % 2 else "click", 10 * i, 2 * i) for i in range(20)],
        "event_id long, event_type string, duration long, "
        "engagement_seconds long",
    ).withColumn(
        "event_time", F.timestamp_seconds(F.col("event_id") * 600 + 1)
    )
    SK.write_rollup(events, 0, out_r)
    SK.compact_rollup(spark, out_r)
    before = sorted(map(str, SK.read_rollup(spark, out_r).collect()))
    # simulate the mid-swap crash: live dir gone, complete staging left
    _shutil.move(
        os.path.join(out_r, "rollup"), os.path.join(out_r, "_rollup_tmp")
    )
    SK.compact_rollup(spark, out_r)  # re-run directly — no manual recover
    assert sorted(map(str, SK.read_rollup(spark, out_r).collect())) == before
    assert not os.path.isdir(os.path.join(out_r, "_rollup_tmp"))

    # --- latest: snapshot-only state (history fully expired) ---------
    out_l = str(tmp_path / "latest_sink")
    _mk_history(spark, out_l, [(0, [1, 2]), (1, [3])])
    SK.compact_latest(spark, out_l)
    SK.expire_batches(spark, out_l, keep_from_batch_id=99)
    latest_dir = os.path.join(out_l, "latest")
    tmp_dir = os.path.join(out_l, "_latest_tmp")

    def crash():
        _shutil.move(latest_dir, tmp_dir)

    # compact_latest re-run after the crash: all three keys survive
    crash()
    SK.compact_latest(spark, out_l)
    got = {r.event_id for r in SK.read_latest(spark, out_l).collect()}
    assert got == {1, 2, 3}

    # purge_keys after the crash: victim gone from the recovered view
    crash()
    keys = spark.createDataFrame([(2,)], "event_id long")
    SK.purge_keys(spark, out_l, keys)
    got = {
        r.event_id for r in spark.read.parquet(latest_dir).collect()
    }
    assert got == {1, 3}
    assert not os.path.exists(tmp_dir)
