"""The forget (GDPR) stream for the ingest corpus
(streaming/ingest.py: forget_ingest_batch / run_forget_ingest) and the
fully-victim-partition purge fix it shares with the history sink
(streaming/sinks.py: purge_partitioned_rows): forgotten doc_ids must
vanish from the kept corpus, the band table, AND the served search
index — including the partition whose every row was a victim, which
dynamic partition overwrite alone would have silently kept on disk."""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import functions as F

from realtimedatapipeline_8_project_spark.operators.text_analysis import (
    INDEX_POSTINGS,
    POSTINGS_SCHEMA,
    batch_postings,
    bm25_topk_over_postings,
    compact_index,
    read_index,
)
from realtimedatapipeline_8_project_spark.sources.tables import load_table
from realtimedatapipeline_8_project_spark.streaming.ingest import (
    INDEX,
    forget_ingest_batch,
    read_kept,
    run_dedup_ingest,
    run_forget_ingest,
)


def _ingest(spark, sf_dir, tmp_path, n=150, batches=3):
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .where(F.col("doc_id") < n)
    )
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    for b in range(batches):
        rows = docs.where(F.col("doc_id") % batches == b).collect()
        with open(os.path.join(src, f"b{b}.jsonl"), "w") as fh:
            for r in rows:
                fh.write(
                    json.dumps({"doc_id": r.doc_id, "text": r.text}) + "\n"
                )
        time.sleep(1.1)
    raw = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1")
        .load(src)
    )
    stream = raw.select(
        F.get_json_object("value", "$.doc_id").cast("long").alias("doc_id"),
        F.get_json_object("value", "$.text").alias("text"),
    )
    corpus = str(tmp_path / "corpus")
    q = run_dedup_ingest(
        stream, corpus, str(tmp_path / "chk"), maintain_index=True
    )
    q.awaitTermination()
    return corpus


def test_forget_stream_erases_corpus_bands_and_index(
    spark, sf_small, tmp_path
):
    """End-to-end: ingest three batches with index maintenance, then
    drain a forget stream — the victims disappear from read_kept, the
    band table, and every index serving path; BM25 equals a one-pass
    build over the surviving corpus (stats corrected, not just rows
    filtered); a second drain of the same ids is a no-op."""
    corpus = _ingest(spark, sf_small, tmp_path)
    kept_before = {r.doc_id for r in read_kept(spark, corpus).collect()}
    victims = sorted(i for i in kept_before if i % 7 == 3)
    assert victims  # the slice must actually hit

    fsrc = str(tmp_path / "fsrc")
    os.makedirs(fsrc, exist_ok=True)
    with open(os.path.join(fsrc, "forget.jsonl"), "w") as fh:
        for i in victims:
            fh.write(json.dumps({"doc_id": i}) + "\n")
    raw = spark.readStream.format("text").load(fsrc)
    ids = raw.select(
        F.get_json_object("value", "$.doc_id").cast("long").alias("doc_id")
    )
    q = run_forget_ingest(ids, corpus, str(tmp_path / "fchk"))
    q.awaitTermination()

    kept = read_kept(spark, corpus)
    kept_ids = {r.doc_id for r in kept.collect()}
    assert kept_ids == kept_before - set(victims)
    bands = spark.read.parquet(os.path.join(corpus, "bands"))
    assert not ({r.doc_id for r in bands.collect()} & set(victims))

    postings, stats = read_index(spark, os.path.join(corpus, INDEX))
    one_pass = batch_postings(kept.select("doc_id", "text"))
    one_stats = one_pass.agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum("tf").alias("total_dl"),
    )
    assert stats.collect() == one_stats.collect()
    cols = ["term", "doc_id", "tf", "dl", "positions"]
    assert sorted(map(str, postings.select(*cols).collect())) == sorted(
        map(str, one_pass.select(*cols).collect())
    )
    assert (
        bm25_topk_over_postings(postings, stats).collect()
        == bm25_topk_over_postings(one_pass, one_stats).collect()
    )

    # replay / repeat: a second forget of the same ids changes nothing
    vdf = spark.createDataFrame([(i,) for i in victims], "doc_id long")
    forget_ingest_batch(vdf, 1, corpus)
    postings2, stats2 = read_index(spark, os.path.join(corpus, INDEX))
    assert stats2.collect() == one_stats.collect()
    assert {r.doc_id for r in read_kept(spark, corpus).collect()} == kept_ids
    # compaction after the forget physically purges the victims
    compact_index(spark, os.path.join(corpus, INDEX), keep_last=0)
    stored = {
        r.doc_id
        for r in spark.read.schema(POSTINGS_SCHEMA + ", batch_id int")
        .parquet(os.path.join(corpus, INDEX, INDEX_POSTINGS))
        .select("doc_id")
        .collect()
    }
    assert not (stored & set(victims))


def test_forget_of_a_whole_ingest_batch_removes_its_partitions(
    spark, sf_small, tmp_path
):
    """The fully-victim-partition trap, end to end: forgetting EVERY
    doc of one ingest batch must remove that batch's kept and bands
    partitions outright — dynamic partition overwrite writes no rows
    for an emptied partition, so without the explicit removal the
    victims' data would survive on disk while the purge reports
    success."""
    corpus = _ingest(spark, sf_small, tmp_path)
    kept = read_kept(spark, corpus)
    batch0 = {r.doc_id for r in kept.where(F.col("batch_id") == 0).collect()}
    others = {r.doc_id for r in kept.where(F.col("batch_id") != 0).collect()}
    assert batch0 and others
    vdf = spark.createDataFrame([(i,) for i in sorted(batch0)], "doc_id long")
    forget_ingest_batch(vdf, 0, corpus)
    assert not os.path.isdir(os.path.join(corpus, "kept", "batch_id=0"))
    assert not os.path.isdir(os.path.join(corpus, "bands", "batch_id=0"))
    assert {r.doc_id for r in read_kept(spark, corpus).collect()} == others
    postings, stats = read_index(spark, os.path.join(corpus, INDEX))
    assert not (
        {r.doc_id for r in postings.select("doc_id").collect()} & batch0
    )
    assert stats.collect()[0].n_docs == len(others)


def test_purge_keys_removes_fully_victim_history_partition(
    spark, tmp_path
):
    """Regression for the history sink itself: purging every key of one
    batch partition must delete the partition (the old anti-join +
    dynamic-overwrite spelling wrote zero rows for it, overwrote
    nothing, and silently KEPT the victims' rows on disk)."""
    from realtimedatapipeline_8_project_spark.streaming.sinks import (
        purge_keys,
    )

    out = str(tmp_path / "sink")
    hist = os.path.join(out, "history")
    for bid, keys in ((0, [1, 2]), (1, [3, 4]), (2, [2, 5])):
        (
            spark.createDataFrame(
                [(k, "v") for k in keys], "event_id long, val string"
            )
            .withColumn("batch_id", F.lit(bid))
            .write.mode("overwrite")
            .partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(hist)
        )
    victims = spark.createDataFrame([(1,), (2,)], "event_id long")
    touched = purge_keys(spark, out, victims)
    assert touched == 2  # batch 0 (fully victim) + batch 2 (partial)
    assert not os.path.isdir(os.path.join(hist, "batch_id=0"))
    left = sorted(
        (r.event_id, r.batch_id)
        for r in spark.read.parquet(hist).collect()
    )
    assert left == [(3, 1), (4, 1), (5, 2)]


def test_interleaved_adds_and_forgets_converge(spark, sf_small, tmp_path):
    """Adds and forgets interleave in production (each stream drains on
    its own schedule): ingest b0, forget some of b0, ingest b1, forget
    across both, compact mid-sequence — the final kept corpus, band
    table, and served index must equal a one-pass build over exactly
    the surviving docs."""
    from realtimedatapipeline_8_project_spark.operators.text_analysis import (
        compact_index,
    )
    from realtimedatapipeline_8_project_spark.streaming.ingest import (
        dedup_ingest_batch,
    )

    docs = (
        load_table(spark, sf_small, "documents")
        .select("doc_id", "text")
        .where(F.col("doc_id") < 240)
    )
    corpus = str(tmp_path / "corpus")
    b = [docs.where(F.col("doc_id") % 3 == i) for i in range(3)]

    dedup_ingest_batch(b[0], 0, corpus, maintain_index=True)
    forget_ingest_batch(
        b[0].where(F.col("doc_id") % 5 == 0).select("doc_id"), 0, corpus
    )
    dedup_ingest_batch(b[1], 1, corpus, maintain_index=True)
    compact_index(spark, os.path.join(corpus, INDEX), keep_last=1)
    forget_ingest_batch(
        docs.where(F.col("doc_id") % 5 == 1).select("doc_id"), 1, corpus
    )
    dedup_ingest_batch(b[2], 2, corpus, maintain_index=True)
    forget_ingest_batch(
        b[2].where(F.col("doc_id") % 5 == 2).select("doc_id"), 2, corpus
    )

    kept = read_kept(spark, corpus).select("doc_id", "text")
    kept_ids = {r.doc_id for r in kept.collect()}
    # forgotten = ids actually submitted to a forget, scoped to docs
    # ingested BEFORE that forget (dedup may additionally drop near-dup
    # docs — membership beyond the victims is dedup's decision, which
    # this test deliberately does not re-predict): none may survive
    forgotten = {
        r.doc_id
        for r in docs.collect()
        if (r.doc_id % 3 == 0 and r.doc_id % 5 == 0)
        or (r.doc_id % 3 in (0, 1) and r.doc_id % 5 == 1)
        or (r.doc_id % 3 == 2 and r.doc_id % 5 == 2)
    }
    assert kept_ids and not (kept_ids & forgotten)
    # docs matching a forget predicate but ingested AFTER that forget
    # are NOT forgotten (a forget is an erasure of what exists, not a
    # standing filter): at least some such docs must have survived
    late = {
        r.doc_id
        for r in docs.collect()
        if r.doc_id % 3 == 2 and r.doc_id % 5 == 1
    }
    assert late & kept_ids
    postings, stats = read_index(spark, os.path.join(corpus, INDEX))
    one = batch_postings(kept)
    one_stats = one.agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.coalesce(F.sum("tf"), F.lit(0)).cast("long").alias("total_dl"),
    )
    cols = ["term", "doc_id", "tf", "dl", "positions"]
    assert sorted(map(str, postings.select(*cols).collect())) == sorted(
        map(str, one.select(*cols).collect())
    )
    assert stats.collect() == one_stats.collect()
    assert (
        bm25_topk_over_postings(postings, stats).collect()
        == bm25_topk_over_postings(one, one_stats).collect()
    )


def test_full_forget_then_reingest_resumes(spark, sf_small, tmp_path):
    """Forgetting EVERY kept doc is a legal GDPR outcome: the purge must
    survive a repeat (the first pass leaves kept/ and bands/ as
    file-less dirs — schema inference would wedge the replay), read_kept
    must serve the empty corpus, and a subsequent ingest batch of NEW
    docs must resume growing it."""
    from realtimedatapipeline_8_project_spark.streaming.ingest import (
        dedup_ingest_batch,
    )

    docs = (
        load_table(spark, sf_small, "documents")
        .select("doc_id", "text")
        .where(F.col("doc_id") < 60)
    )
    corpus = str(tmp_path / "corpus")
    dedup_ingest_batch(docs.where(F.col("doc_id") < 30), 0, corpus)
    # materialized ids: a real forget stream's ids come from their own
    # source, never as a lazy plan over the files being purged
    everyone = spark.createDataFrame(
        [(r.doc_id,) for r in read_kept(spark, corpus).collect()],
        "doc_id long",
    )
    forget_ingest_batch(everyone, 0, corpus)
    assert read_kept(spark, corpus).count() == 0
    # replay / repeat of the total forget must be a clean no-op, not a
    # schema-inference crash on the now file-less dirs
    forget_ingest_batch(everyone, 0, corpus)
    assert read_kept(spark, corpus).count() == 0
    # new docs resume the corpus (fresh ids — re-adding forgotten ids
    # is unsupported by contract)
    fresh = docs.where(
        (F.col("doc_id") >= 30) & (F.col("doc_id") < 60)
    )
    dedup_ingest_batch(fresh, 1, corpus)
    kept = {r.doc_id for r in read_kept(spark, corpus).collect()}
    assert kept and all(i >= 30 for i in kept)


def test_ingest_replay_cannot_resurrect_forgotten_docs(
    spark, sf_small, tmp_path
):
    """ADVICE r9: the purges alone can be silently undone by an INGEST
    replay — if the victim's home batch is still in the ingest
    checkpoint's replayable tail (partition written, offsets never
    committed), replaying it re-overwrites the kept/bands partition
    WITH the victim and re-appends its postings. The forgotten/ ledger
    closes this: the replay must land a victim-free partition in all
    three artifacts, and every serving path must stay erased."""
    from realtimedatapipeline_8_project_spark.streaming.ingest import (
        BANDS,
        BANDS_SCHEMA,
        dedup_ingest_batch,
    )

    docs = (
        load_table(spark, sf_small, "documents")
        .select("doc_id", "text")
        .where(F.col("doc_id") < 60)
    )
    corpus = str(tmp_path / "corpus")
    b0 = docs.where(F.col("doc_id") % 2 == 0)
    b1 = docs.where(F.col("doc_id") % 2 == 1)
    dedup_ingest_batch(b0, 0, corpus, maintain_index=True)
    dedup_ingest_batch(b1, 1, corpus, maintain_index=True)
    victims = sorted(
        r.doc_id
        for r in read_kept(spark, corpus)
        .where(F.col("doc_id") % 2 == 1)
        .limit(3)
        .collect()
    )
    assert victims
    vdf = spark.createDataFrame([(v,) for v in victims], "doc_id long")
    forget_ingest_batch(vdf, 0, corpus)
    # batch 1's offsets never committed -> the stream replays it:
    dedup_ingest_batch(b1, 1, corpus, maintain_index=True)
    kept = {r.doc_id for r in read_kept(spark, corpus).collect()}
    assert not (kept & set(victims))  # corpus stays erased
    bands = (
        spark.read.schema(BANDS_SCHEMA + ", batch_id int")
        .parquet(os.path.join(corpus, BANDS))
    )
    assert bands.where(F.col("doc_id").isin(victims)).count() == 0
    served_postings, _ = read_index(spark, os.path.join(corpus, INDEX))
    assert served_postings.where(F.col("doc_id").isin(victims)).count() == 0
    # the physical postings partition the replay rewrote is victim-free
    # too (not merely tombstone-masked)
    raw = spark.read.schema(POSTINGS_SCHEMA + ", batch_id int").parquet(
        os.path.join(corpus, INDEX, INDEX_POSTINGS)
    )
    assert raw.where(F.col("doc_id").isin(victims)).count() == 0
    # non-victims from the replayed batch are all still served
    survivors = {r.doc_id for r in read_kept(spark, corpus).collect()}
    assert {i for i in survivors if i % 2 == 1}  # batch 1 still present


def _home_of(spark, corpus, victims):
    return {
        r.doc_id: r.batch_id
        for r in read_kept(spark, corpus)
        .where(F.col("doc_id").isin(victims))
        .collect()
    }


def test_forget_replay_recovers_partial_ledger_partition(
    spark, sf_small, tmp_path
):
    """ADVICE r10 (medium): Spark job commit is not atomic — a crash
    while promoting task files can leave the forget batch's ledger
    partition PARTIAL while its directory exists. Trusting directory
    existence as a completeness marker would make the replay erase only
    the partial victim set, silently and permanently missing the rest.
    The replay must union the partition contents with a fresh re-scope
    of the incoming ids against kept, rewrite the partition, and erase
    everything."""
    from realtimedatapipeline_8_project_spark.streaming.ingest import (
        BANDS,
        BANDS_SCHEMA,
        FORGOTTEN,
        FORGOTTEN_SCHEMA,
        dedup_ingest_batch,
    )

    docs = (
        load_table(spark, sf_small, "documents")
        .select("doc_id", "text")
        .where(F.col("doc_id") < 60)
    )
    corpus = str(tmp_path / "corpus")
    dedup_ingest_batch(docs.where(F.col("doc_id") % 2 == 0), 0, corpus,
                       maintain_index=True)
    dedup_ingest_batch(docs.where(F.col("doc_id") % 2 == 1), 1, corpus,
                       maintain_index=True)
    victims = sorted(
        r.doc_id for r in read_kept(spark, corpus).limit(3).collect()
    )
    assert len(victims) == 3
    home = _home_of(spark, corpus, victims)
    # simulate the crashed first attempt: only ONE victim's row landed
    # in the partition, no purge ran (the ledger write is the first
    # action, so a mid-write crash leaves kept/bands/index untouched)
    own_part = os.path.join(corpus, FORGOTTEN, f"batch_id={0}")
    spark.createDataFrame(
        [(victims[0], home[victims[0]])], FORGOTTEN_SCHEMA
    ).write.parquet(own_part)
    # the checkpoint replays the forget batch with the full incoming set
    vdf = spark.createDataFrame([(v,) for v in victims], "doc_id long")
    forget_ingest_batch(vdf, 0, corpus)
    kept = {r.doc_id for r in read_kept(spark, corpus).collect()}
    assert not (kept & set(victims))
    bands = spark.read.schema(BANDS_SCHEMA + ", batch_id int").parquet(
        os.path.join(corpus, BANDS)
    )
    assert bands.where(F.col("doc_id").isin(victims)).count() == 0
    served, _ = read_index(spark, os.path.join(corpus, INDEX))
    assert served.where(F.col("doc_id").isin(victims)).count() == 0
    # the partition was rewritten with the COMPLETE victim set (homes
    # recorded), so a second replay stays erasure-complete
    ledger = spark.read.schema(FORGOTTEN_SCHEMA).parquet(own_part)
    rows = {(r.doc_id, r.home_batch) for r in ledger.collect()}
    assert rows == {(v, home[v]) for v in victims}
    forget_ingest_batch(vdf, 0, corpus)  # second replay: no-op, no raise
    assert spark.read.schema(FORGOTTEN_SCHEMA).parquet(own_part).count() == 3


def test_ledger_prunes_after_compaction_and_replay_stays_erased(
    spark, sf_small, tmp_path
):
    """VERDICT r10 #5: a fully-erased victim whose home batch is
    committed must leave the forgotten/ ledger at the ingest loop's
    compaction cadence (else every erasure rides every future batch's
    broadcast forever) — and the replayable-tail batch must still land
    victim-free afterwards."""
    from realtimedatapipeline_8_project_spark.streaming.ingest import (
        FORGOTTEN,
        FORGOTTEN_SCHEMA,
        dedup_ingest_batch,
        prune_forgotten_ledger,
    )

    docs = (
        load_table(spark, sf_small, "documents")
        .select("doc_id", "text")
        .where(F.col("doc_id") < 120)
    )
    corpus = str(tmp_path / "corpus")
    b = [docs.where(F.col("doc_id") % 4 == i) for i in range(4)]
    dedup_ingest_batch(b[0], 0, corpus, maintain_index=True,
                       compact_index_every=2)
    dedup_ingest_batch(b[1], 1, corpus, maintain_index=True,
                       compact_index_every=2)
    victims = sorted(
        r.doc_id for r in read_kept(spark, corpus).limit(3).collect()
    )
    vdf = spark.createDataFrame([(v,) for v in victims], "doc_id long")
    forget_ingest_batch(vdf, 0, corpus)
    ledger_path = os.path.join(corpus, FORGOTTEN)
    n_before = (
        spark.read.schema(FORGOTTEN_SCHEMA + ", batch_id int")
        .parquet(ledger_path).count()
    )
    assert n_before == 3
    # batch 2: no compaction ((2+1) % 2 != 0) -> ledger intact
    dedup_ingest_batch(b[2], 2, corpus, maintain_index=True,
                       compact_index_every=2)
    assert (
        spark.read.schema(FORGOTTEN_SCHEMA + ", batch_id int")
        .parquet(ledger_path).count()
    ) == 3
    # batch 3 triggers compaction + prune: homes 0/1 < frontier 3 and
    # the victims are fully erased -> all rows retire, and the
    # fully-dead partition directory is removed outright
    dedup_ingest_batch(b[3], 3, corpus, maintain_index=True,
                       compact_index_every=2)
    assert not any(
        d.startswith("batch_id=") for d in os.listdir(ledger_path)
    )
    # replay of the newest (replayable-tail) batch after the prune:
    # victims stay erased everywhere (their home batches are committed
    # — the pruned rows' resurrection window was already closed)
    dedup_ingest_batch(b[3], 3, corpus, maintain_index=True,
                       compact_index_every=2)
    kept = {r.doc_id for r in read_kept(spark, corpus).collect()}
    assert not (kept & set(victims))
    served, _ = read_index(spark, os.path.join(corpus, INDEX))
    assert served.where(F.col("doc_id").isin(victims)).count() == 0
    # idempotent: nothing left to prune
    assert prune_forgotten_ledger(spark, corpus, 99) == 0


def test_ledger_prune_spares_unfinished_forget(spark, sf_small, tmp_path):
    """A forget batch that crashed between its purges leaves the
    victim's erasure INCOMPLETE (still in bands / index) — pruning must
    spare its ledger rows so the forget checkpoint's replay can finish,
    and retire them only once the replay has."""
    from realtimedatapipeline_8_project_spark.streaming.ingest import (
        BANDS,
        BANDS_SCHEMA,
        FORGOTTEN,
        FORGOTTEN_SCHEMA,
        KEPT,
        dedup_ingest_batch,
        prune_forgotten_ledger,
    )
    from realtimedatapipeline_8_project_spark.streaming.sinks import (
        purge_partitioned_rows,
    )

    docs = (
        load_table(spark, sf_small, "documents")
        .select("doc_id", "text")
        .where(F.col("doc_id") < 60)
    )
    corpus = str(tmp_path / "corpus")
    dedup_ingest_batch(docs.where(F.col("doc_id") % 2 == 0), 0, corpus,
                       maintain_index=True)
    dedup_ingest_batch(docs.where(F.col("doc_id") % 2 == 1), 1, corpus,
                       maintain_index=True)
    victim = read_kept(spark, corpus).limit(1).collect()[0]
    home = _home_of(spark, corpus, [victim.doc_id])[victim.doc_id]
    vdf = spark.createDataFrame([(victim.doc_id,)], "doc_id long")
    # simulate the crash state: ledger written, kept purged, bands and
    # index untouched (crash between the two purge calls)
    own_part = os.path.join(corpus, FORGOTTEN, f"batch_id={0}")
    spark.createDataFrame(
        [(victim.doc_id, home)], FORGOTTEN_SCHEMA
    ).write.parquet(own_part)
    purge_partitioned_rows(
        spark, os.path.join(corpus, KEPT), vdf, ("doc_id",)
    )
    # erasure incomplete -> the row survives pruning at any frontier
    assert prune_forgotten_ledger(spark, corpus, 99) == 0
    assert (
        spark.read.schema(FORGOTTEN_SCHEMA).parquet(own_part).count() == 1
    )
    # the forget replay finishes the erasure (bands + index tombstone)
    forget_ingest_batch(vdf, 0, corpus)
    bands = spark.read.schema(BANDS_SCHEMA + ", batch_id int").parquet(
        os.path.join(corpus, BANDS)
    )
    assert bands.where(F.col("doc_id") == victim.doc_id).count() == 0
    served, _ = read_index(spark, os.path.join(corpus, INDEX))
    assert served.where(F.col("doc_id") == victim.doc_id).count() == 0
    # ...after which the row retires
    assert prune_forgotten_ledger(spark, corpus, 99) == 1
    assert not os.path.isdir(own_part)
