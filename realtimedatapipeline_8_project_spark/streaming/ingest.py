"""Streaming corpus ingestion with incremental dedup — the T7 x §2.13
synthesis: documents arrive as a stream, each micro-batch dedups against
everything kept so far (operators/dedup.py:incremental_dedup), and the
kept corpus + its band table grow as idempotent batch-partitioned
parquet (the write_history discipline from sinks.py).

Per batch N:
1. Within-batch pass: near-dup clusters INSIDE the batch collapse to
   their lowest doc_id (operators/dedup.py:intra_batch_dedup) — the
   bursty-producer case (a crawler re-visit landing twice in one batch)
   that delta-vs-base alone cannot see.
2. base = kept docs of batches < N; bands = stored band partitions < N
   (the ingest-time artifact — batch N never re-derives the base's
   signatures, only its own).
3. verdict = incremental_dedup(base, survivors, base_bands=bands); kept
   = survivor rows the verdict keeps.
4. kept docs are written under partition batch_id=N (dynamic partition
   overwrite), sorted by doc_id within files so the verify leg's
   candidate-id fetch prunes row groups via parquet min/max stats; the
   batch's stored bands are the SAME band table filtered to the ids the
   write committed (one cheap pruned id scan of the new partition). The
   whole batch pays the compute-bound shingle+sha256 signature pass
   exactly once: steps 1-4 share two checkpointed frames (delta
   shingles, delta bands) instead of each recomputing them. On a real
   cluster the kept table is written bucketed by doc_id (bucketBy +
   saveAsTable) so the candidate fetch prunes whole files; path-based
   parquet here keeps the test surface catalog-free, the sort gives the
   same pruning at row-group grain.

5. (opt-in) the committed partition's partial postings + stats append
   under ``index/.../batch_id=N`` (operators/text_analysis.py:
   write_index_batch) — the search index stays serveable as the corpus
   grows, merge-on-read, never a full-corpus rebuild.

Recovery/idempotency: a replayed batch N reads strictly batch_id < N, so
it recomputes the identical verdict and overwrites its own partitions —
effective exactly-once on the kept corpus (pinned by test alongside the
replay-equals-sequential-batch parity).

Failure policy: ONLY the path-missing read error means "first batch".
Any other read failure (corrupt footer, fs hiccup, permissions) raises,
failing the micro-batch so the checkpoint replays it — silently
admitting the whole delta would pollute the kept corpus permanently.
Exactly one of kept/bands readable is likewise an inconsistent-state
error, never a fall-through.

Scale: each batch's cost is proportional to the batch and its band
collisions — the base corpus is touched only via its stored band table
and the few candidate docs re-shingled for verification (plan-pinned in
tests/test_plans.py: shingle-after-semi-join, no full-base exchange).
The kept/bands tables are append-only partitions; no rewrite ever
touches old batches.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.dedup import (
    _pmh_bands_of,
    _pmh_sig_of,
    incremental_dedup,
    intra_batch_dedup,
    shingles,
)
from ..operators.text_analysis import (
    batch_postings,
    compact_index,
    delete_index_docs,
    recover_index_compaction,
    write_index_batch,
)
from .sinks import purge_partitioned_rows

KEPT = "kept"
BANDS = "bands"
INDEX = "index"
FORGOTTEN = "forgotten"
# home_batch = the kept-corpus batch the victim lived in when the forget
# scoped it. It is what makes the ledger PRUNABLE (prune_forgotten_ledger):
# only a replay of that one ingest batch could resurrect the victim, so
# once its offsets are committed (every batch below the current one) the
# row is dead weight — and it scopes the write-stage exclusion in
# dedup_ingest_batch to exactly that replay instead of shadowing the
# doc_id forever. NULL home_batch (a pre-home_batch ledger row) degrades
# to the old unscoped behavior: excluded from every batch, never pruned.
FORGOTTEN_SCHEMA = "doc_id bigint, home_batch int"
# explicit schemas: a fully-forgotten corpus (every partition purged by
# the forget stream) leaves kept/ and bands/ as file-less dirs — schema
# inference would raise and wedge both the next ingest batch's base
# read and read_kept, exactly the all-deleted state read_index already
# serves with POSTINGS_SCHEMA
KEPT_SCHEMA = "doc_id bigint, text string"
BANDS_SCHEMA = "doc_id bigint, band int, bucket string"


def _read_prior(
    spark: SparkSession, path: str, schema: str, batch_id: int
) -> DataFrame | None:
    """Prior-batch partitions of ``path``, or None iff the path does not
    exist yet (genuine first batch). Every OTHER read failure re-raises:
    a transient error must fail (and replay) the micro-batch, not
    silently disable dedup."""
    try:
        df = spark.read.schema(schema + ", batch_id int").parquet(path)
        df.limit(0).count()  # surface PATH_NOT_FOUND now, not mid-plan
    except Exception as exc:  # AnalysisException, version-stable match
        if "PATH_NOT_FOUND" in str(exc):
            return None
        raise
    return df.where(F.col("batch_id") < batch_id).drop("batch_id")


def dedup_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    corpus_dir: str,
    maintain_index: bool = False,
    compact_index_every: int | None = None,
) -> None:
    """foreachBatch body: dedup ``batch_df`` (doc_id, text) within itself
    and against the accumulated kept corpus, then append the survivors +
    their bands.

    Malformed rows (NULL id, NULL/empty text — routine in real streams:
    truncated JSON, missing fields) are dropped at the gate: a NULL id
    can never be deduped later and empty text has no content to match,
    so admitting either would pollute the kept corpus forever (the F3
    guard discipline applied to content)."""
    spark = batch_df.sparkSession
    delta = batch_df.select("doc_id", "text").where(
        F.col("doc_id").isNotNull()
        & F.col("text").isNotNull()
        & (F.col("text") != "")
    )
    # at-least-once upstreams can redeliver a doc_id WITHIN one batch;
    # intra_batch_dedup pairs only strictly-ordered id pairs (equal ids
    # never pair), so duplicates would fan out quadratically through
    # the survivor joins and land N times in the kept corpus, bands and
    # index (breaking the each-doc_id-admitted-once invariant the
    # merged-postings df and delete stats ride on). Collapse to ONE row
    # per id — min_by text hash, so a REPLAY recomputes the same pick
    # (dropDuplicates is first-wins, nondeterministic under replay).
    delta = delta.groupBy("doc_id").agg(
        F.min_by("text", F.xxhash64("text")).alias("text")
    )
    if delta.isEmpty():
        return
    kept_path = os.path.join(corpus_dir, KEPT)
    bands_path = os.path.join(corpus_dir, BANDS)
    base = _read_prior(spark, kept_path, KEPT_SCHEMA, batch_id)
    bands = _read_prior(spark, bands_path, BANDS_SCHEMA, batch_id)
    # Lockstep check on PRIOR-BATCH CONTENT, not path existence: a crash
    # between this batch's own two writes leaves kept's batch_id=N
    # partition on disk with no bands dir, and the replay of batch N
    # must sail through (it reads strictly < N, sees no prior rows on
    # either side, and overwrites its own partitions) — a path-existence
    # check would wedge that replay forever.
    base_has = base is not None and not base.isEmpty()
    bands_has = bands is not None and not bands.isEmpty()
    if base_has != bands_has:
        raise RuntimeError(
            "inconsistent dedup corpus state: prior batches exist in "
            f"exactly one of {kept_path!r} / {bands_path!r} — refusing "
            "to ingest (kept and bands must grow in lockstep). If a "
            "TOTAL forget crashed between its two purges, restart the "
            "forget stream (its checkpoint replays the batch and "
            "finishes the second purge) before resuming ingestion"
        )
    # the compute-bound shingle + sha256 MinHash pass runs ONCE per
    # micro-batch: the within-batch collapse, the base comparison, and
    # the stored-band write all share these two checkpointed frames
    # (recomputing per consumer tripled the per-batch signature cost)
    delta_sh = delta.select(
        "doc_id", shingles("text").alias("s")
    ).localCheckpoint()
    delta_bands = _pmh_bands_of(_pmh_sig_of(delta_sh))
    # sub-shingle-width docs (< n tokens) have EMPTY shingle sets, which
    # all hash to one constant signature — left alone, every short doc
    # would co-band with every short doc ever kept, growing candidate
    # pairs O(|short docs|) per batch while the verify leg (NULL
    # jaccard) never dedups any of them. Rebucket them by exact text
    # hash: identical outcomes (they were never deduped and still are
    # not), collisions bounded to text-identical short docs.
    short_ids = delta_sh.where(F.size("s") == 0).select("doc_id")
    short_buckets = (
        delta.join(F.broadcast(short_ids), "doc_id")
        .select(
            "doc_id",
            F.lit(-1).alias("band"),
            F.concat(
                F.lit("t:"), F.xxhash64("text").cast("string")
            ).alias("bucket"),
        )
    )
    delta_bands = (
        delta_bands.join(F.broadcast(short_ids), "doc_id", "left_anti")
        .unionByName(short_buckets)
        .localCheckpoint()
    )
    # within-batch near-dup collapse first: survivors carry the batch's
    # lowest doc_id per cluster into the base comparison
    intra = intra_batch_dedup(delta, delta_sh=delta_sh, delta_bands=delta_bands)
    surv_ids = intra.where(F.col("is_kept")).select("doc_id")
    delta = delta.join(surv_ids, "doc_id")
    if base_has:
        verdict = incremental_dedup(
            base,
            delta,
            base_bands=bands,
            delta_sh=delta_sh.join(surv_ids, "doc_id"),
            delta_bands=delta_bands.join(surv_ids, "doc_id"),
        )
        kept = delta.join(
            verdict.where(F.col("is_kept")).select("doc_id"), "doc_id"
        )
    else:
        kept = delta
    # GDPR replay guard (ADVICE r9): a forgotten doc whose home batch is
    # THIS one (written, offsets uncommitted when the forget ran) must
    # not be resurrected by the replay. Exclusion happens at the WRITE
    # stage, not on the delta: the victim still participates in the
    # dedup decisions above (it shadows the same near-dups the original
    # run shadowed — replay outcomes stay deterministic), but none of
    # its rows land; bands and postings derive from the committed
    # partition below, so all three artifacts stay victim-free. One
    # broadcast anti-join against the human-scale erasure ledger.
    # Scoping (ADVICE r10): only a replay of the victim's HOME batch can
    # resurrect it (dedup admits a doc_id once, so no other batch ever
    # contained it), so the exclusion filters the ledger to
    # home_batch == this batch. A later batch legitimately reusing a
    # ledgered doc_id is therefore not silently dropped here — though
    # id reuse remains OUTSIDE the ingest contract (the index's delete
    # tombstones mask the doc_id until a compaction physically applies
    # and sweeps them; see forget_ingest_batch). NULL home_batch
    # (pre-scoping ledger rows) stays excluded from every batch.
    forgotten_path = os.path.join(corpus_dir, FORGOTTEN)
    if os.path.isdir(forgotten_path):
        forgotten = (
            spark.read.schema(FORGOTTEN_SCHEMA + ", batch_id int")
            .parquet(forgotten_path)
            .where(
                F.col("home_batch").isNull()
                | (F.col("home_batch") == F.lit(batch_id))
            )
            .select("doc_id")
        )
        kept = kept.join(F.broadcast(forgotten), "doc_id", "left_anti")
    (
        kept.withColumn("batch_id", F.lit(batch_id))
        # doc_id-ordered row groups: the next batches' candidate fetch
        # (broadcast semi-join on candidate ids) prunes via min/max stats
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .partitionBy("batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(kept_path)
    )
    # this batch's stored bands = the already-computed band table
    # filtered to the ids actually committed (pruned re-read of the new
    # partition — the source of truth for what landed); no re-shingling
    committed = (
        spark.read.schema(KEPT_SCHEMA + ", batch_id int")
        .parquet(kept_path)
        .where(F.col("batch_id") == batch_id)
        .select("doc_id", "text")
        .localCheckpoint()  # two consumers (bands filter + postings):
        # one pruned scan of the new partition, not two
    )
    kept_ids = committed.select("doc_id")
    (
        delta_bands.join(kept_ids, "doc_id")
        .withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .partitionBy("batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(bands_path)
    )
    if maintain_index:
        # search-index maintenance rides the same batch grain as the
        # band table: the committed partition (the source of truth for
        # what landed — a pruned re-read, like kept_ids above) yields
        # this batch's partial postings + stats; merge-on-read keeps the
        # stored index serveable as the corpus grows with NO full-corpus
        # rebuild (operators/text_analysis.py: write_index_batch).
        # Dedup guarantees each doc_id is admitted at most once, the
        # invariant the merged-postings df derivation relies on.
        # finish any compaction install a crash left half-landed BEFORE
        # touching the index: a half-installed fold lists both the
        # moved-in compacted partition and the not-yet-removed absorbed
        # partitions, so writing (or re-compacting) over it would
        # double-count the absorbed postings
        recover_index_compaction(spark, os.path.join(corpus_dir, INDEX))
        write_index_batch(
            batch_postings(committed),
            batch_id,
            os.path.join(corpus_dir, INDEX),
        )
        if compact_index_every and (batch_id + 1) % compact_index_every == 0:
            # Auto-compaction rides the ingest loop with keep_last=1:
            # the streaming checkpoint can replay THIS batch after a
            # crash, and its dynamic-partition re-overwrite is only
            # idempotent while its partition still exists — so the
            # newest batch is never absorbed, and the recorded horizon
            # (enforced by write_index_batch) stays strictly behind the
            # replayable tail. Older batches are committed (their
            # checkpoint offsets are durable), so absorbing them is
            # replay-safe.
            compact_index(spark, os.path.join(corpus_dir, INDEX), keep_last=1)
            # ledger maintenance rides the same cadence: erasure
            # requests whose resurrection window has closed (home batch
            # committed, victim verifiably erased everywhere) stop
            # riding every future batch's broadcast anti-join
            prune_forgotten_ledger(spark, corpus_dir, batch_id)


def run_dedup_ingest(
    docs_stream: DataFrame,
    corpus_dir: str,
    checkpoint_dir: str,
    maintain_index: bool = False,
    compact_index_every: int | None = None,
) -> StreamingQuery:
    """Drain ``docs_stream`` (doc_id, text) through dedup ingestion with
    availableNow semantics (each call processes what has arrived, then
    stops — the batch-backfill trigger; a production run swaps in a
    processing-time trigger, nothing else changes). With
    ``maintain_index`` the search index under ``corpus_dir/index`` grows
    per batch alongside the band table (merge-on-read partial postings —
    never a full-corpus rebuild); ``compact_index_every=N`` additionally
    folds old batch partitions into the compacted partition every N
    batches (keep_last=1 — the replayable newest batch is never
    absorbed, and the recorded horizon makes a double-count replay a
    loud refusal, not silent corruption)."""
    return (
        docs_stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(
            lambda df, bid: dedup_ingest_batch(
                df,
                bid,
                corpus_dir,
                maintain_index=maintain_index,
                compact_index_every=compact_index_every,
            )
        )
        .trigger(availableNow=True)
        .start()
    )


def forget_ingest_batch(
    ids_df: DataFrame, batch_id: int, corpus_dir: str
) -> None:
    """foreachBatch body of the FORGET (GDPR) stream: physically purge
    the batch's doc_ids from the kept corpus and the band table
    (affected-partition rewrites through the shared purge step — a
    fully-victim partition is removed, never silently kept), and
    tombstone them in the search index when one is maintained (serving
    excludes them immediately; their postings purge physically at the
    next compaction — erasure completes exactly like the history
    sink's purge_keys).

    Replay-safe: the corpus purges find nothing the second time, and
    delete_index_docs recomputes identical tombstone rows (it excludes
    its own partition from the already-tombstoned check). A crash
    between the purges and the index delete is healed by the
    checkpoint's replay of this batch. Contracts it rides: a forgotten
    doc_id is never resubmitted to the ingest stream (the same
    at-most-once identity invariant the merged-postings df derivation
    rides), and the forget stream runs in the same maintenance lane as
    the ingest loop (the artifacts are single-writer — interleaved, not
    concurrent).

    The ledger (ADVICE r9): the purges alone can be silently UNDONE by
    an ingest replay — if the victim's home batch is still in the
    ingest checkpoint's replayable tail (partition written, offsets
    uncommitted), that batch's replay re-overwrites the kept/bands
    partition with the victim inside and re-appends its postings. The
    'never resubmitted' contract covers resubmission, not replay. So
    the FIRST action here, before any purge, is recording the victim
    ids in the ``forgotten/`` ledger; dedup_ingest_batch excludes
    ledgered ids at its WRITE stage, so a replay re-derives identical
    dedup decisions but physically lands nothing for an erased doc.
    Two scoping rules keep the ledger honest:

    * It records only ids that EXIST in the kept corpus when the
      forget first lands (a forget is an erasure of what exists, not a
      standing filter — a doc matching a forget predicate but ingested
      later must be admitted; unknown ids stay no-ops), and records
      each victim's home kept-batch alongside (FORGOTTEN_SCHEMA) so
      the write-stage exclusion scopes to exactly that batch's replay
      and prune_forgotten_ledger can retire the row once the batch is
      committed.
    * A REPLAY of this forget batch takes its victim set as the UNION
      of its already-written ledger partition and a fresh re-scope of
      the incoming ids against kept, then rewrites the partition with
      that union (ADVICE r10). Either source alone is wrong in some
      crash state: Spark's job commit is not atomic, so a crash while
      promoting task files can leave a PARTIAL partition whose
      directory nevertheless exists — trusting it would silently drop
      the missing victims from the purge and tombstone steps forever —
      while a crash between the first attempt's purges and the index
      delete removes victims from kept, so re-scoping alone would
      never get their tombstones. The union is correct in every state:
      already-purged victims come from the partition, not-yet-purged
      (including partition-missing) ones from the re-scope, and a
      crash during the rewrite itself just repeats the union.

    Ledger size ∝ total erasure requests — human-scale, broadcast-
    joined — and prune_forgotten_ledger retires fully-erased rows at
    the ingest loop's compaction cadence."""
    spark = ids_df.sparkSession
    incoming = (
        ids_df.select("doc_id").where(F.col("doc_id").isNotNull()).distinct()
    )
    ledger_path = os.path.join(corpus_dir, FORGOTTEN)
    own_part = os.path.join(ledger_path, f"batch_id={batch_id}")
    kept_path = os.path.join(corpus_dir, KEPT)
    scoped = None
    if os.path.isdir(kept_path):
        # victims still present in kept, each carrying its home batch
        # (kept holds a doc_id at most once — the dedup admission
        # invariant — so this inner join is 1:1)
        scoped = incoming.join(
            read_kept(spark, corpus_dir).select(
                "doc_id", F.col("batch_id").cast("int").alias("home_batch")
            ),
            "doc_id",
        )
    if os.path.isdir(own_part):
        stored = spark.read.schema(FORGOTTEN_SCHEMA).parquet(own_part)
        ids = stored if scoped is None else stored.unionByName(scoped)
        ids = (
            # min_by-style collapse: a victim in both sources has the
            # same home_batch (kept never reassigns batches); min also
            # lets a non-null re-scope refine a NULL legacy row
            ids.groupBy("doc_id")
            .agg(F.min("home_batch").alias("home_batch"))
            .localCheckpoint()  # materialized BEFORE the overwrite
            # below reads-then-replaces own_part, and shared by the
            # purge + delete consumers
        )
    else:
        if scoped is None:
            return  # nothing ingested yet: every forget is a no-op
        ids = scoped.localCheckpoint()  # several consumers; compute once
    if ids.isEmpty():
        return
    (
        # ledger FIRST: once these rows are down, no ingest replay
        # can resurrect the victims even if every later step here
        # crashes (the forget checkpoint replays this batch and
        # finishes with the same — unioned — set)
        ids.withColumn("batch_id", F.lit(batch_id))
        .repartition("doc_id")  # AQE: tiny set -> O(1) files
        .write.mode("overwrite")
        .partitionBy("batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(ledger_path)
    )
    for sub in (KEPT, BANDS):
        path = os.path.join(corpus_dir, sub)
        if os.path.isdir(path):
            purge_partitioned_rows(
                spark, path, ids.select("doc_id"), ("doc_id",)
            )
    index_dir = os.path.join(corpus_dir, INDEX)
    if os.path.isdir(index_dir):
        # same discipline as the ingest side: never touch an index
        # whose previous compaction install is half-landed
        recover_index_compaction(spark, index_dir)
        delete_index_docs(spark, index_dir, ids, batch_id)


def prune_forgotten_ledger(
    spark: SparkSession, corpus_dir: str, frontier_batch_id: int
) -> int:
    """Retire dead rows from the ``forgotten/`` ledger (VERDICT r10 #5):
    without pruning, every erasure request rides every future ingest
    batch's broadcast anti-join forever. A ledger row exists to stop an
    INGEST replay of the victim's home batch from resurrecting it, so
    it is dead once BOTH hold:

    * ``home_batch < frontier_batch_id`` (the ingest batch currently
      being processed): foreachBatch offsets commit before the next
      batch starts, so every batch below the current one is committed
      and can never replay. NULL home_batch (legacy rows) never
      qualifies. This rides the same single-checkpoint contract as the
      replay guard itself — re-ingesting the same source under a FRESH
      checkpoint is resubmission, which the ingest contract already
      forbids.
    * the victim is verifiably fully erased — absent from kept, absent
      from bands, and not alive in the index (tombstoned or physically
      gone). This protects a forget batch that CRASHED mid-way (ledger
      written, purges or tombstones pending): its rows survive pruning,
      and the forget checkpoint's replay finishes the erasure. The
      checks are one broadcast join of the human-scale ledger against
      the kept/bands id columns and the per-doc ``docs/`` artifact —
      column-pruned scans at compaction cadence, never the postings.

    Physical removal goes through purge_partitioned_rows, so a ledger
    partition whose every row is dead is removed outright (a forget
    replay then finds no partition, re-scopes against kept, finds the
    victims gone, and no-ops). Returns the number of rows pruned."""
    from ..operators.text_analysis import (
        INDEX_DOCS,
        INDEX_TOMBSTONES,
        TOMBSTONES_SCHEMA,
    )

    ledger_path = os.path.join(corpus_dir, FORGOTTEN)
    if not os.path.isdir(ledger_path) or not any(
        d.startswith("batch_id=") for d in os.listdir(ledger_path)
    ):
        return 0
    ledger = spark.read.schema(FORGOTTEN_SCHEMA + ", batch_id int").parquet(
        ledger_path
    )
    dead = ledger.where(
        F.col("home_batch").isNotNull()
        & (F.col("home_batch") < F.lit(frontier_batch_id))
    ).select("doc_id")
    for sub, schema in ((KEPT, KEPT_SCHEMA), (BANDS, BANDS_SCHEMA)):
        path = os.path.join(corpus_dir, sub)
        if os.path.isdir(path):
            live = (
                spark.read.schema(schema + ", batch_id int")
                .parquet(path)
                .select("doc_id")
            )
            dead = dead.join(live, "doc_id", "left_anti")
    index_dir = os.path.join(corpus_dir, INDEX)
    dpath = os.path.join(index_dir, INDEX_DOCS)
    if os.path.isdir(dpath):
        alive = spark.read.schema("doc_id bigint, dl bigint, batch_id int") \
            .parquet(dpath).select("doc_id")
        tpath = os.path.join(index_dir, INDEX_TOMBSTONES)
        if os.path.isdir(tpath) and any(
            d.startswith("batch_id=") for d in os.listdir(tpath)
        ):
            tombs = (
                spark.read.schema(TOMBSTONES_SCHEMA + ", batch_id int")
                .parquet(tpath)
                .select("doc_id")
            )
            alive = alive.join(tombs, "doc_id", "left_anti")
        dead = dead.join(alive, "doc_id", "left_anti")
    dead = dead.distinct().localCheckpoint()  # consumed by the count
    # below AND the partition purge — scope the checks once
    n = dead.count()
    if n:
        purge_partitioned_rows(spark, ledger_path, dead, ("doc_id",))
    return n


def run_forget_ingest(
    ids_stream: DataFrame, corpus_dir: str, checkpoint_dir: str
) -> StreamingQuery:
    """Drain ``ids_stream`` (doc_id) through GDPR forgetting with
    availableNow semantics — the streaming twin of the history sink's
    purge_keys, for the ingest corpus + its search index. Its
    checkpoint is its own (delete batch_ids are an independent
    sequence: tombstone partitions live under their own ids and the
    negative stats rows under the disjoint ``-(M+2)`` keys, so the two
    streams' artifacts can never collide)."""
    return (
        ids_stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(
            lambda df, bid: forget_ingest_batch(df, bid, corpus_dir)
        )
        .trigger(availableNow=True)
        .start()
    )


def read_kept(spark: SparkSession, corpus_dir: str) -> DataFrame:
    """The accumulated deduplicated corpus (doc_id, text, batch_id).
    Explicit schema: a fully-forgotten corpus is a legitimate state
    with no files to infer from."""
    return spark.read.schema(KEPT_SCHEMA + ", batch_id int").parquet(
        os.path.join(corpus_dir, KEPT)
    )
