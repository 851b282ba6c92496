"""Streaming substring-dedup ingestion — the crawl-snapshot loop as a
maintained-artifact stream (the T7 discipline the text-postings and
IVF ingests follow): documents arrive as micro-batches, each batch is
classified for duplicated K-token spans against the GRAM SET of every
committed prior batch plus the batch's own cross-document duplicates
(``operators/substring_dedup.incremental_substring_spans`` semantics,
batch == delta, corpus-so-far == base), and the batch's distinct grams
are appended to the artifact so the next batch classifies against
them.

Per-batch cost scales in the BATCH: the stored gram set is read as a
parquet scan (never re-derived from document text), the batch-internal
dup aggregate runs over batch grams, and the report/island machinery
is the batch operator's. Append-only by contract (a document is
admitted once; retraction would need gram refcounts — documented
non-goal, the dedup-ingest composition admits each doc once upstream).

Replay safety (the write_rollup/qhist discipline, shared machinery):

* The base read filters ``batch_id < N`` — a crashed batch N whose
  gram partition half-landed still classifies its replay against
  exactly the committed frontier, never against its own grams.
* Both writes are per-batch dynamic partition overwrites (idempotent).
* ``compact_grams`` folds old gram partitions into ``batch_id = -1``
  through the SHARED staged-install helpers in :mod:`sinks`
  (_compact_partitions: _SUCCESS + atomic _compacted_through marker,
  recover-at-entry that installs a complete staging and discards any
  other), and the ingest body
  no-ops a replay of any batch already folded (its report partition
  is already on disk) — the folded partition carries only committed
  batches, so including it in the ``< N`` base filter stays exact.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.substring_dedup import (
    SUBDUP_K,
    _gram_table,
    _span_report,
    _spans_from_hits,
    _words_of,
    cut_projection,
)
from .sinks import (
    _compact_partitions,
    _compacted_through,
    _recover_compaction,
    _stamp_or_read_marker,
)

GRAMS_SUBDIR = "grams"
REPORTS_SUBDIR = "subdup_reports"
CLEANED_SUBDIR = "cleaned"
_K_MARKER = "_gram_k"


def _check_gram_meta(
    output_dir: str, k: int, hashed: bool, emit_cleaned: bool
) -> None:
    """Stamp (K, key type, cleaned-projection mode) into the artifact
    root on first contact and fail loud on any later mismatch (review
    r14; cleaned mode review r15): an artifact built at one K can
    never match grams built at another, and a string-keyed artifact
    can never match xxhash64 keys — either restart shape would
    silently classify every duplicated doc as clean. The cleaned mode
    is stamped for the same reason in the other direction: flipping
    ``emit_cleaned`` ON over an artifact whose earlier batches are
    checkpoint-committed (or folded) would serve read_cleaned as "the
    cleaned corpus" while silently missing every document from those
    batches — they can never be re-cleaned without a rebuild; flipping
    it OFF lets the cleaned dir go silently stale under its readers.
    Either flip requires rebuilding the artifact. The marker lives
    NEXT TO the grams dir (compaction replaces the dir, never the
    root) and installs atomically (tmp + rename)."""
    key = "xxhash64" if hashed else "string"
    cleaned = "cleaned" if emit_cleaned else "plain"
    parts = _stamp_or_read_marker(
        output_dir, _K_MARKER, f"{k} {key} {cleaned}"
    )
    if parts is None:
        return  # freshly stamped: this call defines the artifact shape
    marker = os.path.join(output_dir, _K_MARKER)
    # pre-key-stamp markers (bare int) are string-keyed by
    # construction; pre-cleaned-stamp markers (two fields) predate
    # emit_cleaned, so their committed batches have no cleaned output
    try:
        stored_k = int(parts[0])
        stored_key = parts[1] if len(parts) > 1 else "string"
        stored_cleaned = parts[2] if len(parts) > 2 else "plain"
    except (IndexError, ValueError) as exc:
        # an empty or torn marker is still a loud stop, but with a
        # diagnosable message instead of a bare parse error (ADVICE
        # r14): the artifact's provenance is unknowable, so it must be
        # rebuilt — guessing a K here would be the silent-clean bug
        # this marker exists to prevent.
        raise ValueError(
            f"gram artifact marker {marker} is corrupt "
            f"(contents {parts!r}): the artifact's K/key provenance "
            "cannot be verified — rebuild the artifact (delete "
            f"{output_dir}) or restore the marker from a backup."
        ) from exc
    if stored_k != k or stored_key != key:
        raise ValueError(
            f"gram artifact at {output_dir} was built with "
            f"k={stored_k} key={stored_key}; this stream is configured "
            f"with k={k} key={key} — mismatched grams never match, so "
            "continuing would silently classify every duplicated "
            "document as clean. Rebuild the artifact or restore the "
            "original configuration."
        )
    if stored_cleaned != cleaned:
        raise ValueError(
            f"gram artifact at {output_dir} was built with "
            f"emit_cleaned={stored_cleaned == 'cleaned'}; this stream "
            f"is configured with emit_cleaned={emit_cleaned}. Batches "
            "already committed under the other mode can never be "
            "re-processed (replays are checkpoint/fold no-ops), so "
            "continuing would serve an incomplete or silently-stale "
            "cleaned projection. Rebuild the artifact under the "
            "desired mode or restore the original configuration."
        )


def _stored_key_type(output_dir: str) -> str:
    """The artifact's stamped gram key type ('string' | 'xxhash64');
    'string' for a cold or pre-key-stamp artifact."""
    try:
        with open(os.path.join(output_dir, _K_MARKER)) as fh:
            parts = fh.read().split()
    except FileNotFoundError:
        return "string"
    return parts[1] if len(parts) > 1 else "string"


# explicit read schema everywhere (the ingest.py _read_prior
# discipline): a zero-partition dir (every committed batch was
# all-short documents) reads as the typed empty frame instead of
# raising UNABLE_TO_INFER_SCHEMA, and a genuinely corrupt artifact
# still fails the job at execution — it is never mistaken for "cold"
# (review r14: swallowing AnalysisException here would silently
# disable cross-batch dedup on real read failures).
def _grams_schema(output_dir: str) -> str:
    gtype = "bigint" if _stored_key_type(output_dir) == "xxhash64" else "string"
    return f"gram {gtype}, batch_id int"


_REPORTS_SCHEMA = (
    "doc_id long, n_spans long, dup_tokens long, n_tokens long, "
    "batch_id int"
)

_CLEANED_SCHEMA = (
    "doc_id long, n_tokens long, kept_tokens long, cleaned_sha string, "
    "batch_id int"
)


def _read_base_grams(
    spark: SparkSession, output_dir: str, before_batch: int
) -> DataFrame | None:
    """The committed gram frontier: every stored gram partition with
    batch_id < ``before_batch`` (the folded ``batch_id = -1`` partition
    qualifies — it only ever contains batches below the compaction
    marker, which is below any batch this guard lets through). None on
    a cold artifact; every other read failure raises and fails (then
    replays) the micro-batch."""
    path = os.path.join(output_dir, GRAMS_SUBDIR)
    if not os.path.isdir(path):
        return None
    grams = spark.read.schema(_grams_schema(output_dir)).parquet(path)
    return grams.where(F.col("batch_id") < before_batch).select("gram")


def _write_cleaned(
    admitted: DataFrame, spans: DataFrame, output_dir: str, batch_id: int
) -> None:
    """Write the batch's removal projection (ONE spelling for the
    normal and all-NULL-text paths): cut_projection over every
    admitted doc, keyed by batch_id with the idempotent dynamic
    partition overwrite."""
    (
        cut_projection(_words_of(admitted), spans)
        .withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .partitionBy("batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(os.path.join(output_dir, CLEANED_SUBDIR))
    )


def gram_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    output_dir: str,
    k: int = SUBDUP_K,
    compact_every: int | None = None,
    hashed: bool = False,
    emit_cleaned: bool = False,
) -> None:
    """foreachBatch body: recover -> replay guard -> classify against
    the committed gram frontier + batch-internal dups -> write the
    batch's span report (and, with ``emit_cleaned``, the batch's
    CLEANED output — the removal projection of every batch document,
    the stream a production curation pipeline actually consumes) ->
    append the batch's distinct grams -> optionally fold old gram
    partitions. ``hashed=True`` keys the
    artifact by xxhash64 — 8 bytes per stored gram instead of a
    K-token string, the production spelling (the batch operator's
    hashed-twin discipline: one-sided span-adding error on a 64-bit
    collision, machine-pinned report-identical on the planted
    fixtures)."""
    spark = batch_df.sparkSession
    # finish anything a crash left half-landed BEFORE anything else —
    # including before the empty-batch gate (review r14: a crashed
    # compaction followed by a run of all-malformed batches must not
    # leave the grams dir absent until a non-empty batch happens by)
    _recover_compaction(output_dir, GRAMS_SUBDIR)
    _check_gram_meta(output_dir, k, hashed, emit_cleaned)
    if batch_id <= _compacted_through(output_dir, GRAMS_SUBDIR):
        return  # already folded into batch_id=-1: replay is a no-op
    # two admission tiers (review r15): a NULL doc_id row is malformed
    # everywhere, but a NULL-TEXT row with a real doc_id is only
    # excluded from the gram/report machinery — the cleaned projection
    # must still carry it as the empty document (kept 0, sha256('')),
    # exactly incremental_substring_cut's _words_of semantics, or the
    # doc silently vanishes from the downstream corpus.
    admitted = batch_df.select("doc_id", "text").where(
        F.col("doc_id").isNotNull()
    )
    docs = admitted.where(F.col("text").isNotNull())
    if docs.isEmpty():
        if emit_cleaned and not admitted.isEmpty():
            # an all-NULL-text batch has no grams or spans, but its
            # admitted docs still clean to the empty document
            _write_cleaned(
                admitted,
                spark.createDataFrame(
                    [], "doc_id long, span_start int, span_end int"
                ),
                output_dir,
                batch_id,
            )
        # an all-malformed batch still honors the compaction boundary
        # (ADVICE r14: returning before the check deferred compaction
        # a full compact_every cycle, loosening the artifact growth
        # bound). There is nothing of this batch to write to the gram
        # set, so folding prior partitions and returning is safe: a
        # later replay of this batch re-derives the same frames.
        if compact_every and (batch_id + 1) % compact_every == 0:
            compact_grams(spark, output_dir)
        return
    # persisted: the gram table feeds BOTH writes (report + gram set)
    # and the dup aggregate — without it the tokenize + K-gram explode
    # pass (the expensive map-side work) runs once per consumer over a
    # re-read source batch (the write_batch_fanout discipline)
    grams = _gram_table(docs, k)
    if hashed:
        grams = grams.withColumn("gram", F.xxhash64("gram"))
    grams = grams.persist()
    try:
        dup_delta = (
            grams.groupBy("gram")
            .agg(F.count_distinct("doc_id").alias("nd"))
            .where(F.col("nd") >= 2)
            .select("gram")
        )
        base = _read_base_grams(spark, output_dir, batch_id)
        dup = dup_delta if base is None else base.unionByName(dup_delta)
        hits = grams.join(dup, "gram", "left_semi").select(
            "doc_id", "n_tokens", "start"
        )
        spans = _spans_from_hits(hits, k)
        if emit_cleaned:
            # spans feed both the report and the cut — persist so the
            # island window runs once (the grams persist discipline)
            spans = spans.persist()
        try:
            (
                _span_report(spans)
                .withColumn("batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .partitionBy("batch_id")
                .option("partitionOverwriteMode", "dynamic")
                .parquet(os.path.join(output_dir, REPORTS_SUBDIR))
            )
            if emit_cleaned:
                # the batch's removal projection — identical semantics
                # to incremental_substring_cut(committed-frontier,
                # batch): same hits, same shared cut_projection, and
                # the ADMITTED frame (NULL-text docs included) so the
                # empty-document rows match too (review r15)
                _write_cleaned(admitted, spans, output_dir, batch_id)
        finally:
            if emit_cleaned:
                spans.unpersist()
        (
            grams.select("gram")
            .distinct()
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(os.path.join(output_dir, GRAMS_SUBDIR))
        )
    finally:
        grams.unpersist()
    if compact_every and (batch_id + 1) % compact_every == 0:
        compact_grams(spark, output_dir)


def read_gram_set(spark: SparkSession, output_dir: str) -> DataFrame:
    """The maintained artifact's distinct gram set (serving view).
    Explicit schema: a zero-partition artifact is the typed empty set
    (this is also what lets compact_grams fold an all-short-docs
    artifact instead of raising); a MISSING artifact still fails loud
    at execution (PATH_NOT_FOUND)."""
    return (
        spark.read.schema(_grams_schema(output_dir))
        .parquet(os.path.join(output_dir, GRAMS_SUBDIR))
        .select("gram")
        .distinct()
    )


def read_subdup_reports(spark: SparkSession, output_dir: str) -> DataFrame:
    """(doc_id, n_spans, dup_tokens, n_tokens, batch_id): every
    micro-batch's span report, the stream's classification history. A
    stream that has not yet seen a batch (dir absent) or a duplicated
    span (dir empty) serves the typed empty frame — a legitimate
    state. A CORRUPT reports dir still fails at execution: only
    not-created-yet maps to empty (the sinks.read_latest discipline;
    review r14 — "no duplicates ever found" must never be the silent
    reading of an unreadable artifact)."""
    path = os.path.join(output_dir, REPORTS_SUBDIR)
    if not os.path.isdir(path):
        return spark.createDataFrame([], _REPORTS_SCHEMA)
    return spark.read.schema(_REPORTS_SCHEMA).parquet(path)


def read_cleaned(spark: SparkSession, output_dir: str) -> DataFrame:
    """(doc_id, n_tokens, kept_tokens, cleaned_sha, batch_id): every
    micro-batch's removal projection — the cleaned corpus stream an
    ``emit_cleaned=True`` ingest maintains. Same read discipline as
    the reports: not-created-yet serves the typed empty frame, a
    corrupt dir still fails at execution."""
    path = os.path.join(output_dir, CLEANED_SUBDIR)
    if not os.path.isdir(path):
        return spark.createDataFrame([], _CLEANED_SCHEMA)
    return spark.read.schema(_CLEANED_SCHEMA).parquet(path)


def compact_grams(spark: SparkSession, output_dir: str) -> None:
    """Fold every gram batch partition into one distinct batch_id=-1
    partition — the artifact's size becomes O(distinct grams) instead
    of O(sum of batch gram sets). Shared staged-install crash contract
    with the rollup/qhist sinks; replays of folded batches are no-ops
    via the ingest body's marker guard."""
    _compact_partitions(spark, output_dir, GRAMS_SUBDIR, read_gram_set)


def recover_grams(spark: SparkSession, output_dir: str) -> bool:
    """Finish a :func:`compact_grams` install that crashed between the
    remove and the rename; discard an incomplete staging."""
    return _recover_compaction(output_dir, GRAMS_SUBDIR)


def run_gram_ingest(
    doc_stream: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    k: int = SUBDUP_K,
    compact_every: int | None = None,
    hashed: bool = False,
    emit_cleaned: bool = False,
) -> StreamingQuery:
    """Drain ``doc_stream`` (doc_id, text) through the substring-dedup
    classification loop with availableNow semantics (process what has
    arrived, then stop; a production run swaps in a processing-time
    trigger, nothing else changes). ``emit_cleaned`` additionally
    maintains the per-batch removal projection (read_cleaned)."""
    return (
        doc_stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(
            lambda df, bid: gram_ingest_batch(
                df,
                bid,
                output_dir,
                k=k,
                compact_every=compact_every,
                hashed=hashed,
                emit_cleaned=emit_cleaned,
            )
        )
        .trigger(availableNow=True)
        .start()
    )
