"""Streaming perceptual near-dup ingestion — the media crawl loop as a
maintained-artifact stream (the gram_ingest discipline): media arrive
as (media_id, payload) micro-batches, each batch is hashed ONCE in the
Arrow pass, classified for near-dup pairs against the stored hash set
of every committed prior batch plus the batch's own internal pairs
(``operators/multimodal.incremental_phash_pairs`` semantics, batch ==
delta, corpus-so-far == base), and the batch's 16-byte hash rows are
appended so the next batch classifies against them.

Per-batch cost scales in the BATCH: the stored hash artifact is a
parquet scan of (media_id, two int64 halves) — corpus payload bytes
are read exactly once ever, at each item's own admission batch, and
never shuffle. Append-only by contract (an item is admitted once; the
exact-dedup ingest upstream is what collapses byte-identical
re-ingests).

Replay safety (the gram/qhist/rollup contract: the package's one fold
protocol, ``fold.py``):

* The base read filters ``batch_id < N`` — a crashed batch N whose
  hash partition half-landed still classifies its replay against
  exactly the committed frontier, never against its own hashes.
* Both writes are per-batch dynamic partition overwrites (idempotent).
* ``compact_phash`` folds old hash partitions into ``batch_id = -1``
  (distinct rows), and the ingest body no-ops a replay of any batch at
  or below the fold horizon.
* The Hamming threshold is stamped into the artifact root on first
  contact and fails loud on mismatch — pair reports produced at mixed
  thresholds would be silently incomparable (the gram K/key-type
  marker discipline).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.multimodal import (
    PH_HAM_T,
    _pairing_admitted,
    incremental_phash_pairs,
    phash_media,
)
from .. import fold
from .pipeline import _foreach_batch
from .sinks import _fold_partials, _stamp_or_read_marker, purge_partitioned_rows

PHASHES_SUBDIR = "phashes"
PH_PAIRS_SUBDIR = "phash_pairs"
_T_MARKER = "_phash_t"

_PHASHES_SCHEMA = "media_id long, phash_lo long, phash_hi long"
_PAIRS_SCHEMA = "media_id_a long, media_id_b long, hamming long"


def _check_phash_meta(output_dir: str, ham_t: int) -> None:
    """Stamp the Hamming threshold on first contact; fail loud on any
    later mismatch (reports at mixed thresholds would silently answer
    different questions) or on a corrupt marker (provenance unknowable
    — rebuild). Atomic install: tmp + fsync + rename."""
    raw = _stamp_or_read_marker(output_dir, _T_MARKER, str(ham_t))
    if raw is None:
        return  # freshly stamped: this call defines the artifact shape
    marker = os.path.join(output_dir, _T_MARKER)
    try:
        stored_t = int(raw[0])
    except (IndexError, ValueError) as exc:
        raise ValueError(
            f"phash artifact marker {marker} is corrupt (contents "
            f"{raw!r}): the artifact's threshold provenance cannot be "
            f"verified — rebuild the artifact (delete {output_dir}) or "
            "restore the marker from a backup."
        ) from exc
    if stored_t != ham_t:
        raise ValueError(
            f"phash artifact at {output_dir} was built with Hamming "
            f"threshold {stored_t}; this stream is configured with "
            f"{ham_t} — committed batches' pair reports answer the "
            "old threshold and replays are no-ops, so continuing "
            "would serve a silently mixed-threshold report stream. "
            "Rebuild the artifact or restore the original threshold."
        )


def _read_base_hashes(
    spark: SparkSession, output_dir: str, before_batch: int
) -> DataFrame | None:
    """The committed hash frontier: every stored row with batch_id <
    ``before_batch`` (the compacted partition, id -1, qualifies — it
    only ever holds batches below the compaction marker). None on a
    cold artifact; any other read failure fails (then replays) the
    micro-batch. Explicit schema: a zero-partition dir is the typed
    empty frontier, never UNABLE_TO_INFER_SCHEMA."""
    path = os.path.join(output_dir, PHASHES_SUBDIR)
    if not os.path.isdir(path):
        return None
    return (
        fold.read_batches(spark, path, _PHASHES_SCHEMA)
        .where(F.col("batch_id") < before_batch)
        .select("media_id", "phash_lo", "phash_hi")
    )


def phash_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    output_dir: str,
    ham_t: int = PH_HAM_T,
    compact_every: int | None = None,
) -> None:
    """foreachBatch body: recover -> threshold stamp -> folded-replay
    guard -> hash the batch once -> near-dup pairs vs (committed
    frontier ∪ batch) -> write the batch's pair report -> append the
    batch's hash rows -> optionally fold old hash partitions.

    ``ham_t`` must equal PH_HAM_T for now: incremental_phash_pairs
    verifies at the operator constant (the banding guarantee is tied
    to it), so the parameter exists to drive the marker contract, not
    to widen the threshold."""
    if ham_t != PH_HAM_T:
        raise ValueError(
            f"ham_t={ham_t} unsupported: the banding pipeline verifies "
            f"at PH_HAM_T={PH_HAM_T} (4-band pigeonhole bound); a wider "
            "threshold needs more bands, not a bigger parameter."
        )
    spark = batch_df.sparkSession
    fold.recover(output_dir, PHASHES_SUBDIR)
    _check_phash_meta(output_dir, ham_t)
    if fold.folded(os.path.join(output_dir, PHASHES_SUBDIR), batch_id):
        return  # already in the compacted partition: replay is a no-op
    # NULL media_id rows are malformed; NULL/EMPTY payloads are
    # MISSING media and are gated out of the artifact AND pairing by
    # the operator's shared degenerate gate (review r15: k missing
    # blobs would otherwise emit C(k,2) Hamming-0 "pairs" and one
    # maximally hot band).
    # No up-front emptiness probe (optimization r16, VERDICT r15 #8):
    # the old ``admitted.isEmpty()`` guard cost one Spark job on EVERY
    # batch to special-case the rare all-malformed one, whose writes
    # are harmless anyway — a dynamic partition overwrite of zero rows
    # touches no partitions, and the serving reads use explicit
    # schemas, so an empty artifact dir is the same typed-empty state
    # as an absent one. Per-batch job count drops 3 -> 2, asserted by
    # the listener pin in tests/test_phash_ingest.py.
    admitted = _pairing_admitted(
        batch_df.select("media_id", "payload").where(
            F.col("media_id").isNotNull()
        )
    )
    base = _read_base_hashes(spark, output_dir, batch_id)
    if base is None:
        base = spark.createDataFrame([], _PHASHES_SCHEMA)
    # hash ONCE: the persisted Arrow pass feeds both the classify and
    # the artifact append (the gram_table persist discipline)
    hashes = phash_media(admitted).persist()
    try:
        fold.write_batch(
            incremental_phash_pairs(base, hashes),
            batch_id,
            os.path.join(output_dir, PH_PAIRS_SUBDIR),
        )
        fold.write_batch(
            hashes, batch_id, os.path.join(output_dir, PHASHES_SUBDIR)
        )
    finally:
        hashes.unpersist()
    if compact_every and (batch_id + 1) % compact_every == 0:
        compact_phash(spark, output_dir)


def _read_hashes(spark: SparkSession, output_dir: str) -> DataFrame:
    return fold.read_batches(
        spark, os.path.join(output_dir, PHASHES_SUBDIR), _PHASHES_SCHEMA
    )


def _distinct_hashes(partials: DataFrame) -> DataFrame:
    return partials.select("media_id", "phash_lo", "phash_hi").distinct()


def read_phash_set(spark: SparkSession, output_dir: str) -> DataFrame:
    """The maintained artifact's distinct hash rows (serving view).
    Explicit schema; a MISSING artifact still fails loud at
    execution; an install that crashed midway is refused."""
    fold.check_servable(output_dir, PHASHES_SUBDIR)
    return _distinct_hashes(_read_hashes(spark, output_dir))


def read_phash_pairs(spark: SparkSession, output_dir: str) -> DataFrame:
    """(media_id_a, media_id_b, hamming, batch_id): every micro-batch's
    near-dup pair report. Not-created-yet serves the typed empty frame
    (a legitimate state: no batch or no pair yet); a corrupt dir still
    fails at execution (the read_subdup_reports discipline)."""
    path = os.path.join(output_dir, PH_PAIRS_SUBDIR)
    if not os.path.isdir(path):
        return spark.createDataFrame([], fold.batch_schema(_PAIRS_SCHEMA))
    return fold.read_batches(spark, path, _PAIRS_SCHEMA)


def compact_phash(spark: SparkSession, output_dir: str) -> None:
    """Fold every hash batch partition into one distinct compacted
    partition (the shared fold protocol); replays of folded batches
    are no-ops via the ingest body's horizon guard."""
    _fold_partials(
        output_dir,
        PHASHES_SUBDIR,
        lambda: _read_hashes(spark, output_dir),
        _distinct_hashes,
    )


def purge_phash(
    spark: SparkSession, output_dir: str, keys_df: DataFrame
) -> int:
    """GDPR-style physical removal of media ids (``keys_df``: one
    ``media_id`` column) from the maintained hash artifact and every
    pair report that mentions them — the history sink's purge
    discipline for the perceptual-dedup state. FOLD-FIRST: compaction
    (a no-op unless unfolded hash partitions exist) moves every
    committed hash row under the replay-guard horizon before anything
    is deleted,
    so a purged id cannot resurrect from a checkpoint replay of its
    admission batch (replays of folded batches no-op the whole ingest
    body). A HALF-LANDED admission batch — pair partition on disk,
    hash partition not yet written (the crash window between the two
    writes) — breaks that guarantee: its replay would re-derive the
    victim's rows from source AFTER a reported-success purge, so the
    purge FAILS LOUD instead (review r15), naming the remedy: drain
    the stream (the replay completes the batch), then purge. The
    shared partition-purge step (sinks.purge_partitioned_rows —
    per-column semi-join discovery, one broadcast anti-join-chain
    rewrite, outright removal of fully-victim partitions) then
    rewrites the folded hash partition and each affected pair
    partition, both pair sides in ONE pass. Point-in-time erasure:
    re-ingesting the same id later re-admits it — stopping future
    arrivals is the upstream contract. Idempotent: a crash mid-purge
    leaves victims discoverable and a re-run finishes. Returns the
    number of partitions touched (each counted once)."""
    keys = keys_df.select("media_id").distinct()
    if keys.isEmpty():
        return 0
    hashes_path = os.path.join(output_dir, PHASHES_SUBDIR)
    pairs_path = os.path.join(output_dir, PH_PAIRS_SUBDIR)
    compact_phash(spark, output_dir)  # recovers at entry
    orphans = sorted(
        b
        for b in fold.batch_ids(pairs_path)
        if not fold.folded(hashes_path, b)
    )
    if orphans:
        raise ValueError(
            f"phash artifact at {output_dir} has pair partitions for "
            f"batches {orphans} whose hash partitions never committed "
            "(a crash between the pair and hash writes). Purging now "
            "would report success and then be undone by the stream's "
            "replay of those batches re-deriving the victims from "
            "source. Drain the stream first (the replay completes the "
            "half-landed batches), then re-run the purge."
        )
    touched = purge_partitioned_rows(
        spark, hashes_path, keys, ("media_id",)
    )
    # the pair purge runs even if no hash dir exists (review r15: the
    # orphan check above already vetoed the unsafe shapes)
    touched += purge_partitioned_rows(
        spark, pairs_path, keys, ("media_id_a", "media_id_b")
    )
    return touched


def run_phash_ingest(
    media_stream: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    compact_every: int | None = None,
) -> StreamingQuery:
    """Drain ``media_stream`` (media_id, payload) through the near-dup
    classification loop with availableNow semantics (the
    run_gram_ingest shape; a production run swaps the trigger)."""
    return _foreach_batch(
        media_stream,
        checkpoint_dir,
        lambda df, bid: phash_ingest_batch(
            df, bid, output_dir, compact_every=compact_every
        ),
    )
