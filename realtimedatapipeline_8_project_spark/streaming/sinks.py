"""foreachBatch fan-out sinks (SURVEY §2.2 K1-K4, T6).

The reference fans each micro-batch out to Cassandra (history) and Redis
(latest-per-key) from a foreachBatch callback (stream-processor.py:283-324,
337-342) with non-atomic dual writes — at-least-once. Our engine keeps the
foreachBatch shape but makes the sinks *idempotent* so checkpoint-recovery
re-runs converge (effective exactly-once):

* history sink (K2 analog): parquet partitioned by a stable batch epoch —
  re-running batch N overwrites only batch N's partition; rows are
  segment-clustered and time-sorted like the Cassandra PK layout
  (cassandra-setup.cql:22-23).
* latest view (K3 analog): NOT rewritten per batch. A keyed latest-wins
  table rewritten every micro-batch costs O(total_keys) per batch — it is
  the classic accidental-quadratic streaming sink and capped measured
  throughput at ~5k events/s. Instead the latest view is
  - ``read_latest``: computed on demand from history (window dedup;
    predicate pushdown applies for point lookups), and
  - ``compact_latest``: periodically materialized for serving — amortized,
    idempotent, and exactly what a lakehouse MERGE/compaction job does.

At scale nothing here collects to the driver, and per-batch work is
proportional to the batch, not the table.

Compacted partial sinks (rollup, qhist, and the gram/phash/quality
artifacts through the same helpers) install a compaction by staging it
beside the live dir, then remove + rename. Recovery has one rule: a
complete staging (``_SUCCESS`` plus a parseable ``_compacted_through``
marker) is installed, any other staging is discarded. Discarding is
safe because a staging is written only while the live dir exists and
the live dir is removed only after the staging is complete, so an
incomplete staging always sits beside an intact live dir.

Serving reads cost a tree walk, not a rediscovery. Every parquet read
of a sink directory — the serving readers and the maintenance reads of
compaction and the purges alike — goes through :func:`_read_dir`,
which memoizes Spark's resolved relation (file index + inferred schema)
per session while a stamp of the WHOLE directory tree is unchanged: the
relative path, size, mtime_ns and inode of every entry at every depth
(sources/tables.py ``_artifact_stamp``). Between commits a sink
directory is immutable, so:

* a hit costs one walk of the tree plus building the plan — no Spark
  listing, no schema-inference job;
* a miss (any write, swap, compaction, purge, expiry or in-place
  overwrite since the last read of that path) costs today's fresh
  ``spark.read.parquet`` plus the walk, and replaces the entry.

Like the rest of this sink family the stamp assumes a local filesystem
(``os.stat`` per entry). Spark jobs per serving request, build plus
execution, measured with 4 cores over sf0.01 events in 6 batches:
point (read_latest) 4 -> 2, scan (read_history_asof) 2 -> 1, rollup
(read_rollup) 3 -> 2; what remains is the query's own execution.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import memoized_read
from .metrics import MetricsRecorder

LATEST_KEY = "event_id"
LATEST_ORDER = ("event_time", "duration")


def _read_dir(spark: SparkSession, path: str) -> DataFrame:
    """The ONE parquet read of a sink directory, memoized on its
    full-tree stamp (see the module docstring);
    tests/test_sink_read_memo.py fails if another function here reads
    parquet."""
    return memoized_read(spark, path, lambda: spark.read.parquet(path))


def _has_batches(path: str) -> bool:
    """True iff ``path`` is a directory holding batch partitions. A
    file-less history (retention or a purge removed every partition)
    has no schema to infer, so its readers must branch before reading."""
    return os.path.isdir(path) and any(
        d.startswith("batch_id=") for d in os.listdir(path)
    )


def write_history(batch_df: DataFrame, batch_id: int, output_dir: str) -> None:
    """Idempotent append: batch-id partition overwrite (K2 analog)."""
    (
        batch_df.withColumn("batch_id", F.lit(batch_id))
        .repartition("segment")
        .sortWithinPartitions(F.desc("event_time"))
        .write.mode("overwrite")
        .partitionBy("batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(os.path.join(output_dir, "history"))
    )


def _latest_wins(df: DataFrame) -> DataFrame:
    w = Window.partitionBy(LATEST_KEY).orderBy(
        *[F.desc(c) for c in LATEST_ORDER]
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "batch_id")
    )


def read_latest(spark: SparkSession, output_dir: str) -> DataFrame:
    """Latest row per key, computed from history on demand (plus the
    compacted snapshot if present — whichever rows are newer win). Only
    a MISSING snapshot directory falls back to history-only: the
    snapshot may hold the sole copy of keys whose history batches were
    retention-expired, so a corrupt/unreadable snapshot raises instead
    of being treated as absent, which would silently drop those keys
    from serving (the ingest.py failure discipline)."""
    hist_path = os.path.join(output_dir, "history")
    compacted_path = os.path.join(output_dir, "latest")
    # retention (expire_batches) or a purge may legitimately remove
    # EVERY history partition while the compacted snapshot still holds
    # the keys — serving then falls through to the snapshot alone
    hist = _read_dir(spark, hist_path) if _has_batches(hist_path) else None
    if os.path.isdir(compacted_path):
        compacted = _read_dir(spark, compacted_path).withColumn(
            "batch_id", F.lit(-1)
        )
        hist = (
            hist.unionByName(compacted) if hist is not None else compacted
        )
    if hist is None:
        raise ValueError(
            f"nothing to serve under {output_dir}: history holds no "
            "batch partitions and no compacted snapshot exists"
        )
    return _latest_wins(hist)


def read_history_asof(
    spark: SparkSession, output_dir: str, batch_id: int
) -> DataFrame:
    """Time-travel read: the history exactly as of ``batch_id``. Because
    the sink layout is one immutable partition per committed batch, an
    as-of read is a partition-pruned scan (batch_id <= N reaches the
    parquet scan as partition filters — no tombstones, no log replay):
    reproducible training snapshots and debugging reads come free from
    the idempotent layout."""
    hist_path = os.path.join(output_dir, "history")
    if not _has_batches(hist_path):
        raise ValueError(
            f"time-travel read as of batch {batch_id} is unanswerable: "
            f"{hist_path} holds no batch partitions (retention or purge "
            "removed them) — the compacted snapshot cannot reconstruct "
            "an as-of view"
        )
    return _read_dir(spark, hist_path).where(F.col("batch_id") <= batch_id)


def read_latest_asof(
    spark: SparkSession, output_dir: str, batch_id: int
) -> DataFrame:
    """Latest-per-key view as it stood after ``batch_id`` committed —
    the keyed serving table's time-travel twin."""
    return _latest_wins(read_history_asof(spark, output_dir, batch_id))


def _swap_latest(df: DataFrame, spark: SparkSession, output_dir: str) -> None:
    """Write ``df`` as the compacted latest snapshot via write-then-swap.
    The swap is NOT atomic on a plain filesystem (the overwrite deletes
    ``latest`` before rewriting it from tmp). Cleanup is therefore
    asymmetric: a failed STAGING write removes its incomplete tmp
    (``latest`` was never touched); a failure during the swap itself
    PRESERVES tmp — at that point it may be the only complete copy of
    the snapshot (including retention-expired keys history no longer
    holds — deleting it in a finally would make 're-run to recover'
    silently lossy). :func:`recover_latest` finishes an interrupted
    swap from the preserved staging dir; tmp is removed only after the
    swap lands."""
    import shutil

    latest_path = os.path.join(output_dir, "latest")
    tmp_path = os.path.join(output_dir, "_latest_tmp")
    try:
        df.write.mode("overwrite").parquet(tmp_path)
    except Exception:
        shutil.rmtree(tmp_path, ignore_errors=True)  # incomplete staging
        raise
    # install = remove + rename (same-fs move): the staged dir IS the
    # snapshot, so re-writing it through a second full Spark job only
    # doubled the write I/O and stretched the non-atomic window from a
    # rename to an entire job — recover_latest performs this exact
    # install, which is the proof it suffices
    shutil.rmtree(latest_path, ignore_errors=True)
    shutil.move(tmp_path, latest_path)


def recover_latest(spark: SparkSession, output_dir: str) -> bool:
    """Finish a swap that crashed between deleting ``latest`` and
    rewriting it: if a COMPLETE staging dir (Spark's _SUCCESS marker)
    survives, move it into place. Returns True if a recovery happened.
    Call before serving from a sink dir that may have crashed mid-swap;
    a no-op when no complete staging dir exists."""
    import shutil

    latest_path = os.path.join(output_dir, "latest")
    tmp_path = os.path.join(output_dir, "_latest_tmp")
    if not os.path.exists(os.path.join(tmp_path, "_SUCCESS")):
        return False
    shutil.rmtree(latest_path, ignore_errors=True)
    shutil.move(tmp_path, latest_path)
    return True


def compact_latest(spark: SparkSession, output_dir: str) -> None:
    """Materialize the latest view for serving (amortized; idempotent via
    write-then-swap — see :func:`_swap_latest` for the crash/recovery
    contract). Recovers a crash-pending swap at entry: a re-run after a
    mid-swap crash would otherwise rebuild from history alone and
    overwrite the staged snapshot — the only copy of any
    retention-expired keys it carried."""
    recover_latest(spark, output_dir)
    _swap_latest(read_latest(spark, output_dir), spark, output_dir)


# --- incremental hourly rollup (continuous-aggregate analog) ---------------
# The Cassandra table's PK ((content_id), event_time) exists to serve
# per-key time-range rollups (cassandra-setup.cql:22; README "drop-off
# detection"). The engine materializes that capability incrementally:
# each micro-batch contributes an O(batch) *partial* aggregate partition
# (count/sum are associative, so partials merge exactly); the serving view
# merges partials on read; compaction collapses them. Same idempotency
# story as the history sink — re-running batch N dynamic-overwrites only
# partition N, and a replay of a batch ALREADY FOLDED by compaction is a
# mechanical no-op (the shared _compacted_through discipline below), so
# the old "compact only checkpoint-committed batches" caveat is enforced
# rather than trusted.

ROLLUP_WINDOW = "1 hour"


def _rollup_partial(df: DataFrame) -> DataFrame:
    return (
        df.groupBy(
            F.window("event_time", ROLLUP_WINDOW).alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("duration").alias("sum_duration"),
            F.sum("engagement_seconds").alias("sum_engagement_seconds"),
        )
        .select(F.col("w.start").alias("bucket_start"), "event_type",
                "n", "sum_duration", "sum_engagement_seconds")
    )


def _merge_rollup(partials: DataFrame) -> DataFrame:
    return (
        partials.groupBy("bucket_start", "event_type")
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum_duration").alias("sum_duration"),
            F.sum("sum_engagement_seconds").alias("sum_engagement_seconds"),
        )
    )


# --- shared staged-compaction discipline ------------------------------------
# One crash contract for every partial-partition sink that folds
# batch_id=N partitions into batch_id=-1 (rollup, qhist): stage to
# _<subdir>_tmp, install by remove + rename, and carry a
# _compacted_through marker (the highest folded batch id) INSIDE the
# staged dir so the replay guard installs atomically with the fold.
# Review r13 hardened two crash windows the first (qhist-only) spelling
# left open: the marker is written via temp + fsync + rename (a torn
# zero-byte marker can never be installed and silently disable the
# guard), and every WRITER recovers-at-entry (a batch written between a
# crashed install and the next recovery used to be destroyed by that
# recovery's rmtree of the live dir).


def _stamp_or_read_marker(
    output_dir: str, name: str, value: str
) -> list[str] | None:
    """The artifact-root configuration-marker skeleton, ONE spelling
    for every maintained-artifact stream (review r15 — gram_ingest
    stamps K/key-type/cleaned-mode, phash_ingest stamps the Hamming
    threshold; a third copy of the stamp/read mechanics was the drift
    risk): on first contact atomically stamp ``value`` (tmp + fsync +
    rename, so a torn marker can never be installed) and return None;
    on later contacts return the stored whitespace-split fields for
    the CALLER's parse/compare/fail-loud semantics — what counts as a
    mismatch is per-artifact, the mechanics are not. The marker lives
    in the artifact ROOT, next to the compacted subdirs (compaction
    replaces subdirs, never the root)."""
    marker = os.path.join(output_dir, name)
    try:
        with open(marker) as fh:
            return fh.read().split()
    except FileNotFoundError:
        os.makedirs(output_dir, exist_ok=True)
        tmp = marker + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(value)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, marker)
        return None


def _compacted_through(output_dir: str, subdir: str) -> int:
    """Highest batch_id ever folded into ``subdir``'s compacted
    partition, or -1 if no compaction has run. Underscore prefix keeps
    parquet readers blind to the marker file."""
    marker = os.path.join(output_dir, subdir, "_compacted_through")
    try:
        with open(marker) as fh:
            return int(fh.read().strip())
    except (OSError, ValueError):
        return -1


def _staging_complete(tmp_path: str) -> bool:
    """A staging is complete only with Spark's _SUCCESS AND a PARSEABLE
    marker — requiring the parse closes the crash window between the
    parquet job and the marker install (a staging with _SUCCESS but a
    missing/torn marker must be discarded, never installed: installed
    folded rows without a working replay guard would double-count on
    the next checkpoint replay)."""
    if not os.path.exists(os.path.join(tmp_path, "_SUCCESS")):
        return False
    try:
        with open(os.path.join(tmp_path, "_compacted_through")) as fh:
            int(fh.read().strip())
        return True
    except (OSError, ValueError):
        return False


def _recover_compaction(output_dir: str, subdir: str) -> bool:
    """Finish a compaction install that crashed between the remove and
    the rename; discard an incomplete staging. Returns True if a
    recovery landed.

    One rule: a complete staging (:func:`_staging_complete`) is
    installed, any other staging is discarded. Discarding never loses
    data because :func:`_compact_partitions` writes a staging only while
    the live dir exists and removes the live dir only after the staging
    is complete — so an incomplete staging always sits beside an intact
    live dir."""
    import shutil

    tmp_path = os.path.join(output_dir, f"_{subdir}_tmp")
    if not os.path.isdir(tmp_path):
        return False
    if not _staging_complete(tmp_path):
        shutil.rmtree(tmp_path, ignore_errors=True)
        return False
    live = os.path.join(output_dir, subdir)
    shutil.rmtree(live, ignore_errors=True)
    shutil.move(tmp_path, live)
    return True


def _compact_partitions(spark, output_dir: str, subdir: str, read_fn) -> None:
    """Fold every batch partition of ``subdir`` into batch_id=-1 via
    ``read_fn(spark, output_dir)`` (the sink's merge-on-read view), with
    recover-at-entry and the atomic marker install described above."""
    import shutil

    _recover_compaction(output_dir, subdir)
    live = os.path.join(output_dir, subdir)
    if not os.path.isdir(live):
        # nothing has ever been written (e.g. a compaction boundary
        # fired before the first non-empty batch): folding nothing is
        # a no-op, not a PATH_NOT_FOUND crash that would wedge a
        # foreachBatch checkpoint in a replay loop (review r15)
        return
    tmp_path = os.path.join(output_dir, f"_{subdir}_tmp")
    folded = _compacted_through(output_dir, subdir)
    for d in os.listdir(live):
        if d.startswith("batch_id=") and not d.endswith("=-1"):
            folded = max(folded, int(d.split("=", 1)[1]))
    try:
        read_fn(spark, output_dir).withColumn(
            "batch_id", F.lit(-1)
        ).write.mode("overwrite").partitionBy("batch_id").parquet(tmp_path)
        mtmp = os.path.join(tmp_path, "_compacted_through.tmp")
        with open(mtmp, "w") as fh:
            fh.write(str(folded))
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(mtmp, os.path.join(tmp_path, "_compacted_through"))
    except Exception:
        shutil.rmtree(tmp_path, ignore_errors=True)  # incomplete staging
        raise
    shutil.rmtree(live, ignore_errors=True)
    shutil.move(tmp_path, live)


def write_rollup(batch_df: DataFrame, batch_id: int, output_dir: str) -> None:
    """O(batch) incremental rollup contribution, idempotent per batch
    id — UNCONDITIONALLY (r13): recover-at-entry lands a crash-pending
    compaction before this batch's partition is written (otherwise that
    recovery's rmtree would later destroy the only copy of a batch
    written into the half-installed dir), and a replay of a batch
    already folded into the compacted partition is a no-op instead of a
    double-count."""
    _recover_compaction(output_dir, "rollup")
    if batch_id <= _compacted_through(output_dir, "rollup"):
        return  # already folded into batch_id=-1: replay is a no-op
    (
        _rollup_partial(batch_df)
        .withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .partitionBy("batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(os.path.join(output_dir, "rollup"))
    )


def read_rollup(spark: SparkSession, output_dir: str) -> DataFrame:
    """Serving view: exact hourly aggregates = merge of all partials."""
    partials = _read_dir(spark, os.path.join(output_dir, "rollup"))
    return _merge_rollup(partials.drop("batch_id"))


def compact_rollup(spark: SparkSession, output_dir: str) -> None:
    """Collapse all partials into one merged partition (batch_id=-1).
    Amortized O(distinct keys). Replays around compaction are safe
    mechanically (the shared _compacted_through discipline above) —
    the old "call only when every folded batch is checkpoint-committed"
    caveat is now enforced by write_rollup's folded-batch no-op guard
    rather than trusted.

    Staged install (the _swap_latest discipline): stage to
    _rollup_tmp, then remove + rename; :func:`recover_rollup` finishes
    a crashed install from a COMPLETE staging and discards an
    incomplete one with the live dir untouched."""
    _compact_partitions(spark, output_dir, "rollup", read_rollup)


def recover_rollup(spark: SparkSession, output_dir: str) -> bool:
    """Finish a :func:`compact_rollup` install that crashed between the
    remove and the rename; discard an incomplete staging. Returns True
    if a recovery landed. Call before serving from a rollup dir that
    may have crashed mid-compaction (the recover_latest twin)."""
    return _recover_compaction(output_dir, "rollup")


# --- incremental count-min sketch (mergeable-sketch sink) ------------------
# Sketches are the streaming-native rollup for key frequencies: counters
# are associative, so each micro-batch writes its own O(W x D) partial
# sketch partition and the serving read merges by cell addition — the
# same exactness-under-replay story as the rollup sink (idempotent per
# batch id), with state bounded by the sketch dimensions regardless of
# key cardinality. Different clusters / days / shards can build sketches
# independently and merge them losslessly.


def write_sketch(
    batch_df: DataFrame, batch_id: int, output_dir: str, key: str = "user_id"
) -> None:
    """O(batch) partial count-min contribution, idempotent per batch id."""
    from ..operators.sketches import CM_DEPTH, _cm_slot

    cells = batch_df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("depth"),
                        _cm_slot(F.col(key), d).alias("slot"),
                    )
                    for d in range(CM_DEPTH)
                ]
            )
        ).alias("c")
    ).select("c.depth", "c.slot")
    (
        cells.groupBy("depth", "slot")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .partitionBy("batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(os.path.join(output_dir, "sketch"))
    )


def read_sketch(spark: SparkSession, output_dir: str) -> DataFrame:
    """Serving view: the merged sketch = cell-wise sum of all partials —
    identical to a single-pass sketch over the union of the batches."""
    partials = _read_dir(spark, os.path.join(output_dir, "sketch"))
    return (
        partials.drop("batch_id")
        .groupBy("depth", "slot")
        .agg(F.sum("n").cast("long").alias("n"))
    )


def write_hll(
    batch_df: DataFrame,
    batch_id: int,
    output_dir: str,
    group: str = "event_type",
    key: str = "user_id",
) -> None:
    """Per-batch partial HLL register table (grouped distinct-count
    sketch): registers merge by MAX, the other associative sketch merge —
    counters add (write_sketch), registers max. Idempotent per batch id;
    state per batch is |groups| x m rows."""
    from ..operators.sketches import HLL_K, HLL_M, _hll_hash_spark

    h = _hll_hash_spark(key)
    cells = batch_df.select(
        F.col(group).alias("grp"),
        F.expr(f"{h} % {HLL_M}").alias("bucket"),
        F.expr(f"{h} div {HLL_M}").alias("rem"),
    ).select(
        "grp",
        "bucket",
        F.when(F.col("rem") == 0, F.lit(HLL_K))
        .otherwise(F.lit(HLL_K) - F.length(F.bin("rem")))
        .alias("rho"),
    )
    (
        cells.groupBy("grp", "bucket")
        .agg(F.max("rho").alias("m_j"))
        .withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .partitionBy("batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(os.path.join(output_dir, "hll"))
    )


def read_hll(spark: SparkSession, output_dir: str) -> DataFrame:
    """Merged register table — identical to a single-pass build over the
    union of all batches (register max is associative/idempotent)."""
    partials = _read_dir(spark, os.path.join(output_dir, "hll"))
    return (
        partials.drop("batch_id")
        .groupBy("grp", "bucket")
        .agg(F.max("m_j").alias("m_j"))
    )


def write_qhist(
    batch_df: DataFrame,
    batch_id: int,
    output_dir: str,
    grp: str = "o_orderpriority",
    x: str = "cents",
) -> None:
    """Per-batch partial quantile histogram (operators/distribution.py):
    log2/linear integer bucket counters add cell-wise — the third
    associative sketch merge beside counter-add (write_sketch) and
    register-max (write_hll). O(|batch groups| x 64 x QH_SUB) state per
    batch; idempotent per batch id. Serving percentiles from the merged
    table (read_qhist + quantiles_from_hist) is bit-identical to the
    one-pass batch sketch — no re-scan of history to answer 'p99 so
    far'. Replay idempotence is UNCONDITIONAL (ADVICE r12, mechanical
    guard — shared with the rollup sink): recover-at-entry lands a
    crash-pending compaction before this batch's partition is written,
    a replay of a batch still in its own partition dynamic-overwrites
    it, and a replay of a batch already folded into the compacted
    partition (batch_id <= the _compacted_through marker compact_qhist
    installs) is a NO-OP instead of a double-count — checkpoint
    recovery can therefore replay any prefix safely even around a
    compaction."""
    from ..operators.distribution import quantile_hist

    _recover_compaction(output_dir, "qhist")
    if batch_id <= _compacted_through(output_dir, "qhist"):
        return  # already folded into batch_id=-1: replay is a no-op
    (
        quantile_hist(batch_df, grp, x)
        .withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .partitionBy("batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(os.path.join(output_dir, "qhist"))
    )


def read_qhist(spark: SparkSession, output_dir: str) -> DataFrame:
    """Merged histogram = cell-wise sum of all batch partials (the
    merge_hists identity, machine-pinned in tests/test_distribution.py)."""
    partials = _read_dir(spark, os.path.join(output_dir, "qhist"))
    return (
        partials.drop("batch_id")
        .groupBy("grp", "bucket_id", "est_lo", "est_hi")
        .agg(F.sum("n").cast("long").alias("n"))
    )


def compact_qhist(spark: SparkSession, output_dir: str) -> None:
    """Collapse all histogram partials into one merged partition
    (batch_id=-1) — the compact_rollup discipline verbatim: staged
    install to _qhist_tmp, recover-at-entry, remove + rename; a crash
    anywhere leaves either every partial or a complete staging.

    Replays around compaction are safe MECHANICALLY (ADVICE r12): the
    shared _compacted_through discipline documented at the rollup
    sink — staged install carrying the marker, atomic marker write,
    writer-side recover-at-entry and folded-batch no-op."""
    _compact_partitions(spark, output_dir, "qhist", read_qhist)


def recover_qhist(spark: SparkSession, output_dir: str) -> bool:
    """Finish a :func:`compact_qhist` install that crashed between the
    remove and the rename (complete staging = _SUCCESS AND a parseable
    _compacted_through marker — a recovered install can never serve
    folded rows without the replay guard); discard an incomplete
    staging. Returns True if a recovery landed."""
    return _recover_compaction(output_dir, "qhist")


def write_moments(
    batch_df: DataFrame, batch_id: int, output_dir: str
) -> None:
    """Per-batch partial integer moment table (user_id, n, s, ss) for the
    z-score outlier detector (operators/relational.py): counts and sums
    are associative, so micro-batch partials sum cell-wise to the one-pass
    moments — same exactness-under-replay story as the rollup sink.
    O(|batch users|) state per batch; idempotent per batch id."""
    from ..operators.relational import event_moments, quantize_events

    (
        event_moments(quantize_events(batch_df))
        .withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .partitionBy("batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(os.path.join(output_dir, "moments"))
    )


def read_moments(spark: SparkSession, output_dir: str) -> DataFrame:
    """Serving view: merged per-user moments = cell-wise sum of all
    partials — identical integers to a single-pass aggregation, so
    scoring events against them (outliers_vs_moments) is bit-identical
    to the batch q_dq_outliers."""
    partials = _read_dir(spark, os.path.join(output_dir, "moments"))
    return (
        partials.drop("batch_id")
        .groupBy("user_id")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("s").cast("long").alias("s"),
            F.sum("ss").cast("long").alias("ss"),
        )
    )


def write_m4(batch_df: DataFrame, batch_id: int, output_dir: str) -> None:
    """Per-batch partial M4 cells: per (user_id, hour bucket) keep
    min/max value plus the argmin/argmax (order-key, value) pairs for
    first/last — all five merge associatively (min, max, min_by on the
    kept key, max_by, sum), so the downsample is maintained incrementally
    with state bounded by users x buckets per batch. Values stay
    DECIMAL until the serving read so merges are exact."""
    from ..operators.timeseries import m4_buckets

    (
        m4_buckets(batch_df)
        .groupBy("user_id", "bucket")
        .agg(
            F.min("v").alias("v_min"),
            F.max("v").alias("v_max"),
            F.expr("min_by(v, ok)").alias("v_first"),
            F.min("ok").alias("ok_min"),
            F.expr("max_by(v, ok)").alias("v_last"),
            F.max("ok").alias("ok_max"),
            F.count(F.lit(1)).alias("n_points"),
        )
        .withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .partitionBy("batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(os.path.join(output_dir, "m4"))
    )


def read_m4(spark: SparkSession, output_dir: str) -> DataFrame:
    """Serving view: merged M4 cells, projected to the batch query's
    schema (operators/timeseries.py:q_m4_downsample) — min/max of
    partial min/max, first/last via min_by/max_by on the partial
    order-key extrema, counts summed."""
    partials = _read_dir(spark, os.path.join(output_dir, "m4"))
    return (
        partials.drop("batch_id")
        .groupBy("user_id", "bucket")
        .agg(
            F.min("v_min").cast("double").alias("v_min"),
            F.max("v_max").cast("double").alias("v_max"),
            F.expr("min_by(v_first, ok_min)").cast("double").alias("v_first"),
            F.expr("max_by(v_last, ok_max)").cast("double").alias("v_last"),
            F.sum("n_points").cast("long").alias("n_points"),
        )
    )


def write_batch_fanout(
    batch_df: DataFrame,
    batch_id: int,
    output_dir: str,
    recorder: MetricsRecorder | None = None,
) -> None:
    """K1: one micro-batch -> history sink + incremental rollup; the
    latest view is virtual (read_latest) with periodic compaction. The
    reference wrote its two sinks per batch from a
    ThreadPoolExecutor(max_workers=1) — i.e. serially (SURVEY appendix).

    When a :class:`MetricsRecorder` is supplied, each sink write and the
    whole batch are timed and the per-batch row count recorded — the
    reference's per-batch monitoring/alerting (stream-processor.py:
    113-120, 295-320) as a testable hook. The row count is an in-plan
    ``observe()`` metric accumulated DURING the first sink write — zero
    extra jobs (the reference re-counts the batch, an extra pass that at
    real scale doubles the read)."""
    t0 = time.monotonic()
    if batch_df.isEmpty():  # F3 empty-batch guard, without the RDD detour
        return
    obs = None
    if recorder is not None:
        from pyspark.sql import Observation

        obs = Observation(f"fanout_batch_{batch_id}")
        batch_df = batch_df.observe(obs, F.count(F.lit(1)).alias("rows"))
    batch_df = batch_df.persist()  # read by both sinks; O(batch) rows
    try:
        t1 = time.monotonic()
        write_history(batch_df, batch_id, output_dir)
        t2 = time.monotonic()
        write_rollup(batch_df, batch_id, output_dir)
        t3 = time.monotonic()
        if recorder is not None:
            recorder.record(
                batch_id=batch_id,
                n_rows=int(obs.get["rows"]),  # filled by the history write
                sink_seconds={"history": t2 - t1, "rollup": t3 - t2},
                total_seconds=time.monotonic() - t0,
            )
    finally:
        batch_df.unpersist()


# --- data lifecycle: key purge + batch retention ---------------------------
# The two maintenance operations the batch-partitioned history layout
# makes cheap, completing the lifecycle story (ingest -> serve ->
# time-travel -> retire):
#
# * purge_keys (GDPR "right to be forgotten"): rewrite ONLY the batch
#   partitions that actually contain a purged key (found with one
#   key-column scan + semi join), via broadcast anti-join + dynamic
#   partition overwrite. Untouched partitions keep their files byte for
#   byte — cost ∝ affected partitions, not table size.
# * expire_batches (retention): a batch partition is an immutable
#   directory, so retiring history older than a cutoff is a partition
#   DROP — O(1) per expired batch, no rewrite, and read_history_asof
#   over remaining batches is unaffected.
#
# Caveat (documented, inherent to physical deletion): purge/expire
# change what time-travel reads can see — as-of reads reconstruct the
# PURGED view of old batches, which is exactly what a legal erasure
# requires.


def purge_partitioned_rows(
    spark: SparkSession, path: str, keys: DataFrame, key_cols
) -> int:
    """Physically delete every row of the batch-partitioned parquet dir
    ``path`` where ANY of ``key_cols`` appears in single-column
    ``keys`` (already distinct; its column is renamed to each key col
    in turn, so hash semi/anti joins apply — never an OR-condition
    nested-loop join). Returns the number of batch partitions touched,
    each counted ONCE however many columns hit it (review r15). The
    SINGLE definition of the partition-purge step, shared by the
    history sink's GDPR purge, the ingest corpus' forget path, and the
    phash artifact's purge (whose pair reports carry the victim on
    either side).

    Rewrites ONLY affected partitions (semi-join discovery per column
    over pruned (col, batch_id) projections, then ONE broadcast
    anti-join-chain rewrite). CRITICAL subtlety: dynamic partition
    overwrite replaces only partitions PRESENT in the written frame —
    a partition whose EVERY row is a victim produces zero rows, would
    not be overwritten at all, and would silently keep the victims'
    data on disk (a reported-success non-erasure). Fully-victim
    partitions are therefore removed outright, AFTER the survivor
    rewrite lands: a crash between the two leaves the victims
    discoverable, and re-running the purge finishes the removal."""
    import shutil

    key_cols = tuple(key_cols)
    kname = keys.columns[0]

    # A fully-forgotten table (every partition already purged) leaves a
    # base dir with no parquet files: schema inference would raise and
    # wedge the re-run/replay this function's crash contract depends
    # on. No partitions == nothing to purge.
    if not _has_batches(path):
        return 0
    df = _read_dir(spark, path)
    affected = set()
    for c in key_cols:
        affected |= {
            r.batch_id
            for r in df.select(c, "batch_id")
            .join(F.broadcast(keys.withColumnRenamed(kname, c)), c, "left_semi")
            .select("batch_id")
            .distinct()
            .collect()
        }
    if not affected:
        return 0
    remaining = df.where(F.col("batch_id").isin(list(affected)))
    for c in key_cols:
        remaining = remaining.join(
            F.broadcast(keys.withColumnRenamed(kname, c)), c, "left_anti"
        )
    remaining = remaining.localCheckpoint()  # two consumers: the
    # survivor-partition listing and the rewrite — one scan of the
    # affected partitions
    with_survivors = [
        r.batch_id for r in remaining.select("batch_id").distinct().collect()
    ]
    if with_survivors:
        (
            remaining.write.mode("overwrite")
            .partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(path)
        )
    for bid in affected - set(with_survivors):
        shutil.rmtree(os.path.join(path, f"batch_id={bid}"))
    return len(affected)


def purge_keys(
    spark: SparkSession,
    output_dir: str,
    keys_df: DataFrame,
    key_col: str = LATEST_KEY,
) -> int:
    """Physically delete every history row whose ``key_col`` appears in
    ``keys_df`` (single column, same name). Returns the number of batch
    partitions rewritten."""
    hist_path = os.path.join(output_dir, "history")
    keys = keys_df.select(key_col).distinct()
    if keys.isEmpty():
        return 0
    # recover-at-entry: a crash-pending swap means ``latest`` is absent
    # while the staged dir still holds the victims — the isdir check
    # below would then skip the cache purge, and a LATER recover_latest
    # would resurrect the purged keys into the serving view.
    recover_latest(spark, output_dir)
    affected = purge_partitioned_rows(spark, hist_path, keys, (key_col,))
    # The compacted serving view, if materialized, must also forget.
    # NOT a rebuild from history: the cache legitimately serves keys
    # whose only history partitions were expired by retention (that is
    # WHY read_latest unions it), so a history-only recompute would drop
    # them. Purge must remove exactly the victims — anti-join the cache
    # and swap it in with the shared tmp-cleanup/recovery discipline.
    latest_path = os.path.join(output_dir, "latest")
    if os.path.isdir(latest_path):
        purged = _read_dir(spark, latest_path).join(
            F.broadcast(keys), key_col, "left_anti"
        )
        _swap_latest(purged, spark, output_dir)
    return affected


def expire_batches(
    spark: SparkSession, output_dir: str, keep_from_batch_id: int
) -> int:
    """Retention: drop every history batch partition with
    batch_id < ``keep_from_batch_id``. Pure directory removal — no data
    rewrite. Returns the number of partitions dropped.

    Local-filesystem path ops, like the rest of this parquet-dir sink
    family; on HDFS/S3 the drop becomes the same O(1) per-partition
    delete through the Hadoop FileSystem API."""
    import shutil

    hist_path = os.path.join(output_dir, "history")
    dropped = 0
    for name in sorted(os.listdir(hist_path)):
        if not name.startswith("batch_id="):
            continue
        bid = int(name.split("=", 1)[1])
        if bid < keep_from_batch_id:
            shutil.rmtree(os.path.join(hist_path, name))
            dropped += 1
    return dropped
