"""foreachBatch fan-out sinks (SURVEY §2.2 K1-K4, T6).

The reference fans each micro-batch out to Cassandra (history) and Redis
(latest-per-key) from a foreachBatch callback (stream-processor.py:283-324,
337-342) with non-atomic dual writes — at-least-once. Our engine keeps the
foreachBatch shape but makes the sinks *idempotent* so checkpoint-recovery
re-runs converge (effective exactly-once):

* history sink (K2 analog): parquet partitioned by a stable batch epoch —
  re-running batch N overwrites only batch N's partition; rows are
  time-sorted newest first within each file, like the Cassandra
  clustering order (cassandra-setup.cql:22-23). The batch is written in
  its own partitioning: no read prunes on a clustering column, so a
  shuffle would only add a job and cap the write's tasks.
* the batch's two sink writes (history, rollup) run concurrently from
  :func:`write_batch_fanout`, over one persisted copy of the batch.
* latest view (K3 analog): NOT rewritten per batch. A keyed latest-wins
  table rewritten every micro-batch costs O(total_keys) per batch — it is
  the classic accidental-quadratic streaming sink and capped measured
  throughput at ~5k events/s. Instead:
  - ``compact_latest`` periodically folds the view into the ``latest``
    snapshot, a compacted fold artifact like the partial sinks below.
    Its horizon is the largest history batch id it has absorbed, and a
    fold reads only the snapshot and the history batches above it:
    O(snapshot + new batches), not O(all history). History partitions
    are never absorbed (removed): time-travel reads need them.
  - ``read_latest`` computes latest-wins over the snapshot plus the
    history batches above its horizon (a partition-pruned filter on
    ``batch_id``); without a snapshot, over all history. Latest-wins is
    associative and idempotent, so this is the answer over all history.

Every batch-partition write, partition listing and partition drop here
goes through ``fold.py``, the one owner of the ``batch_id`` layout
(``fold.write_batch``, ``fold.batch_ids``, ``fold.drop_batch``), and so
does every install of a compacted artifact, the snapshot included: this
module moves no directory itself and keeps only each sink's own row
shape and file layout. At scale nothing here collects to the driver,
and per-batch work is proportional to the batch, not the table.

The associative partial sinks are one table: each family (``ROLLUP``,
``SKETCH``, ``HLL``, ``QHIST``, ``MOMENTS``, ``M4``, and the quality
stream's ``QSTATS``) is a :class:`Partial` of a subdir, a ``partial``
that maps a batch to partial rows and a closed ``merge`` that maps
partial rows to partial rows of the same schema. One
:func:`write_partial`, :func:`read_partial` and :func:`compact_partial`
serve them all: the write recovers a pending install at entry and
no-ops a replay of a batch at or below the fold horizon, the read
refuses an install that crashed midway (``fold.check_servable``) and
merges every partition, and the fold (:func:`_fold_partials`, shared
with the gram and phash artifacts) merges exactly the planned batch
ids with that same merge and installs the result through the package's
one fold-and-install protocol (``fold.py``, shared with the text and
IVF indexes) with no replay margin.

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
* a miss (any write, install, compaction, purge, expiry or in-place
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
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from functools import reduce
from typing import Callable

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import fold
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


def write_history(batch_df: DataFrame, batch_id: int, output_dir: str) -> None:
    """Idempotent append: batch-id partition overwrite (K2 analog),
    time-sorted newest first within each of the batch's own partitions
    (no shuffle; see the module docstring)."""
    fold.write_batch(
        batch_df.sortWithinPartitions(F.desc("event_time")),
        batch_id,
        os.path.join(output_dir, "history"),
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


def _snapshot_horizon(output_dir: str) -> int:
    """The largest history batch id folded into the latest snapshot, or
    -1 (below every batch id) when there is no snapshot. A snapshot
    without a horizon was written by the retired whole-dir swap, which
    recorded none: it is refused, since the history it absorbed cannot
    be told apart from the history it did not."""
    live = os.path.join(output_dir, "latest")
    if not os.path.isdir(live):
        return -1
    horizon = fold.read_horizon(live)
    if horizon is None:
        raise ValueError(
            f"{live} has no compaction horizon (written by the retired "
            "snapshot swap): rebuild it — remove it and run compact_latest"
        )
    return horizon


def read_latest(spark: SparkSession, output_dir: str) -> DataFrame:
    """Latest row per key: latest-wins over the compacted snapshot plus
    the history batches above its horizon (see the module docstring).
    Only a MISSING snapshot directory means history alone: the snapshot
    may hold the sole copy of keys whose history batches were
    retention-expired, so a corrupt snapshot raises at execution, and a
    snapshot whose install crashed midway raises here."""
    hist_path = os.path.join(output_dir, "history")
    snap_path = os.path.join(output_dir, "latest")
    fold.check_servable(output_dir, "latest")
    horizon = _snapshot_horizon(output_dir)
    parts = []
    # retention (expire_batches) or a purge may legitimately remove
    # EVERY history partition, and a purge may empty the snapshot; a
    # file-less dir has no schema to infer, so branch before reading
    if fold.batch_ids(hist_path):
        parts.append(
            _read_dir(spark, hist_path).where(F.col("batch_id") > horizon)
        )
    if fold.COMPACTED_BATCH_ID in fold.batch_ids(snap_path):
        parts.append(_read_dir(spark, snap_path))
    if not parts:
        raise ValueError(
            f"nothing to serve under {output_dir}: history holds no "
            "batch partitions and the compacted snapshot holds no rows"
        )
    return _latest_wins(reduce(DataFrame.unionByName, parts))


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
    if not fold.batch_ids(hist_path):
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


def compact_latest(spark: SparkSession, output_dir: str) -> None:
    """Fold the history batches above the snapshot's horizon into the
    snapshot through the fold install (amortized; idempotent). The new
    horizon is the largest history id listed BEFORE the read: a batch
    that lands during the read may be folded too, which is harmless
    (latest-wins is idempotent) and folded again next time. No history
    partition is absorbed: time-travel reads still need them. Recovers
    a crash-pending install at entry, so a re-run never rebuilds over
    a snapshot whose only copy waits in the staging."""
    fold.recover(output_dir, "latest")
    listed = fold.batch_ids(os.path.join(output_dir, "history"))
    horizon = max(listed | {_snapshot_horizon(output_dir)})
    fold.stage_and_install(
        read_latest(spark, output_dir), output_dir, "latest", [], horizon
    )


# --- associative partial sinks: one table (see the module docstring) -------
# The Cassandra table's PK ((content_id), event_time) exists to serve
# per-key time-range analytics (cassandra-setup.cql:22; README "drop-off
# detection"). The engine maintains them as associative partials, one
# partition per micro-batch. Each ``merge`` is closed (counters add,
# registers max, extrema min/max, same schema in and out), so merged rows
# are again a partial: the compacted partition and later batch partitions
# read together, and a fold can absorb a previous fold.

ROLLUP_WINDOW = "1 hour"


@dataclass(frozen=True)
class Partial:
    subdir: str
    partial: Callable[[DataFrame], DataFrame]
    merge: Callable[[DataFrame], DataFrame]


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


def _sketch_partial(df: DataFrame) -> DataFrame:
    """Count-min cells of ``user_id``: O(W x D) state per batch whatever
    the key cardinality."""
    from ..operators.sketches import CM_DEPTH, _cm_slot

    cells = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("depth"),
                        _cm_slot(F.col("user_id"), d).alias("slot"),
                    )
                    for d in range(CM_DEPTH)
                ]
            )
        ).alias("c")
    ).select("c.depth", "c.slot")
    return cells.groupBy("depth", "slot").agg(F.count(F.lit(1)).alias("n"))


def _hll_partial(df: DataFrame) -> DataFrame:
    """HLL registers of ``user_id`` per ``event_type``: |groups| x m rows
    per batch."""
    from ..operators.sketches import HLL_K, HLL_M, _hll_hash_spark

    h = _hll_hash_spark("user_id")
    cells = df.select(
        F.col("event_type").alias("grp"),
        F.expr(f"{h} % {HLL_M}").alias("bucket"),
        F.expr(f"{h} div {HLL_M}").alias("rem"),
    ).select(
        "grp",
        "bucket",
        F.when(F.col("rem") == 0, F.lit(HLL_K))
        .otherwise(F.lit(HLL_K) - F.length(F.bin("rem")))
        .alias("rho"),
    )
    return cells.groupBy("grp", "bucket").agg(F.max("rho").alias("m_j"))


def _qhist_partial(df: DataFrame) -> DataFrame:
    """Quantile-histogram counters of ``cents`` per ``o_orderpriority``
    (operators/distribution.py); percentiles served from the merged
    table (quantiles_from_hist) equal the one-pass sketch's."""
    from ..operators.distribution import quantile_hist

    return quantile_hist(df, "o_orderpriority", "cents")


def _moments_partial(df: DataFrame) -> DataFrame:
    """Per-user integer moments (n, s, ss) for the z-score outlier
    detector (operators/relational.py)."""
    from ..operators.relational import event_moments, quantize_events

    return event_moments(quantize_events(df))


def _m4_partial(df: DataFrame) -> DataFrame:
    """Per (user_id, hour bucket) M4 cells: min/max value plus the
    (order-key, value) pairs for first/last. Values stay DECIMAL so
    merges are exact."""
    from ..operators.timeseries import m4_buckets

    return _merge_m4(m4_buckets(df).select(
        "user_id", "bucket",
        F.col("v").alias("v_min"), F.col("v").alias("v_max"),
        F.col("v").alias("v_first"), F.col("ok").alias("ok_min"),
        F.col("v").alias("v_last"), F.col("ok").alias("ok_max"),
        F.lit(1).cast("long").alias("n_points"),
    ))


def _merge_m4(partials: DataFrame) -> DataFrame:
    return partials.groupBy("user_id", "bucket").agg(
        F.min("v_min").alias("v_min"),
        F.max("v_max").alias("v_max"),
        F.expr("min_by(v_first, ok_min)").alias("v_first"),
        F.min("ok_min").alias("ok_min"),
        F.expr("max_by(v_last, ok_max)").alias("v_last"),
        F.max("ok_max").alias("ok_max"),
        F.sum("n_points").alias("n_points"),
    )


def _cellwise(agg, keys, *cols):
    """A counter (``F.sum``) or register (``F.max``) merge: ``agg`` of
    each of ``cols`` per ``keys``, which keeps each column's type."""
    return lambda partials: partials.groupBy(*keys).agg(
        *[agg(c).alias(c) for c in cols]
    )


ROLLUP = Partial(
    "rollup",
    _rollup_partial,
    _cellwise(
        F.sum, ("bucket_start", "event_type"),
        "n", "sum_duration", "sum_engagement_seconds",
    ),
)
SKETCH = Partial(
    "sketch", _sketch_partial, _cellwise(F.sum, ("depth", "slot"), "n")
)
HLL = Partial("hll", _hll_partial, _cellwise(F.max, ("grp", "bucket"), "m_j"))
QHIST = Partial(
    "qhist",
    _qhist_partial,
    _cellwise(F.sum, ("grp", "bucket_id", "est_lo", "est_hi"), "n"),
)
MOMENTS = Partial(
    "moments", _moments_partial, _cellwise(F.sum, ("user_id",), "n", "s", "ss")
)
M4 = Partial("m4", _m4_partial, _merge_m4)


def _stamp_or_read_marker(
    output_dir: str, name: str, value: str
) -> list[str] | None:
    """The artifact-root configuration-marker skeleton, ONE spelling
    for every maintained-artifact stream (review r15 — gram_ingest
    stamps K/key-type/cleaned-mode, phash_ingest stamps the Hamming
    threshold; a third copy of the stamp/read mechanics was the drift
    risk): on first contact atomically stamp ``value`` and return None;
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
        fold.atomic_write(marker, value)
        return None


def _fold_partials(output_dir: str, subdir: str, read_partials, merge) -> None:
    """Fold every batch partition of ``output_dir/subdir`` into the
    compacted partition through the shared protocol (``fold.py``) with
    no replay margin: recover at entry, then ``merge`` — the merge the
    sink's reader applies — over ``read_partials()`` restricted to
    exactly the planned source ids. Without a new batch partition it
    does nothing."""
    fold.recover(output_dir, subdir)
    live = os.path.join(output_dir, subdir)
    absorb, src_ids = fold.plan(live, keep_last=0)
    if not absorb:
        return
    partials = (
        read_partials()
        .where(F.col("batch_id").isin(src_ids))
        .drop("batch_id")
    )
    fold.stage_and_install(
        merge(partials),
        output_dir,
        subdir,
        absorb,
        fold.next_horizon(live, absorb),
    )


def write_partial(
    p: Partial, batch_df: DataFrame, batch_id: int, output_dir: str
) -> None:
    """Write ``batch_df``'s partial rows as partition ``batch_id`` of
    family ``p``: recover a crash-pending install first, and no-op a
    replay of a batch already folded into the compacted partition."""
    fold.recover(output_dir, p.subdir)
    live = os.path.join(output_dir, p.subdir)
    if fold.folded(live, batch_id):
        return  # already in the compacted partition: replay is a no-op
    fold.write_batch(p.partial(batch_df), batch_id, live)


def read_partial(spark: SparkSession, p: Partial, output_dir: str) -> DataFrame:
    """Serving view of family ``p``: the merge of every partition,
    equal to ``p.merge(p.partial(all batches))``."""
    fold.check_servable(output_dir, p.subdir)
    partials = _read_dir(spark, os.path.join(output_dir, p.subdir))
    return p.merge(partials.drop("batch_id"))


def compact_partial(spark: SparkSession, p: Partial, output_dir: str) -> None:
    """Fold every batch partition of family ``p`` into the compacted
    partition (amortized O(distinct keys)); readers see the same rows
    before and after."""
    path = os.path.join(output_dir, p.subdir)
    _fold_partials(output_dir, p.subdir, lambda: _read_dir(spark, path), p.merge)


def write_rollup(batch_df: DataFrame, batch_id: int, output_dir: str) -> None:
    write_partial(ROLLUP, batch_df, batch_id, output_dir)


def read_rollup(spark: SparkSession, output_dir: str) -> DataFrame:
    return read_partial(spark, ROLLUP, output_dir)


def compact_rollup(spark: SparkSession, output_dir: str) -> None:
    compact_partial(spark, ROLLUP, output_dir)


def read_m4(spark: SparkSession, output_dir: str) -> DataFrame:
    """Merged M4 cells in the batch query's schema
    (operators/timeseries.py:q_m4_downsample): values as doubles, no
    order keys."""
    return read_partial(spark, M4, output_dir).select(
        "user_id",
        "bucket",
        *[F.col(c).cast("double").alias(c)
          for c in ("v_min", "v_max", "v_first", "v_last")],
        "n_points",
    )


def _timed(write, *args) -> float:
    t = time.monotonic()
    write(*args)
    return time.monotonic() - t


def write_batch_fanout(
    batch_df: DataFrame,
    batch_id: int,
    output_dir: str,
    recorder: MetricsRecorder | None = None,
) -> None:
    """K1: one micro-batch -> history sink + incremental rollup; the
    latest view is virtual (read_latest) with periodic compaction.

    The two sink writes run at once, one pool thread each, over the one
    persisted batch: both must read the same rows (an unordered
    ``limit()`` or a Kafka source is not stable across recomputation).
    The reference meant its two writes to run in parallel but used a
    ThreadPoolExecutor(max_workers=1), i.e. ran them serially (SURVEY
    appendix). Each thread inherits the caller's local properties and
    session tags (``inheritable_thread_target``), so the writes stay in
    the micro-batch's job group and SQL execution and a stopped query
    cancels them. Both writes are always waited for: a failure of one
    is raised after the other has finished, and the batch is unpersisted
    either way.

    An empty batch writes nothing: a zero-row dynamic-overwrite write
    creates no ``batch_id`` partition (F3, without a probe job).

    When a :class:`MetricsRecorder` is supplied, each sink write and the
    whole batch are timed and a non-empty batch is recorded — the
    reference's per-batch monitoring/alerting (stream-processor.py:
    113-120, 295-320) as a testable hook. The row count is an in-plan
    ``observe()`` metric on the history write's input, so only that
    write fills it (on the shared persisted plan it would be reported by
    whichever write finished first, possibly before the other's tasks
    counted): no extra job (the reference re-counts the batch, an extra
    pass that at real scale doubles the read), and it decides whether a
    record is made. Each sink's seconds are its own wall time;
    the writes overlap, so the two can sum to more than the batch's."""
    t0 = time.monotonic()
    batch_df = batch_df.persist()
    history_in, obs = batch_df, None
    if recorder is not None:
        from pyspark.sql import Observation

        obs = Observation(f"fanout_batch_{batch_id}")
        history_in = batch_df.observe(obs, F.count(F.lit(1)).alias("rows"))
    writes = {
        "history": (write_history, history_in),
        "rollup": (write_rollup, batch_df),
    }
    try:
        with ThreadPoolExecutor(max_workers=2) as pool:
            # one wrapper per write: each clones the caller's properties,
            # which a shared clone would leak between the two threads
            futures = {
                sink: pool.submit(
                    inheritable_thread_target(batch_df.sparkSession)(_timed),
                    write, df, batch_id, output_dir,
                )
                for sink, (write, df) in writes.items()
            }
        sink_seconds = {sink: f.result() for sink, f in futures.items()}
        n_rows = int(obs.get["rows"]) if obs is not None else 0
        if n_rows:
            recorder.record(
                batch_id,
                n_rows=n_rows,
                sink_seconds=sink_seconds,
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
    key_cols = tuple(key_cols)
    kname = keys.columns[0]

    # A fully-forgotten table (every partition already purged) leaves a
    # base dir with no parquet files: schema inference would raise and
    # wedge the re-run/replay this function's crash contract depends
    # on. No partitions == nothing to purge.
    if not fold.batch_ids(path):
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
        fold.write_partitions(remaining, path)
    for bid in affected - set(with_survivors):
        fold.drop_batch(path, bid)
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
    # recover-at-entry: a crash-pending install may hold the only copy
    # of the snapshot — purging around it would let a LATER recovery
    # resurrect the victims into the serving view
    fold.recover(output_dir, "latest")
    horizon = _snapshot_horizon(output_dir)
    affected = purge_partitioned_rows(spark, hist_path, keys, (key_col,))
    # The compacted serving view must also forget. NOT a rebuild from
    # history: the snapshot legitimately serves keys whose only history
    # partitions were expired by retention, so a history-only recompute
    # would drop them. Anti-join the snapshot and install it with its
    # horizon unchanged; a zero-row result installs an empty snapshot.
    latest_path = os.path.join(output_dir, "latest")
    if fold.COMPACTED_BATCH_ID in fold.batch_ids(latest_path):
        purged = (
            _read_dir(spark, latest_path)
            .drop("batch_id")
            .join(F.broadcast(keys), key_col, "left_anti")
        )
        fold.stage_and_install(purged, output_dir, "latest", [], horizon)
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
    hist_path = os.path.join(output_dir, "history")
    dropped = 0
    for bid in sorted(fold.batch_ids(hist_path)):
        if bid < keep_from_batch_id:
            fold.drop_batch(hist_path, bid)
            dropped += 1
    return dropped
