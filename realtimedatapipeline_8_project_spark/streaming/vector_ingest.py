"""Streaming vector ingestion with incremental ANN-index maintenance —
the embeddings-side twin of :mod:`ingest`: vectors arrive as a stream
(vec_id, embedding), each micro-batch quantizes and assigns against the
FROZEN stored codebook (a row-local fold over the broadcast centroids —
zero corpus shuffle), and appends its inverted-list partition + 1-row
drift stats (operators/similarity.py:write_ivf_batch — idempotent
dynamic overwrite, horizon-guarded). The maintenance knobs ride the
same batch grain as the text index's:

* ``compact_every=N`` folds old list partitions every N batches with
  keep_last=1 — the replayable newest batch is never absorbed
  (compact_ivf_lists; the package's one fold protocol, fold.py).
* ``retrain_on_drift=True`` ACTS on the aging signal: at batch ENTRY,
  if the newest COMMITTED drift stats crossed IVF_DRIFT_RATIO,
  retrain_ivf rebuilds under a fresh codebook trained on the current
  population and installs it atomically. Entry placement alone is NOT
  enough for replay safety: if batch N's write landed but its offsets
  never committed, N's replay re-enters this check with N's own stats
  on disk — an unbounded retrain would absorb N (horizon = N) and
  write_ivf_batch(N) would then refuse forever. The check therefore
  passes ``max_batch = batch_id - 1`` (the committed frontier,
  guaranteed by Structured Streaming's invoke-N+1-only-after-N-commits
  order): the decision reads committed stats only, the rebuild absorbs
  committed partitions only, and a half-landed partition of the
  in-flight batch is dropped by the install and immediately re-written
  by the very body that ran the check — under the new codebook, past
  the recorded horizon. A crash-replay after a landed retrain re-runs
  the check against the already-reset drift history (no double
  retrain; the batch's own partition re-overwrite stays idempotent).

Codebook bootstrap: if no codebook is stored yet, the first non-empty
batch trains one (deterministic low-discrepancy seed pick + one Lloyd
iteration — frozen_ivf_codebook's discipline over the batch instead of
the fixture seeds), so a cold stream self-starts and drift later tells
us when those first-arrival centroids have aged out. The train is
deterministic in the batch content, so a crash-replay of batch 0
rebuilds the identical codebook.

vec_id uniqueness is the PRODUCER's contract (the natural composition:
the dedup ingest loop admits each doc once, and embeddings are emitted
for newly-kept docs only) — the loop never re-scans the lists to
re-check it, which is exactly what keeps per-batch cost proportional
to the batch. Malformed rows (NULL id, NULL/empty vector) are dropped
at the gate, the ingest.py F3 discipline.

Failure policy: any maintenance read/install error raises and fails
the micro-batch so the checkpoint replays it; recovery of half-landed
installs (compaction or retrain staging) runs BEFORE the tree is
touched, so a crashed fold is finished, never double-counted.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.similarity import (
    IVF_CODEBOOK,
    IVFT_K,
    _km_assign,
    _km_quantize,
    _km_update,
    _seed_centroids,
    codebook_seeds,
    compact_ivf_lists,
    recover_ivf_compaction,
    recover_ivf_retrain,
    retrain_ivf,
    write_ivf_batch,
)
from .pipeline import _foreach_batch

_CODEBOOK_TMP = "_codebook_tmp"


def _codebook(
    spark: SparkSession, delta_q: DataFrame, index_dir: str, k: int
) -> DataFrame:
    """The stored frozen codebook, trained from ``delta_q`` on first
    call (cold-start bootstrap, deterministic in the batch content).

    Cold means ``codebook/`` holds no data file: absent, or only the
    ``_temporary`` scratch a killed direct write leaves. The trained
    codebook is written to a sibling staging dir and renamed into
    place, so ``codebook/`` holds data only when it is whole; a read
    failure of a stored codebook raises."""
    path = os.path.join(index_dir, IVF_CODEBOOK)
    if not _has_data(path):
        seeds = codebook_seeds(delta_q, k)
        cents = _km_update(
            _km_assign(delta_q, _seed_centroids(delta_q, seeds))
        )
        staging = os.path.join(index_dir, _CODEBOOK_TMP)
        shutil.rmtree(staging, ignore_errors=True)
        cents.write.parquet(staging)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(staging, path)
    return spark.read.parquet(path)


def _has_data(path: str) -> bool:
    """True iff ``path`` is a dir with an entry parquet readers do not
    skip (a name not starting with ``_`` or ``.``)."""
    return os.path.isdir(path) and any(
        not name.startswith(("_", ".")) for name in os.listdir(path)
    )


def vector_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_dir: str,
    compact_every: int | None = None,
    retrain_on_drift: bool = False,
    k: int = IVFT_K,
) -> None:
    """foreachBatch body: gate, maintain (recover -> retrain check),
    assign against the frozen codebook, append the batch's list
    partition + drift stats, optionally fold old partitions."""
    spark = batch_df.sparkSession
    delta = batch_df.select("vec_id", "embedding").where(
        F.col("vec_id").isNotNull()
        & F.col("embedding").isNotNull()
        & (F.size("embedding") > 0)
    )
    if delta.isEmpty():
        return
    # finish anything a crash left half-landed BEFORE touching the tree
    recover_ivf_retrain(spark, index_dir)
    recover_ivf_compaction(spark, index_dir)
    if retrain_on_drift:
        # entry-point check bounded to the committed frontier: batches
        # < batch_id have durably committed offsets (Structured
        # Streaming invokes N+1 only after N commits), while batch_id's
        # OWN stats/lists may exist half-landed from a crashed prior
        # attempt of this very batch — a retrain absorbing those would
        # set horizon = batch_id and wedge the replay forever (see
        # module docstring)
        retrain_ivf(spark, index_dir, max_batch=batch_id - 1)
    delta_q = _km_quantize(delta)
    cents = _codebook(spark, delta_q, index_dir, k)
    write_ivf_batch(_km_assign(delta_q, cents), batch_id, index_dir)
    if compact_every and (batch_id + 1) % compact_every == 0:
        # keep_last=1: the newest (still replayable) batch partition is
        # never absorbed — same argument as the text index's knob
        compact_ivf_lists(spark, index_dir, keep_last=1)


def run_vector_ingest(
    vec_stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    compact_every: int | None = None,
    retrain_on_drift: bool = False,
    k: int = IVFT_K,
) -> StreamingQuery:
    """Drain ``vec_stream`` (vec_id, embedding) into the incrementally
    grown IVF index with availableNow semantics (process what has
    arrived, then stop; a production run swaps in a processing-time
    trigger, nothing else changes)."""
    return _foreach_batch(
        vec_stream,
        checkpoint_dir,
        lambda df, bid: vector_ingest_batch(
            df,
            bid,
            index_dir,
            compact_every=compact_every,
            retrain_on_drift=retrain_on_drift,
            k=k,
        ),
    )
