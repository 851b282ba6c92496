"""Streaming quality-classifier maintenance: the sufficient-statistics
form of ``operators/quality_filter.py`` as a mergeable sink.

The trainer's whole input is 28 additive integers (the 6x6 Gram upper
triangle, X'y, and n — see the operator module), so the streaming form
needs no new math: each micro-batch writes ONE partial-stats row (its
own batch's sums) into its batch partition, the serving view merges
partitions by SUM, and training runs the identical driver-local GD on
the merged row. Stream == batch is an EXACT integer identity (int64
sums are associative/commutative), pinned per the gram_ingest
precedent in tests/test_quality_ingest.py.

Crash contract: the stream is the partial-sink table's ``QSTATS``
family (``sinks.Partial``), so ``sinks.write_partial`` writes it —
recover-at-entry, the folded-batch replay no-op guard against the fold
horizon (a partial-stats replay after folding would DOUBLE-COUNT its
sums into the Gram matrix, exactly the rollup hazard), idempotent
dynamic partition overwrite for unfolded replays — and the package's one
fold protocol (``fold.py``, through ``sinks._fold_partials``) folds all
partials into one compacted row. Only the reader and the fold keep
their own spelling: both read with the explicit schema, so a cold or
zero-partition artifact serves the all-zero identity row.

At 100 TB: the per-batch exchange is one combined 28-value row; the
artifact is O(batches) rows of 28 integers until compaction folds it
to exactly one; training cost never touches the corpus again. The
plant (label-by-degradation) is doc-local, so planting per batch
equals planting on the union — the identity the stream==batch pin
relies on."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.quality_filter import (
    _D,
    _gd_weights,
    _stats_agg_exprs,
    _stats_row_to_Ac,
    _training_corpus,
    _with_features,
)
from .. import fold
from .pipeline import _foreach_batch
from .sinks import Partial, _fold_partials, write_partial

QSTATS_SUBDIR = "quality_stats"

_STAT_COLS = (
    ["n"]
    + [f"s_{j}_{k}" for j in range(_D) for k in range(j, _D)]
    + [f"b_{j}" for j in range(_D)]
)
_STATS_SCHEMA = ", ".join(f"{c} bigint" for c in _STAT_COLS)


def _partial_stats(feats: DataFrame) -> DataFrame:
    """One combined partial-stats row for a (featured, labeled) frame —
    the operator's shared agg spelling verbatim (review r15: two
    hand-maintained copies of the 28 expressions were the exact drift
    hazard cut_projection was factored out to prevent). An all-filtered
    batch still writes the all-zero identity row (n=0)."""
    return feats.agg(*_stats_agg_exprs())


def read_quality_stats(spark: SparkSession, output_dir: str) -> DataFrame:
    """Serving view: the merged sufficient statistics (one row).
    Explicit schema (the artifact-read discipline): a zero-partition
    dir reads as the typed empty frame -> the merge is the all-zero
    identity row; a MISSING artifact maps to the same cold state. An
    install that crashed midway is refused."""
    fold.check_servable(output_dir, QSTATS_SUBDIR)
    path = os.path.join(output_dir, QSTATS_SUBDIR)
    if not os.path.isdir(path):
        partials = spark.createDataFrame([], _STATS_SCHEMA)
    else:
        partials = fold.read_batches(spark, path, _STATS_SCHEMA)
    return _merge_stats(partials)


def _merge_stats(partials: DataFrame) -> DataFrame:
    return partials.agg(
        *[F.coalesce(F.sum(c), F.lit(0)).alias(c) for c in _STAT_COLS]
    )


QSTATS = Partial(
    QSTATS_SUBDIR,
    # plant the per-doc degradation labels, featurize, then ONE row
    lambda batch: _partial_stats(_with_features(_training_corpus(batch))),
    _merge_stats,
)


def train_from_stats_artifact(
    spark: SparkSession, output_dir: str
) -> list[int]:
    """The operator's exact training on the maintained artifact: merge
    the partials (one bounded 28-value driver read) and run the same
    driver-local integer GD. A cold or all-empty artifact trains to
    the documented zero weights."""
    row = read_quality_stats(spark, output_dir).collect()[0]
    n, A, c = _stats_row_to_Ac(row)
    if n == 0:
        return [0] * _D
    return _gd_weights(A, c)[0]


def compact_quality_stats(spark: SparkSession, output_dir: str) -> None:
    """Fold all partial rows into one compacted row (the shared fold
    protocol). Amortized O(1)."""
    path = os.path.join(output_dir, QSTATS_SUBDIR)
    _fold_partials(
        output_dir,
        QSTATS_SUBDIR,
        lambda: fold.read_batches(spark, path, _STATS_SCHEMA),
        _merge_stats,
    )


def run_quality_ingest(
    doc_stream: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    compact_every: int | None = None,
) -> StreamingQuery:
    """Drain ``doc_stream`` (doc_id, text) through the stats-maintenance
    loop with availableNow semantics (the run_gram_ingest shape)."""

    def _body(df: DataFrame, bid: int) -> None:
        write_partial(QSTATS, df, bid, output_dir)
        if compact_every and (bid + 1) % compact_every == 0:
            compact_quality_stats(df.sparkSession, output_dir)

    return _foreach_batch(doc_stream, checkpoint_dir, _body)
