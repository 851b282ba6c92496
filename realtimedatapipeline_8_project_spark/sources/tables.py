"""Batch table loaders over the driver parquet fixtures (TESTDATA.md).

The reference reads its dimension via a JDBC snapshot with manual column
pruning (stream-processor.py:254-266); in our engine the same operator is a
parquet scan and pruning/pushdown is left to Catalyst (SURVEY.md §4) — a
``.select``/``.filter`` downstream reaches the scan as ReadSchema /
PushedFilters. JDBC remains a drop-in alternative behind the same call.
"""

from __future__ import annotations

import os
import stat
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _parquet_has_nanos_ts(path: str, column: str = "ts") -> bool:
    """True iff the parquet file/dir stores ``column`` as TIMESTAMP(NANOS).

    Footer-only pyarrow probe (no data pages read) so the Spark-side
    ``nanosAsLong`` legacy conf is touched ONLY for files that need it —
    there is no per-read datasource option for it in Spark 4.x
    (ParquetOptions: mergeSchema/compression/rebase modes only)."""
    try:
        import pyarrow.dataset as ds
        import pyarrow as pa

        field = ds.dataset(path, format="parquet").schema.field(column)
        return pa.types.is_timestamp(field.type) and field.type.unit == "ns"
    except Exception:
        # unknown layout/column: leave session conf untouched; the plain
        # read below surfaces any real incompatibility
        return False


# Per-session DataFrame memo (optimization r15). Building a parquet
# DataFrame costs a JVM round-trip, a listing of the input and — for a
# directory — a Spark job that infers the schema, and it repeats for
# EVERY query invocation or serving request — a real application reads
# a relation once and reuses the plan until its input changes. The memo
# stores the resolved relation only (file index + schema): every action
# still scans the parquet input (this is plan reuse, not result
# caching). One entry per (applicationId, absolute path), holding the
# input's _artifact_stamp next to the DataFrame; a read whose stamp
# differs rebuilds and REPLACES the entry, so a new session, a
# regenerated fixture or a sink rewritten every batch is never served
# a stale plan and never accumulates dead handles. Two users: fixture
# tables (load_table) and sink directories (streaming/sinks.py).
_TABLE_MEMO: dict[tuple, tuple[tuple, DataFrame]] = {}
_VIEWS_MEMO: dict[str, tuple] = {}


# Artifact-readability memo (optimization r15): every index/codebook
# builder re-probed its on-disk artifact with 1-3 ``limit(1)`` Spark
# jobs on EVERY serving call. Artifact roots already encode fixture
# identity (path fingerprints) and are never hand-deleted (verify
# skill contract) — once a root has been probed readable (or freshly
# built) in this session, later calls skip the probe. Content reads
# are untouched: every query still reads the artifact parquet itself.
_ARTIFACT_OK: set[tuple] = set()


def _artifact_stamp(root: str) -> tuple | None:
    """Layout fingerprint of a file or directory tree: (size, mtime_ns,
    inode) of the root plus (relative path, size, mtime_ns, inode) of
    EVERY entry below it at every depth. Create/delete/rename anywhere adds or drops an entry;
    an IN-PLACE overwrite or truncation of any file — which moves no
    parent's mtime (ADVICE r15) — changes that file's own size/mtime;
    a rename-based install (the sinks' write-then-swap, the compaction
    install) gives the installed entries new inodes even when a coarse
    filesystem clock leaves size and mtime equal. Depth is unbounded:
    incremental-index artifacts sit three levels deep
    (root/postings/batch_id=N/part-*.parquet) and sink directories are
    batch-partitioned trees. A memoized verification or relation can
    therefore never survive a change a fresh read would see (pinned by
    tests/test_artifact_stamp.py and tests/test_sink_read_memo.py).
    Symlinked directories are followed once (a link cycle is stamped,
    not walked). Returns None when the root does not exist; non-path
    keys (bucketed catalog tables) never reach here — their existence
    is re-checked via the catalog on every call."""
    try:
        st = os.stat(root)
    except OSError:
        return None
    entries: list[tuple] = []
    seen = {(st.st_dev, st.st_ino)}

    def _scan(base: str, prefix: str) -> None:
        try:
            with os.scandir(base) as it:
                found = sorted(it, key=lambda e: e.name)
        except OSError:
            return
        for e in found:
            try:
                est = e.stat()
            except OSError:
                entries.append((prefix + e.name, -1, -1, -1))
                continue
            entries.append(
                (prefix + e.name, est.st_size, est.st_mtime_ns, est.st_ino)
            )
            if stat.S_ISDIR(est.st_mode) and (est.st_dev, est.st_ino) not in seen:
                seen.add((est.st_dev, est.st_ino))
                _scan(e.path, prefix + e.name + "/")

    _scan(root, "")
    return (st.st_size, st.st_mtime_ns, st.st_ino, tuple(entries))


def _evict_other_apps(app: str) -> None:
    """Drop memo entries from other (stopped) sessions (VERDICT r15 #3:
    the memos are keyed by applicationId but nothing ever removed dead
    sessions' DataFrame handles, so a long test process that creates
    many sessions accumulated them). Only one SparkContext — hence one
    applicationId — is live per process, so seeing a new app id means
    every other app's entries are dead; evicting them costs a rebuild
    at worst, never correctness. Iterates over snapshots: serving
    threads read and fill the memos concurrently."""
    for k in [k for k in list(_TABLE_MEMO) if k[0] != app]:
        _TABLE_MEMO.pop(k, None)
    for k in [k for k in list(_ARTIFACT_OK) if k[0] != app]:
        _ARTIFACT_OK.discard(k)
    for k in [k for k in list(_VIEWS_MEMO) if k != app]:
        _VIEWS_MEMO.pop(k, None)


def artifact_verified(spark: SparkSession, root: str) -> bool:
    key = (
        spark.sparkContext.applicationId,
        root,
        _artifact_stamp(root) if os.path.sep in root else None,
    )
    return key in _ARTIFACT_OK


def mark_artifact_verified(spark: SparkSession, root: str) -> None:
    app = spark.sparkContext.applicationId
    _evict_other_apps(app)
    _ARTIFACT_OK.add(
        (
            app,
            root,
            _artifact_stamp(root) if os.path.sep in root else None,
        )
    )


def memoized_read(
    spark: SparkSession, path: str, build: Callable[[], DataFrame]
) -> DataFrame:
    """``build()`` — the read of ``path`` — memoized in _TABLE_MEMO
    while ``path``'s _artifact_stamp is unchanged. A hit returns the
    DataFrame the last build made (same session object, same stamp);
    anything else builds afresh and replaces the entry. A missing path
    is never memoized: ``build()`` runs and fails exactly like a fresh
    read. The stamp is taken BEFORE the build, so a write racing the
    build can only leave an entry older than what it holds — the next
    read misses, never serves a stale relation."""
    stamp = _artifact_stamp(path)
    app = spark.sparkContext.applicationId
    key = (app, os.path.abspath(path))
    hit = _TABLE_MEMO.get(key)
    if (
        stamp is not None
        and hit is not None
        and hit[0] == stamp
        and hit[1].sparkSession is spark
    ):
        return hit[1]
    df = build()
    if stamp is not None:
        _evict_other_apps(app)
        _TABLE_MEMO[key] = (stamp, df)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table. Columnar parquet scan; Catalyst prunes.

    ``events.parquet`` fixtures have shipped with three different physical
    encodings of ``ts`` across driver generations, and every downstream
    operator assumes a session-TZ ``TimestampType`` (``unix_micros`` etc.
    reject TIMESTAMP_NTZ):

    - TIMESTAMP(NANOS): Spark's vectorized reader rejects it by default; we
      read nanos as long (``nanosAsLong``) and convert with integer ``div``
      — the same truncation DuckDB applies — keeping the scan vectorized.
      The legacy conf has no read-option-scoped form, so it is latched on
      the session — but only after a footer probe proves this file actually
      stores nanos (a micros-encoded load never mutates session state).
      Engine-built sessions pin the conf at build time (session.py); the
      latch here covers vanilla sessions such as the driver's.
    - TIMESTAMP_MICROS(isAdjustedToUTC=false): Spark 4.x reads this as
      TIMESTAMP_NTZ; we cast to ``timestamp``. The session TZ is pinned UTC
      (session.py), so wall-clock values — and all DuckDB oracles — are
      unchanged.
    - TIMESTAMP_MICROS(isAdjustedToUTC=true): already session-TZ
      TimestampType; passes through untouched."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    return memoized_read(
        spark, path, lambda: _load_table_uncached(spark, path, name)
    )


def _load_table_uncached(
    spark: SparkSession, path: str, name: str
) -> DataFrame:
    if name == "events":
        if _parquet_has_nanos_ts(path):
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        ts_type = dict(df.dtypes).get("ts")
        from pyspark.sql import functions as F

        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(path)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for spark.sql() use.

    Memoized per session on the LAST registered fixture identity
    (optimization r15: ~1 s per call measured — 10 plan builds + 10
    catalog round-trips — repeated by every spark.sql-spelled query):
    re-registering the same unchanged sf_dir is a no-op; a different
    sf_dir, or any fixture file whose (size, mtime) changed, always
    re-registers. Semantics are unchanged because the views are
    name-bound plans — execution still scans the current parquet.

    Fixture view names are owned EXCLUSIVELY by register_views (ADVICE
    r15): session code must not drop or shadow temp views named after
    fixture tables, or a memo-honoring call would leave the foreign
    binding in place. Nothing in the engine or its tests does; callers
    embedding the engine keep the same contract."""
    app = spark.sparkContext.applicationId
    ident = tuple(
        (os.path.abspath(p), _artifact_stamp(p))
        for p in (os.path.join(sf_dir, f"{n}.parquet") for n in TABLE_NAMES)
    )
    if _VIEWS_MEMO.get(app) == ident:
        return
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    _evict_other_apps(app)
    _VIEWS_MEMO[app] = ident


def load_jdbc_dim(
    spark: SparkSession,
    url: str,
    table: str,
    user: str,
    password: str,
    num_partitions: int = 4,
    fetchsize: int = 10_000,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    driver: str | None = None,
) -> DataFrame:
    """JDBC dimension snapshot — same options as the reference
    (stream-processor.py:254-263: fetchsize=10000, numPartitions=4).

    NOTE the reference quirk its options hide: Spark's JDBC source
    ignores ``numPartitions`` on read unless ``partitionColumn`` +
    bounds are also given — the reference's snapshot is actually a
    single-partition read. Pass ``partition_column``/``lower_bound``/
    ``upper_bound`` for the genuinely parallel scan (N range-split
    queries); tested end-to-end against the embedded Derby engine
    bundled with Spark (tests/test_jdbc_source.py), so this leg is no
    longer environment-gated."""
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("user", user)
        .option("password", password)
        .option("fetchsize", str(fetchsize))
        .option("numPartitions", str(num_partitions))
    )
    if driver is not None:
        reader = reader.option("driver", driver)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
        )
    return reader.load()
