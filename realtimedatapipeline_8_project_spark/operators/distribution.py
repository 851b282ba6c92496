"""Distribution profiling over unbounded key/value spaces (SURVEY §2.13
"novel sketch" scale extensions; training-data pipelines profile 100 TB
column distributions before curation thresholds are chosen).

Two operators, both exact-integer DataFrame programs with full DuckDB
oracles, both designed so the ONLY exchange is sketch-sized — never the
raw value or key space:

* ``dist_quantile_hist`` — mergeable HDR-style log2/linear histogram
  quantiles (per group): every value lands in a deterministic integer
  bucket (octave = bit length, ``QH_SUB`` linear sub-buckets per octave,
  values below ``QH_SUB`` get exact singleton buckets), so the groupBy
  exchange carries at most ``groups x 64 x QH_SUB`` counter rows
  regardless of fact size, counters merge by addition (the streaming /
  multi-shard merge is plain SUM — pinned by a merge-identity test), and
  the q-th percentile is read out of the cumulative counts with pure
  integer arithmetic (``cum*100 >= q*n`` is ``cum >= ceil(q*n/100)``).
  The answer is an exact [est_lo, est_hi] bucket envelope containing the
  true percentile, with relative width <= 1/QH_SUB above the singleton
  range. Bucket math is bit-identical across engines: bit length via
  ``length(bin(x))`` (no leading zeros in either engine), shifts and
  integer division only — no log()/pow() floats anywhere.

* ``dist_heavy_hitters`` — EXACT phi-frequent keys (count >= total/
  ``HH_FRAC``) in two phases without ever shuffling the distinct-key
  space. Phase 1 (candidates): one Arrow-batched ``mapInPandas`` pass
  accumulates per-PARTITION counts and emits only keys with
  ``partial * HH_FRAC >= partition_rows`` — the WEIGHTED pigeonhole: if
  sum_p partial_p >= sum_p n_p / F then some partition has
  partial_p >= n_p / F, so every globally-frequent key is emitted by at
  least one partition (no false negatives), while each partition emits
  at most HH_FRAC keys — at most HH_FRAC * P candidate rows cluster-wide,
  where P is the number of input SPLITS: small in absolute terms at
  fixture scale, but P-dependent (100 TB / 128 MB splits => P ~ 800k =>
  worst case ~80M candidate rows), so NOT unconditionally broadcastable.
  The rule is purely partition-local:
  no driver read, no global count job over the corpus — the same pass
  emits one sentinel row per partition carrying its row count, so the
  global total is a candidate-sized SUM over the (persisted, eagerly
  materialized) pass output and the whole query makes exactly TWO
  corpus scans (candidates + verify; optimization r16). Phase 2 (verify): an
  UNHINTED LEFT SEMI join keeps only candidate rows (AQE broadcasts the
  candidate set at runtime when it is actually small, and falls back to
  a shuffled semi-join when P makes it large), one map-side-
  combined groupBy produces exact counts, and the final filter
  cross-multiplies against an in-plan 1-row SUM frame
  (``n * HH_FRAC >= total`` — exact integers, no ratio floats). The
  result is EXACT and partitioning-invariant (pinned by a repartition
  test), unlike Misra-Gries/SpaceSaving whose summaries depend on
  arrival order. Per-task memory is bounded by the distinct keys of one
  input split (<= rows per spark.sql.files.maxPartitionBytes), not by
  the global key space.

The reference has no sketch surface (its engine is 353 lines of Kafka
wiring, processing-layer/stream-processor.py); these extend the north-
star training-pipeline surface beside sketches.py's count-min/HLL.

Registration: EARMARKED (r13+ slots per plans/registry.py capacity
policy) — module intentionally NOT imported by plans/registry.py yet,
the hybrid.py precedent. Oracle gate + plan pins run in
tests/test_distribution.py with the same harness the driver uses.
"""

from __future__ import annotations

import weakref
from typing import Iterator

import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.tables import load_table
from .text_analysis import _O_TOKS, normalized_text, words

# --- mergeable log-histogram quantiles --------------------------------------

QH_SUB = 16  # linear sub-buckets per octave -> relative error <= 1/16
QH_PCTS = (50, 90, 99)  # percentiles served by the registered query


def _bucket_exprs(x: str) -> dict[str, str]:
    """Shared integer bucket math, Spark SQL spelling. x must be a
    non-negative BIGINT expression — ENFORCED, not assumed (review r13,
    the m4-order-key discipline): a negative value would silently fall
    into the singleton branch and give every distinct negative its own
    bucket, degrading the bounded sketch to per-value cardinality with
    no error; the engine raises instead. Octave = bit length of x
    (exact via the length of the minimal binary string); values
    < QH_SUB are their own singleton bucket (ids 0..QH_SUB-1, disjoint
    from octave ids which start at 5*QH_SUB)."""
    bits = f"length(bin({x}))"
    base = f"shiftleft(CAST(1 AS BIGINT), {bits} - 1)"
    step = f"({base} div {QH_SUB})"
    sub = f"(({x} - {base}) div {step})"
    lo = f"({base} + {sub} * {step})"
    return {
        "bucket_id": (
            f"CAST(CASE WHEN {x} < 0 THEN CAST(raise_error(CONCAT("
            f"'quantile_hist needs non-negative values, got ', "
            f"CAST({x} AS STRING))) AS BIGINT) "
            f"WHEN {x} < {QH_SUB} THEN {x} "
            f"ELSE CAST({bits} AS BIGINT) * {QH_SUB} + {sub} END AS BIGINT)"
        ),
        "est_lo": (
            f"CAST(CASE WHEN {x} < {QH_SUB} THEN {x} ELSE {lo} END AS BIGINT)"
        ),
        "est_hi": (
            f"CAST(CASE WHEN {x} < {QH_SUB} THEN {x} "
            f"ELSE {lo} + {step} - 1 END AS BIGINT)"
        ),
    }


def _bucket_exprs_duck(x: str) -> dict[str, str]:
    """The identical math in DuckDB's dialect: `//` for integer div,
    `<<` for the shift. Every intermediate is the same BIGINT in both
    engines (fixture values are far below the 2^62 shift ceiling)."""
    bits = f"length(bin({x}))"
    base = f"(CAST(1 AS BIGINT) << ({bits} - 1))"
    step = f"({base} // {QH_SUB})"
    sub = f"(({x} - {base}) // {step})"
    lo = f"({base} + {sub} * {step})"
    return {
        "bucket_id": (
            f"CAST(CASE WHEN {x} < {QH_SUB} THEN {x} "
            f"ELSE CAST({bits} AS BIGINT) * {QH_SUB} + {sub} END AS BIGINT)"
        ),
        "est_lo": (
            f"CAST(CASE WHEN {x} < {QH_SUB} THEN {x} ELSE {lo} END AS BIGINT)"
        ),
        "est_hi": (
            f"CAST(CASE WHEN {x} < {QH_SUB} THEN {x} "
            f"ELSE {lo} + {step} - 1 END AS BIGINT)"
        ),
    }


def quantile_hist(df: DataFrame, grp: str, x: str) -> DataFrame:
    """(grp, bucket_id, est_lo, est_hi, n): the mergeable sketch. ONE
    map-side-combined aggregation; the exchange carries counter rows
    only (<= |groups| * 64 * QH_SUB). Two sketches over disjoint row
    sets merge by summing n per (grp, bucket) — tests pin
    hist(A) (+) hist(B) == hist(A UNION ALL B)."""
    e = _bucket_exprs(x)
    cells = df.selectExpr(
        f"{grp} AS grp",
        f"{e['bucket_id']} AS bucket_id",
        f"{e['est_lo']} AS est_lo",
        f"{e['est_hi']} AS est_hi",
    )
    return cells.groupBy("grp", "bucket_id", "est_lo", "est_hi").agg(
        F.count(F.lit(1)).alias("n")
    )


def merge_hists(*hists: DataFrame) -> DataFrame:
    """Merge sketches from disjoint shards/micro-batches: counts add.
    (est_lo/est_hi are functions of bucket_id, so they group through.)
    Requires at least one sketch — a shard discovery that found none is
    a caller bug surfaced loudly, not an opaque IndexError."""
    if not hists:
        raise ValueError("merge_hists needs at least one histogram frame")
    u = hists[0]
    for h in hists[1:]:
        u = u.unionByName(h)
    return u.groupBy("grp", "bucket_id", "est_lo", "est_hi").agg(
        F.sum("n").alias("n")
    )


def quantiles_from_hist(hist: DataFrame, pcts=QH_PCTS) -> DataFrame:
    """Integer percentile read-out: per group, the answer bucket for q
    is the smallest bucket_id whose cumulative count reaches
    ceil(q * n_total / 100) — spelled cum*100 >= q*n_total so no
    division happens. The window runs over counter rows (sketch-sized),
    never data rows."""
    w_cum = Window.partitionBy("grp").orderBy("bucket_id")
    w_all = Window.partitionBy("grp")
    cum = hist.select(
        "grp",
        "bucket_id",
        F.sum("n").over(w_cum).alias("cum"),
        F.sum("n").over(w_all).alias("n_total"),
    )
    qs = F.explode(F.array(*[F.lit(int(p)) for p in pcts])).alias("q_pct")
    eligible = cum.select("grp", "bucket_id", "cum", "n_total", qs).filter(
        F.col("cum") * 100 >= F.col("q_pct") * F.col("n_total")
    )
    ans = eligible.groupBy("grp", "q_pct").agg(
        F.min("bucket_id").alias("bucket_id"), F.max("n_total").alias("n_total")
    )
    bounds = hist.select("grp", "bucket_id", "est_lo", "est_hi")
    return ans.join(bounds, ["grp", "bucket_id"]).select(
        "grp",
        F.col("q_pct").cast("long").alias("q_pct"),
        "n_total",
        "est_lo",
        "est_hi",
    )


def q_quantile_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p90/p99 envelope of order totals (exact cents) per order
    priority, served from the mergeable log-histogram."""
    orders = load_table(spark, sf_dir, "orders")
    df = orders.selectExpr(
        "o_orderpriority",
        "CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents",
    )
    return quantiles_from_hist(quantile_hist(df, "o_orderpriority", "cents"))


def _oracle_quantile_hist() -> str:
    e = _bucket_exprs_duck("cents")
    return f"""
WITH vals AS (
  SELECT o_orderpriority AS grp,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
), cells AS (
  SELECT grp, {e['bucket_id']} AS bucket_id,
         {e['est_lo']} AS est_lo, {e['est_hi']} AS est_hi
  FROM vals
), hist AS (
  SELECT grp, bucket_id, est_lo, est_hi, COUNT(*) AS n
  FROM cells GROUP BY grp, bucket_id, est_lo, est_hi
), cum AS (
  SELECT grp, bucket_id,
         SUM(n) OVER (PARTITION BY grp ORDER BY bucket_id) AS cum,
         SUM(n) OVER (PARTITION BY grp) AS n_total
  FROM hist
), qs AS (SELECT * FROM (VALUES (50), (90), (99)) AS t(q_pct)),
ans AS (
  SELECT c.grp, q.q_pct, MIN(c.bucket_id) AS bucket_id,
         MAX(c.n_total) AS n_total
  FROM cum c CROSS JOIN qs q
  WHERE c.cum * 100 >= q.q_pct * c.n_total
  GROUP BY c.grp, q.q_pct
)
SELECT a.grp, CAST(a.q_pct AS BIGINT) AS q_pct,
       CAST(a.n_total AS BIGINT) AS n_total, h.est_lo, h.est_hi
FROM ans a JOIN hist h ON a.grp = h.grp AND a.bucket_id = h.bucket_id
"""


# --- exact two-phase heavy hitters ------------------------------------------

HH_FRAC = 100  # heavy = at least 1/HH_FRAC (1%) of all rows

# nullable extension dtypes: the sentinel key slot is NULL, which a
# plain numpy int64 cannot hold and numpy str silently stringifies to
# "None" — any other numpy dtype would turn the sentinel into NaN or a
# "None" string and corrupt the totals, so only these are accepted
_NULLABLE_PD_DTYPES = {"int64": "Int64", "str": "string"}


def _nullable_pd_dtype(pd_dtype: str) -> str:
    try:
        return _NULLABLE_PD_DTYPES[pd_dtype]
    except KeyError:
        raise ValueError(
            f"pd_dtype {pd_dtype!r} has no nullable mapping for the "
            f"candidate pass's NULL sentinel; use one of "
            f"{sorted(_NULLABLE_PD_DTYPES)}"
        ) from None


def _release_with(result: DataFrame, cached: DataFrame) -> DataFrame:
    """Tie ``cached``'s storage to ``result``'s lifetime: the persisted
    candidate pass is unpersisted (its CacheManager entry removed) as
    soon as the caller drops the returned frame, so repeated calls never
    accumulate cache entries. A frame derived from ``result`` that
    outlives it stays correct — it recomputes the candidate pass."""

    def release(cached=cached) -> None:
        try:
            cached.unpersist()
        except Exception:
            pass  # session already stopped: its cache went with it

    weakref.finalize(result, release).atexit = False
    return result


def _make_partition_candidates(frac: int, col: str, pd_dtype: str):
    """Build the per-partition candidate generator as a SELF-CONTAINED
    closure (cloudpickle ships it by value — module-level functions
    pickle by reference and break under the driver's vanilla session,
    whose workers can't import this package): accumulate exact per-key
    counts across the partition's Arrow batches, emit keys holding
    >= 1/frac of THIS partition's rows. Weighted pigeonhole makes the
    union over partitions a superset of every global heavy hitter; the
    emit bound is <= frac keys per partition by construction.

    The SAME pass also emits one sentinel row per partition (key NULL,
    ``part_rows`` = the partition's row count; candidate rows carry
    NULL ``part_rows``) so the global total is a candidate-sized SUM
    over sentinels instead of its own corpus scan (optimization r16,
    guide §1.2/§6: the total-count leg was a third full pass over the
    key lineage). Keys are non-null by the operator contract, so NULL
    is an unambiguous marker."""

    pd_dtype = _nullable_pd_dtype(pd_dtype)

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        counts: dict = {}
        n = 0
        for pdf in it:
            n += len(pdf)
            for k, v in pdf[col].value_counts().items():
                counts[k] = counts.get(k, 0) + int(v)
        out = [k for k, v in counts.items() if v * frac >= n]
        yield _pd.DataFrame(
            {
                col: _pd.array(out + [None], dtype=pd_dtype),
                "part_rows": _pd.array([None] * len(out) + [n], dtype="Int64"),
            }
        )

    return gen


def heavy_hitters(
    df: DataFrame,
    col: str = "user_id",
    spark_type: str = "long",
    pd_dtype: str = "int64",
) -> DataFrame:
    """Exact keys with >= 1/HH_FRAC of df's rows; df = a single non-null
    key column. Candidate-sized exchanges only (see module docstring).

    The candidate semi-join is deliberately UNHINTED: candidates are
    bounded by HH_FRAC x P where P is the number of input SPLITS, and at
    100 TB / 128 MB splits P ~ 800k, so the worst case is ~80M candidate
    rows — a forced broadcast there would be a driver/executor OOM, the
    exact MaxScore failure mode VERDICT r11 #4 named. AQE broadcasts the
    distinct candidate set at runtime whenever it is ACTUALLY small
    (the common case), and degrades to a graceful shuffled semi-join
    when it is not. Only the 1-row total frame keeps its hint.

    Corpus passes (optimization r16, guide §1.2/§6): TWO, down from
    three. The candidate mapInPandas pass also carries each partition's
    row count (sentinel rows); its candidate-sized output is persisted
    and eagerly materialized (ONE corpus scan — the eager count keeps
    the candidate and total consumers from racing to compute the
    cache; exchange reuse cannot merge them instead, because the
    optimizer pushes each branch's group-key filter below its
    aggregate and specializes the subtrees), and both the candidate
    set and the global total are then sub-millisecond reads of the
    cached frame. The only other corpus scan is the verify semi-join.
    The persist is an in-query intermediate recomputed on every
    invocation — never a cross-run result cache — and is released when
    the caller drops the returned frame (:func:`_release_with`)."""
    keys = df.select(col)
    cand_pass = keys.mapInPandas(
        _make_partition_candidates(HH_FRAC, col, pd_dtype),
        f"{col} {spark_type}, part_rows long",
    ).persist(StorageLevel.MEMORY_AND_DISK)
    cand_pass.count()  # eager: one corpus pass fills the cache
    cands = cand_pass.where(F.col(col).isNotNull()).select(col).distinct()
    total = cand_pass.agg(F.sum("part_rows").alias("total"))
    return _release_with(
        keys.join(cands, col, "left_semi")  # unhinted: AQE decides
        .groupBy(col)
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("n") * HH_FRAC >= F.col("total"))
        .select(col, "n"),
        cand_pass,
    )


def _make_grouped_candidates(frac: int, grp: str, col: str, pd_dtypes):
    """Grouped form of the candidate pass: the weighted pigeonhole holds
    PER GROUP (if cnt_{g,k} >= n_g/frac over partitions then some
    partition has partial_{g,k} >= n_{g,p}/frac), so the local rule
    compares each (group, key) partial against THAT GROUP's rows in the
    partition. Emits <= frac keys per (group, partition).

    Like the ungrouped form, the same pass emits one sentinel row per
    (group, partition) — key NULL, ``part_rows`` = that group's row
    count in this partition — so the per-group totals come from a
    candidate-sized SUM instead of a third corpus scan."""
    pd_dtypes = tuple(_nullable_pd_dtype(d) for d in pd_dtypes)

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        counts: dict = {}
        gn: dict = {}
        for pdf in it:
            for g, v in pdf[grp].value_counts().items():
                gn[g] = gn.get(g, 0) + int(v)
            for (g, k), v in pdf.groupby([grp, col]).size().items():
                counts[(g, k)] = counts.get((g, k), 0) + int(v)
        out_g, out_k, out_n = [], [], []
        for (g, k), v in counts.items():
            if v * frac >= gn[g]:
                out_g.append(g)
                out_k.append(k)
                out_n.append(None)
        for g, n in gn.items():
            out_g.append(g)
            out_k.append(None)
            out_n.append(n)
        yield _pd.DataFrame(
            {
                grp: _pd.array(out_g, dtype=pd_dtypes[0]),
                col: _pd.array(out_k, dtype=pd_dtypes[1]),
                "part_rows": _pd.array(out_n, dtype="Int64"),
            }
        )

    return gen


def heavy_hitters_grouped(
    df: DataFrame,
    grp: str,
    col: str,
    schema: str,
    pd_dtypes=("str", "str"),
) -> DataFrame:
    """Exact per-group heavy hitters: (grp, col, n) where n >= 1/HH_FRAC
    of grp's TOTAL rows. Same two phases as :func:`heavy_hitters`; the
    final threshold cross-multiplies against the per-group total (an
    unhinted group-keyed count frame — groups are bounded by the group
    domain, AQE broadcasts small ones). The candidate semi-join is
    unhinted for the same P-dependence reason as :func:`heavy_hitters`:
    <= HH_FRAC keys per (group, partition) still scales with the split
    count P, so AQE decides the join strategy at runtime.

    Corpus passes: TWO, down from three (optimization r16) — the
    candidate pass carries per-(group, partition) row counts, so the
    per-group totals are candidate-sized reads of the persisted,
    eagerly-materialized pass instead of their own corpus scan (see
    :func:`heavy_hitters`)."""
    keys = df.select(grp, col)
    cand_pass = keys.mapInPandas(
        _make_grouped_candidates(HH_FRAC, grp, col, pd_dtypes),
        f"{schema}, part_rows long",
    ).persist(StorageLevel.MEMORY_AND_DISK)
    cand_pass.count()  # eager: see heavy_hitters
    cands = (
        cand_pass.where(F.col(col).isNotNull()).select(grp, col).distinct()
    )
    totals = (
        cand_pass.where(F.col(col).isNull())
        .groupBy(grp)
        .agg(F.sum("part_rows").alias("total"))
    )
    return _release_with(
        keys.join(cands, [grp, col], "left_semi")  # unhinted: AQE decides
        .groupBy(grp, col)
        .agg(F.count(F.lit(1)).alias("n"))
        .join(totals, grp)  # unhinted: group-domain-bounded
        .filter(F.col("n") * HH_FRAC >= F.col("total"))
        .select(grp, col, "n"),
        cand_pass,
    )


def q_heavy_hitters_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-LANGUAGE vocabulary heavy hitters (>= 1% of that language's
    token occurrences) — the per-group stop-list scan. Same tokenizer,
    same pigeonhole, applied within each lang partition of the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    # ONE tokenizer, imported from text_analysis (review r13: this was
    # the 4th hand-inlined copy of the inverted-index tokenizer); the
    # != '' filter drops the empty token a whitespace-only document
    # splits to — both engines would otherwise count it IDENTICALLY, so
    # the oracle gate could never catch '' surfacing as a heavy hitter
    terms = docs.select(
        "lang", F.explode(words(normalized_text("text"))).alias("term")
    ).filter(
        F.col("term").isNotNull()
        & (F.col("term") != "")
        & F.col("lang").isNotNull()
    )
    return heavy_hitters_grouped(
        terms, "lang", "term", "lang string, term string"
    )


ORACLE_HEAVY_HITTERS_GROUPED = f"""
WITH terms AS (
  SELECT lang, unnest({_O_TOKS}) AS term
  FROM documents
), t AS (
  SELECT lang, term FROM terms
  WHERE lang IS NOT NULL AND term IS NOT NULL AND term <> ''
), totals AS (
  SELECT lang, COUNT(*) AS total FROM t GROUP BY lang
)
SELECT t.lang, t.term, COUNT(*) AS n
FROM t JOIN totals USING (lang)
GROUP BY t.lang, t.term, totals.total
HAVING COUNT(*) * {HH_FRAC} >= totals.total
"""


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary heavy hitters: terms carrying >= 1% of all token
    occurrences across the corpus, exactly — the pre-curation scan that
    finds stop-words/boilerplate before stop-lists are chosen. Token =
    the engine's standard whitespace-normalized lowercase split (the
    inverted-index tokenizer). The term key space is the natural
    unbounded-cardinality heavy-hitter domain (Zipf at corpus scale;
    the fixture's one below-threshold rare term pins the exclusion
    side). The events.user_id twin stays a test-only helper: every
    synthetic key column in the fixtures is near-uniform, so a
    fixed-phi query over them goes empty at larger SFs."""
    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select(
        F.explode(words(normalized_text("text"))).alias("term")
    ).filter(F.col("term").isNotNull() & (F.col("term") != ""))
    return heavy_hitters(terms, col="term", spark_type="string", pd_dtype="str")


# the DuckDB spelling of the same tokenizer, shared with text_analysis
_O_TERMS = _O_TOKS

ORACLE_HEAVY_HITTERS = f"""
WITH terms AS (
  SELECT unnest({_O_TERMS}) AS term FROM documents
)
SELECT term, COUNT(*) AS n
FROM terms
WHERE term IS NOT NULL AND term <> ''
GROUP BY term
HAVING COUNT(*) * {HH_FRAC} >= (
  SELECT COUNT(*) FROM terms WHERE term IS NOT NULL AND term <> ''
)
"""


QUERIES = {
    "dist_quantile_hist": (q_quantile_hist, _oracle_quantile_hist()),
    "dist_heavy_hitters": (q_heavy_hitters, ORACLE_HEAVY_HITTERS),
}

# Permanent earmark tier (plans/registry.py capacity decision): same
# pigeonhole machinery as the registered dist_heavy_hitters, per-group —
# oracle-gated every build by tests/test_distribution.py.
EARMARKS = {
    "dist_heavy_hitters_grouped": (
        q_heavy_hitters_grouped,
        ORACLE_HEAVY_HITTERS_GROUPED,
    ),
}
