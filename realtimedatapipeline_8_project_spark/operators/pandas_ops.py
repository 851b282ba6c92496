"""Pandas-UDF surface (SURVEY §2.11).

The reference's only UDF is a row-at-a-time Python scalar (`ensure_uuid`,
stream-processor.py:33-38) — replaced JVM-side in this engine. The blessed
Python escape hatches, when built-ins genuinely can't express the logic:

* ``applyInPandas`` group-map (UDAF-equivalent): whole group in, whole
  result out, Arrow-batched. Example: per-user OLS trend of engagement
  value over time — a regression per group is not expressible with
  built-in aggregates alone (it is with enough algebra; the point here is
  the operator shape and its exactness contract).
* scalar ``pandas_udf``: vectorized elementwise transforms.

Both keep data in Arrow columnar batches — 10-100x less overhead than
row-at-a-time UDFs; the group-map shuffles once on the grouping key.

Exactness contract (the dq_outliers integer-twin discipline applied to a
Python-side operator): the OLS moments are computed with EXACT integer
arithmetic — values half-up quantized to centi-units
(``floor(v*100 + 0.5)``, exact IEEE double ops), times as integer seconds
since the group's first event — summed as arbitrary-precision Python ints,
and the 6-dp half-up rounding of the slope is one exact integer floor
division. The only float steps are a < 2^53 int -> double conversion and
one IEEE division by 1e6, identical in every engine, so the DuckDB oracle
(same moments in HUGEINT, same floor division spelled with a
mod-normalized ``//`` — DuckDB's ``//`` truncates toward zero while
Python's floors) is bit-identical at any partition count.

Bounds: exact while |n*Stv - St*Sv| * 8.64e8 < 1.7e38 (HUGEINT) and the
rounded slope/mean micro-units stay < 2^53 — about 12 orders of magnitude
above the sf0.1 fixture's worst case.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from ..sources.tables import load_table

TREND_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), False),
        StructField("n_events", LongType(), False),
        StructField("slope_per_day", DoubleType(), True),
        StructField("mean_value", DoubleType(), True),
    ]
)


def user_trend(events: DataFrame) -> DataFrame:
    """Group-map: one shuffle on user_id, one Arrow batch per group.

    Per-user OLS slope of value (in original units) per DAY over seconds-
    resolution time offsets, plus the 6-dp mean — both bit-identical to the
    module-level integer recurrence (see module docstring).

    The group function is a self-contained closure (shipped by value via
    cloudpickle) so workers never need this package importable.

    NULL policy (explicit, matched by the oracle's WHERE): rows with a
    NULL/NaN value or NULL ts are EXCLUDED from the regression — they
    carry no observation. The filter runs JVM-side before the shuffle
    (pushes to the scan), and the closure drops NaN defensively as well
    (Arrow delivers SQL NULL as NaN in a float64 column, where
    math.floor would raise instead of matching SQL's NULL-ignoring
    aggregates). A user whose every event is NULL disappears from the
    output, exactly as in the oracle."""

    def _trend(pdf: pd.DataFrame) -> pd.DataFrame:
        import math

        pdf = pdf.dropna(subset=["value", "ts"])
        user_id = int(pdf["user_id"].iloc[0])
        # Spark timestamps are exact micros; ns -> us is lossless
        us = pdf["ts"].astype("datetime64[us]").astype("int64").tolist()
        us0 = min(us)
        t = [(u - us0) // 1_000_000 for u in us]  # seconds since first event
        v100 = [int(math.floor(v * 100 + 0.5)) for v in pdf["value"].tolist()]
        n = len(v100)
        st, sv = sum(t), sum(v100)
        stt = sum(x * x for x in t)
        stv = sum(x * y for x, y in zip(t, v100))
        num = n * stv - st * sv
        den = n * stt - st * st  # >= 0 (Cauchy-Schwarz); 0 iff constant t
        if den > 0:
            # slope in value-units/day, half-up at 6 dp, as ONE exact
            # integer floor division: v100/100 per second * 86400 * 1e6
            slope_micro = (2 * num * 864_000_000 + den) // (2 * den)
            slope = float(slope_micro) / 1e6
        else:
            slope = None
        mean_micro = (2 * sv * 10_000 + n) // (2 * n)
        return pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n],
                "slope_per_day": [slope],
                "mean_value": [float(mean_micro) / 1e6],
            }
        )

    observed = events.where(
        F.col("value").isNotNull()
        & ~F.isnan("value")
        & F.col("ts").isNotNull()
    )
    return observed.groupBy("user_id").applyInPandas(
        _trend, schema=TREND_SCHEMA
    )


def _floor_div(a, b):
    """Exact floor division of two Spark columns with b > 0: subtract the
    mod-normalized remainder (pmod matches Python's % for positive b),
    then the IntegralDivide is remainder-free, so its truncation IS the
    floor. Mirrors the oracle's ``_fdiv`` spelling."""
    return F.expr(f"({a} - pmod({a}, {b})) div ({b})")


def user_trend_native(events: DataFrame) -> DataFrame:
    """The production spelling of :func:`user_trend`: the identical
    integer OLS recurrence computed entirely JVM-side (optimization r15,
    guide §4.1/§2.3 — built-ins over group-map). Row-identical to the
    pandas spelling (machine-pinned in tests/test_pandas_ops.py) and to
    the unchanged DuckDB oracle.

    Why this beats the group-map at scale: applyInPandas ships EVERY
    event row across the JVM->Arrow->Python boundary and runs an
    interpreted loop per group; here the rows that cross the one
    user_id exchange are three narrow longs (user_id, us, v100), the
    window min and the moment sums reuse that single exchange, and the
    whole plan stays inside whole-stage codegen — no Python workers.

    Exactness: the per-row quantizations are the same IEEE double ops
    (floor(value*100 + 0.5); micros are exact longs); the four moments
    are summed as decimal(38,0) — the same 128-bit envelope as the
    oracle's HUGEINT (cap 1e38 vs 1.7e38, both ~12 orders of magnitude
    above the fixture bound in the module docstring) — and the 6-dp
    half-up roundings are the same remainder-normalized integer floor
    divisions.

    Failure mode OUTSIDE the envelope (ADVICE r15, informational):
    under non-ANSI defaults a decimal(38,0) overflow yields NULL, so
    beyond ~1e38 this spelling emits NULL slope/mean where the pandas
    twin's arbitrary-precision ints keep going (and the oracle's
    HUGEINT overflows at 1.7e38 anyway). A caller pushing past the
    envelope should run with spark.sql.ansi.enabled=true so the breach
    errors loudly instead of degrading to NULL."""
    q = events.where(
        F.col("value").isNotNull()
        & ~F.isnan("value")
        & F.col("ts").isNotNull()
    ).select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.floor(F.col("value") * 100 + 0.5).alias("v100"),
    )
    # seconds since the group's first event: window min reuses the same
    # user_id exchange the aggregation below needs — one shuffle total
    t = F.expr("(us - us0) div 1000000")
    d38 = "decimal(38,0)"
    m = (
        q.withColumn("us0", F.min("us").over(Window.partitionBy("user_id")))
        .select(
            "user_id",
            t.cast(d38).alias("t"),
            F.col("v100").cast(d38).alias("v100"),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast(d38).alias("n"),
            F.sum("t").alias("st"),
            F.sum("v100").alias("sv"),
            F.sum(F.col("t") * F.col("t")).alias("stt"),
            F.sum(F.col("t") * F.col("v100")).alias("stv"),
        )
        .select(
            "user_id",
            "n",
            "sv",
            (F.col("n") * F.col("stv") - F.col("st") * F.col("sv")).alias(
                "num"
            ),
            (F.col("n") * F.col("stt") - F.col("st") * F.col("st")).alias(
                "den"
            ),
        )
    )
    slope_micro = _floor_div("2 * num * 864000000 + den", "2 * den")
    mean_micro = _floor_div("2 * sv * 10000 + n", "2 * n")
    return m.select(
        "user_id",
        F.col("n").cast("long").alias("n_events"),
        F.when(F.col("den") > 0, slope_micro.cast("double") / 1e6)
        .otherwise(F.lit(None).cast("double"))
        .alias("slope_per_day"),
        (mean_micro.cast("double") / 1e6).alias("mean_value"),
    )


def q_user_trend_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    return user_trend_native(load_table(spark, sf_dir, "events"))


def _fdiv(a_sql: str, b_sql: str) -> str:
    """DuckDB floor division for a possibly-negative exact quotient
    context: ``//`` truncates toward zero, so normalize the remainder
    first; the resulting division is exact, where truncation == floor."""
    return (
        f"(({a_sql}) - ((({a_sql}) % ({b_sql}) + ({b_sql})) % ({b_sql})))"
        f" // ({b_sql})"
    )


def _oracle_user_trend() -> str:
    slope_div = _fdiv("2 * num * 864000000 + den", "2 * den")
    mean_div = _fdiv("2 * sv * 10000 + n", "2 * n")
    return f"""
WITH q AS (
  SELECT user_id,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS v100,
         epoch_us(ts) AS us,
         MIN(epoch_us(ts)) OVER (PARTITION BY user_id) AS us0
  FROM events
  WHERE value IS NOT NULL AND NOT isnan(value) AND ts IS NOT NULL
), m AS (
  SELECT user_id,
         COUNT(*) AS n,
         CAST(SUM((us - us0) // 1000000) AS HUGEINT) AS st,
         CAST(SUM(v100) AS HUGEINT) AS sv,
         SUM(CAST((us - us0) // 1000000 AS HUGEINT)
             * ((us - us0) // 1000000)) AS stt,
         SUM(CAST((us - us0) // 1000000 AS HUGEINT) * v100) AS stv
  FROM q GROUP BY user_id
), s AS (
  SELECT user_id, n, sv,
         n * stv - st * sv AS num,
         n * stt - st * st AS den
  FROM m
)
SELECT user_id,
       CAST(n AS BIGINT) AS n_events,
       CASE WHEN den > 0
            THEN CAST({slope_div} AS DOUBLE) / 1000000.0
            ELSE NULL END AS slope_per_day,
       CAST({mean_div} AS DOUBLE) / 1000000.0 AS mean_value
FROM s
"""


# Registered callable: the JVM-native spelling (optimization r15 — same
# rows, same oracle, no Python boundary; guide §4.1 "prefer built-ins",
# §2.3 "aggregate before you shuffle"). The applyInPandas spelling stays
# the §2.11 API-surface demonstration, machine-pinned row-identical to
# the native one in tests/test_pandas_ops.py on every build.
QUERIES = {
    "pandas_user_trend": (q_user_trend_native, _oracle_user_trend()),
}
