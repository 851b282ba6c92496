"""Python UDTF surface (SURVEY §2.11 completion).

The reference's UDF story is one row-at-a-time scalar
(stream-processor.py:33-38) and nothing else; this engine's blessed
Python escape hatches are pandas UDFs / applyInPandas (pandas_ops.py)
and — for one-row-in, many-rows-out generators — the Python UDTF API
(Spark 4 table functions), demonstrated here on a real training-data
operator: overlapping context-window chunking (split every document
into windows of ``CHUNK_W`` tokens advancing by stride ``CHUNK_S`` —
the preprocessing step before embedding/packing long corpora).

The UDTF runs per input row on the executors via a LATERAL join — a
map-side operator, no shuffle, parallel across document partitions; the
generator is a self-contained class shipped by value (cloudpickle), so
workers never import this package. Chunking IS expressible with
sequence()+explode built-ins (and the DuckDB oracle proves the
semantics that way); the UDTF form exists because the API surface is
part of capability parity — a user porting a custom Python generator
gets this exact shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources.tables import load_table

CHUNK_W = 32  # window length (tokens)
CHUNK_S = 24  # stride (tokens); W - S = 8 tokens of overlap


def chunk_windows(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """(doc_id, text) -> (doc_id, chunk_idx, n_tokens, chunk): overlapping
    token windows, one output row per window. Chunk starts are 0, S, 2S,
    ... while start < len(tokens); the final window may be short. NULL or
    empty text yields no rows (inner lateral semantics, matching the
    oracle's join). Wired with ``DataFrame.lateralJoin`` — no temp view,
    no session-level registration, so concurrent calls in one session
    can never race on shared names."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import udtf

    w, s = CHUNK_W, CHUNK_S

    @udtf(returnType="chunk_idx int, n_tokens int, chunk string")
    class _ChunkWindows:
        def eval(self, text: str):
            if text is None:
                return
            toks = text.split(" ")
            if toks == [""]:
                return
            idx = 0
            for start in range(0, len(toks), s):
                window = toks[start : start + w]
                yield idx, len(window), " ".join(window)
                idx += 1

    return (
        docs.select("doc_id", "text")
        .lateralJoin(_ChunkWindows(F.col("text").outer()))
        .select("doc_id", "chunk_idx", "n_tokens", "chunk")
    )


def chunk_windows_native(docs: DataFrame) -> DataFrame:
    """The production twin of :func:`chunk_windows`: identical semantics
    (same output schema, same rows) expressed entirely with built-ins —
    ``sequence()`` generates the window starts, ``explode`` fans them
    out, ``slice`` cuts the window — so the whole operator stays inside
    whole-stage codegen with zero Python workers. Map-only: no shuffle,
    parallel across document partitions, exactly like the UDTF form.
    This is the operator a 100 TB pipeline runs; the UDTF form exists as
    the API-surface demonstration (a user porting a custom Python
    generator). NULL/empty text yields no rows (explode of an empty
    sequence), matching the UDTF's inner-lateral semantics."""
    from pyspark.sql import functions as F

    w, s = CHUNK_W, CHUNK_S
    toks = F.split(F.col("text"), " ")
    n = F.when(
        F.col("text").isNotNull() & (F.col("text") != ""), F.size(toks)
    ).otherwise(F.lit(0))
    # starts 0, S, 2S, ... while start < n  ==  ceil(n/S) windows
    starts = F.when(
        n > 0, F.sequence(F.lit(0), n - 1, F.lit(s))
    ).otherwise(F.array().cast("array<int>"))
    window = F.slice(toks, F.col("chunk_idx") * s + 1, w)
    return (
        docs.select("doc_id", "text", F.posexplode(starts).alias("chunk_idx", "start"))
        .select(
            "doc_id",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.size(window).cast("int").alias("n_tokens"),
            F.array_join(window, " ").alias("chunk"),
        )
    )


def q_chunk_windows_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunk_windows_native(load_table(spark, sf_dir, "documents"))


# DuckDB proves the same semantics with pure SQL generation: one start
# index per stride step (bounded cross join + filter), 1-based inclusive
# list_slice for the window. The fixture's max document length is 100
# tokens; the 1000-start bound is just the portable spelling of
# "enough", the filter keeps exactly ceil(len/S) real starts.
ORACLE_CHUNK_WINDOWS = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks
  FROM documents
  WHERE text IS NOT NULL AND text <> ''
)
SELECT t.doc_id,
       CAST(r.s AS INT) AS chunk_idx,
       CAST(len(list_slice(t.toks, r.s * {CHUNK_S} + 1,
                           r.s * {CHUNK_S} + {CHUNK_W})) AS INT) AS n_tokens,
       array_to_string(list_slice(t.toks, r.s * {CHUNK_S} + 1,
                                  r.s * {CHUNK_S} + {CHUNK_W}), ' ') AS chunk
FROM t CROSS JOIN range(0, 1000) r(s)
WHERE r.s * {CHUNK_S} < len(t.toks)
"""

# Registered callable: the native (whole-stage-codegen, zero Python
# workers) spelling — optimization r15, guide §4.1: a UDTF's eval() is
# called per row, and this operator is exactly expressible with
# sequence()+posexplode+slice. Same rows, same oracle; the UDTF form
# remains the §2.11 API-surface demonstration, machine-pinned
# row-identical in tests/test_udtf_and_epoch.py on every build.
QUERIES = {
    "udtf_chunk_windows": (q_chunk_windows_native, ORACLE_CHUNK_WINDOWS),
    # same oracle string: the two forms are defined to be row-identical
    "chunk_windows_native": (q_chunk_windows_native, ORACLE_CHUNK_WINDOWS),
}
