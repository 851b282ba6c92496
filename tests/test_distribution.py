"""Distribution-profiling sketches (operators/distribution.py): mergeable
log-histogram quantiles + exact two-phase heavy hitters — the r13+
registration candidates, carried with the same DuckDB-oracle gate the
driver would run, plus the merge/pigeonhole/plan properties the oracle
alone can't see."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from realtimedatapipeline_8_project_spark.operators.distribution import (
    HH_FRAC,
    QH_SUB,
    ORACLE_HEAVY_HITTERS,
    _make_partition_candidates,
    _oracle_quantile_hist,
    heavy_hitters,
    merge_hists,
    q_heavy_hitters,
    q_heavy_hitters_grouped,
    q_quantile_hist,
    quantile_hist,
    quantiles_from_hist,
)

from .oracle_harness import compare, duck_connection
from .test_plans import plan_of_df


# --- quantile histogram ------------------------------------------------------


def test_quantile_hist_matches_duckdb_oracle(spark, sf_oracle):
    con = duck_connection(sf_oracle)
    try:
        df = q_quantile_hist(spark, sf_oracle)
        assert not compare(df, con, _oracle_quantile_hist(), "dist_quantile_hist")
    finally:
        con.close()


def test_quantile_envelope_contains_true_percentile(spark, sf_small):
    """For every (group, q): the ceil(q*N/100)-th smallest exact value
    lies inside [est_lo, est_hi] — the sketch's defining guarantee."""
    orders = spark.read.parquet(f"{sf_small}/orders.parquet").selectExpr(
        "o_orderpriority AS grp",
        "CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents",
    )
    vals = {}
    for r in orders.collect():
        vals.setdefault(r.grp, []).append(r.cents)
    got = q_quantile_hist(spark, sf_small).collect()
    assert got
    for r in got:
        xs = sorted(vals[r.grp])
        assert r.n_total == len(xs)
        true_pct = xs[-(-r.q_pct * len(xs) // 100) - 1]  # ceil rank, 1-based
        assert r.est_lo <= true_pct <= r.est_hi, (r, true_pct)
        # relative-width bound: singleton below QH_SUB, <= lo/QH_SUB above
        if r.est_lo < QH_SUB:
            assert r.est_lo == r.est_hi
        else:
            assert (r.est_hi - r.est_lo) * QH_SUB <= r.est_lo


def test_quantile_hist_merge_identity(spark, sf_small):
    """Counters merge by addition: the sketch of the whole equals the
    merged sketches of disjoint halves — the property that makes the
    histogram a mergeable streaming/multi-shard summary."""
    orders = spark.read.parquet(f"{sf_small}/orders.parquet").selectExpr(
        "o_orderkey",
        "o_orderpriority",
        "CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents",
    )
    h_all = quantile_hist(orders, "o_orderpriority", "cents")
    a = orders.filter(F.col("o_orderkey") % 2 == 0)
    b = orders.filter(F.col("o_orderkey") % 2 == 1)
    h_merged = merge_hists(
        quantile_hist(a, "o_orderpriority", "cents"),
        quantile_hist(b, "o_orderpriority", "cents"),
    )
    key = lambda r: (r.grp, r.bucket_id, r.est_lo, r.est_hi, r.n)
    assert sorted(map(key, h_all.collect())) == sorted(
        map(key, h_merged.collect())
    )
    # and the read-out agrees too
    qk = lambda r: (r.grp, r.q_pct, r.n_total, r.est_lo, r.est_hi)
    assert sorted(map(qk, quantiles_from_hist(h_all).collect())) == sorted(
        map(qk, quantiles_from_hist(h_merged).collect())
    )


def test_quantile_bucket_edges(spark):
    """Boundary buckets: 0 and QH_SUB-1 are singletons; QH_SUB opens the
    first octave; octave edges (2^k and 2^k - 1) land in different
    buckets; every bucket envelope contains its value."""
    vals = [0, 1, QH_SUB - 1, QH_SUB, 31, 32, 255, 256, 1 << 40, (1 << 41) - 1]
    df = spark.createDataFrame([("g", v) for v in vals], "grp string, x long")
    rows = {r.bucket_id: r for r in quantile_hist(df, "grp", "x").collect()}
    by_val = {}
    for bid, r in rows.items():
        for v in vals:
            if r.est_lo <= v <= r.est_hi:
                by_val.setdefault(v, set()).add(bid)
    for v in vals:
        assert v in by_val, f"{v} not covered by any bucket"
    for v in (0, 1, QH_SUB - 1):
        (bid,) = by_val[v]
        assert rows[bid].est_lo == rows[bid].est_hi == v == bid
    assert by_val[31].isdisjoint(by_val[32])
    assert by_val[255].isdisjoint(by_val[256])
    assert by_val[1 << 40].isdisjoint(by_val[(1 << 41) - 1])


def test_quantile_hist_single_exchange(spark, sf_small):
    """Scale pin: the sketch build is ONE exchange (partial agg sits on
    the scan; the exchange carries counter rows only)."""
    orders = spark.read.parquet(f"{sf_small}/orders.parquet").selectExpr(
        "o_orderpriority",
        "CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents",
    )
    p = plan_of_df(quantile_hist(orders, "o_orderpriority", "cents"))
    assert p.count("Exchange (") == 1, p  # tree form: one shuffle node
    assert "HashAggregate" in p, p


# --- heavy hitters -----------------------------------------------------------


def test_heavy_hitters_matches_duckdb_oracle(spark, sf_oracle):
    con = duck_connection(sf_oracle)
    try:
        df = q_heavy_hitters(spark, sf_oracle)
        rows = df.collect()
        # stable fixture property: 30 of 31 vocabulary terms qualify at
        # EVERY sf (the rare term pins the exclusion side) — the
        # registered query never degenerates to an empty hash match
        assert len(rows) == 30
        assert not compare(df, con, ORACLE_HEAVY_HITTERS, "dist_heavy_hitters")
    finally:
        con.close()


def test_heavy_hitters_partitioning_invariant(spark, sf_small):
    """The answer is EXACT, so any partitioning gives the same rows —
    unlike arrival-order summaries (Misra-Gries/SpaceSaving)."""
    ev = (
        spark.read.parquet(f"{sf_small}/events.parquet")
        .select("user_id")
        .filter(F.col("user_id").isNotNull())
    )
    key = lambda r: (r.user_id, r.n)
    base = sorted(map(key, heavy_hitters(ev).collect()))
    assert base  # fixture has qualifying users
    for nparts in (1, 3, 13):
        got = sorted(map(key, heavy_hitters(ev.repartition(nparts)).collect()))
        assert got == base, nparts


def test_heavy_hitters_even_spread_boundary(spark):
    """Adversarial pigeonhole case: a key with EXACTLY total/HH_FRAC
    occurrences, spread perfectly evenly so no partition sees it above
    its local share — the weighted local rule (partial*F >= n_p) must
    still surface it; a key one occurrence short must not appear."""
    per_part, nparts = 200, 5
    rows = []
    fill = 10_000
    for p in range(nparts):
        rows += [(7,)] * 2  # 10 total == 1% of 1000, 2 per partition
        rows += [(9,)] * (2 if p < 4 else 1)  # 9 total: just below
        n_fill = per_part - (2 + (2 if p < 4 else 1))
        rows += [(fill + p * per_part + i,) for i in range(n_fill)]
    ev = spark.createDataFrame(rows, "user_id long").repartition(nparts)
    got = {r.user_id: r.n for r in heavy_hitters(ev).collect()}
    assert got.get(7) == 10
    assert 9 not in got
    # fillers each appear once: 1*100 < 1000
    assert all(k in (7,) for k in got)


def test_partition_candidates_emit_bound():
    """Each partition emits at most HH_FRAC candidate keys (the
    broadcastability bound), with the equality case: HH_FRAC keys at
    exactly 1/HH_FRAC each all qualify; add one row and none do. Since
    the r16 fused-total pass, the same generator also emits exactly ONE
    sentinel row (key NULL) carrying the partition's row count."""
    gen = _make_partition_candidates(HH_FRAC, "user_id", "int64")
    pdf = pd.DataFrame(
        {"user_id": [k for k in range(HH_FRAC) for _ in range(10)]}
    )
    (out,) = list(gen(iter([pdf])))
    cands = out[out["user_id"].notna()]
    sent = out[out["user_id"].isna()]
    assert len(cands) == HH_FRAC  # 10 * HH_FRAC == n, boundary holds
    assert cands["part_rows"].isna().all()
    assert len(sent) == 1 and int(sent["part_rows"].iloc[0]) == len(pdf)
    diluted = pd.concat(
        [pdf, pd.DataFrame({"user_id": [999_999]})], ignore_index=True
    )
    (out2,) = list(gen(iter([diluted])))
    assert len(out2[out2["user_id"].notna()]) == 0  # 10*HH_FRAC < n+1
    assert int(out2[out2["user_id"].isna()]["part_rows"].iloc[0]) == len(
        diluted
    )
    # accumulation spans batches of one partition
    half = len(pdf) // 2
    (out3,) = list(gen(iter([pdf.iloc[:half], pdf.iloc[half:]])))
    cands3 = out3[out3["user_id"].notna()]
    assert sorted(cands3["user_id"]) == sorted(cands["user_id"])


def test_heavy_hitters_plan_shape(spark, sf_small):
    """Scale pins: candidates come from an Arrow map pass (no exchange
    below it), the verify join is an UNHINTED left semi against the
    candidate set (VERDICT r12 #2: candidates are HH_FRAC x P rows — at
    100 TB, P ~ 800k splits makes a forced broadcast an OOM; AQE decides
    at runtime), and the final threshold compares against the 1-row
    count frame, which is the ONLY explicit broadcast hint left."""
    df = q_heavy_hitters(spark, sf_small)
    p = plan_of_df(df)
    assert "MapInPandas" in p, p
    assert "LeftSemi" in p, p
    logical = df._jdf.queryExecution().analyzed().toString()
    assert logical.count("ResolvedHint") == 1, logical  # the 1-row total


def test_heavy_hitters_grouped_semi_join_unhinted(spark, sf_small):
    """Grouped form: same P-dependence, so BOTH its joins (candidate
    semi-join and group-total verify) stay unhinted — zero ResolvedHint
    in the analyzed plan."""
    df = q_heavy_hitters_grouped(spark, sf_small)
    p = plan_of_df(df)
    assert "MapInPandas" in p, p
    assert "LeftSemi" in p, p
    logical = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in logical, logical


def test_heavy_hitters_empty_input(spark):
    ev = spark.createDataFrame([], "user_id long")
    assert heavy_hitters(ev).count() == 0


def test_quantile_hist_empty_input(spark):
    df = spark.createDataFrame([], "grp string, x long")
    assert quantiles_from_hist(quantile_hist(df, "grp", "x")).count() == 0


def test_quantile_hist_raises_on_negative_values(spark):
    """Review r13 (the m4-order-key discipline): a negative value would
    silently become its own singleton bucket — per-value cardinality
    instead of the bounded sketch — so the bucket expression raises;
    non-negative inputs are untouched (same bits as before the guard)."""
    import pytest as _pytest

    ok = spark.createDataFrame([("a", 0), ("a", 15), ("a", 16)], "grp string, x long")
    rows = {r.bucket_id for r in quantile_hist(ok, "grp", "x").collect()}
    assert rows == {0, 15, 5 * QH_SUB}
    bad = spark.createDataFrame([("a", -1)], "grp string, x long")
    with _pytest.raises(Exception, match="non-negative"):
        quantile_hist(bad, "grp", "x").collect()


def test_merge_hists_zero_args_raises(spark):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="at least one"):
        merge_hists()


def test_heavy_hitters_corpus_excludes_empty_token(spark, sf_small):
    """Review r13: a whitespace-only document splits to [''] in BOTH
    engines, so the oracle compare could never catch '' surfacing as a
    heavy hitter — the tokenizer filter must drop it explicitly. Plant
    a corpus where '' would dominate (many empty docs) and pin that it
    never appears while real terms still qualify."""
    from pyspark.sql import functions as F2

    from realtimedatapipeline_8_project_spark.operators.distribution import (
        heavy_hitters,
    )
    from realtimedatapipeline_8_project_spark.operators.text_analysis import (
        normalized_text,
        words,
    )

    docs = spark.createDataFrame(
        [(i, "   ") for i in range(50)] + [(100 + i, "tok") for i in range(50)],
        "doc_id long, text string",
    )
    terms = docs.select(
        F2.explode(words(normalized_text("text"))).alias("term")
    ).filter(F2.col("term").isNotNull() & (F2.col("term") != ""))
    got = {
        r.term: r.n
        for r in heavy_hitters(
            terms, col="term", spark_type="string", pd_dtype="str"
        ).collect()
    }
    assert got == {"tok": 50}  # '' carried half the raw splits; excluded


# --- streaming mergeable sink -------------------------------------------------


def test_qhist_sink_replay_equals_batch(spark, sf_small, tmp_path):
    """Mergeable-histogram sink: per-micro-batch partials summed on read
    equal the one-pass sketch over all orders, survive an idempotent
    batch-id replay, and serve bit-identical percentile envelopes."""
    import os

    from realtimedatapipeline_8_project_spark.streaming.sinks import (
        read_qhist,
        write_qhist,
    )

    out = os.path.join(str(tmp_path), "out")
    orders = spark.read.parquet(f"{sf_small}/orders.parquet").selectExpr(
        "o_orderkey",
        "o_orderpriority",
        "CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents",
    )
    n = orders.count()
    per = (n + 2) // 3
    for i in range(3):
        write_qhist(
            orders.orderBy("o_orderkey").offset(i * per).limit(per), i, out
        )
    # replay a committed batch id: dynamic overwrite keeps it idempotent
    write_qhist(orders.orderBy("o_orderkey").limit(per), 0, out)

    merged = read_qhist(spark, out)
    key = lambda r: (r.grp, r.bucket_id, r.est_lo, r.est_hi, r.n)
    want = quantile_hist(orders, "o_orderpriority", "cents")
    assert sorted(map(key, merged.collect())) == sorted(
        map(key, want.collect())
    )
    qk = lambda r: (r.grp, r.q_pct, r.n_total, r.est_lo, r.est_hi)
    assert sorted(map(qk, quantiles_from_hist(merged).collect())) == sorted(
        map(qk, quantiles_from_hist(want).collect())
    )


# --- grouped heavy hitters ----------------------------------------------------


def test_heavy_hitters_grouped_matches_duckdb_oracle(spark, sf_oracle):
    from realtimedatapipeline_8_project_spark.operators.distribution import (
        ORACLE_HEAVY_HITTERS_GROUPED,
        q_heavy_hitters_grouped,
    )

    con = duck_connection(sf_oracle)
    try:
        df = q_heavy_hitters_grouped(spark, sf_oracle)
        rows = df.collect()
        assert len({r.lang for r in rows}) == 5  # every fixture language
        assert not compare(
            df, con, ORACLE_HEAVY_HITTERS_GROUPED, "dist_heavy_hitters_grouped"
        )
    finally:
        con.close()


def test_heavy_hitters_grouped_boundary_and_isolation(spark):
    """Per-group pigeonhole: a key heavy in ONE group only surfaces for
    that group (group totals don't bleed); a key at exactly its group's
    threshold, spread evenly, is found; one below is not."""
    from realtimedatapipeline_8_project_spark.operators.distribution import (
        heavy_hitters_grouped,
    )

    rows = []
    # group A: 500 rows, key 'hot' 5 times (exactly 1%), 'cold' 4 times
    rows += [("A", "hot")] * 5 + [("A", "cold")] * 4
    rows += [("A", f"fa{i}") for i in range(491)]
    # group B: 100 rows; 'hot' once (1% of B) -> heavy IN B at exactly 1
    rows += [("B", "hot")] * 1
    rows += [("B", f"fb{i}") for i in range(99)]
    ev = spark.createDataFrame(rows, "lang string, term string").repartition(5)
    got = {
        (r.lang, r.term): r.n
        for r in heavy_hitters_grouped(
            ev, "lang", "term", "lang string, term string"
        ).collect()
    }
    assert got[("A", "hot")] == 5
    assert ("A", "cold") not in got  # 4 * 100 < 500
    assert got[("B", "hot")] == 1  # 1 * 100 >= 100: heavy within B
    # every B filler is also 1% of B exactly — they all qualify (exact
    # semantics, not a top-k heuristic)
    assert got[("B", "fb0")] == 1


def test_qhist_foreachbatch_stream_end_to_end(spark, sf_small, tmp_path):
    """The sink under a REAL availableNow stream: orders split into 3
    files, a file-source stream with maxFilesPerTrigger=1 drives
    write_qhist through foreachBatch, and the merged serving view must
    equal the one-pass sketch (and serve identical percentiles)."""
    import os

    from realtimedatapipeline_8_project_spark.streaming.sinks import (
        read_qhist,
        write_qhist,
    )

    src = os.path.join(str(tmp_path), "src")
    out = os.path.join(str(tmp_path), "out")
    chk = os.path.join(str(tmp_path), "chk")
    orders = spark.read.parquet(f"{sf_small}/orders.parquet").selectExpr(
        "o_orderpriority",
        "CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents",
    )
    orders.repartition(3).write.parquet(src)

    stream = (
        spark.readStream.schema("o_orderpriority string, cents long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", chk)
        .foreachBatch(lambda df, bid: write_qhist(df, bid, out))
        .start()
    )
    q.awaitTermination()
    assert len(os.listdir(os.path.join(out, "qhist"))) >= 3  # real batches

    key = lambda r: (r.grp, r.bucket_id, r.est_lo, r.est_hi, r.n)
    want = quantile_hist(orders, "o_orderpriority", "cents")
    got = read_qhist(spark, out)
    assert sorted(map(key, got.collect())) == sorted(map(key, want.collect()))
    qk = lambda r: (r.grp, r.q_pct, r.n_total, r.est_lo, r.est_hi)
    assert sorted(map(qk, quantiles_from_hist(got).collect())) == sorted(
        map(qk, quantiles_from_hist(want).collect())
    )


def test_qhist_compaction_and_crash_recovery(spark, sf_small, tmp_path):
    """compact_qhist folds the partials into one partition with the
    serving view unchanged; a simulated crash between remove and rename
    (live dir gone, complete staging present) is finished by
    recover_qhist; an INCOMPLETE staging is discarded with the live dir
    intact."""
    import os
    import shutil

    from realtimedatapipeline_8_project_spark.streaming.sinks import (
        compact_qhist,
        read_qhist,
        recover_qhist,
        write_qhist,
    )

    out = os.path.join(str(tmp_path), "out")
    orders = spark.read.parquet(f"{sf_small}/orders.parquet").selectExpr(
        "o_orderkey",
        "o_orderpriority",
        "CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents",
    )
    n = orders.count()
    per = (n + 2) // 3
    for i in range(3):
        write_qhist(
            orders.orderBy("o_orderkey").offset(i * per).limit(per), i, out
        )
    key = lambda r: (r.grp, r.bucket_id, r.est_lo, r.est_hi, r.n)
    before = sorted(map(key, read_qhist(spark, out).collect()))

    compact_qhist(spark, out)
    qdir = os.path.join(out, "qhist")
    assert os.listdir(qdir) != [] and any(
        "batch_id=-1" in d for d in os.listdir(qdir)
    )
    assert sorted(map(key, read_qhist(spark, out).collect())) == before

    # crash between remove and rename: stage a complete copy (parquet +
    # the _compacted_through marker compact_qhist writes), drop live
    tmp = os.path.join(out, "_qhist_tmp")
    read_qhist(spark, out).withColumn("batch_id", F.lit(-1)).write.mode(
        "overwrite"
    ).partitionBy("batch_id").parquet(tmp)
    with open(os.path.join(tmp, "_compacted_through"), "w") as fh:
        fh.write("2")
    shutil.rmtree(qdir)
    assert recover_qhist(spark, out) is True
    assert sorted(map(key, read_qhist(spark, out).collect())) == before

    # incomplete staging (no _SUCCESS): discarded, live dir untouched
    os.makedirs(tmp)
    with open(os.path.join(tmp, "part-junk"), "w") as fh:
        fh.write("x")
    assert recover_qhist(spark, out) is False
    assert not os.path.isdir(tmp)
    assert sorted(map(key, read_qhist(spark, out).collect())) == before

    # a staging with _SUCCESS but NO marker is also incomplete (crash
    # between the parquet job and the marker write): discarded, live
    # dir untouched — a recovered install may never serve folded rows
    # without the replay guard
    read_qhist(spark, out).withColumn("batch_id", F.lit(-1)).write.mode(
        "overwrite"
    ).partitionBy("batch_id").parquet(tmp)  # fresh staging: no marker
    assert recover_qhist(spark, out) is False
    assert not os.path.isdir(tmp)
    assert sorted(map(key, read_qhist(spark, out).collect())) == before


def test_qhist_replay_of_folded_batch_is_noop(spark, sf_small, tmp_path):
    """ADVICE r12, mechanical guard: after compact_qhist folds batches
    0..2, a foreachBatch replay of batch 1 must NOT re-create its
    partition beside the compacted rows (the double-count the prose
    caveat used to merely warn about); a genuinely NEW batch above the
    marker still lands, and a second compaction folds it."""
    import os

    from realtimedatapipeline_8_project_spark.streaming.sinks import (
        _compacted_through,
        compact_qhist,
        read_qhist,
        write_qhist,
    )

    out = os.path.join(str(tmp_path), "out")
    orders = spark.read.parquet(f"{sf_small}/orders.parquet").selectExpr(
        "o_orderkey",
        "o_orderpriority",
        "CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents",
    )
    n = orders.count()
    per = (n + 2) // 3
    batches = [
        orders.orderBy("o_orderkey").offset(i * per).limit(per)
        for i in range(3)
    ]
    for i in range(2):
        write_qhist(batches[i], i, out)
    compact_qhist(spark, out)
    assert _compacted_through(out, "qhist") == 1
    key = lambda r: (r.grp, r.bucket_id, r.est_lo, r.est_hi, r.n)
    folded = sorted(map(key, read_qhist(spark, out).collect()))

    # checkpoint-recovery replay of an already-folded batch: no-op
    write_qhist(batches[1], 1, out)
    assert sorted(map(key, read_qhist(spark, out).collect())) == folded
    qdir = os.path.join(out, "qhist")
    assert {d for d in os.listdir(qdir) if d.startswith("batch_id=")} == {
        "batch_id=-1"
    }

    # a new batch above the marker lands and serves
    write_qhist(batches[2], 2, out)
    with_new = sorted(map(key, read_qhist(spark, out).collect()))
    assert with_new != folded
    # one-pass reference over all three thirds == the merged serving
    from realtimedatapipeline_8_project_spark.operators.distribution import (
        quantile_hist,
    )

    want = sorted(map(key, quantile_hist(orders, "o_orderpriority", "cents").collect()))
    assert with_new == want
    # second compaction folds the new batch and advances the marker;
    # replaying it afterwards is again a no-op
    compact_qhist(spark, out)
    assert _compacted_through(out, "qhist") == 2
    write_qhist(batches[2], 2, out)
    assert sorted(map(key, read_qhist(spark, out).collect())) == want


def test_retired_hist_price_profile_oracle_still_value_checked(
    spark, sf_oracle
):
    """hist_price_profile retired its REGISTRY slot r14 for
    dist_quantile_hist — the registration funds the slot, but the
    retiree precedent requires its ORACLE to stay machine-checked, not
    just its plan shape (review r14: the original retirement left
    ORACLE_HIST dead). The full equi-width value gate lives here, next
    to the successor it was retired for."""
    from realtimedatapipeline_8_project_spark.operators.reshape import (
        QUERIES as _RS_QUERIES,
    )

    fn, sql = _RS_QUERIES["hist_price_profile"]
    con = duck_connection(sf_oracle)
    try:
        assert not compare(
            fn(spark, sf_oracle), con, sql, "hist_price_profile"
        )
    finally:
        con.close()


def test_retired_r14_slot_oracles_still_value_checked(spark, sf_oracle):
    """The other two r14 retirees, same discipline as the histogram
    above: sketch_count_min_estimate (slot funded dist_heavy_hitters;
    the overcount BOUND lives in tests/test_functions.py, but the
    min-over-depths estimate oracle itself must stay value-checked)
    and text_token_count (slot funded text_bpe_train; its token
    columns are oracle-shaped inside text_quality_score, and the
    standalone compare stays here)."""
    from realtimedatapipeline_8_project_spark.operators.sketches import (
        QUERIES as _SK_QUERIES,
    )
    from realtimedatapipeline_8_project_spark.operators.text_analysis import (
        QUERIES as _TA_QUERIES,
    )

    con = duck_connection(sf_oracle)
    try:
        for name, (fn, sql) in (
            ("sketch_count_min_estimate", _SK_QUERIES["sketch_count_min_estimate"]),
            ("text_token_count", _TA_QUERIES["text_token_count"]),
        ):
            assert not compare(fn(spark, sf_oracle), con, sql, name)
    finally:
        con.close()


def test_heavy_hitters_release_their_candidate_cache(spark, sf_small):
    """The candidate pass is persisted for the two consumers of ONE
    query; repeated calls must not leave entries in the session's
    CacheManager once their results are dropped, and the answers stay
    those of the first call."""
    import gc

    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()  # earlier tests' operators may persist
    assert cache.isEmpty()
    ev = (
        spark.read.parquet(f"{sf_small}/events.parquet")
        .select("user_id")
        .filter(F.col("user_id").isNotNull())
    )
    key = lambda r: tuple(r)
    first = sorted(map(key, heavy_hitters(ev).collect()))
    first_g = sorted(map(key, q_heavy_hitters_grouped(spark, sf_small).collect()))
    assert first and first_g
    for _ in range(3):
        assert sorted(map(key, heavy_hitters(ev).collect())) == first
        got_g = sorted(map(key, q_heavy_hitters_grouped(spark, sf_small).collect()))
        assert got_g == first_g
    gc.collect()
    assert cache.isEmpty()


def test_heavy_hitters_reject_dtypes_without_nullable_mapping(spark):
    """The candidate pass's NULL sentinel needs a nullable pandas dtype:
    a float64 key would turn it into NaN (and a numpy str into "None"),
    silently corrupting the totals — both builders refuse up front."""
    import pytest as _pytest

    from realtimedatapipeline_8_project_spark.operators.distribution import (
        heavy_hitters_grouped,
    )

    ev = spark.createDataFrame([(1.0,), (2.0,)], "x double")
    with _pytest.raises(ValueError, match="float64"):
        heavy_hitters(ev, col="x", spark_type="double", pd_dtype="float64")
    grouped = spark.createDataFrame([("a", 1.0)], "g string, x double")
    with _pytest.raises(ValueError, match="float64"):
        heavy_hitters_grouped(
            grouped, "g", "x", "g string, x double", pd_dtypes=("str", "float64")
        )
    with _pytest.raises(ValueError, match="object"):
        _make_partition_candidates(HH_FRAC, "x", "object")
