"""Streaming dedup ingestion (streaming/ingest.py): replayed micro-batch
ingestion must equal the sequential batch application of
incremental_dedup, and a replayed batch must not change the corpus."""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from realtimedatapipeline_8_project_spark import fold
from realtimedatapipeline_8_project_spark.fold import COMPACTED_BATCH_ID
from realtimedatapipeline_8_project_spark.operators.dedup import (
    incremental_dedup,
    intra_batch_dedup,
)
from realtimedatapipeline_8_project_spark.sources.tables import load_table
from realtimedatapipeline_8_project_spark.streaming.ingest import (
    dedup_ingest_batch,
    read_kept,
    run_dedup_ingest,
)


def _doc_batches(spark, sf_dir):
    """Three arrival batches with planted cross-batch duplicates:
    b1 = docs 0..149; b2 = docs 150..299 plus truncated copies of b1
    docs (near-dups that must be dropped, ids +500k); b3 = docs 300..449
    plus verbatim copies of b2 docs (exact dups, ids +600k)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    keep = F.greatest(F.size(toks) - 4, F.lit(1))
    trunc = F.array_join(F.slice(toks, 1, keep), " ")
    b1 = docs.where(F.col("doc_id") < 150)
    b2 = docs.where((F.col("doc_id") >= 150) & (F.col("doc_id") < 300)).unionByName(
        docs.where(F.col("doc_id") % 17 == 0)
        .where(F.col("doc_id") < 150)
        .select((F.col("doc_id") + 500_000).alias("doc_id"), trunc.alias("text"))
    )
    b3 = docs.where((F.col("doc_id") >= 300) & (F.col("doc_id") < 450)).unionByName(
        docs.where(F.col("doc_id") % 23 == 0)
        .where((F.col("doc_id") >= 150) & (F.col("doc_id") < 300))
        .select((F.col("doc_id") + 600_000).alias("doc_id"), F.col("text"))
    )
    return [b1, b2, b3]


def _write_jsonl(df, path, junk=False):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        for r in df.collect():
            fh.write(json.dumps({"doc_id": r.doc_id, "text": r.text}) + "\n")
        if junk:  # routine stream dirt: the ingest gate must drop these
            fh.write(json.dumps({"doc_id": None, "text": "x y z"}) + "\n")
            fh.write(json.dumps({"doc_id": 999_999}) + "\n")
            fh.write(json.dumps({"doc_id": 999_998, "text": ""}) + "\n")


def _intra_survivors(delta):
    v = intra_batch_dedup(delta)
    return delta.join(v.where(F.col("is_kept")).select("doc_id"), "doc_id")


def _sequential_truth(spark, batches):
    """The ingest contract applied batch-at-a-time: within-batch collapse
    first, then delta-vs-accumulated-base."""
    kept = _intra_survivors(batches[0])
    for delta in batches[1:]:
        delta = _intra_survivors(delta)
        verdict = incremental_dedup(kept, delta)
        kept = kept.unionByName(
            delta.join(
                verdict.where(F.col("is_kept")).select("doc_id"), "doc_id"
            )
        )
    return {r.doc_id for r in kept.collect()}


def test_streamed_ingest_equals_sequential_batches(spark, sf_small, tmp_path):
    batches = _doc_batches(spark, sf_small)
    src = str(tmp_path / "src")
    for i, b in enumerate(batches):
        _write_jsonl(b, os.path.join(src, f"b{i}.jsonl"), junk=(i == 1))
        time.sleep(1.1)  # distinct mtimes -> deterministic arrival order

    raw = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1")
        .load(src)
    )
    docs = raw.select(
        F.get_json_object("value", "$.doc_id").cast("long").alias("doc_id"),
        F.get_json_object("value", "$.text").alias("text"),
    )
    corpus = str(tmp_path / "corpus")
    q = run_dedup_ingest(docs, corpus, str(tmp_path / "chk"))
    q.awaitTermination()

    got = {r.doc_id for r in read_kept(spark, corpus).collect()}
    want = _sequential_truth(spark, batches)
    assert got == want
    # the malformed b2 lines (null id / missing / empty text) were gated
    assert None not in got and 999_999 not in got and 999_998 not in got
    # verbatim copies (b3's 600k ids) are always caught
    assert not any(d >= 600_000 for d in got)
    # truncated copies (b2's 500k ids): nearly all dropped (banding recall)
    n_trunc_kept = sum(1 for d in got if 500_000 <= d < 600_000)
    n_trunc = sum(
        1 for r in batches[1].collect() if r.doc_id >= 500_000
    )
    assert n_trunc_kept <= 0.15 * n_trunc

    # replaying an already-committed batch must not change the corpus
    before = sorted(got)
    dedup_ingest_batch(batches[2], 2, corpus)
    after = sorted(r.doc_id for r in read_kept(spark, corpus).collect())
    assert after == before


def test_ingest_resumes_from_checkpoint_across_runs(spark, sf_small, tmp_path):
    """T3 for the ingest loop: a second availableNow run with the SAME
    checkpoint processes only files that arrived after the first run —
    no re-ingestion of old batches, and late-arriving duplicates of
    already-kept docs are still caught against the accumulated corpus."""
    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    b1 = docs.where(F.col("doc_id") < 100)
    src = str(tmp_path / "src")
    _write_jsonl(b1, os.path.join(src, "b0.jsonl"))

    raw = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1")
        .load(src)
    )
    stream = raw.select(
        F.get_json_object("value", "$.doc_id").cast("long").alias("doc_id"),
        F.get_json_object("value", "$.text").alias("text"),
    )
    corpus = str(tmp_path / "corpus")
    chk = str(tmp_path / "chk")
    run_dedup_ingest(stream, corpus, chk).awaitTermination()
    first = {r.doc_id for r in read_kept(spark, corpus).collect()}
    # the fixture corpus contains natural near-dup pairs inside 0..99:
    # the within-batch pass drops them even on the very first batch
    assert first == {r.doc_id for r in _intra_survivors(b1).collect()}

    # new arrivals after the first run: fresh docs + verbatim copies of
    # already-kept docs (must be deduped against the ACCUMULATED corpus)
    b2 = docs.where((F.col("doc_id") >= 100) & (F.col("doc_id") < 150)).unionByName(
        b1.where(F.col("doc_id") % 11 == 0).select(
            (F.col("doc_id") + 700_000).alias("doc_id"), "text"
        )
    )
    time.sleep(1.1)
    _write_jsonl(b2, os.path.join(src, "b1.jsonl"))
    run_dedup_ingest(stream, corpus, chk).awaitTermination()

    got = {r.doc_id for r in read_kept(spark, corpus).collect()}
    # truth = sequential application; NOTE a couple of fresh b2 docs are
    # genuine near-dups of kept b1 docs (natural corpus pairs) and are
    # correctly dropped, so compare against the reference computation,
    # not a naive "all fresh kept" expectation
    want = _sequential_truth(spark, [b1, b2])
    assert got == want
    # the planted verbatim copies never survive
    assert not any(d >= 700_000 for d in got)
    # exactly two batch partitions exist (one per run)
    kept_dir = os.path.join(corpus, "kept")
    parts = sorted(
        d for d in os.listdir(kept_dir) if d.startswith("batch_id=")
    )
    assert len(parts) == 2


def test_same_batch_duplicates_are_collapsed(spark, sf_small, tmp_path):
    """VERDICT r5 item 3: a bursty producer landing duplicates in ONE
    micro-batch must not defeat the dedup. Plant two verbatim copies and
    a truncated near-copy of the same doc inside a single batch: only
    the lowest id of the cluster survives."""
    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    b0 = docs.where(F.col("doc_id") < 100)
    toks = F.split(F.col("text"), " ")
    trunc = F.array_join(
        F.slice(toks, 1, F.greatest(F.size(toks) - 4, F.lit(1))), " "
    )
    seed = docs.where(F.col("doc_id") == 5)
    burst = b0.unionByName(
        seed.select((F.col("doc_id") + 800_000).alias("doc_id"), "text")
    ).unionByName(
        seed.select((F.col("doc_id") + 900_000).alias("doc_id"), "text")
    ).unionByName(
        seed.select(
            (F.col("doc_id") + 850_000).alias("doc_id"), trunc.alias("text")
        )
    )
    corpus = str(tmp_path / "corpus")
    dedup_ingest_batch(burst, 0, corpus)
    got = {r.doc_id for r in read_kept(spark, corpus).collect()}
    # the verbatim copies always collapse onto doc 5 (exact dups co-band
    # deterministically); the truncated copy verifies at the threshold too
    assert 800_005 not in got and 900_005 not in got
    assert 850_005 not in got
    assert 5 in got
    # and the verdict maps every cluster member to the component min
    v = {
        r.doc_id: r.dup_of
        for r in intra_batch_dedup(burst).collect()
        if not r.is_kept
    }
    assert v[800_005] == 5 and v[900_005] == 5 and v[850_005] == 5


def test_ingest_inconsistent_corpus_state_raises(spark, sf_small, tmp_path):
    """ADVICE r5: exactly one of kept/bands readable is corruption, not
    'first batch' — the micro-batch must fail, never fall through to
    admitting the whole delta."""
    import shutil

    import pytest as _pytest

    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    corpus = str(tmp_path / "corpus")
    dedup_ingest_batch(docs.where(F.col("doc_id") < 50), 0, corpus)
    shutil.rmtree(os.path.join(corpus, "bands"))
    with _pytest.raises(RuntimeError, match="inconsistent"):
        dedup_ingest_batch(
            docs.where((F.col("doc_id") >= 50) & (F.col("doc_id") < 80)),
            1,
            corpus,
        )


def test_ingest_unreadable_corpus_fails_the_batch(spark, sf_small, tmp_path):
    """ADVICE r5: a transient/corrupt read of the kept corpus must raise
    (so the checkpoint replays the batch) — only an absent corpus dir
    means 'first batch'. A swallowed error here would silently admit every
    delta row and permanently pollute the corpus."""
    import pytest as _pytest

    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    corpus = str(tmp_path / "corpus")
    dedup_ingest_batch(docs.where(F.col("doc_id") < 50), 0, corpus)
    # corrupt every kept data file: footers become unreadable
    kept_dir = os.path.join(corpus, "kept")
    for root, _, files in os.walk(kept_dir):
        for f in files:
            if f.endswith(".parquet"):
                with open(os.path.join(root, f), "wb") as fh:
                    fh.write(b"not a parquet file")
    with _pytest.raises(Exception, match="(?i)parquet|footer|corrupt"):
        dedup_ingest_batch(
            docs.where((F.col("doc_id") >= 50) & (F.col("doc_id") < 80)),
            1,
            corpus,
        )


def test_first_batch_replay_after_crash_between_writes(spark, sf_small, tmp_path):
    """Crash window: batch 0 wrote kept/ but died before bands/. The
    checkpoint replays batch 0 — it must sail through (reads strictly
    batch_id < 0, sees no prior rows) and rebuild a consistent corpus,
    not wedge on a path-existence lockstep check."""
    import shutil

    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    b0 = docs.where(F.col("doc_id") < 60)
    corpus = str(tmp_path / "corpus")
    dedup_ingest_batch(b0, 0, corpus)
    shutil.rmtree(os.path.join(corpus, "bands"))  # simulate the crash
    dedup_ingest_batch(b0, 0, corpus)  # replay must succeed
    kept = read_kept(spark, corpus)
    assert kept.count() == kept.select("doc_id").distinct().count()
    bands = spark.read.parquet(os.path.join(corpus, "bands"))
    # bands cover exactly the kept docs
    assert (
        bands.select("doc_id").distinct().count()
        == kept.select("doc_id").distinct().count()
    )
    # and a follow-up batch dedups against the recovered corpus
    b1 = b0.select((F.col("doc_id") + 700_000).alias("doc_id"), "text")
    dedup_ingest_batch(b1, 1, corpus)
    got = {r.doc_id for r in read_kept(spark, corpus).collect()}
    assert not any(d >= 700_000 for d in got)


def test_ingest_maintains_search_index_equal_to_one_pass(
    spark, sf_small, tmp_path
):
    """Search-index maintenance rides the ingest loop (VERDICT r7 item
    2): with maintain_index, each micro-batch appends its partial
    postings + stats beside the band table, and the merged incremental
    index equals a ONE-PASS posting build over the final kept corpus —
    replay-equals-batch for the index. BM25 served from the merged
    partitions equals BM25 served from the one-pass build, and a
    replayed batch overwrites only its own partitions (idempotent)."""
    from realtimedatapipeline_8_project_spark.operators.text_analysis import (
        batch_postings,
        bm25_topk_over_postings,
        read_index,
    )

    batches = _doc_batches(spark, sf_small)
    src = str(tmp_path / "src")
    for i, b in enumerate(batches):
        _write_jsonl(b, os.path.join(src, f"b{i}.jsonl"))
        time.sleep(1.1)
    raw = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1")
        .load(src)
    )
    docs = raw.select(
        F.get_json_object("value", "$.doc_id").cast("long").alias("doc_id"),
        F.get_json_object("value", "$.text").alias("text"),
    )
    corpus = str(tmp_path / "corpus")
    q = run_dedup_ingest(
        docs, corpus, str(tmp_path / "chk"), maintain_index=True
    )
    q.awaitTermination()

    postings, stats = read_index(spark, os.path.join(corpus, "index"))
    kept = read_kept(spark, corpus).select("doc_id", "text")
    one_pass = batch_postings(kept)
    cols = ["term", "doc_id", "tf", "dl", "positions"]
    got = sorted(map(str, postings.select(*cols).collect()))
    want = sorted(map(str, one_pass.select(*cols).collect()))
    assert got == want
    s = stats.collect()[0]
    assert s.n_docs == kept.count()
    one_stats = one_pass.agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum("tf").alias("total_dl"),
    )
    assert s.total_dl == one_stats.collect()[0].total_dl
    served_incr = bm25_topk_over_postings(postings, stats).collect()
    served_once = bm25_topk_over_postings(one_pass, one_stats).collect()
    assert sorted(map(str, served_incr)) == sorted(map(str, served_once))

    # the per-batch bounds artifact rides the same loop (r11): the
    # streaming-maintained index serves max-score-pruned BM25 with the
    # exact same ranking (bounds trusted: no deletes, partitions 1:1)
    from realtimedatapipeline_8_project_spark.operators.text_analysis import (
        bm25_maxscore_incremental,
        read_term_stats,
    )

    idx = os.path.join(corpus, "index")
    assert read_term_stats(spark, idx) is not None
    diag = {}
    served_pruned = bm25_maxscore_incremental(spark, idx, diag=diag).collect()
    assert "fallback" not in diag
    assert sorted(map(str, served_pruned)) == sorted(map(str, served_incr))

    # replaying a committed batch must not change the merged index
    dedup_ingest_batch(batches[2], 2, corpus, maintain_index=True)
    postings2, stats2 = read_index(spark, os.path.join(corpus, "index"))
    assert sorted(map(str, postings2.select(*cols).collect())) == got
    assert stats2.collect() == [s]


def test_index_compaction_preserves_rows_and_recovers(
    spark, sf_small, tmp_path
):
    """compact_index folds every batch partition into one compacted
    partition with row-identical reads (a pure background rewrite), is
    idempotent, keeps accepting new batches afterwards, and an
    interrupted swap is finished by recover_index_compaction from the
    preserved staging dir."""
    import shutil

    from realtimedatapipeline_8_project_spark.operators.text_analysis import (
        INDEX_POSTINGS,
        batch_postings,
        compact_index,
        read_index,
        recover_index_compaction,
        write_index_batch,
    )
    from realtimedatapipeline_8_project_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    root = str(tmp_path / "index")
    for b in range(3):
        write_index_batch(
            batch_postings(docs.where(F.col("doc_id") % 3 == b)), b, root
        )
    cols = ["term", "doc_id", "tf", "dl", "positions"]

    def snap():
        postings, stats = read_index(spark, root)
        return (
            sorted(map(str, postings.select(*cols).collect())),
            stats.collect(),
        )

    before = snap()
    assert compact_index(spark, root) == 3
    assert snap() == before
    ppath = os.path.join(root, INDEX_POSTINGS)
    assert [d for d in os.listdir(ppath) if d.startswith("batch_id=")] == [
        f"batch_id={COMPACTED_BATCH_ID}"
    ]
    # already compacted: no-op
    assert compact_index(spark, root) == 0
    # new batches keep landing beside the compacted partition
    write_index_batch(
        batch_postings(
            docs.where(F.col("doc_id") % 3 == 0).select(
                (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
            )
        ),
        7,
        root,
    )
    assert compact_index(spark, root) == 2  # compacted + batch 7
    grown = snap()
    assert len(grown[0]) > len(before[0])

    # crash AFTER staging completes (_STAGED written) but before the
    # install ran: the live tree is untouched (reads unchanged, the
    # staging dir is invisible to readers), and recovery finishes the
    # idempotent install
    write_index_batch(
        batch_postings(
            docs.where(F.col("doc_id") % 3 == 1).select(
                (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
            )
        ),
        9,
        root,
    )
    grown2 = snap()
    orig_install = fold.install
    try:
        fold.install = lambda parent, sub: None  # simulated crash
        assert compact_index(spark, root) == 2  # compacted + batch 9
    finally:
        fold.install = orig_install
    tmp_stage = os.path.join(root, "_postings_compact_tmp")
    assert os.path.exists(os.path.join(tmp_stage, "_STAGED"))
    assert snap() == grown2  # staged-but-not-installed: readers unaffected
    assert recover_index_compaction(spark, root) is True
    assert snap() == grown2
    assert [d for d in os.listdir(ppath) if d.startswith("batch_id=")] == [
        f"batch_id={COMPACTED_BATCH_ID}"
    ]
    assert recover_index_compaction(spark, root) is False
    # an INCOMPLETE staging dir (no _STAGED — crash mid-write) is
    # discarded without touching the live tree
    os.makedirs(tmp_stage)
    with open(os.path.join(tmp_stage, "part-junk.parquet"), "w") as fh:
        fh.write("torn")
    assert recover_index_compaction(spark, root) is False
    assert not os.path.exists(tmp_stage)
    assert snap() == grown2


def test_compaction_horizon_refuses_replayed_absorbed_batch(
    spark, sf_small, tmp_path
):
    """VERDICT r8 item 5: the compaction replay horizon is enforced by
    code, not a docstring. keep_last leaves the replayable tail
    un-absorbed (its dynamic-partition re-overwrite stays idempotent);
    a replay of an ABSORBED batch raises instead of double-counting.
    Also pins the small-batch file count (item 6): a tiny batch's
    postings partition is O(1) files, not one per shuffle partition."""
    from realtimedatapipeline_8_project_spark.operators.text_analysis import (
        INDEX_POSTINGS,
        batch_postings,
        compact_index,
        read_index,
        write_index_batch,
    )
    from realtimedatapipeline_8_project_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    root = str(tmp_path / "index")
    for b in range(3):
        write_index_batch(
            batch_postings(docs.where(F.col("doc_id") % 3 == b)), b, root
        )
    ppath = os.path.join(root, INDEX_POSTINGS)
    # a tiny batch writes O(1) data files (AQE-coalesced), not one per
    # shuffle partition
    bdir = os.path.join(ppath, "batch_id=2")
    files = [f for f in os.listdir(bdir) if f.endswith(".parquet")]
    assert 1 <= len(files) <= 2

    cols = ["term", "doc_id", "tf", "dl", "positions"]

    def snap():
        postings, stats = read_index(spark, root)
        return (
            sorted(map(str, postings.select(*cols).collect())),
            stats.collect(),
        )

    before = snap()
    # keep_last=1: batches 0 and 1 absorbed (horizon=1), batch 2 kept
    assert compact_index(spark, root, keep_last=1) == 2
    assert snap() == before
    dirs = sorted(d for d in os.listdir(ppath) if d.startswith("batch_id="))
    assert dirs == ["batch_id=-1", "batch_id=2"]
    # replay of the KEPT tail batch: idempotent overwrite, rows unchanged
    write_index_batch(
        batch_postings(docs.where(F.col("doc_id") % 3 == 2)), 2, root
    )
    assert snap() == before
    # replay of an ABSORBED batch: loud refusal, rows unchanged
    with pytest.raises(ValueError, match="horizon"):
        write_index_batch(
            batch_postings(docs.where(F.col("doc_id") % 3 == 0)), 0, root
        )
    assert snap() == before
    # a later full compaction carries the horizon forward
    assert compact_index(spark, root) == 2  # compacted + batch 2
    with pytest.raises(ValueError, match="horizon"):
        write_index_batch(
            batch_postings(docs.where(F.col("doc_id") % 3 == 2)), 2, root
        )
    # new batches beyond the horizon are welcome
    write_index_batch(
        batch_postings(
            docs.where(F.col("doc_id") % 3 == 0).select(
                (F.col("doc_id") + 3_000_000).alias("doc_id"), "text"
            )
        ),
        3,
        root,
    )
    assert len(snap()[0]) > len(before[0])


def test_ingest_auto_compaction_replay_equals_batch(
    spark, sf_small, tmp_path
):
    """The ingest loop's compact_index_every knob: with auto-compaction
    on, the merged index still equals the one-pass build over the final
    kept corpus (replay-equals-batch survives compaction), the newest
    batch stays replayable, and a replay behind the horizon is a loud
    refusal."""
    from realtimedatapipeline_8_project_spark.operators.text_analysis import (
        INDEX_POSTINGS,
        batch_postings,
        bm25_topk_over_postings,
        read_index,
    )

    batches = _doc_batches(spark, sf_small)
    src = str(tmp_path / "src")
    for i, b in enumerate(batches):
        _write_jsonl(b, os.path.join(src, f"b{i}.jsonl"))
        time.sleep(1.1)
    raw = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1")
        .load(src)
    )
    docs = raw.select(
        F.get_json_object("value", "$.doc_id").cast("long").alias("doc_id"),
        F.get_json_object("value", "$.text").alias("text"),
    )
    corpus = str(tmp_path / "corpus")
    q = run_dedup_ingest(
        docs,
        corpus,
        str(tmp_path / "chk"),
        maintain_index=True,
        compact_index_every=2,
    )
    q.awaitTermination()

    idx_dir = os.path.join(corpus, "index")
    ppath = os.path.join(idx_dir, INDEX_POSTINGS)
    dirs = sorted(d for d in os.listdir(ppath) if d.startswith("batch_id="))
    # batch 1 triggered compaction with keep_last=1: batch 0 absorbed,
    # batch 1 kept (then batch 2 appended; 3 % 2 != 0, no compaction)
    assert f"batch_id={COMPACTED_BATCH_ID}" in dirs
    assert "batch_id=0" not in dirs

    postings, stats = read_index(spark, idx_dir)
    kept = read_kept(spark, corpus).select("doc_id", "text")
    one_pass = batch_postings(kept)
    cols = ["term", "doc_id", "tf", "dl", "positions"]
    got = sorted(map(str, postings.select(*cols).collect()))
    assert got == sorted(map(str, one_pass.select(*cols).collect()))
    one_stats = one_pass.agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum("tf").alias("total_dl"),
    )
    assert sorted(
        map(str, bm25_topk_over_postings(postings, stats).collect())
    ) == sorted(
        map(str, bm25_topk_over_postings(one_pass, one_stats).collect())
    )
    # the newest batch is still replayable (idempotent)
    dedup_ingest_batch(
        batches[2], 2, corpus, maintain_index=True, compact_index_every=2
    )
    postings2, _ = read_index(spark, idx_dir)
    assert sorted(map(str, postings2.select(*cols).collect())) == got
    # a replay of the ABSORBED batch 0 refuses loudly
    with pytest.raises(ValueError, match="horizon"):
        dedup_ingest_batch(
            batches[0], 0, corpus, maintain_index=True, compact_index_every=2
        )


def test_compaction_install_survives_crash_at_every_step(
    spark, sf_small, tmp_path
):
    """The compaction install is a sequence of filesystem mutations
    (drop old compacted partition, move staged one in, drop each
    absorbed batch partition, record horizon, drop staging dir).
    Exhaustively crash at EVERY mutation boundary: after recovery the
    reads are row-identical, exactly one compacted partition remains,
    the horizon is recorded, and the staging dir is gone — the
    idempotent-install claim, machine-checked rather than asserted."""
    from realtimedatapipeline_8_project_spark.operators.text_analysis import (
        INDEX_POSTINGS,
        batch_postings,
        compact_index,
        read_index,
        recover_index_compaction,
        write_index_batch,
    )
    from realtimedatapipeline_8_project_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    docs = docs.where(F.col("doc_id") < 120)  # keep the loop fast
    cols = ["term", "doc_id", "tf", "dl", "positions"]

    import shutil as _shutil

    real_move, real_rmtree = _shutil.move, _shutil.rmtree
    real_horizon = fold.write_horizon

    # the pre-compaction tree and its reads are built once; every crash
    # point compacts a fresh copy of it
    pristine = str(tmp_path / "pristine")
    for b in range(3):
        write_index_batch(
            batch_postings(docs.where(F.col("doc_id") % 3 == b)), b, pristine
        )
    postings, stats = read_index(spark, pristine)
    before = (
        sorted(map(str, postings.select(*cols).collect())),
        stats.collect(),
    )

    crash_point = 0
    while True:
        root = str(tmp_path / f"idx{crash_point}")
        _shutil.copytree(pristine, root)

        calls = {"n": 0}

        def _trip():
            calls["n"] += 1
            if calls["n"] > crash_point:
                raise RuntimeError(f"simulated crash at step {crash_point}")

        def move(*a, **k):
            _trip()
            return real_move(*a, **k)

        def rmtree(*a, **k):
            _trip()
            return real_rmtree(*a, **k)

        def horizon(*a, **k):
            _trip()
            return real_horizon(*a, **k)

        crashed = False
        try:
            _shutil.move, _shutil.rmtree = move, rmtree
            fold.write_horizon = horizon
            compact_index(spark, root)
        except RuntimeError:
            crashed = True
        finally:
            _shutil.move, _shutil.rmtree = real_move, real_rmtree
            fold.write_horizon = real_horizon

        if crashed:
            recover_index_compaction(spark, root)
            # a crash BEFORE the stats fold even staged leaves nothing
            # to recover there; the next compaction call resumes it
            compact_index(spark, root)
        postings, stats = read_index(spark, root)
        assert (
            sorted(map(str, postings.select(*cols).collect())),
            stats.collect(),
        ) == before
        ppath = os.path.join(root, INDEX_POSTINGS)
        assert [
            d for d in os.listdir(ppath) if d.startswith("batch_id=")
        ] == [f"batch_id={COMPACTED_BATCH_ID}"]
        # the stats partitions folded too (file-count amortization)
        spath = os.path.join(root, "stats")
        assert [
            d for d in os.listdir(spath) if d.startswith("batch_id=")
        ] == [f"batch_id={COMPACTED_BATCH_ID}"]
        assert fold.read_horizon(ppath) == 2
        assert not os.path.isdir(os.path.join(root, "_postings_compact_tmp"))
        assert not os.path.isdir(os.path.join(root, "_stats_compact_tmp"))
        # the horizon holds after recovery too: absorbed replays refuse
        with pytest.raises(ValueError, match="horizon"):
            write_index_batch(
                batch_postings(docs.where(F.col("doc_id") % 3 == 0)), 0, root
            )
        if not crashed:
            break  # every mutation ran without tripping: all points covered
        crash_point += 1
    assert crash_point >= 8  # postings install + stats fold, every step


def test_torn_horizon_write_keeps_previous_horizon(
    spark, sf_small, tmp_path, monkeypatch
):
    """A crash between opening the horizon file and its data landing
    must leave the previous horizon readable. write_index_batch reads
    the horizon before any recovery runs, so a truncated horizon file
    would fail every later batch with a JSON parse error instead of the
    horizon refusal; the recovered install then records the new one."""
    import builtins

    from realtimedatapipeline_8_project_spark.operators.text_analysis import (
        batch_postings,
        compact_index,
        read_index,
        recover_index_compaction,
        write_index_batch,
    )

    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    docs = docs.where(F.col("doc_id") < 80)
    parts = [docs.where(F.col("doc_id") % 4 == b) for b in range(4)]
    root = str(tmp_path / "index")
    for b in range(2):
        write_index_batch(batch_postings(parts[b]), b, root)
    compact_index(spark, root)  # horizon 1
    for b in (2, 3):
        write_index_batch(batch_postings(parts[b]), b, root)
    cols = ["term", "doc_id", "tf", "dl", "positions"]
    before = sorted(map(str, read_index(spark, root)[0].select(*cols).collect()))

    real_open = builtins.open

    def torn_open(file, mode="r", *a, **k):
        fh = real_open(file, mode, *a, **k)
        name = os.path.basename(str(file))
        if "w" in mode and name.startswith("_compaction_horizon.json"):

            def boom(*_a, **_k):
                raise RuntimeError("simulated crash before the data landed")

            fh.write = boom
        return fh

    monkeypatch.setattr(builtins, "open", torn_open)
    with pytest.raises(RuntimeError, match="simulated"):
        compact_index(spark, root)  # the postings install dies at its horizon
    monkeypatch.undo()

    with pytest.raises(ValueError, match=r"horizon \(1\)"):
        write_index_batch(batch_postings(parts[1]), 1, root)
    assert recover_index_compaction(spark, root) is True
    with pytest.raises(ValueError, match=r"horizon \(3\)"):
        write_index_batch(batch_postings(parts[3]), 3, root)
    after = sorted(map(str, read_index(spark, root)[0].select(*cols).collect()))
    assert after == before


def test_keep_last_larger_than_live_batches_absorbs_nothing(
    spark, sf_small, tmp_path
):
    """keep_last >= the live batch count is a promise to keep them ALL
    — it must absorb nothing, never wrap around and absorb from the
    front (the negative-slice bug: real[:len-keep] with keep > len
    silently absorbed the oldest batch and then wedged its replay on
    the horizon check)."""
    from realtimedatapipeline_8_project_spark.operators.text_analysis import (
        batch_postings,
        compact_index,
        read_index,
        write_index_batch,
    )
    from realtimedatapipeline_8_project_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    docs = docs.where(F.col("doc_id") < 90)
    root = str(tmp_path / "index")
    for b in range(2):
        write_index_batch(
            batch_postings(docs.where(F.col("doc_id") % 2 == b)), b, root
        )
    assert compact_index(spark, root, keep_last=3) == 0
    assert compact_index(spark, root, keep_last=2) == 0
    ppath = os.path.join(root, "postings")
    assert sorted(
        d for d in os.listdir(ppath) if d.startswith("batch_id=")
    ) == ["batch_id=0", "batch_id=1"]
    # every batch still replayable (no horizon was recorded)
    write_index_batch(
        batch_postings(docs.where(F.col("doc_id") % 2 == 0)), 0, root
    )
    postings, _ = read_index(spark, root)
    assert postings.count() > 0


def test_index_format_version_marker_guards_mutable_dirs(
    spark, sf_small, tmp_path
):
    """The streaming index dir is not path-salted like the warehouse
    artifacts, so its format version lives IN the dir: data written by
    an older format (or versionless pre-marker data) must be a loud
    rebuild demand on both write and read — never NULL positions
    silently served to phrase queries."""
    import json

    from realtimedatapipeline_8_project_spark.operators.text_analysis import (
        INDEX_VERSION_FILE,
        batch_postings,
        read_index,
        write_index_batch,
    )
    from realtimedatapipeline_8_project_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    docs = docs.where(F.col("doc_id") < 60)
    root = str(tmp_path / "index")
    write_index_batch(batch_postings(docs), 0, root)
    marker = os.path.join(root, INDEX_VERSION_FILE)
    assert os.path.exists(marker)
    read_index(spark, root)  # current version: fine

    # an older-format dir (marker says v1): refuse on write AND read
    with open(marker, "w") as fh:
        json.dump({"version": 1}, fh)
    with pytest.raises(ValueError, match="format v1"):
        write_index_batch(batch_postings(docs), 1, root)
    with pytest.raises(ValueError, match="format v1"):
        read_index(spark, root)

    # versionless data (pre-marker code): refuse too
    os.remove(marker)
    with pytest.raises(ValueError, match="no format-version"):
        read_index(spark, root)
    with pytest.raises(ValueError, match="no format-version"):
        write_index_batch(batch_postings(docs), 1, root)


def test_ingest_recovers_pending_compaction_before_writing(
    spark, sf_small, tmp_path
):
    """Crash mid-install during auto-compaction, then restart: the
    ingest loop must finish the pending install BEFORE touching the
    index — re-listing a half-landed tree would double-count the
    absorbed batches against the already-moved-in compacted partition."""
    from realtimedatapipeline_8_project_spark.operators.text_analysis import (
        batch_postings,
        compact_index,
        read_index,
        write_index_batch,
    )
    from realtimedatapipeline_8_project_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    docs = docs.where(F.col("doc_id") < 90)
    root = str(tmp_path / "corpus")
    idx = os.path.join(root, "index")
    batches = [docs.where(F.col("doc_id") % 2 == b) for b in range(2)]
    for b in range(2):
        dedup_ingest_batch(batches[b], b, root, maintain_index=True)
    postings, stats = read_index(spark, idx)
    cols = ["term", "doc_id", "tf", "dl", "positions"]
    before = (
        sorted(map(str, postings.select(*cols).collect())),
        stats.collect(),
    )
    # compaction crashes after staging (install never runs)
    orig = fold.install
    try:
        fold.install = lambda parent, sub: None
        compact_index(spark, idx, keep_last=1)
    finally:
        fold.install = orig
    assert os.path.exists(
        os.path.join(idx, "_postings_compact_tmp", "_STAGED")
    )
    # restart: the next ingest batch recovers the install first, then
    # appends; rows = before + the new batch, nothing double-counted.
    # The extra docs must be NEW CONTENT (ids 90-179, never ingested):
    # re-sending batch 0's text under fresh ids would be dropped by the
    # dedup gate itself and prove nothing about the index.
    fresh = load_table(spark, sf_small, "documents").select("doc_id", "text")
    extra = fresh.where(
        (F.col("doc_id") >= 90) & (F.col("doc_id") < 180)
    ).select((F.col("doc_id") + 5_000_000).alias("doc_id"), "text")
    dedup_ingest_batch(extra, 2, root, maintain_index=True)
    assert not os.path.isdir(os.path.join(idx, "_postings_compact_tmp"))
    postings2, _ = read_index(spark, idx)
    # every pre-existing posting row appears exactly once (no
    # double-count), plus the new batch's rows on top
    from collections import Counter

    old_rows = Counter(
        map(
            str,
            postings2.where(F.col("doc_id") < 5_000_000)
            .select(*cols)
            .collect(),
        )
    )
    assert old_rows == Counter(before[0])
    assert postings2.where(F.col("doc_id") >= 5_000_000).count() > 0
