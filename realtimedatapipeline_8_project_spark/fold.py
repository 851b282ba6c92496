"""The batch-partition layout and its one fold-and-install protocol.

Every batch-keyed artifact in this package (the history and partial
sinks, the dedup corpus and its ledger, the gram, phash and
quality-stats streams, the text index's seven subdirs, the IVF lists
and vector tombstones) is a directory of ``batch_id=N`` partitions.
This module is the only place that spells that layout:

* write (:func:`write_batch`, :func:`write_partitions`): tag a frame
  with its batch id and dynamic-overwrite exactly its partitions, so a
  replay of batch N replaces batch N and nothing else — the idempotent
  half of at-least-once ``foreachBatch`` plus idempotent sink;
* read (:func:`read_batches`, :func:`batch_schema`): the data schema
  plus the ``batch_id int`` partition column, pinned explicitly so a
  zero-partition dir reads as the typed empty frame and a corrupt one
  still fails at execution;
* name (:func:`batch_ids`, :func:`drop_batch`): list and remove
  partitions; no other module builds a partition path.

Compaction folds the batch partitions into the single
``batch_id=COMPACTED_BATCH_ID`` partition, and this module is also the
only definition of how that fold is committed and recovered:

* plan (:func:`plan`): the real batch ids to absorb — the ``keep_last``
  highest are exempt, the streaming replay margin — plus the previous
  compacted partition as a source;
* stage (:func:`stage_and_install`): the caller's merged frame is
  tagged as the compacted partition and written to
  ``_<sub>_compact_tmp`` beside the live dir, then a
  manifest (absorbed partition names, horizon, empty-fold flag), then
  the completion marker — each marker through :func:`atomic_write`;
* install (:func:`install`): mark the staging as installing, move the
  staged compacted partition in, remove the absorbed partitions, record
  the horizon, drop the staging. Every step is idempotent, so a crash
  anywhere inside is finished by re-running it;
* recover (:func:`recover`): a staging with its completion marker is
  installed, any other staging is discarded — the live dir was never
  touched before the marker landed. Writers recover at entry; readers
  call :func:`check_servable`, which refuses a live dir whose install
  started and did not finish (it may lack its compacted rows, or hold
  them twice);
* horizon (:func:`read_horizon` / :func:`write_horizon`): the largest
  batch id ever absorbed, kept inside the live dir (underscore-prefixed,
  so parquet readers skip it) and written only by the install, so rows
  and horizon can never disagree. Writers consult it to refuse (index)
  or no-op (partial sinks) a replay of an absorbed batch.

It imports nothing from the package (only pyspark), so ``operators/``
and ``streaming/`` both build on it without an import cycle. Like the
rest of the sink family it assumes a local filesystem.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import functions as F

COMPACTED_BATCH_ID = -1
_HORIZON = "_compaction_horizon.json"
_MANIFEST = "_MANIFEST.json"
_STAGED = "_STAGED"
_INSTALLING = "_INSTALLING"


def atomic_write(path: str, text: str) -> None:
    """Write ``text`` to ``path`` via tmp + fsync + rename: a crash
    leaves either the previous file or the new one, never a torn one."""
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(text)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)


def write_partitions(df, path: str) -> None:
    """Dynamic-overwrite the partitions of ``path`` that ``df`` (which
    already carries its ``batch_id`` column) has rows for; every other
    partition is left as it is. A partition with no rows in ``df`` is
    not touched, so removing one takes :func:`drop_batch`."""
    (
        df.write.mode("overwrite")
        .partitionBy("batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(path)
    )


def write_batch(df, batch_id: int, path: str) -> None:
    """Write ``df`` as partition ``batch_id`` of ``path``, replacing
    exactly that partition: a replay of the batch is idempotent. The
    caller's repartition and sort shape the files."""
    write_partitions(df.withColumn("batch_id", F.lit(batch_id)), path)


def write_compacted(df, path: str) -> None:
    """Replace the whole dir ``path`` with ``df`` tagged as its
    compacted partition: how a staging dir is written."""
    (
        df.withColumn("batch_id", F.lit(COMPACTED_BATCH_ID))
        .write.mode("overwrite")
        .partitionBy("batch_id")
        .parquet(path)
    )


def batch_schema(schema: str) -> str:
    """The read schema of a batch-partitioned dir of ``schema`` rows."""
    return schema + ", batch_id int"


def read_batches(spark, path: str, schema: str):
    """Every partition of ``path`` as ``schema`` rows plus ``batch_id``.
    The schema is explicit, so a dir with no partitions reads as the
    typed empty frame and never needs inference; an absent dir fails
    at analysis and a corrupt file at execution."""
    return spark.read.schema(batch_schema(schema)).parquet(path)


def drop_batch(path: str, batch_id: int) -> None:
    """Remove partition ``batch_id`` of ``path`` (a directory drop, no
    rewrite)."""
    shutil.rmtree(_partition(path, batch_id))


def _partition(path: str, batch_id: int) -> str:
    return os.path.join(path, f"batch_id={batch_id}")


def batch_ids(path: str) -> set[int]:
    """The ids of the ``batch_id=`` partition dirs under ``path`` (empty
    for an absent dir). A non-integer partition value raises."""
    if not os.path.isdir(path):
        return set()
    return {
        int(d.split("=", 1)[1])
        for d in os.listdir(path)
        if d.startswith("batch_id=")
    }


def read_horizon(live: str) -> int | None:
    """The largest batch id ever absorbed into ``live``'s compacted
    partition, or None before any fold recorded one."""
    f = os.path.join(live, _HORIZON)
    if not os.path.exists(f):
        return None
    with open(f) as fh:
        return int(json.load(fh)["horizon"])


def write_horizon(live: str, horizon: int) -> None:
    atomic_write(os.path.join(live, _HORIZON), json.dumps({"horizon": horizon}))


def folded(live: str, batch_id: int) -> bool:
    """True iff ``batch_id`` is at or below ``live``'s horizon: its rows
    are already in the compacted partition."""
    horizon = read_horizon(live)
    return horizon is not None and batch_id <= horizon


def next_horizon(live: str, absorb: list) -> int:
    """The horizon a fold absorbing ``absorb`` records (monotone)."""
    prev = read_horizon(live)
    return max(absorb) if prev is None else max(prev, max(absorb))


def plan(live: str, keep_last: int) -> tuple[list, list]:
    """The fold plan for ``live``: (absorb, src_ids) — the real batch
    ids to absorb (the ``keep_last`` HIGHEST ids are exempt; keep_last
    >= the live batch count absorbs NOTHING — the margin is a promise,
    never a wrap-around) and the full source-id list including a
    previous compacted partition. absorb == [] means nothing to do."""
    ids = sorted(batch_ids(live))
    real = [i for i in ids if i != COMPACTED_BATCH_ID]
    absorb = real[: max(0, len(real) - keep_last)] if keep_last > 0 else real
    if not absorb:
        return [], []
    src_ids = absorb + (
        [COMPACTED_BATCH_ID] if COMPACTED_BATCH_ID in ids else []
    )
    return absorb, src_ids


def staging_path(parent: str, sub: str) -> str:
    return os.path.join(parent, f"_{sub}_compact_tmp")


def mark_staged(tmp: str, manifest: dict) -> None:
    """Complete the staging ``tmp``: its manifest, then the marker that
    makes recovery install it instead of discarding it."""
    atomic_write(os.path.join(tmp, _MANIFEST), json.dumps(manifest))
    atomic_write(os.path.join(tmp, _STAGED), "")


def read_manifest(tmp: str) -> dict:
    with open(os.path.join(tmp, _MANIFEST)) as fh:
        return json.load(fh)


def stage_and_install(
    merged,
    parent: str,
    sub: str,
    absorbed: list,
    horizon: int | None,
) -> None:
    """Stage ``merged`` (untagged data rows) as the new compacted
    partition of ``parent/sub``, complete the staging, then run the
    install."""
    tmp = staging_path(parent, sub)
    try:
        write_compacted(merged, tmp)
        manifest = {"absorbed": [f"batch_id={i}" for i in absorbed]}
        # a zero-row merge writes NO staged partition dir: record that
        # it means "the new compacted partition is empty" so the
        # install removes a prior compacted partition instead of
        # leaving its rows to resurrect (and so a recovery re-run can
        # tell "empty" apart from "already moved in")
        if not os.path.isdir(_partition(tmp, COMPACTED_BATCH_ID)):
            manifest["staged_empty"] = True
        if horizon is not None:
            manifest["horizon"] = horizon
        mark_staged(tmp, manifest)
    except Exception:
        shutil.rmtree(tmp, ignore_errors=True)  # incomplete staging
        raise
    install(parent, sub)


def install(parent: str, sub: str) -> None:
    """Install the COMPLETE staging of ``parent/sub``: move the staged
    compacted partition into place, remove the absorbed batch
    partitions listed in the manifest, record the horizon, drop the
    staging dir. Every step is idempotent."""
    live, tmp = os.path.join(parent, sub), staging_path(parent, sub)
    m = read_manifest(tmp)
    atomic_write(os.path.join(tmp, _INSTALLING), "")
    staged = _partition(tmp, COMPACTED_BATCH_ID)
    target = _partition(live, COMPACTED_BATCH_ID)
    if os.path.isdir(staged):
        shutil.rmtree(target, ignore_errors=True)
        os.makedirs(live, exist_ok=True)
        shutil.move(staged, target)
    elif m.get("staged_empty"):
        # the fold's result is ZERO rows (e.g. every absorbed tombstone
        # purged): a prior compacted partition must be REMOVED, not left
        # to resurrect its rows. The manifest flag (recorded at staging
        # time) distinguishes this from "staged dir already moved in" —
        # a recovery re-run must not delete a just-installed partition.
        shutil.rmtree(target, ignore_errors=True)
    for d in m["absorbed"]:
        shutil.rmtree(os.path.join(live, d), ignore_errors=True)
    if "horizon" in m:  # folds that derive from another dir carry none
        # an empty fold moved no live dir into place, yet its horizon
        # must still land (a dual re-derived from an emptied compacted
        # partition would otherwise read as stale forever)
        os.makedirs(live, exist_ok=True)
        write_horizon(live, int(m["horizon"]))
    shutil.rmtree(tmp)


def recover_staging(tmp: str, install_fn) -> bool:
    """The one recovery rule for a staging dir: complete (marker
    present) -> ``install_fn()``; anything else -> discarded. Returns
    True iff an install ran."""
    if not os.path.isdir(tmp):
        return False
    if not os.path.exists(os.path.join(tmp, _STAGED)):
        shutil.rmtree(tmp, ignore_errors=True)
        return False
    install_fn()
    return True


def _refuse_retired(parent: str, sub: str) -> None:
    """Refuse a dir compacted by the retired whole-dir swap (its
    ``_compacted_through`` marker, or its ``_<sub>_tmp`` staging): that
    replay guard is not read here, so continuing would lose it
    silently."""
    live = os.path.join(parent, sub)
    if os.path.exists(os.path.join(live, "_compacted_through")) or (
        os.path.isdir(os.path.join(parent, f"_{sub}_tmp"))
    ):
        raise ValueError(
            f"{live} was compacted by the retired whole-dir swap "
            "(_compacted_through marker or _<sub>_tmp staging): its "
            "folded-batch replay guard is not readable by this code — "
            "rebuild the artifact from its source stream"
        )


def check_servable(parent: str, sub: str) -> None:
    """Raise unless ``parent/sub`` can be read as it stands: an install
    that started and did not finish may have removed the old compacted
    partition before moving the new one in (a read would undercount) or
    moved it in before removing the absorbed partitions (a read would
    count them twice). A complete staging whose install never started
    leaves the live dir as it was, so it does not stop a read."""
    _refuse_retired(parent, sub)
    if os.path.exists(os.path.join(staging_path(parent, sub), _INSTALLING)):
        raise ValueError(
            f"an install into {os.path.join(parent, sub)} crashed before it "
            "finished: serving it now could miss or double its folded "
            "rows — run fold.recover (every writer of it does at entry)"
        )


def recover(parent: str, sub: str) -> bool:
    """Finish a fold of ``parent/sub`` that crashed after its staging
    completed; discard an incomplete staging. Returns True if a pending
    install was completed. A dir of the retired whole-dir swap is
    refused."""
    _refuse_retired(parent, sub)
    return recover_staging(
        staging_path(parent, sub), lambda: install(parent, sub)
    )
