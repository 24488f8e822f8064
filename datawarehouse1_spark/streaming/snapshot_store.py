"""Versioned snapshot store with an atomic pointer swap.

Fixes the non-atomic ``mode("overwrite")`` serving rewrite the r6
streaming sinks used (delete-then-rewrite: a crash mid-rewrite left a
partial or empty snapshot that the replayed batch silently used as its
base, permanently losing history). Layout::

    <path>            -> symlink to the current version directory
    <path>.v<000..N>  -> immutable Spark parquet outputs (_SUCCESS-marked)

Publish protocol (single-writer, which is what foreachBatch guarantees):

1. write the new snapshot to a fresh ``<path>.v{version}`` directory
   (the serving copy is never touched);
2. atomically repoint ``<path>`` at it — create a temp symlink and
   ``os.replace`` it over the pointer (POSIX rename atomicity);
3. prune superseded version directories.

A crash anywhere leaves either the old pointer (old snapshot fully
intact) or the new pointer (new snapshot fully intact); ``resolve``
additionally recovers from a missing/dangling pointer by scanning for
the newest ``_SUCCESS``-complete version directory, so even a crash
inside the legacy-layout migration (step 0 below) loses nothing.

The version number doubles as the replay guard: foreachBatch is
at-least-once, and the version a snapshot was published under IS the
batch id that produced it, so "has batch N already been folded in?" is
``latest_version(path) >= N`` — no metadata column in the serving
schema, no extra Spark job per batch (both flagged by r6 ADVICE).
``snapshot_sink`` is the one foreachBatch body built on it: every
streaming maintainer passes it a fold (old snapshot + batch -> new
snapshot) and it runs the guard, the read and the publish.

Zero-d versions sort lexically == numerically, so "newest" needs no
parsing. Single-node filesystem semantics (os.symlink/os.replace) match
the local/NFS deployments this sink targets; on an object store the
same protocol is a pointer FILE (write temp + rename), noted inline.

Reader caveat: a reader that resolved the pointer BEFORE a publish and
is still scanning the old version dir when prune fires will see files
vanish mid-read (the classic snapshot-store trade-off). Deployments
with long-running concurrent readers should retain N>1 versions —
prune keeps exactly the current one because the foreachBatch sinks it
serves re-resolve per micro-batch.

CHECKPOINT-COUPLING CONTRACT (r9 code review): using the version as
the replay guard assumes the streaming CHECKPOINT and this store live
and die together — batch ids are only meaningful relative to the
checkpoint that numbered them. If the checkpoint is lost and the
stream restarts with rebased batch ids while the store survives, the
guard reads every early batch as "already applied". For sinks whose
application is idempotent by algebra, a content-based guard removes
the hazard: ``snapshot_sink(..., idempotent=True)`` runs their fold on
a replay too, and the fold publishes only when the batch changes
something (takedown, leakage guard, attribution). For the
NON-idempotent sinks (``idempotent=False``: rollup merge, CDC apply,
SCD2, near-dup/fingerprint indexes, zone maps, drift log), re-applying
would corrupt state, so no automatic recovery is correct: on
checkpoint loss, restart those pipelines against a fresh store (or
re-bootstrap from batch sources) — deleting the checkpoint but
keeping the store is an operator error for them, documented here
rather than guessed around.
"""

from __future__ import annotations

import glob
import os
import shutil
from collections.abc import Callable
from typing import Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from datawarehouse1_spark.catalog import footer_schema

_WIDTH = 20  # zero-pad so lexical sort == numeric sort for any int64


def _version_dir(path: str, version: int) -> str:
    return f"{path}.v{version:0{_WIDTH}d}"


def _complete(d: str) -> bool:
    """A version directory is readable only once Spark's _SUCCESS marker
    landed — a crash mid-write leaves no marker and the dir is ignored."""
    return os.path.isdir(d) and os.path.exists(os.path.join(d, "_SUCCESS"))


def _version_of(path: str, d: str) -> Optional[int]:
    tail = os.path.basename(d)[len(os.path.basename(path)) + 2 :]
    return int(tail) if tail.isdigit() else None


def _scan_versions(path: str) -> list[str]:
    pref = glob.escape(path) + ".v"
    return sorted(d for d in glob.glob(pref + "*") if _complete(d))


def resolve(path: str) -> Optional[str]:
    """Directory currently safe to read, or None if nothing published.

    Prefers the pointer; falls back to the newest complete version dir
    (crash recovery). A legacy real-directory layout (pre-pointer) is
    served as-is if it carries _SUCCESS."""
    if os.path.islink(path):
        target = os.path.realpath(path)
        if _complete(target):
            return target
    elif _complete(path):  # legacy layout: real dir at the serving path
        return path
    versions = _scan_versions(path)
    return versions[-1] if versions else None


def latest_version(path: str) -> Optional[int]:
    """Version of the snapshot `resolve` would serve (the replay guard)."""
    d = resolve(path)
    return _version_of(path, d) if d is not None else None


def read_snapshot(spark: SparkSession, path: str) -> Optional[DataFrame]:
    """The served snapshot, or None if nothing published. Its schema
    comes from one part file's footer (catalog.footer_schema), so the
    read runs no Spark job; Spark infers only where the footer cannot
    say."""
    d = resolve(path)
    if d is None:
        return None
    schema = footer_schema(spark, d)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(d)


def publish_snapshot(df: DataFrame, path: str, version: int) -> None:
    """Write `df` as version `version` and atomically repoint `path`."""
    vdir = _version_dir(path, version)
    df.write.mode("overwrite").parquet(vdir)
    if not _complete(vdir):  # Spark local writes always emit _SUCCESS
        raise RuntimeError(f"snapshot write left no _SUCCESS marker: {vdir}")
    # step 0 — one-time migration off the legacy real-dir layout: move
    # the old dir aside (it stays recoverable until the pointer lands)
    if os.path.isdir(path) and not os.path.islink(path):
        os.rename(path, f"{path}.legacy")
    # atomic swap: temp symlink + rename over the pointer. Relative
    # target: pointer and version dirs share a parent, so the tree is
    # relocatable. (Object-store port: write a temp pointer FILE with
    # the version dir name, then rename — same two steps.)
    tmp = f"{path}.ptr_tmp"
    if os.path.lexists(tmp):
        os.remove(tmp)
    os.symlink(os.path.basename(vdir), tmp)
    os.replace(tmp, path)
    _prune(path, keep=vdir)


def _prune(path: str, keep: str) -> None:
    keep_abs = os.path.abspath(keep)
    doomed = [d for d in _scan_versions(path) if os.path.abspath(d) != keep_abs]
    legacy = f"{path}.legacy"
    if os.path.isdir(legacy):
        doomed.append(legacy)
    for d in doomed:
        shutil.rmtree(d, ignore_errors=True)


def snapshot_sink(
    spark: SparkSession,
    path: str,
    fold: Callable[[DataFrame, Optional[DataFrame], int, bool], Optional[DataFrame]],
    idempotent: bool = False,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch body that folds each micro-batch into the snapshot
    at `path` — both replay guards of SCALE.md rule 24 in one place.

    Per non-empty batch, `replay` is "the published version already
    covers this batch id". A strict sink (`idempotent=False`) skips a
    replay without calling `fold`. An idempotent sink calls
    `fold(batch, old, version, replay)` on a replay too, so the fold
    can probe the batch's content; there `version` is one past the
    published version, which stays monotonic across a batch-id
    rebase. Otherwise `version` is the batch id. `old` is the current
    snapshot (None before the first publish); the fold returns the new
    snapshot, or None to publish nothing. Side outputs the fold writes
    land before the publish, so a crash between them is healed by the
    redelivery."""

    def sink(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        applied = latest_version(path)
        replay = applied is not None and applied >= batch_id
        if replay and not idempotent:
            return  # checkpoint replay — already folded in
        version = applied + 1 if replay else batch_id
        new = fold(batch, read_snapshot(spark, path), version, replay)
        if new is not None:
            publish_snapshot(new, path, version)

    return sink


def content_key(col: str) -> Column:
    """sha256 hex of the sorted, comma-joined values of `col` in the
    group: an order-independent key of a batch's id set, naming the
    content-keyed side directories of the idempotent sinks."""
    return F.sha2(F.concat_ws(",", F.sort_array(F.collect_list(col))), 256)
