"""Append-log ledgers: the crash-safety primitives every ledger family
shares, and the one lifecycle of the four statistics ledgers
(aggregate, HLL, Misra–Gries, quantile).

A ledger is persistent parquet state at ``<path>``: a ``meta`` table
pinning its geometry, and one or more append-only logs.  Ingest appends
an O(batch) partial to a log and never reads prior state; reads fold
the log; compaction writes the fold to ``<log>.compact`` and promotes
it with :func:`_swap_log_dir` (rename-rename-rmtree), whose only
no-live-dir window :func:`_recover_log_swap` heals before the next
read, ingest or compaction.  ``lock=`` on every mutator is the opt-in
single-writer lease (:func:`_writer_lease`).

Crash classes — every family names one of these instead of restating
it:

- **marker + landed manifest** — weight-carrying logs (aggregate
  partials, quantile sketches, Misra–Gries summaries): a re-appended
  partial DOUBLE-COUNTS its batch.  Batch ingest is single-writer; a
  stream twin lands each micro-batch as a ``_SUCCESS``-marked
  ``<log>/ingest_run=<ns>/ingest_batch=<id>`` subdirectory and then
  touches ``<path>/landed/<ns>_<id>``.  A replay that finds the
  manifest entry does nothing; one that finds only the marker records
  the entry (the crash fell between the two writes).  Compaction folds
  subdirectories into flat files, dropping their markers, so it first
  manifests every committed subdirectory (:func:`_manifest_folded_batches`)
  and never deletes entries — compacting a STOPPED stream is safe;
  compacting a live one is not (single-writer).
- **heal-or-advance** — posting logs where duplicate rows do not change
  any decision (exact-hash, MinHash near-dup, Hamming and embedding
  ledgers): a stream twin lands its survivors exactly once under a
  marker and ALWAYS (re-)appends their ledger rows from the landed
  output, so a crash between land and append heals on replay.
  Compaction is a distinct-fold (:func:`_compact_ledger_log`).
- **no guard** — max-merge (HLL registers) and semilattice (connected
  components) logs: re-appending is absorbed by the merge itself, so
  replays are harmless and stream twins need no marker at all.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
from collections.abc import Callable, Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame

from muller_spark.fs import LocalFS

_LOCAL = LocalFS()


def _recover_log_swap(live_dir: str, fs=_LOCAL) -> None:
    """Finish a :func:`_swap_log_dir` interrupted by a crash: if the
    live directory is missing, promote a fully-written ``.compact``
    sibling (its parquet ``_SUCCESS`` present) or else restore ``.old``;
    drop a leftover ``.old`` once the live directory is back.  It
    renames, so a caller running beside a live swap races that swap's
    own renames."""
    tmp = live_dir + ".compact"
    old = live_dir + ".old"
    if not fs.isdir(live_dir):
        if fs.exists(os.path.join(tmp, "_SUCCESS")):
            fs.rename(tmp, live_dir)
        elif fs.isdir(old):
            fs.rename(old, live_dir)
    if fs.isdir(live_dir) and fs.isdir(old):
        fs.rmtree(old)


def _swap_log_dir(live_dir: str, fs=_LOCAL) -> None:
    """Promote ``live_dir + '.compact'`` (already fully written) to
    ``live_dir`` via rename-rename-rmtree: the directory is never
    deleted before its replacement is complete on disk, and the only
    no-live-dir window is between two renames — which
    :func:`_recover_log_swap` closes on the next write.  A missing
    ``live_dir`` (a table's first write) is simply created.  ``fs`` is
    the metadata filesystem seam (``muller_spark.fs``)."""
    old = live_dir + ".old"
    with contextlib.suppress(FileNotFoundError):
        fs.rmtree(old)  # stale from a prior crash
    if fs.isdir(live_dir):
        fs.rename(live_dir, old)
    fs.rename(live_dir + ".compact", live_dir)
    with contextlib.suppress(FileNotFoundError):
        fs.rmtree(old)


def _writer_lease(path: str, lock):
    """Opt-in single-writer lease for a ledger mutation, turning the
    documented single-writer contract into an enforced one for callers
    that face scheduler retries.  ``lock`` is the per-call opt-in:

    - falsy (default) — no-op, the caller owns serialization;
    - ``True`` — acquire the ledger's lease with defaults: a second
      concurrent writer RAISES ``BranchLockedError`` immediately;
    - a dict — ``BranchLock`` kwargs passthrough (``owner``, ``ttl``,
      ``timeout`` — give a timeout to QUEUE instead of raising,
      ``poll_interval``).

    The lease file lives at ``<ledger>/locks/writer.lock`` — the same
    atomic-exclusive-create + stale-lease-takeover machinery as branch
    commits (``versioning/locks.py``), so a crashed writer's lease is
    reclaimed after its TTL instead of wedging the ledger."""
    if not lock:
        return contextlib.nullcontext()
    from muller_spark.versioning.locks import BranchLock

    kwargs = dict(lock) if isinstance(lock, dict) else {}
    return BranchLock(path, "writer", **kwargs)


def _manifest_folded_batches(path: str, log_name: str) -> None:
    """Record a ``landed`` manifest entry for every COMMITTED streaming
    batch subdir (``<log>/ingest_run=*/ingest_batch=*`` with its
    parquet ``_SUCCESS``) that lacks one, before compaction folds the
    subdirs into flat files and drops their markers.  Written BEFORE
    the fold, so a crashed compaction is harmless (the subdir still
    exists and still counts once).  A no-op on a log without stream
    subdirectories."""
    landed_dir = os.path.join(path, "landed")
    pattern = os.path.join(
        path, log_name, "ingest_run=*", "ingest_batch=*", "_SUCCESS"
    )
    for marker in glob.glob(pattern):
        bdir = os.path.dirname(marker)
        batch = os.path.basename(bdir).split("=", 1)[1]
        run = os.path.basename(os.path.dirname(bdir)).split("=", 1)[1]
        os.makedirs(landed_dir, exist_ok=True)
        entry = os.path.join(landed_dir, f"{run}_{batch}")
        if not os.path.exists(entry):
            open(entry, "a").close()


def _compact_ledger_log(spark, path: str, names: "list[str]") -> None:
    """Distinct-fold each listed log of a heal-or-advance ledger through
    the ``.compact`` swap.  Logs are folded one at a time — a crash
    between two leaves one folded and one not, which is CORRECT
    (folding is logically a no-op: it only reclaims the space and file
    count of decision-harmless duplicates)."""
    for name in names:
        live = os.path.join(path, name)
        _recover_log_swap(live)
        spark.read.parquet(live).distinct().write.mode("overwrite").parquet(
            live + ".compact"
        )
        _swap_log_dir(live)


def _recover_ledger_log(path: str, names: "list[str]") -> None:
    """Heal interrupted compaction swaps for the listed logs before a
    read."""
    for name in names:
        _recover_log_swap(os.path.join(path, name))


# (frame, key columns, meta row) -> frame
_Stage = Callable[[DataFrame, "list[str]", object], DataFrame]


@dataclass(frozen=True)
class StatsLedger:
    """The lifecycle of one statistics-ledger family.  A family supplies
    only its log directory name, the integer parameters its meta pins
    beyond ``(key_cols, value_col)``, and two stages over the log's
    row form:

    - ``partials(df, keys, meta)`` — the mergeable partial of a frame
      (what init writes and ingest appends);
    - ``fold(log, keys, meta)`` — the log merged to one partial per
      key, in the SAME row form.

    Reads and compaction both go through ``fold``, so a report before
    compaction equals the report after by construction.  ``meta`` is
    the meta row (a dict while seeding)."""

    log: str
    meta_cols: "tuple[str, ...]"
    partials: _Stage
    fold: _Stage

    def init(
        self,
        df: DataFrame,
        key_cols: Sequence[str],
        value_col: str,
        path: str,
        lock=False,
        **params: int,
    ) -> None:
        """Pin the meta row, then write the seed partial; both refuse
        an existing ledger."""
        with _writer_lease(path, lock):
            keys = list(key_cols)
            meta = {"key_cols": json.dumps(keys), "value_col": value_col}
            meta.update((c, int(params[c])) for c in self.meta_cols)
            ddl = ", ".join(
                ["key_cols string", "value_col string"]
                + [f"{c} int" for c in self.meta_cols]
            )
            df.sparkSession.createDataFrame(
                [tuple(meta.values())], ddl
            ).write.mode("error").parquet(os.path.join(path, "meta"))
            self.partials(df, keys, meta).write.mode("error").parquet(
                os.path.join(path, self.log)
            )

    def load_meta(self, spark, path: str):
        """``(keys, meta row)``, after healing an interrupted swap of
        the log."""
        meta = spark.read.parquet(os.path.join(path, "meta")).first()
        _recover_log_swap(os.path.join(path, self.log))
        return json.loads(meta["key_cols"]), meta

    def ingest(self, batch: DataFrame, path: str, lock=False) -> None:
        """Append the batch's partial — O(batch), no read of prior
        state; grouping and parameters come from the meta row."""
        with _writer_lease(path, lock):
            keys, meta = self.load_meta(batch.sparkSession, path)
            self.partials(batch, keys, meta).write.mode("append").parquet(
                os.path.join(path, self.log)
            )

    def read(self, spark, path: str) -> "tuple[DataFrame, list[str], object]":
        """``(fold of the log, keys, meta row)``.  The lookup is
        recursive: stream twins land partials in batch subdirectories
        beside the flat batch-ingest files."""
        keys, meta = self.load_meta(spark, path)
        log = spark.read.option("recursiveFileLookup", "true").parquet(
            os.path.join(path, self.log)
        )
        return self.fold(log, keys, meta), keys, meta

    def compact(self, spark, path: str, lock=False) -> None:
        """Rewrite the log as its fold through the ``.compact`` swap,
        manifesting committed stream batches first."""
        with _writer_lease(path, lock):
            log_dir = os.path.join(path, self.log)
            _manifest_folded_batches(path, self.log)
            folded, _, _ = self.read(spark, path)
            folded.write.mode("overwrite").parquet(log_dir + ".compact")
            _swap_log_dir(log_dir)
