"""Minimal Delta-style commit log backing branches and snapshots.

Layout (SURVEY §7 storage decision):

    <root>/data/<snapshot_id>/*.parquet   immutable data files
    <root>/_log/commits.jsonl             append-only commit records
                                          (atomic-append backends only;
                                          object stores write one
                                          _log/commits/<id>.json each)
    <root>/_log/refs/<branch>             branch → commit id
    <root>/_log/snapshots/<id>.json       snapshot manifest

A snapshot manifest lists the parquet *directories* (not individual
files) composing the table at that commit, plus schema and tensor
metadata.  Append-only commits reuse the parent's directories and add
one new delta directory, so an append of N rows writes O(N) bytes no
matter how large the table is — the same property the reference gets
from per-commit chunk maps (``commit_chunk_map.py``).  Updates/pops are
copy-on-write rewrites of the affected snapshot.

Change record (the analogue of the reference's ``commit_diff.py``):
every commit and merge stores in ``Snapshot.extra`` what it changed
relative to its FIRST parent —

- ``ids_stable``: no parent row was renumbered or dropped, so the
  parent's rows keep their ``_row_id`` and anything new sits at
  ``_row_id >= parent.row_count``;
- ``edited``: the tensors whose existing cells changed (including
  tensors created, deleted or renamed).

Index refresh walks this record along the first-parent chain
(``Dataset.update_index`` / ``update_vector_index``) to pay only for
the delta.  A snapshot without the record (written before it existed,
or the root) is treated as "anything may have changed".

The reference's whole commit-tree machinery
(``muller/core/version_control/commit_node.py``, ``commits.py:63-180``)
reduces to these JSON manifests; branches are just named refs into one
shared immutable file pool, so ``checkout`` is O(1).
"""

from __future__ import annotations

import json
import os
import time
import uuid as uuidlib
from dataclasses import dataclass, field
from typing import Any

from muller_spark.fs import get_fs


FIRST_COMMIT = "firstdbf9474d461a19e9333c2fd19b46115348f"  # root sentinel


@dataclass
class Snapshot:
    commit_id: str
    parent_ids: list[str]
    branch: str
    message: str
    timestamp: float
    data_dirs: list[str]          # relative to <root>, composing the table
    schema_json: str | None       # Spark schema JSON of the full table
    tensor_meta: dict[str, dict]  # name → {htype, dtype, ...}
    row_count: int
    next_uuid: int                # uuid allocation watermark
    extra: dict[str, Any] = field(default_factory=dict)

    def to_json(self) -> str:
        return json.dumps(self.__dict__, default=str)

    @classmethod
    def from_json(cls, raw: str) -> "Snapshot":
        data = json.loads(raw)
        known = {f for f in cls.__dataclass_fields__}
        return cls(**{k: v for k, v in data.items() if k in known})


class CommitLog:
    def __init__(self, root: str) -> None:
        self.root = root
        # all metadata I/O goes through the fs seam (muller_spark/fs.py)
        # so the commit log works against object stores, not just POSIX
        self.fs = get_fs(root)
        self.log_dir = os.path.join(root, "_log")
        self.refs_dir = os.path.join(self.log_dir, "refs")
        self.snap_dir = os.path.join(self.log_dir, "snapshots")
        self.data_dir = os.path.join(root, "data")

    # -- lifecycle ---------------------------------------------------------
    def exists(self) -> bool:
        return self.fs.isdir(self.refs_dir) and bool(self.fs.listdir(self.refs_dir))

    def init(self, schema_json: str | None, tensor_meta: dict[str, dict]) -> Snapshot:
        self.fs.makedirs(self.refs_dir)
        self.fs.makedirs(self.snap_dir)
        self.fs.makedirs(self.data_dir)
        snap = Snapshot(
            commit_id=FIRST_COMMIT,
            parent_ids=[],
            branch="main",
            message="initial commit",
            timestamp=time.time(),
            data_dirs=[],
            schema_json=schema_json,
            tensor_meta=tensor_meta,
            row_count=0,
            next_uuid=0,
        )
        self._write_snapshot(snap)
        self.set_ref("main", snap.commit_id)
        self._append_commit_record(snap)
        return snap

    # -- refs --------------------------------------------------------------
    def branches(self) -> list[str]:
        if not self.fs.isdir(self.refs_dir):
            return []
        return sorted(self.fs.listdir(self.refs_dir))

    def get_ref(self, branch: str) -> str:
        path = os.path.join(self.refs_dir, branch)
        if not self.fs.exists(path):
            raise KeyError(f"branch {branch!r} does not exist")
        return self.fs.read_text(path).strip()

    def set_ref(self, branch: str, commit_id: str) -> None:
        self.fs.write_text(os.path.join(self.refs_dir, branch), commit_id)

    def delete_ref(self, branch: str) -> None:
        self.fs.remove(os.path.join(self.refs_dir, branch))

    # -- snapshots ---------------------------------------------------------
    def _write_snapshot(self, snap: Snapshot) -> None:
        self.fs.write_text(
            os.path.join(self.snap_dir, f"{snap.commit_id}.json"), snap.to_json()
        )

    def get_snapshot(self, commit_id: str) -> Snapshot:
        path = os.path.join(self.snap_dir, f"{commit_id}.json")
        if not self.fs.exists(path):
            raise KeyError(f"commit {commit_id!r} does not exist")
        return Snapshot.from_json(self.fs.read_text(path))

    def resolve(self, address: str) -> Snapshot:
        """Branch name or commit id → snapshot."""
        try:
            return self.get_snapshot(self.get_ref(address))
        except KeyError:
            return self.get_snapshot(address)

    def new_commit_id(self) -> str:
        return uuidlib.uuid4().hex

    def commit(
        self,
        parent_ids: list[str],
        branch: str,
        message: str,
        data_dirs: list[str],
        schema_json: str | None,
        tensor_meta: dict[str, dict],
        row_count: int,
        next_uuid: int,
        commit_id: str | None = None,
        extra: dict[str, Any] | None = None,
    ) -> Snapshot:
        snap = Snapshot(
            commit_id=commit_id or self.new_commit_id(),
            parent_ids=parent_ids,
            branch=branch,
            message=message,
            timestamp=time.time(),
            data_dirs=data_dirs,
            schema_json=schema_json,
            tensor_meta=tensor_meta,
            row_count=row_count,
            next_uuid=next_uuid,
            extra=dict(extra or {}),
        )
        self._write_snapshot(snap)
        self.set_ref(branch, snap.commit_id)
        self._append_commit_record(snap)
        return snap

    def _append_commit_record(self, snap: Snapshot) -> None:
        record = {
            "commit_id": snap.commit_id,
            "parent_ids": snap.parent_ids,
            "branch": snap.branch,
            "message": snap.message,
            "timestamp": snap.timestamp,
        }
        if getattr(self.fs, "atomic_append", False):
            self.fs.append_text(
                os.path.join(self.log_dir, "commits.jsonl"),
                json.dumps(record) + "\n",
            )
        else:
            # backends without atomic append (object stores) would lose
            # records to the read-modify-write race; one unique object
            # per commit has no shared write target to race on
            rec_dir = os.path.join(self.log_dir, "commits")
            self.fs.makedirs(rec_dir)
            self.fs.write_text(
                os.path.join(rec_dir, f"{snap.commit_id}.json"),
                json.dumps(record) + "\n",
            )

    def commit_records(self) -> "list[dict]":
        """The audit trail, newest-last by timestamp, from whichever
        layout this backend uses (appended ``commits.jsonl`` on
        atomic-append filesystems, one ``commits/<id>.json`` object per
        commit elsewhere).  Reads both so a dataset moved between
        backends keeps its full history."""
        records: list[dict] = []
        jsonl = os.path.join(self.log_dir, "commits.jsonl")
        if self.fs.exists(jsonl):
            for line in self.fs.read_text(jsonl).splitlines():
                if line.strip():
                    records.append(json.loads(line))
        rec_dir = os.path.join(self.log_dir, "commits")
        if self.fs.isdir(rec_dir):
            for name in self.fs.listdir(rec_dir):
                if name.endswith(".json"):
                    records.append(
                        json.loads(
                            self.fs.read_text(os.path.join(rec_dir, name))
                        )
                    )
        records.sort(key=lambda r: (r.get("timestamp", 0), r.get("commit_id", "")))
        return records

    # -- history -----------------------------------------------------------
    def log(self, commit_id: str) -> list[Snapshot]:
        """First-parent history from a commit back to the root."""
        out = []
        cur: str | None = commit_id
        while cur:
            snap = self.get_snapshot(cur)
            out.append(snap)
            cur = snap.parent_ids[0] if snap.parent_ids else None
        return out

    def ancestors(self, commit_id: str) -> set[str]:
        seen: set[str] = set()
        stack = [commit_id]
        while stack:
            cur = stack.pop()
            if cur in seen:
                continue
            seen.add(cur)
            stack.extend(self.get_snapshot(cur).parent_ids)
        return seen

    def lca(self, a: str, b: str) -> str:
        """Lowest common ancestor of two commits (reference
        ``operations/diff.py:370`` walks the commit graph the same way)."""
        ancestors_a = self.ancestors(a)
        # BFS from b; first commit also in ancestors(a) is the LCA
        from collections import deque

        queue = deque([b])
        seen = set()
        while queue:
            cur = queue.popleft()
            if cur in ancestors_a:
                return cur
            if cur in seen:
                continue
            seen.add(cur)
            queue.extend(self.get_snapshot(cur).parent_ids)
        raise ValueError(f"no common ancestor between {a} and {b}")
