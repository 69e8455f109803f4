"""The snapshot log under KGStore and CorpusStore: marker-gated batch
directories plus per-stream high-water tracking.

    root/snapshots/batch=<i>/...         (the store's data)
                            /_COMMITTED  (written last, atomically)

A directory counts only once its `_COMMITTED` marker exists; a partial
directory left by a crash is invisible and is removed before the batch id is
written again. The same scan and commit serve any other `<name>=<i>` family
of write-once directories a store keeps (CorpusStore's compacted bases).

foreachBatch can replay a micro-batch after a failure, and a stream's epoch
ids restart at 0 whenever it gets a fresh checkpoint dir — so replay
detection must compare epochs against the STREAM's own high-water mark
(keyed by checkpoint location), never against store-monotonic batch ids
(conflating the two silently drops the first N micro-batches of a new
stream on a pre-populated store).

The authoritative record is each snapshot's _COMMITTED metadata, written
atomically with the snapshot — a crash can only ever REPLAY a batch, never
skip one. The per-stream high-water file is a cache that bounds the scan to
snapshots newer than the cached batch id (normally zero; exactly the
crash-window ones after a marker-then-crash). A snapshot's marker
``"metrics"`` sub-dict may carry ``stream_key`` / ``stream_epoch``.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
from contextlib import contextmanager


def write_json_atomic(path: str, obj) -> None:
    """Write `obj` as JSON to `path` so that readers see either no file or
    the whole of it: a tmp file in the same directory, fsynced, then
    `os.replace`d over `path`, and the directory fsynced so the rename
    itself survives a crash. Commit markers must be written this way —
    their existence alone marks a batch committed."""
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(obj, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)
    dfd = os.open(os.path.dirname(path) or ".", os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


def committed_ids(parent: str, prefix: str) -> list[int]:
    """Sorted ids `i` of the `<parent>/<prefix>=<i>` directories that hold a
    `_COMMITTED` marker ([] when `parent` does not exist)."""
    try:
        names = os.listdir(parent)
    except FileNotFoundError:
        return []
    out = []
    for d in names:
        m = re.fullmatch(rf"{prefix}=(\d+)", d)
        if m and os.path.exists(os.path.join(parent, d, "_COMMITTED")):
            out.append(int(m.group(1)))
    return sorted(out)


@contextmanager
def committing(d: str, marker: dict):
    """Write-once directory commit: remove a partial `d` left by a crashed
    run, let the caller write its data into `d`, then write the `_COMMITTED`
    marker atomically. An exception in the body leaves no marker."""
    if os.path.exists(d):
        shutil.rmtree(d)
    yield d
    write_json_atomic(os.path.join(d, "_COMMITTED"), marker)


class SnapshotLog:
    """Base of KGStore and CorpusStore: the batch snapshot directories under
    `root`, their commit, and the per-stream high-water cache."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(os.path.join(root, "snapshots"), exist_ok=True)

    def _snap_dir(self, batch_id: int) -> str:
        return os.path.join(self.root, "snapshots", f"batch={batch_id}")

    def committed_batches(self) -> list[int]:
        return committed_ids(os.path.join(self.root, "snapshots"), "batch")

    def last_committed(self) -> int | None:
        b = self.committed_batches()
        return b[-1] if b else None

    def next_batch_id(self) -> int:
        last = self.last_committed()
        return 0 if last is None else last + 1

    def snapshot_metrics(self, batch_id: int) -> dict:
        with open(os.path.join(self._snap_dir(batch_id), "_COMMITTED")) as f:
            return json.load(f)

    def _commit_snapshot(self, batch_id: int, metrics: dict | None):
        """`committing` for snapshot `batch_id`, marker carrying `metrics`."""
        return committing(
            self._snap_dir(batch_id),
            {"batch_id": batch_id, "metrics": metrics or {}},
        )

    def _stream_hw_path(self, stream_key: str) -> str:
        h = hashlib.sha256(stream_key.encode("utf-8")).hexdigest()[:24]
        return os.path.join(self.root, "streams", f"{h}.json")

    def _write_stream_hw(self, stream_key: str, epoch: int, batch_id: int):
        """Atomic (write_json_atomic) per-stream high-water cache. Source of
        truth stays the _COMMITTED metadata; this file only bounds how far
        back last_stream_epoch must scan."""
        path = self._stream_hw_path(stream_key)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        try:
            with open(path) as f:
                prev = json.load(f)
        except (FileNotFoundError, ValueError):
            prev = None
        if prev is not None and int(prev.get("stream_epoch", -1)) >= epoch:
            return
        write_json_atomic(
            path,
            {
                "stream_key": stream_key,
                "stream_epoch": int(epoch),
                "batch_id": int(batch_id),
            },
        )

    def last_stream_epoch(self, stream_key: str) -> int | None:
        """Highest stream epoch committed for `stream_key` (a checkpoint-dir
        identity); O(1) via the high-water cache, falling back to a metadata
        scan of newer snapshots (see module docstring)."""
        best: int | None = None
        start_batch = 0
        try:
            with open(self._stream_hw_path(stream_key)) as f:
                hw = json.load(f)
            if hw.get("stream_key") == stream_key:
                best = int(hw["stream_epoch"])
                start_batch = int(hw["batch_id"]) + 1
        except (FileNotFoundError, ValueError, KeyError):
            pass  # no cache (old store / crashed mid-write): full scan
        for b in self.committed_batches():
            if b < start_batch:
                continue
            meta = self.snapshot_metrics(b).get("metrics", {})
            if meta.get("stream_key") == stream_key:
                e = int(meta.get("stream_epoch", -1))
                best = e if best is None else max(best, e)
        return best
