"""Per-stream high-water tracking shared by KGStore and CorpusStore.

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
crash-window ones after a marker-then-crash).

Host classes provide: ``self.root``, ``committed_batches() -> list[int]``,
and ``snapshot_metrics(batch_id) -> dict`` whose ``"metrics"`` sub-dict may
carry ``stream_key`` / ``stream_epoch``.
"""

from __future__ import annotations

import hashlib
import json
import os


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


class StreamEpochMixin:
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
