"""Structured-Streaming front end for incremental KG construction.

The reference has no streaming — its incrementality is a batch loop over
observation dates with pickle checkpoints (evaluation/latency/testing_atom.py:
294-526). The natural Spark expression is `readStream` over the pages source
with `foreachBatch` invoking the same batch merge used everywhere else
(KGPipeline.commit_batch → canonicalize → snapshot commit). No stateful
streaming operators are needed: late pages simply merge in a later batch and
their warc_ts lands in the edge's t_obs list (SURVEY.md §2.8 — the t_obs-
ordered batch loop IS the stream semantics).

On a cluster the sink is Iceberg MERGE INTO per micro-batch; here the
KGStore parquet-snapshot contract stands in. Exactly-once: foreachBatch can
replay a micro-batch after failure — `run_stream_batch` skips epochs at or
below the store's per-stream high-water mark. The stream epoch is tracked
SEPARATELY from the snapshot batch id and keyed by the checkpoint location:
epoch ids restart at 0 when a stream gets a fresh checkpoint dir, and a
store pre-populated by batch `run_batch` calls has committed batch ids that
say nothing about stream progress — conflating the two (round 1) silently
dropped the first N micro-batches of a new stream as "replays".
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from itext2kg_spark.pipeline import KGPipeline
from itext2kg_spark.sources.store import KGStore


def incremental_kg_stream(
    pages_stream: DataFrame,
    store: KGStore,
    pipeline: KGPipeline | None = None,
    checkpoint_dir: str | None = None,
    trigger_once: bool = True,
):
    """Attach the incremental KG merge to a streaming pages DataFrame.

    Returns the started StreamingQuery. `pages_stream` must be a streaming
    DataFrame with the pages schema (url, warc_ts, html, text, lang) — e.g.
    `spark.readStream.schema(PAGES_SCHEMA).parquet(dir)`.
    """
    pipe = pipeline or KGPipeline()
    stream_key = checkpoint_dir or "default"

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        run_stream_batch(batch_df, epoch_id, store, pipe, stream_key=stream_key)

    writer = pages_stream.writeStream.foreachBatch(process)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_stream_batch(
    batch_df: DataFrame,
    epoch_id: int,
    store: KGStore,
    pipe: KGPipeline,
    stream_key: str = "default",
) -> bool:
    """Idempotent micro-batch merge; returns True if the batch was applied.

    `stream_key` identifies the stream's checkpoint location; the replay
    filter compares epoch_id against that key's own high-water mark, never
    against snapshot batch ids (see module docstring). Snapshot ids come
    from store.next_batch_id() like every batch commit."""
    last = store.last_stream_epoch(stream_key)
    if last is not None and epoch_id <= last:
        return False  # replayed micro-batch after restart — already merged
    if batch_df.isEmpty():
        return False
    pipe.commit_batch(
        batch_df,
        store,
        {"stream_key": stream_key, "stream_epoch": int(epoch_id)},
    )
    return True
