"""Structured-Streaming corpus front end: micro-batches of documents dedup
against the survivor store via foreachBatch; replayed epochs are idempotent
(and even an undetected replay is safe-by-dedup)."""

import json
import os

from itext2kg_spark.corpus import CorpusStore
from itext2kg_spark.streaming.corpus_stream import (
    incremental_corpus_stream,
    run_corpus_stream_batch,
)

EN = ("the cat and the dog of the house in a tree that runs for fun "
      "and it is a good day for the animals to play in the sun today")
KW = dict(langs=("en", "und"), min_tokens=5, min_quality_10k=0,
          near_dup_threshold=0.8)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_corpus_stream_available_now(spark, tmp_path):
    src = str(tmp_path / "docs_in")
    near = EN.split(); near[5] = "hound"
    _docs(spark, [(0, EN), (1, " ".join(near))]).write.parquet(src)
    store = CorpusStore(str(tmp_path / "corpus"))

    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = incremental_corpus_stream(
        stream, store, checkpoint_dir=str(tmp_path / "ckpt"),
        trigger_once=True, **KW,
    )
    q.awaitTermination(120)
    surv = store.load_survivors(spark)
    assert [r["doc_id"] for r in surv.collect()] == [0]  # near-dup dropped

    # restarting the SAME stream over the same source: no new data, no-op
    stream2 = spark.readStream.schema("doc_id long, text string").parquet(src)
    q2 = incremental_corpus_stream(
        stream2, store, checkpoint_dir=str(tmp_path / "ckpt"),
        trigger_once=True, **KW,
    )
    q2.awaitTermination(120)
    assert store.load_survivors(spark).count() == 1


def test_corpus_stream_batch_idempotent_replay(spark, tmp_path):
    store = CorpusStore(str(tmp_path / "c2"))
    b = _docs(spark, [(0, EN)])

    assert run_corpus_stream_batch(b, 0, store, stream_key="s", **KW) is True
    assert store.load_survivors(spark).count() == 1
    # replay of the same epoch after a simulated restart: filtered out
    assert run_corpus_stream_batch(b, 0, store, stream_key="s", **KW) is False
    assert store.committed_batches() == [0]
    # empty micro-batch: no-op, nothing committed
    assert run_corpus_stream_batch(b.limit(0), 1, store, stream_key="s",
                                   **KW) is False
    assert store.committed_batches() == [0]


def test_corpus_stream_epochs_independent_of_batch_ids(spark, tmp_path):
    """Same contract as the KG store (round-1 regression there): a stream
    attached to a PRE-POPULATED store must not drop its first micro-batches
    just because snapshot batch ids are already past its epoch ids."""
    store = CorpusStore(str(tmp_path / "c3"))
    other = ("a fine day for the old dog and the young cat to nap in the "
             "big warm house by the sea with the wind and the rain outside")
    # pre-populate via two BATCH commits (batch ids 0 and 1)
    store.run_batch(_docs(spark, [(0, EN)]), **KW)
    store.run_batch(_docs(spark, [(1, other)]), **KW)
    assert store.committed_batches() == [0, 1]

    third = ("numbers and letters fill the page while the quiet machine "
             "hums along counting every word it has ever seen before now")
    assert run_corpus_stream_batch(
        _docs(spark, [(2, third)]), 0, store, stream_key="ckptA", **KW
    ) is True
    assert store.committed_batches() == [0, 1, 2]
    # replay on the SAME stream: filtered
    assert run_corpus_stream_batch(
        _docs(spark, [(2, third)]), 0, store, stream_key="ckptA", **KW
    ) is False
    # a DIFFERENT stream (fresh checkpoint dir) at epoch 0: applies
    fourth = ("rivers run down from the hills to the valley where the town "
              "keeps its lights on all night for the boats coming home")
    assert run_corpus_stream_batch(
        _docs(spark, [(3, fourth)]), 0, store, stream_key="ckptB", **KW
    ) is True
    assert store.last_stream_epoch("ckptA") == 0
    assert store.last_stream_epoch("ckptB") == 0
    assert store.last_stream_epoch("nope") is None


def test_corpus_stream_replay_safe_by_dedup(spark, tmp_path):
    """Defense in depth: even if BOTH replay records (high-water cache AND
    the snapshot metadata) are lost, re-applying an already-merged
    micro-batch changes nothing — every fingerprint/near-dup cluster is
    already in the survivor history, so the replayed delta is empty."""
    store = CorpusStore(str(tmp_path / "c4"))
    b = _docs(spark, [(0, EN)])
    assert run_corpus_stream_batch(b, 0, store, stream_key="s", **KW) is True

    # wipe the cache AND scrub the epoch from the committed metadata
    os.remove(store._stream_hw_path("s"))
    committed = os.path.join(store._snap_dir(0), "_COMMITTED")
    with open(committed) as f:
        meta = json.load(f)
    meta["metrics"] = {}
    with open(committed, "w") as f:
        json.dump(meta, f)
    assert store.last_stream_epoch("s") is None

    # replay is no longer DETECTED -> it applies, but the delta is empty
    assert run_corpus_stream_batch(b, 0, store, stream_key="s", **KW) is True
    assert store.load_survivors(spark).count() == 1
    assert store.load_delta(spark, store.committed_batches()[-1]).count() == 0
    # and the epoch record is restored for the next restart
    assert store.last_stream_epoch("s") == 0


def test_corpus_stream_watermark_o1(spark, tmp_path):
    """The shared SnapshotLog gives CorpusStore the same O(1)
    high-water read as KGStore: with the cache current, no snapshot
    metadata file is opened."""
    store = CorpusStore(str(tmp_path / "c5"))
    texts = [
        EN,
        "a fine day for the old dog and the young cat to nap in the big "
        "warm house by the sea with the wind and the rain outside",
        "rivers run down from the hills to the valley where the town keeps "
        "its lights on all night for the boats coming home",
    ]
    for epoch, t in enumerate(texts):
        assert run_corpus_stream_batch(
            _docs(spark, [(epoch, t)]), epoch, store, stream_key="s", **KW
        ) is True
    opened = []
    orig = store.snapshot_metrics
    store.snapshot_metrics = lambda bid: (opened.append(bid), orig(bid))[1]
    assert store.last_stream_epoch("s") == 2
    assert opened == []
