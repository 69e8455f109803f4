"""prepare_corpus: every stage of the fused training-corpus pass acts."""

import pyspark.sql.functions as F

from itext2kg_spark.corpus import prepare_corpus

EN = ("the cat and the dog of the house in a tree that runs for fun "
      "and it is a good day for the animals to play in the sun today")
FR = "le chat et le chien de la maison est dans un arbre pour la journee"


def _docs(spark):
    base = EN.split()
    near = list(base)
    near[5] = "hound"          # one token changed -> Jaccard ~ 0.9
    rows = [
        (0, EN),                               # survives everything
        (1, FR),                               # dropped: lang filter
        (2, "short text only"),                # dropped: min_tokens
        (3, "  " + EN + "  "),                 # dropped: exact dup of 0 (normalized fp)
        (4, " ".join(near)),                   # dropped: near-dup of 0, keep min id
        (5, "!!! ??? ... ;;; " * 10),          # dropped: quality (pure punctuation)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_prepare_corpus_all_stages(spark):
    out = prepare_corpus(
        _docs(spark), langs=("en",), min_tokens=10,
        min_quality_10k=4500, near_dup_threshold=0.8,
    )
    rows = out.collect()
    assert [r["doc_id"] for r in rows] == [0]
    r = rows[0]
    assert r["lang_pred"] == "en"
    assert r["n_tokens"] == len(EN.split())
    assert r["rep_id"] == 0
    # enrichment is carried, not recomputed downstream
    assert set(out.columns) == {
        "fp", "doc_id", "text", "lang_pred", "n_tokens", "quality_10k", "rep_id"
    }


def test_prepare_corpus_exact_only_mode(spark):
    out = prepare_corpus(
        _docs(spark), langs=("en", "fr", "und"), min_tokens=1,
        min_quality_10k=0, near_dup_threshold=None,
    )
    # only the normalized exact dup (doc 3) is dropped
    assert sorted(r["doc_id"] for r in out.collect()) == [0, 1, 2, 4, 5]


def test_prepare_corpus_single_scan_enrichment(spark):
    """The enrichment + filters compile into the scan-side projection: no
    UDF (BatchEvalPython/ArrowEvalPython) stages anywhere in the plan, and
    the near-dup stage is the only source of shuffles beyond the exact-dedup
    groupBy."""
    plan = prepare_corpus(
        _docs(spark), near_dup_threshold=None
    )._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_incremental_survivors_stored_wins(spark, tmp_path):
    """Cross-batch dedup through CorpusStore: stored survivors always win
    (exact fp and near-dup), within-batch keep-one still applies, replay of
    a committed batch id is a no-op, and a partial snapshot without
    _COMMITTED is invisible."""
    import os

    from itext2kg_spark.corpus import CorpusStore

    store = CorpusStore(str(tmp_path / "corpus"))
    kwargs = dict(langs=("en",), min_tokens=10, min_quality_10k=0,
                  near_dup_threshold=0.7)

    base = EN.split()
    near = list(base); near[5] = "hound"
    other = ("a fine day for the old dog and the young cat to nap in the "
             "big warm house by the sea with the wind and the rain outside")
    o_near = other.split(); o_near[4] = "ancient"

    b1 = spark.createDataFrame(
        [(0, EN), (1, " ".join(near))], "doc_id long, text string"
    )
    d1 = store.run_batch(b1, **kwargs)
    assert [r["doc_id"] for r in d1.collect()] == [0]  # keep-one within batch

    b2 = spark.createDataFrame(
        [
            (10, "   " + EN),            # exact dup of stored 0 (normalized fp)
            (11, " ".join(near)),        # near-dup of stored 0
            (12, other),                 # genuinely new
            (13, " ".join(o_near)),      # near-dup of 12 (same batch)
        ],
        "doc_id long, text string",
    )
    d2 = store.run_batch(b2, **kwargs)
    assert sorted(r["doc_id"] for r in d2.collect()) == [12]

    # replay: same batch id returns the stored delta without recompute
    replay = store.run_batch(b2, batch_id=1, **kwargs)
    assert sorted(r["doc_id"] for r in replay.collect()) == [12]
    assert store.committed_batches() == [0, 1]

    # survivor corpus is the union of deltas
    surv = store.load_survivors(spark)
    assert sorted(r["doc_id"] for r in surv.collect()) == [0, 12]

    # a partial snapshot without _COMMITTED is invisible
    partial = store._snap_dir(7)
    os.makedirs(partial)
    assert store.committed_batches() == [0, 1]


def test_incremental_bridge_through_dropped_doc(spark):
    """Documented streaming approximation: batch-2 doc near the DROPPED
    batch-1 doc (but not the kept one) is retained, because the dropped
    doc's cluster edges left with it."""
    from itext2kg_spark.corpus import incremental_survivors

    base = [f"w{i}" for i in range(50)]
    b = list(base); b[10] = "xx"      # near base (kept drops it)
    c = list(b); c[30] = "yy"        # near b only, NOT near base

    batch1 = spark.createDataFrame(
        [(0, " ".join(base)), (1, " ".join(b))], "doc_id long, text string"
    )
    s1 = incremental_survivors(batch1, None, langs=("en", "und"),
                               near_dup_threshold=0.8)
    assert [r["doc_id"] for r in s1.collect()] == [0]

    batch2 = spark.createDataFrame(
        [(10, " ".join(c))], "doc_id long, text string"
    )
    s2 = incremental_survivors(batch2, s1, langs=("en", "und"),
                               near_dup_threshold=0.8)
    # one-shot over {base, b, c} would keep only doc 0; incrementally the
    # bridge doc b is gone, so c (id 10) survives — the documented delta
    assert [r["doc_id"] for r in s2.collect()] == [10]


def test_incremental_exact_equals_one_shot(spark):
    """Exact mode (near_dup_threshold=None) over range-ordered batches is
    EXACTLY the one-shot pass — the contract the corpus_incremental_exact
    driver oracle pins at scale."""
    from itext2kg_spark.corpus import incremental_survivors, prepare_corpus

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    kwargs = dict(langs=("en",), min_tokens=20, min_quality_10k=4500,
                  near_dup_threshold=None)
    lo = docs.where(F.col("doc_id") < 250)
    hi = docs.where(F.col("doc_id") >= 250)
    s1 = incremental_survivors(lo, None, **kwargs)
    s2 = incremental_survivors(hi, s1, **kwargs)
    inc = {r["doc_id"] for r in s1.select("doc_id").collect()} | {
        r["doc_id"] for r in s2.select("doc_id").collect()
    }
    one = {r["doc_id"] for r in prepare_corpus(docs, **kwargs).collect()}
    assert inc == one


SCHEMA = "doc_id long, text string"
VOCAB = [f"t{i}" for i in range(5000)]
NEAR = dict(langs=("en", "und"), near_dup_threshold=0.8)


def _full_union_survivors(new_docs, stored, **kwargs):
    """Reference verdict: cluster the whole stored ∪ new union, label every
    id, keep a new doc iff its cluster holds no stored doc and it is the
    min-id new member. Filters and exact dedup are the exact-only mode of
    `incremental_survivors` itself."""
    from itext2kg_spark.corpus import incremental_survivors
    from itext2kg_spark.dedup.clusters import near_dup_clusters

    threshold = kwargs.pop("near_dup_threshold")
    kept = incremental_survivors(
        new_docs, stored, near_dup_threshold=None, **kwargs
    ).drop("rep_id")
    union = kept.select("doc_id", "text", F.lit(False).alias("__stored"))
    if stored is not None:
        union = stored.select(
            "doc_id", "text", F.lit(True).alias("__stored")
        ).unionByName(union)
    labeled = near_dup_clusters(union, threshold=threshold).join(
        union.select("doc_id", "__stored"), "doc_id"
    )
    verdict = labeled.groupBy("rep_id").agg(
        F.max(F.col("__stored").cast("int")).alias("__has_stored"),
        F.min(F.when(~F.col("__stored"), F.col("doc_id"))).alias("__min_new"),
    )
    winners = labeled.join(verdict, "rep_id").where(
        ~F.col("__stored")
        & (F.col("__has_stored") == 0)
        & (F.col("doc_id") == F.col("__min_new"))
    )
    return kept.join(winners.select("doc_id"), "doc_id", "left_semi").withColumn(
        "rep_id", F.col("doc_id")
    )


def _edit(rng, toks, positions):
    out = list(toks)
    for p in positions:
        out[p] = f"x{rng.randrange(10**9)}"
    return out


def _verdict_batch(rng, b, stored, bridge):
    """Batch `b` of a seeded corpus built against the stored survivors
    (`stored`: id -> tokens). 100-token docs: one edited token leaves
    Jaccard 0.94 over word 3-grams, two 0.885, four 0.78 (below 0.8).
    Returns (rows, ids that must drop, ids that must survive, the doc that
    bridges this batch's two 4-apart endpoints, for the next batch)."""
    ids = iter(rng.sample(range(1000 * b, 1000 * b + 1000), 40))
    rows, drop, keep = [], set(), set()

    def add(toks, pad=""):
        i = next(ids)
        rows.append((i, pad + " ".join(toks) + pad))
        return i

    def fresh():
        return [rng.choice(VOCAB) for _ in range(100)]

    for _ in range(4):
        keep.add(add(fresh()))
    short = [rng.choice(VOCAB) for _ in range(2)]  # < n tokens: no grams
    s = {add(short), add(short, "  ")}  # exact copies in the batch
    keep.add(min(s))
    drop |= s - {min(s)}
    e0 = fresh()
    e1 = _edit(rng, e0, [50])
    chain = {add(e0), add(e1), add(_edit(rng, e1, [70]))}  # no stored member
    keep.add(min(chain))
    drop |= chain - {min(chain)}
    a = fresh()
    c = _edit(rng, a, [20, 40])
    keep |= {add(a), add(_edit(rng, c, [60, 80]))}  # both ends survive
    if stored:
        long_ids = sorted(i for i, t in stored.items() if len(t) == 100)
        for i in rng.sample(sorted(stored), 2):
            drop.add(add(stored[i], "   "))  # exact copy of a stored doc
        for i in rng.sample(long_ids, 2):
            drop.add(add(_edit(rng, stored[i], [50])))  # near copy
        drop.add(add(bridge))  # near both stored endpoints
    return rows, drop, keep, c


def test_incremental_verdict_matches_full_union(spark):
    """The touched-component verdict of `incremental_survivors` equals the
    full stored ∪ new verdict on seeded multi-batch corpora with exact
    copies, one-token near copies of stored docs, a new doc bridging two
    stored docs, new-only components (min id wins) and docs shorter than
    n tokens."""
    import random

    from itext2kg_spark.corpus import incremental_survivors

    for seed in (11, 12):
        rng = random.Random(seed)
        stored_df, stored, bridge = None, {}, None
        stored_rows = []
        for b in range(3):
            rows, drop, keep, bridge = _verdict_batch(rng, b, stored, bridge)
            new = spark.createDataFrame(rows, SCHEMA)
            got = incremental_survivors(new, stored_df, **NEAR)
            cols = sorted(got.columns)
            got_rows = sorted(got.select(cols).collect())
            ref = _full_union_survivors(new, stored_df, **NEAR)
            assert got_rows == sorted(ref.select(cols).collect()), (seed, b)
            ids = {r["doc_id"] for r in got_rows}
            assert keep <= ids and not drop & ids, (seed, b)
            # one flat scan per batch, not a union chain that grows
            stored_rows += got_rows
            stored_df = spark.createDataFrame(stored_rows, got.select(cols).schema)
            text = dict(rows)
            stored.update((i, text[i].split()) for i in ids)


def test_incremental_delta_plan_reads_no_stored_survivors(spark, tmp_path):
    """Past the pair search, the survivor verdict reads only the batch and
    the touched-component table: the delta's physical plan holds no parquet
    scan of the store (components on the driver path here). The batch is
    read from parquet so that the size-guarded materialization of the batch
    is a local checkpoint, whose plan is an RDD scan."""
    from itext2kg_spark.corpus import CorpusStore, incremental_survivors

    store = CorpusStore(str(tmp_path / "corpus"))
    base = [f"w{i}" for i in range(60)]
    near = list(base)
    near[30] = "zz"
    store.run_batch(spark.createDataFrame([(0, " ".join(base))], SCHEMA), **NEAR)
    path = str(tmp_path / "new")
    spark.createDataFrame(
        [(10, " ".join(near)), (11, " ".join(f"v{i}" for i in range(60)))], SCHEMA
    ).write.parquet(path)

    delta = incremental_survivors(
        spark.read.parquet(path), store.load_survivors(spark), **NEAR
    )
    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    # plan strings abbreviate scan locations, so the pin is the stronger
    # "no parquet scan at all": the batch itself is checkpointed
    assert "Scan parquet" in plan(store.load_survivors(spark))
    assert "Scan parquet" not in plan(delta)
    assert [r["doc_id"] for r in delta.collect()] == [11]


def test_corpus_commit_marker_is_atomic(spark, tmp_path, monkeypatch):
    """A crash while the _COMMITTED marker is written (here: the rename of
    its fsynced tmp file fails) leaves the batch uncommitted; the next
    run_batch with the same id commits it."""
    import os

    import pytest

    from itext2kg_spark.corpus import CorpusStore

    store = CorpusStore(str(tmp_path / "corpus"))
    batch = spark.createDataFrame([(0, EN), (1, "  " + EN)], SCHEMA)

    def crash(src, dst):
        raise OSError("crash before the marker rename")

    with monkeypatch.context() as m:
        m.setattr(os, "replace", crash)
        with pytest.raises(OSError):
            store.run_batch(batch, batch_id=0, near_dup_threshold=None)
    assert store.committed_batches() == []

    delta = store.run_batch(batch, batch_id=0, near_dup_threshold=None)
    assert store.committed_batches() == [0]
    assert [r["doc_id"] for r in delta.collect()] == [0]
