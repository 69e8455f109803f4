"""Fused training-corpus preparation — the end-to-end pass a web-text
pipeline runs before KG extraction or LLM training:

    language filter -> quality/length filter -> exact dedup (normalized
    fingerprint, keep min id) -> near-dup keep-one (LSH clusters) ->
    enriched survivor corpus.

Composition shape at 100 TB:
- Enrichment (lang_pred, n_tokens, quality_10k, fp) is ONE whole-stage-
  codegen'd projection over the scan — all four are pure Catalyst
  expressions (functions/text.py), no UDFs, no extra pass; the language/
  quality filters sit directly above the same scan so Parquet reads only
  the text column and drops rows before anything shuffles.
- Exact dedup is a groupBy on the md5 fingerprint (map-side partial agg —
  combiner shrinks each partition to its distinct fingerprints) followed by
  a left_semi join on (fp, id); skew-safe because md5 keys are uniform.
- Near-dup keep-one runs ONLY on the exact-dedup survivors (every stage
  shrinks the set the next stage pays for) via dedup/clusters.py: banded
  MinHash-LSH candidates, exact-Jaccard verification on candidates only,
  connected components, min-id representative.

Every stage is 1:1 expressible in ANSI SQL, so the whole fused pass is
hash-oracle-checkable (driver query `corpus_prepare`).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from itext2kg_spark.dedup.clusters import near_dup_clusters, near_dup_components
from itext2kg_spark.dedup.ngram import _materialize
from itext2kg_spark.sources.stream_hw import SnapshotLog, committed_ids, committing
from itext2kg_spark.functions.text import (
    fingerprint_col,
    lang_pred_col,
    quality_10k_col,
    token_count,
)


def _enrich_and_filter(
    docs: DataFrame,
    langs: tuple[str, ...],
    min_tokens: int,
    min_quality_10k: int,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """One codegen'd projection (lang/tokens/quality/fp) + the lang and
    quality/length filters — shared by the one-shot and incremental passes."""
    t = F.col(text_col)
    enriched = docs.select(
        F.col(id_col),
        t,
        lang_pred_col(t).alias("lang_pred"),
        token_count(t).cast("long").alias("n_tokens"),
        quality_10k_col(t).alias("quality_10k"),
        fingerprint_col(t).alias("fp"),
    )
    return enriched.where(
        F.col("lang_pred").isin(*langs)
        & (F.col("n_tokens") >= min_tokens)
        & (F.col("quality_10k") >= min_quality_10k)
    )


def prepare_corpus(
    docs: DataFrame,
    langs: tuple[str, ...] = ("en",),
    min_tokens: int = 1,
    min_quality_10k: int = 0,
    near_dup_threshold: float | None = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    **lsh_kwargs,
) -> DataFrame:
    """The surviving corpus after lang/quality filtering + exact + near-dup
    dedup, enriched with (lang_pred, n_tokens, quality_10k, fp, rep_id).

    `near_dup_threshold=None` skips the near-dup stage (exact-only mode).
    Extra kwargs (k, bands, n, ...) feed `near_dup_clusters`'s LSH. Column
    `rep_id` equals `id_col` for every surviving row by construction (the
    representative IS the survivor); it is kept so downstream audits can
    join survivors back to the full cluster map if they re-derive it.
    """
    kept = _enrich_and_filter(
        docs, langs, min_tokens, min_quality_10k, id_col, text_col
    )

    # exact dedup: keep the min id per normalized fingerprint
    keeper = kept.groupBy("fp").agg(F.min(id_col).alias(id_col))
    kept = kept.join(keeper, ["fp", id_col], "left_semi")

    if near_dup_threshold is None:
        return kept.withColumn("rep_id", F.col(id_col))

    clusters = near_dup_clusters(
        kept, threshold=near_dup_threshold,
        id_col=id_col, text_col=text_col, **lsh_kwargs,
    )
    reps = clusters.where(F.col(id_col) == F.col("rep_id"))
    return kept.join(reps, id_col, "left_semi").withColumn(
        "rep_id", F.col(id_col)
    )


def incremental_survivors(
    new_docs: DataFrame,
    stored: DataFrame | None,
    langs: tuple[str, ...] = ("en",),
    min_tokens: int = 1,
    min_quality_10k: int = 0,
    near_dup_threshold: float | None = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    **lsh_kwargs,
) -> DataFrame:
    """Surviving NEW documents of a batch, deduplicated against both the
    batch itself and the already-stored survivor corpus.

    Semantics (the streaming form of `prepare_corpus`; stored survivors are
    immutable history and ALWAYS win):
      1. lang/quality filters + enrichment — same as the one-shot pass;
      2. exact: drop new docs whose fingerprint already exists in `stored`,
         then keep the min id per fingerprint within the batch;
      3. near-dup: connected components of the verified LSH pairs over
         stored ∪ remaining-new, kept for the ids a pair touches only; a
         new doc survives iff it is untouched (a singleton), or its
         component contains NO stored doc and it is the min-id NEW member.
         The verdict joins that touched-component table with the batch
         alone, so past the pair search the stored survivors are never
         re-read: the cost is the batch plus the components it touches.

    Exact-mode (`near_dup_threshold=None`) incremental processing is
    EXACTLY equal to the one-shot pass whenever batches arrive in ascending
    id ranges (fingerprint equality is transitive, and stored-wins == global
    min-id under range-ordered batches) — that is the oracle contract the
    driver query pins. Near-dup incremental is the standard streaming
    approximation: a cluster bridge THROUGH a previously-dropped document is
    not visible (its edges left with it), so a late member of an old family
    whose only link was the dropped doc is kept; documented, unit-tested.

    Caller contract: ids are globally unique across batches (same as
    KGStore entity ids).
    """
    kept = _enrich_and_filter(
        new_docs, langs, min_tokens, min_quality_10k, id_col, text_col
    )

    if stored is not None:
        # exact vs history: anti-join on fingerprint (stored fp set is the
        # survivor corpus — far smaller than the raw batch at web dup rates)
        kept = kept.join(
            stored.select("fp").distinct(), "fp", "left_anti"
        )

    keeper = kept.groupBy("fp").agg(F.min(id_col).alias(id_col))
    kept = kept.join(keeper, ["fp", id_col], "left_semi")

    if near_dup_threshold is None:
        return kept.withColumn("rep_id", F.col(id_col))

    # the batch feeds both the pair search and the verdict below: compute
    # its enrichment and exact dedup once
    kept = _materialize(kept, size_src=new_docs)
    docs = kept.select(id_col, text_col)
    if stored is not None:
        docs = stored.select(id_col, text_col).unionByName(docs)
    # LSH pairs over stored ∪ new (banded buckets, linear in survivors +
    # batch) -> components of the touched ids only. An
    # untouched new doc is a singleton and survives, so the verdict reads
    # only this table and the batch: a kept doc loses when its component
    # holds a stored (non-kept) id or a smaller kept id.
    comp = near_dup_components(
        docs, threshold=near_dup_threshold,
        id_col=id_col, text_col=text_col, **lsh_kwargs,
    )
    in_comp = Window.partitionBy("comp")
    labeled = comp.join(
        kept.select(F.col(id_col).alias("id"), F.lit(True).alias("__kept")),
        "id", "left",
    ).select(
        "id",
        "__kept",
        F.max(F.col("__kept").isNull()).over(in_comp).alias("__has_stored"),
        F.min(F.when(F.col("__kept"), F.col("id"))).over(in_comp).alias("__min_kept"),
    )
    losers = labeled.where(
        F.col("__kept")
        & (F.col("__has_stored") | (F.col("id") != F.col("__min_kept")))
    ).select(F.col("id").alias(id_col))
    return kept.join(losers, id_col, "left_anti").withColumn(
        "rep_id", F.col(id_col)
    )


class CorpusStore(SnapshotLog):
    """Append-only survivor store for cross-batch corpus dedup — the corpus
    analog of sources/store.py's KGStore, same atomic-commit protocol:

        root/snapshots/batch=<i>/docs/      (parquet survivor delta)
                               /_COMMITTED  (marker written after the data)

    Unlike KGStore's full-state snapshots (the canonical KG is replaced per
    batch), corpus survivors are immutable once kept, so each snapshot holds
    only the batch's DELTA and the survivor corpus is the union of all
    committed deltas — at 10^12 documents this is the difference between
    appending a day's crawl and rewriting the world. Resume/replay: a batch
    id that is already committed is a no-op returning the stored delta
    (idempotent, same as KGPipeline.run_batch)."""

    # -- compaction ---------------------------------------------------------
    # The union-of-deltas read degrades as the store ages (one parquet
    # directory per batch: a year of hourly crawl batches is ~9k file
    # listings per load). compact() folds everything committed so far into
    # one BASE directory; loads then read base + only the deltas newer than
    # it. Bases are versioned write-once dirs with their own _COMMITTED
    # marker ("through" = last folded batch id) — the same crash contract as
    # snapshots: a partial base without its marker is invisible.

    def _base_root(self) -> str:
        return os.path.join(self.root, "base")

    def _base_dir(self, through: int) -> str:
        return os.path.join(self._base_root(), f"through={through}")

    def current_base(self) -> int | None:
        """Highest committed base's `through` batch id, or None."""
        bases = committed_ids(self._base_root(), "through")
        return bases[-1] if bases else None

    def compact(self, spark, vacuum: bool = False) -> int | None:
        """Fold the current survivor corpus (base + all committed deltas)
        into a new base through the newest batch. With vacuum=True, folded
        delta DATA and superseded bases are deleted — the `_COMMITTED`
        markers stay, so batch-id allocation, replay DETECTION, and stream
        epoch tracking are unaffected (explicitly replaying a vacuumed
        batch id to re-read its delta is no longer possible, by design).
        Returns the new base's `through` id, or None if there is nothing
        newer than the current base."""
        batches = self.committed_batches()
        old_base = self.current_base()
        if not batches or (old_base is not None and batches[-1] <= old_base):
            return None
        through = batches[-1]
        surv = self.load_survivors(spark)
        with committing(self._base_dir(through), {"through": through}) as d:
            surv.write.mode("overwrite").parquet(os.path.join(d, "docs"))
        if vacuum:
            for b in batches:
                if b <= through:
                    shutil.rmtree(
                        os.path.join(self._snap_dir(b), "docs"),
                        ignore_errors=True,
                    )
            if old_base is not None:
                shutil.rmtree(self._base_dir(old_base), ignore_errors=True)
        return through

    def load_survivors(self, spark) -> DataFrame | None:
        base = self.current_base()
        batches = [b for b in self.committed_batches()
                   if base is None or b > base]
        paths = [os.path.join(self._base_dir(base), "docs")] if base is not None else []
        paths += [os.path.join(self._snap_dir(b), "docs") for b in batches]
        if not paths:
            return None
        return spark.read.parquet(*paths)

    def load_delta(self, spark, batch_id: int) -> DataFrame:
        return spark.read.parquet(os.path.join(self._snap_dir(batch_id), "docs"))

    def run_batch(
        self,
        new_docs: DataFrame,
        batch_id: int | None = None,
        metrics: dict | None = None,
        **kwargs,
    ) -> DataFrame:
        """Dedup `new_docs` against the stored corpus, append the survivor
        delta atomically, return it. Replaying a committed batch id is a
        no-op (returns the stored delta without recomputing)."""
        return self.run_batch_with_id(new_docs, batch_id, metrics, **kwargs)[1]

    def run_batch_with_id(
        self,
        new_docs: DataFrame,
        batch_id: int | None = None,
        metrics: dict | None = None,
        **kwargs,
    ) -> tuple[int, DataFrame]:
        """run_batch, but also returns the batch id it allocated/committed —
        callers recording provenance against the batch (the streaming
        high-water cache) must use THIS id, not committed_batches()[-1],
        which is only equal under a single-writer assumption."""
        spark = new_docs.sparkSession
        if batch_id is None:
            batch_id = self.next_batch_id()
        elif batch_id in self.committed_batches():
            return batch_id, self.load_delta(spark, batch_id)

        stored = self.load_survivors(spark)
        delta = incremental_survivors(new_docs, stored, **kwargs)
        with self._commit_snapshot(batch_id, metrics) as d:
            delta.write.mode("overwrite").parquet(os.path.join(d, "docs"))
        return batch_id, self.load_delta(spark, batch_id)
