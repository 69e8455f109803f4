"""Cluster-level near-dup dedup: pairs -> connected components -> keep-one.

The pair-level operators (ngram/minhash/simhash/embedding) answer "which
pairs are near-dups"; a training-data pipeline at corpus scale needs the
keep-one form: map every document to a canonical representative (min doc_id
of its near-dup cluster) and keep exactly one document per cluster.
Transitivity is deliberate — near-dup similarity is not an equivalence
relation, but chained near-dups (a~b, b~c) are the same boilerplate family,
and keeping both a and c would re-introduce the duplication LSH just found.
This is the semantics of published CommonCrawl dedup passes (CCNet /
SlimPajama-style: candidate buckets -> verified pairs -> union-find ->
keep one per component).

Scale shape: candidate pairs come from a banded LSH equi-join (never
all-pairs), components from `merge.components.connected_components`
(one-collect driver union-find while the verified pair list fits under the
broadcast limit — thresholded near-dup graphs are sparse, |pairs| tracks
true duplicates, not |docs|^2 — else shuffle-parallel min-label
propagation with pointer jumping), and the final map is one equi-join of
the small (touched-ids-only) component table back to the corpus. Callers
that only need the touched ids (the incremental survivor verdict) take
`near_dup_components` and skip that join. Everything is linear in
documents + true-duplicate pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from itext2kg_spark.dedup.minhash import minhash_lsh_pairs
from itext2kg_spark.dedup.ngram import jaccard_pairs
from itext2kg_spark.merge.components import connected_components


def near_dup_components(
    docs: DataFrame,
    pairs: DataFrame | None = None,
    threshold: float = 0.8,
    method: str = "minhash",
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    **pair_kwargs,
) -> DataFrame:
    """(id, comp): every document touched by a verified near-dup pair,
    mapped to the min id of its connected component. Untouched documents
    are absent (each is its own singleton component), so the table is
    proportional to the duplicate pairs, not to `docs`.

    `pairs` lets any pair family feed the clustering (e.g.
    `embedding_near_dups` output, or a pre-materialized pair table) — it
    must expose integer `id_a`/`id_b` columns. When None, pairs are built
    from `method`: "minhash" (LSH candidates + exact-Jaccard verify — the
    scale path) or "ngram" (exact gram equi-join).
    """
    if pairs is None:
        if method == "minhash":
            pairs = minhash_lsh_pairs(
                docs, threshold=threshold, n=n,
                text_col=text_col, id_col=id_col, **pair_kwargs,
            )
        elif method == "ngram":
            pairs = jaccard_pairs(
                docs, threshold=threshold, n=n,
                text_col=text_col, id_col=id_col, **pair_kwargs,
            )
        else:
            raise ValueError(f"unknown near-dup method: {method!r}")
    return connected_components(pairs)


def near_dup_clusters(
    docs: DataFrame,
    pairs: DataFrame | None = None,
    id_col: str = "doc_id",
    **kwargs,
) -> DataFrame:
    """(id_col, rep_id): every document mapped to the min doc-id of its
    near-dup connected component; singletons map to themselves. This is
    `docs ⟕ near_dup_components(docs, ...)` with untouched ids coalesced
    to themselves; `kwargs` are those of `near_dup_components`.
    """
    comp = near_dup_components(docs, pairs, id_col=id_col, **kwargs)
    # No broadcast hint: the component table is usually far smaller than
    # the corpus, but web-crawl dup rates reach 30-50% — AQE picks
    # broadcast-vs-shuffle from the actual materialized size.
    ids = docs.select(F.col(id_col).alias("id"))
    return ids.join(comp, "id", "left").select(
        F.col("id").alias(id_col),
        F.coalesce(F.col("comp"), F.col("id")).alias("rep_id"),
    )


def dedup_survivors(
    docs: DataFrame,
    clusters: DataFrame | None = None,
    id_col: str = "doc_id",
    **cluster_kwargs,
) -> DataFrame:
    """The deduplicated corpus: one document (the min-id representative)
    per near-dup cluster, all columns preserved. `clusters` defaults to
    `near_dup_clusters(docs, **cluster_kwargs)`."""
    if clusters is None:
        clusters = near_dup_clusters(docs, id_col=id_col, **cluster_kwargs)
    reps = (
        clusters.where(F.col(id_col) == F.col("rep_id"))
        .select(F.col(id_col))
    )
    return docs.join(reps, id_col, "left_semi")
