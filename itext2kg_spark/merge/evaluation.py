"""Merge-quality evaluation (J8/A9): the reference's residual-duplicate
metric re-expressed set-based.

`evaluate_itext2kg_merge.py:122-183` computes the all-pairs cosine matrix
over merged entity/relation embeddings and counts upper-triangle pairs above
θ — surviving near-duplicates after canonicalization (lower is better); plus
the count aggregates at :185-210 (entity/relation totals, case-insensitive
uniques). Here the pair count reuses the engine's candidate operator (exact
BLAS under the broadcast limit, LSH above), so the metric itself scales.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from itext2kg_spark.config import MatchConfig
from itext2kg_spark.functions.vectors import unit
from itext2kg_spark.merge.candidates import candidate_pairs


def residual_duplicate_pairs(
    entities: DataFrame,
    threshold: float = 0.8,
    emb_col: str = "embedding",
    method: str = "auto",
    key_cols: tuple[str, ...] = ("name", "label"),
    strict: bool = False,
) -> DataFrame:
    """(id_a, id_b, sim) for canonical-item pairs still above θ after merge.

    `strict=True` uses `sim > θ` like the published eval
    (find_similar_nodes_itext2kg, evaluate_itext2kg_merge.py:122-183);
    default `>=` matches the ATOM matcher gate."""
    cfg = MatchConfig(candidate_method=method, inclusive=not strict)
    items = entities.select(
        F.xxhash64(*key_cols).alias("id"),
        unit(F.col(emb_col).cast("array<double>")).alias("emb"),
    )
    return candidate_pairs(items, cfg, threshold)


def er_rr_precision(
    entities: DataFrame,
    edges: DataFrame,
    embedder,
    gt_entity_mentions: int,
    gt_relation_mentions: int,
    threshold: float = 0.9,
) -> DataFrame:
    """The published ER/RR precision formulas (evaluate_itext2kg_merge.py:
    213-248 entities, :520-560 relations) over the canonical KG:

        expected_duplicates = ground_truth_mentions - kg_count
        precision = clamp01(1 - residual_similar_pairs / expected_duplicates)

    Edge cases reproduced exactly: ER returns 0.0 when expected <= 0
    (:240-242); RR returns 1.0 if counts are equal else 0.0 (:550-553).
    Entity pairs are counted over the canonical entity set; relation pairs
    over UNIQUE relation names embedded with the P8 rule (emb(name) —
    extract_unique_relations_with_embeddings), both with strict `>`.

    Returns one row: er_precision_10k, rr_precision_10k + the raw counts
    (floor(x*10000) so the arithmetic is integer-comparable in oracles).
    """
    from itext2kg_spark.extract.embed import with_embedding

    n_ent = entities.count()
    ent_pairs = residual_duplicate_pairs(
        entities, threshold, strict=True
    ).count()
    # the published RR counts UNIQUE relation names on the KG side
    # (calculate_number_of_relations_itext2kg, :493-496)
    preds = edges.select("pred").distinct().localCheckpoint()
    n_rel = preds.count()
    pe = with_embedding(preds, "pred", "embedding", embedder)
    rel_pairs = residual_duplicate_pairs(
        pe, threshold, key_cols=("pred",), strict=True
    ).count()

    def clamp01(x: float) -> float:
        return max(0.0, min(1.0, x))

    exp_e = gt_entity_mentions - n_ent
    er = 0.0 if exp_e <= 0 else clamp01(1.0 - ent_pairs / exp_e)
    exp_r = gt_relation_mentions - n_rel
    if exp_r <= 0:
        rr = 1.0 if n_rel == gt_relation_mentions else 0.0
    else:
        rr = clamp01(1.0 - rel_pairs / exp_r)

    spark = entities.sparkSession
    return spark.createDataFrame(
        [
            (
                int(er * 10000),
                int(rr * 10000),
                n_ent,
                ent_pairs,
                n_rel,
                rel_pairs,
                gt_entity_mentions,
                gt_relation_mentions,
            )
        ],
        "er_precision_10k long, rr_precision_10k long, n_entities long,"
        " residual_entity_pairs long, n_relations long,"
        " residual_relation_pairs long, gt_entity_mentions long,"
        " gt_relation_mentions long",
    )


def kg_count_metrics(entities: DataFrame, edges: DataFrame) -> DataFrame:
    """One-row eval counts (A9): totals + case-insensitive uniques."""
    n_ent = entities.count()
    n_uniq = entities.select(F.lower("name")).distinct().count()
    n_edges = edges.count()
    n_preds = edges.select("pred").distinct().count()
    spark = entities.sparkSession
    return spark.createDataFrame(
        [(n_ent, n_uniq, n_edges, n_preds)],
        "n_entities long, n_unique_names long, n_edges long, n_preds long",
    )


def distill_field_merge(
    df: DataFrame,
    group_col: str,
    list_cols: list[str] = (),
    str_cols: list[str] = (),
    scalar_cols: list[str] = (),
) -> DataFrame:
    """A8: the DocumentsDistiller cross-document combine
    (documents_distiller.py:96-139) — lists extend, strings space-concat,
    scalars last-non-null — as one aggregation."""
    aggs = (
        [F.flatten(F.collect_list(c)).alias(c) for c in list_cols]
        + [F.concat_ws(" ", F.collect_list(c)).alias(c) for c in str_cols]
        + [F.last(c, ignorenulls=True).alias(c) for c in scalar_cols]
    )
    return df.groupBy(group_col).agg(*aggs)
