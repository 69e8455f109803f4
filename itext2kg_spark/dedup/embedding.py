"""Embedding-cosine near-dup detection over an embeddings table.

Reuses the engine's similarity-candidate operator (broadcast exact or
LSH-banded — the same machinery that powers entity resolution), so the scale
path is shared and tested once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from itext2kg_spark.config import MatchConfig
from itext2kg_spark.functions.vectors import unit
from itext2kg_spark.merge.candidates import candidate_pairs


def embedding_near_dups(
    vecs: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    method: str = "auto",
) -> DataFrame:
    """(id_a, id_b, sim_10k) for pairs with cosine >= threshold."""
    cfg = MatchConfig(candidate_method=method)
    items = vecs.select(
        F.col(id_col).alias("id"),
        unit(F.col(emb_col).cast("array<double>")).alias("emb"),
    )
    pairs = candidate_pairs(items, cfg, threshold)
    return pairs.select(
        "id_a",
        "id_b",
        F.floor(F.col("sim") * 10000).cast("long").alias("sim_10k"),
    )
