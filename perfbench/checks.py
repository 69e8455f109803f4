"""Output checks. Each ``*_summary`` runs a few Spark aggregates; each
``check_*`` is a pure function of summaries and returns the list of
violated invariants (empty = correct)."""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def table_hash(df: DataFrame) -> str:
    """Order-independent content hash: row count plus the sum of per-row
    xxhash64 over every column (exact, as a decimal)."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).first()
    return f"{row['n']}:{row['h'] or 0}"


def combine_hashes(*parts: str) -> str:
    return hashlib.sha256("|".join(parts).encode()).hexdigest()[:16]


def kg_summary(entities: DataFrame, edges: DataFrame) -> dict[str, int]:
    agg = edges.agg(
        F.count(F.lit(1)).alias("edges"),
        F.sum(F.size("atomic_facts")).alias("facts"),
        F.sum(F.size("t_obs")).alias("t_obs"),
    ).first()
    keys = entities.select("name", "label")
    n_ent = keys.count()
    n_keys = keys.distinct().count()
    endpoints = edges.select(
        F.col("src_name").alias("name"), F.col("src_label").alias("label")
    ).union(
        edges.select(F.col("dst_name").alias("name"), F.col("dst_label").alias("label"))
    )
    dangling = endpoints.join(keys, ["name", "label"], "left_anti").count()
    return {
        "entities": n_ent,
        "entity_keys": n_keys,
        "edges": agg["edges"],
        "facts": agg["facts"] or 0,
        "t_obs": agg["t_obs"] or 0,
        "dangling": dangling,
    }


def check_kg(summary: dict, expected_facts: int, committed: list[int]) -> list[str]:
    problems = []
    if not summary["facts"] == summary["t_obs"] == expected_facts:
        problems.append(
            f"sum size(atomic_facts)={summary['facts']}, sum size(t_obs)="
            f"{summary['t_obs']}, quintuples extracted={expected_facts}"
        )
    if summary["entity_keys"] != summary["entities"]:
        problems.append(
            f"{summary['entities'] - summary['entity_keys']} duplicate entity (name, label) keys"
        )
    if summary["dangling"]:
        problems.append(f"{summary['dangling']} dangling edge endpoints")
    if committed != list(range(len(committed))):
        problems.append(f"committed batch ids not contiguous: {committed}")
    return problems


def corpus_summary(survivors: DataFrame, inputs: DataFrame) -> dict[str, int]:
    n = survivors.count()
    return {
        "survivors": n,
        "ids": survivors.select("doc_id").distinct().count(),
        "fps": survivors.select("fp").distinct().count(),
        "not_in_input": survivors.select("doc_id", "text")
        .join(inputs.select("doc_id", "text"), ["doc_id", "text"], "left_anti")
        .count(),
    }


def check_corpus(summary: dict, committed: list[int]) -> list[str]:
    problems = []
    if summary["ids"] != summary["survivors"]:
        problems.append(
            f"{summary['survivors'] - summary['ids']} duplicate survivor doc_id"
        )
    if summary["fps"] != summary["survivors"]:
        problems.append(f"{summary['survivors'] - summary['fps']} duplicate survivor fp")
    if summary["not_in_input"]:
        problems.append(f"{summary['not_in_input']} survivors not in the input")
    if summary["survivors"] == 0:
        problems.append("no survivors")
    if committed != list(range(len(committed))):
        problems.append(f"committed batch ids not contiguous: {committed}")
    return problems
