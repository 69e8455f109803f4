"""Snapshot diff over canonical edge tables — the KG-ops change audit.

An incremental KG (store snapshots per batch, sources/store.py) needs
"what changed between version A and version B": which canonical edges
appeared, which disappeared, which gained observations. That read is one
full outer join on the canonical key with three codegen'd comparisons —
no iteration, no UDF — and it pushes the key columns only, so at 100 TB
it is two snapshot scans plus one shuffle of the key columns.

change_type: 'added' (key only in new), 'removed' (key only in old),
'changed' (key in both, n_obs differs). Unchanged edges are dropped —
the diff of adjacent snapshots is mention-sized, not graph-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EDGE_KEY = ["src_name", "src_label", "pred", "dst_name", "dst_label"]


def kg_diff(
    old: DataFrame,
    new: DataFrame,
    count_col: str = "n_obs",
    keys: list[str] | None = None,
) -> DataFrame:
    """(key..., old_n, new_n, change_type) for every edge that differs
    between the two snapshots. Inputs need the key columns + count_col."""
    keys = keys or EDGE_KEY
    o = old.select(*keys, F.col(count_col).alias("old_n"))
    n = new.select(*keys, F.col(count_col).alias("new_n"))
    j = o.join(n, keys, "full_outer")
    change = (
        F.when(F.col("old_n").isNull(), F.lit("added"))
        .when(F.col("new_n").isNull(), F.lit("removed"))
        .when(F.col("old_n") != F.col("new_n"), F.lit("changed"))
    )
    return (
        j.withColumn("change_type", change)
        .where(F.col("change_type").isNotNull())
        .select(
            *keys,
            F.coalesce("old_n", F.lit(0)).cast("long").alias("old_n"),
            F.coalesce("new_n", F.lit(0)).cast("long").alias("new_n"),
            "change_type",
        )
    )
