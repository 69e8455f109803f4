"""Measure the broadcast->LSH candidate-generation crossover (VERDICT r5
ask #5): time BOTH paths of embedding_near_dups at 8k/16k/32k/64k clustered
64-dim vectors (warmed, min-of-2), print the table for BENCH.md, and report
the measured crossover row count.

Corpus: the sf0.1 embeddings table (2000 rows) replicated C times with the
bench's circular-rotation trick — each copy keeps the original's internal
near-dup structure while cross-copy pairs stay near-orthogonal, so pair
density grows linearly in C, not quadratically.

Usage: python scripts/cutover_probe.py [sizes...]   (defaults 8000 16000 32000 64000)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
THRESHOLD = float(os.environ.get("CUTOVER_THRESHOLD", "0.8"))


def replicated(spark, n: int):
    base = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    m = base.count()
    dim = len(base.first()["embedding"])
    copies = max(1, n // m)
    c = spark.range(copies).select(F.col("id").alias("__copy"))
    rotated = F.when(F.col("__copy") == 0, F.col("embedding")).otherwise(
        F.concat(
            F.slice(F.col("embedding"), (F.col("__copy") % dim) + 1, dim),
            F.slice(F.col("embedding"), F.lit(1), F.col("__copy") % dim),
        )
    )
    out = base.crossJoin(c).select(
        (F.col("vec_id") + F.col("__copy") * (m * copies + 1)).alias("vec_id"),
        rotated.alias("embedding"),
    )
    path = f"/tmp/cutover_vecs_{copies * m}"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        out.repartition(32).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path), copies * m


def time_method(spark, vecs, method: str, runs: int = 2):
    from itext2kg_spark.dedup.embedding import embedding_near_dups

    raw, rows = [], 0
    for _ in range(runs):
        t0 = time.time()
        rows = embedding_near_dups(
            vecs, threshold=THRESHOLD, method=method
        ).count()
        raw.append(round(time.time() - t0, 2))
    return min(raw), raw, rows


def main():
    from itext2kg_spark.session import get_spark

    sizes = [int(a) for a in sys.argv[1:]] or [8000, 16000, 32000, 64000]
    spark = get_spark(cores=int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
                      shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    # warm both code paths once (codegen, UDF workers, broadcast plumbing)
    small, _ = replicated(spark, 2000)
    for m in ("broadcast", "lsh"):
        time_method(spark, small, m, runs=1)

    table = []
    crossover = None
    for n in sizes:
        vecs, n_actual = replicated(spark, n)
        tb, raw_b, rows_b = time_method(spark, vecs, "broadcast")
        tl, raw_l, rows_l = time_method(spark, vecs, "lsh")
        row = {
            "n": n_actual,
            "broadcast_sec": tb, "broadcast_raw": raw_b, "pairs_exact": rows_b,
            "lsh_sec": tl, "lsh_raw": raw_l, "pairs_lsh": rows_l,
            "lsh_faster": tl < tb,
        }
        table.append(row)
        if crossover is None and tl < tb:
            crossover = n_actual
        print(f"# n={n_actual}: broadcast {tb}s {raw_b} ({rows_b} pairs) | "
              f"lsh {tl}s {raw_l} ({rows_l} pairs)", file=sys.stderr)
    print(json.dumps({"threshold": THRESHOLD, "dim": 64,
                      "crossover_first_lsh_win": crossover, "table": table}))


if __name__ == "__main__":
    main()
