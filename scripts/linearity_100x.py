"""One-off 100x-documents linearity measurement (second scale decade).

Builds a 100-copy disjoint corpus from sf0.1 documents/embeddings with the
same disjointness construction as bench.py's 10x table (per-copy token
suffix so gram/signature space is disjoint across copies; circularly
shifted embeddings), then times a representative query subset at 1x and
100x on the same session. ratio_vs_linear = t_100x / (100 * t_1x).

Not part of the per-round bench (the 100x corpus is ~100x sf0.1 text);
results are recorded in BENCH.md. Usage:

    python scripts/linearity_100x.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from itext2kg_spark.session import get_spark  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
COPIES = 100
QUERIES = [
    "text_stats", "dedup_simhash", "dedup_minhash", "dedup_ngram",
    "kg_exact_merge_edges", "kg_build_graph", "ann_topk",
]


def build_corpus(spark, path: str) -> None:
    if os.path.exists(os.path.join(path, "documents.parquet", "_SUCCESS")):
        return
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    n = docs.count()
    copies = spark.range(COPIES).select(F.col("id").alias("__copy"))
    suffixed = F.array_join(
        F.transform(
            F.split(F.col("text"), " "),
            lambda t: F.concat(t, F.format_string("x%d", F.col("__copy"))),
        ),
        " ",
    )
    big = docs.crossJoin(copies).select(
        (F.col("doc_id") + F.col("__copy") * (n * COPIES)).alias("doc_id"),
        F.when(F.col("__copy") == 0, F.col("text")).otherwise(suffixed).alias("text"),
        "lang",
    )
    big.repartition(64).write.mode("overwrite").parquet(
        os.path.join(path, "documents.parquet")
    )
    vecs = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    m = vecs.count()
    dim = len(vecs.first()["embedding"])
    rotated = F.when(F.col("__copy") == 0, F.col("embedding")).otherwise(
        F.concat(
            F.slice(F.col("embedding"), (F.col("__copy") % dim) + 1, dim),
            F.slice(F.col("embedding"), F.lit(1), F.col("__copy") % dim),
        )
    )
    bigv = vecs.crossJoin(copies).select(
        (F.col("vec_id") + F.col("__copy") * (m * COPIES)).alias("vec_id"),
        rotated.alias("embedding"),
    )
    bigv.repartition(64).write.mode("overwrite").parquet(
        os.path.join(path, "embeddings.parquet")
    )


def main():
    path = f"/tmp/spark_graft_docs100x_{os.path.basename(SF_DIR.rstrip('/'))}"
    spark = get_spark(cores=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    spark.sparkContext.setLogLevel("ERROR")
    build_corpus(spark, path)
    qs = entry_mod.queries()
    out = {}
    for name in QUERIES:
        t0 = time.time()
        n1 = qs[name](spark, SF_DIR).count()
        t1x = round(time.time() - t0, 3)
        t0 = time.time()
        n100 = qs[name](spark, path).count()
        t100x = round(time.time() - t0, 3)
        out[name] = {
            "sec_1x": t1x, "sec_100x": t100x,
            "rows_1x": n1, "rows_100x": n100,
            "ratio_vs_linear": round(t100x / (100 * t1x), 3),
        }
        print(f"# {name}: 1x {t1x}s ({n1} rows) -> 100x {t100x}s "
              f"({n100} rows), x{out[name]['ratio_vs_linear']} of linear",
              file=sys.stderr, flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
