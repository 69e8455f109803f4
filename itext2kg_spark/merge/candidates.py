"""Similarity-candidate generation (J2/J3): pairs with cosine >= threshold.

The reference computes a dense (N, M) cosine matrix on the driver
(atom/graph_matching/matcher.py:68-74) — single-node and memory-bound. Here
candidates come from one of two shuffle-parallel plans:

  * "broadcast": exact all-pairs. The small side (bounded by
    `MatchConfig.candidate_broadcast_limit`) is shipped to every partition
    as a numpy matrix and each Arrow batch of the big side scores against
    it with one BLAS matmul (`mapInPandas`) — the same
    vectorized-batch-cosine optimization the reference uses, but
    distributed over partitions. This beats expressing
    the dot product as Catalyst `zip_with`/`aggregate` by ~100x: higher-order
    array functions are interpreted per element, a (batch x dim) @ (dim x M)
    matmul is BLAS.
  * "lsh": random-hyperplane (SimHash) banding. Unit vectors get B band
    signatures of r sign-bits each; rows sharing any (band, signature) bucket
    become candidates; an Arrow-vectorized exact cosine then filters.
    Collision prob for a pair at cosine θ is 1-(1-p^r)^B, p = 1-arccos(θ)/π —
    (r=6, B=24; LSH_ROWS, LSH_BANDS) ≥ 0.997 recall at θ=0.7. Near-linear
    in rows; the bucket join shuffles on (band, sig), hot buckets split by
    AQE.

Both return (id_a, id_b, sim) with id_a < id_b, deduped across buckets; or,
given a second item set `right`, the bipartite pairs (id_a from the first
set, id_b from `right`). Incremental resolution uses the bipartite form with
the batch as the broadcast/banded side and the stored items streamed against
it, so no store-internal pair is ever formed (the reference matches
batch-against-store only, matcher.py:41-94).

Every bucketed candidate join in the package (the LSH path here, the ANN
LSH/IVF joins in `similarity/ann.py`, the SimHash block join in
`dedup/simhash.py`) runs through one kernel: `bucket_pairs` equi-joins
(item, bucket) rows on the bucket — ids plus the columns its pair filter
reads, never an embedding — filters, and dedups the pairs once;
`score_pairs` then joins the embeddings onto the distinct pairs only.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from itext2kg_spark.config import MatchConfig

# Best-link ties are decided on cosines rounded to this many decimals: one
# pair scored in two BLAS block shapes can differ in its last bits, and an
# exact tie (token permutations embed identically) must still go to the
# smallest id on every path.
TIE_DECIMALS = 9

# LSH shape: LSH_ROWS sign-bits per band, LSH_BANDS bands. Recall for
# cosine θ: 1 - (1 - p^rows)^bands with p = 1 - arccos(θ)/π.
# (6, 24) gives ≥0.997 recall at θ=0.7 and ≥0.9996 at θ=0.8.
LSH_ROWS = 6
LSH_BANDS = 24
LSH_SEED = 1729


def md5_rademacher(seed: int, n_rows: int, dim: int) -> "np.ndarray":
    """(n_rows, dim) Rademacher (+-1) float64 matrix whose entry (p, d) is
    2*(md5("{seed}:{p}:{d}") first-8-bytes-little-endian & 1) - 1 — exactly
    DuckDB's `md5_number_upper('{seed}:{p}:{d}') & 1`, so any operator built
    on these rows (LSH hyperplanes, IVF coarse centroids) is bit-for-bit
    replicable in the SQL oracle."""
    import hashlib

    bits01 = np.fromiter(
        (
            int.from_bytes(
                hashlib.md5(f"{seed}:{p}:{d}".encode()).digest()[:8], "little"
            )
            & 1
            for p in range(n_rows)
            for d in range(dim)
        ),
        dtype=np.int64,
        count=n_rows * dim,
    )
    return (2 * bits01 - 1).reshape(n_rows, dim).astype(np.float64)


def lsh_signatures_udf(dim: int, rows: int, bands: int, seed: int,
                       plane_source: str = "gauss"):
    """pandas UDF: unit embedding -> array<long> of `bands` band signatures.

    Each signature packs `rows` hyperplane sign bits plus the band index so a
    single explode+equi-join covers all bands.

    plane_source="gauss" (default) draws Gaussian hyperplanes from a seeded
    PCG64 — the standard random-hyperplane construction, used by entity
    resolution. plane_source="md5" uses Rademacher (+-1) hyperplanes whose
    entries come from md5("{seed}:{plane}:{dim}") bit 0 — an equally valid
    sign-LSH family (Achlioptas-style +-1 projections) whose signatures a
    SQL engine can recompute EXACTLY (DuckDB md5_number_upper), making the
    whole LSH path oracle-checkable; this mode computes dots in float64 so
    the sign decisions match a SQL engine's double arithmetic."""
    if plane_source == "md5":
        planes = md5_rademacher(seed, bands * rows, dim)
        dtype = np.float64
    else:
        rng = np.random.Generator(np.random.PCG64(seed))
        planes = rng.standard_normal((bands * rows, dim)).astype(np.float32)
        dtype = np.float32
    weights = (2 ** np.arange(rows, dtype=np.int64))[None, :]

    @F.pandas_udf(ArrayType(LongType()))
    def _sigs(emb: pd.Series) -> pd.Series:
        mat = np.asarray([np.asarray(e, dtype=dtype) for e in emb])
        if mat.ndim != 2:  # empty batch
            return pd.Series([[] for _ in range(len(emb))])
        bits = (mat @ planes.T) > 0  # (n, bands*rows)
        bits = bits.reshape(len(mat), bands, rows)
        sig = (bits * weights).sum(axis=2).astype(np.int64)  # (n, bands)
        sig = sig + (np.arange(bands, dtype=np.int64) << rows)[None, :]
        return pd.Series(list(sig))

    return _sigs


@F.pandas_udf(DoubleType())
def pair_cosine(a: pd.Series, b: pd.Series) -> pd.Series:
    """Vectorized exact cosine for candidate pairs (unit vectors -> dot)."""
    ma = np.asarray([np.asarray(x, dtype=np.float64) for x in a])
    mb = np.asarray([np.asarray(x, dtype=np.float64) for x in b])
    if len(ma) == 0:
        return pd.Series([], dtype=float)
    return pd.Series(np.einsum("ij,ij->i", ma, mb))


def bucket_pairs(
    left: DataFrame,
    on: str | list[str],
    right: DataFrame | None = None,
    where: F.Column | None = None,
) -> DataFrame:
    """Candidate pairs of items that share a bucket.

    Input: one row per (item, bucket) with an `id` column, the bucket key
    column(s) `on`, and only the columns `where` reads. Every column other
    than `on` enters the join renamed `<c>_a` (left) / `<c>_b` (right), so
    `where` is written over those names. `right=None` joins `left` with
    itself and keeps id_a < id_b; `right=` (same shape) gives the bipartite
    form and keeps id_a != id_b. `where` runs BEFORE the single
    (id_a, id_b) dedup: the join emits one row per shared bucket, so a
    selective filter shrinks the dedup shuffle to the pairs that pass.

    Returns (id_a, id_b, <payload>_a, <payload>_b), one row per pair.
    """
    keys = [on] if isinstance(on, str) else list(on)

    def side(df: DataFrame, sfx: str) -> DataFrame:
        return df.select(
            *keys, *[F.col(c).alias(f"{c}_{sfx}") for c in df.columns if c not in keys]
        )

    if right is None:
        keep = F.col("id_a") < F.col("id_b")
        right = left
    else:
        keep = F.col("id_a") != F.col("id_b")
    if where is not None:
        keep = keep & where
    return (
        side(left, "a").join(side(right, "b"), keys)
        .where(keep)
        .drop(*keys)
        .dropDuplicates(["id_a", "id_b"])
    )


def score_pairs(
    pairs: DataFrame,
    items: DataFrame,
    right: DataFrame | None = None,
) -> DataFrame:
    """pairs(id_a, id_b, ...) -> + `sim`, the exact cosine of the two unit
    embeddings. `items(id, emb)` supplies id_a's embedding, and id_b's
    too unless the bipartite `right` is given. The wide arrays join onto the
    distinct pairs only, never onto the pre-dedup bucket join."""
    right = items if right is None else right
    ea = items.select(F.col("id").alias("id_a"), F.col("emb").alias("__emb_a"))
    eb = right.select(F.col("id").alias("id_b"), F.col("emb").alias("__emb_b"))
    return (
        pairs.join(ea, "id_a")
        .join(eb, "id_b")
        .withColumn("sim", pair_cosine(F.col("__emb_a"), F.col("__emb_b")))
        .drop("__emb_a", "__emb_b")
    )


def _broadcast_pairs(
    probe: DataFrame,
    ids: "np.ndarray",
    mat: "np.ndarray",
    threshold: float,
    inclusive: bool,
    bipartite: bool,
    top: bool = False,
) -> DataFrame:
    """Exact pairs via per-partition BLAS matmul: each Arrow batch of
    `probe(id, emb, ...)` scores against the broadcast small side (`ids`,
    unit rows `mat`, at most the caller's broadcast row limit).

    Returns (id_a, id_b, sim, <probe's other columns>): id_a a broadcast id,
    id_b a probe id. The self form (both sides one item set) keeps
    id_a < id_b; the bipartite form keeps id_a != id_b. `top` keeps, per
    broadcast id and row block, only the best-scoring probe rows (all ties at
    TIE_DECIMALS).
    """
    payload = [c for c in probe.columns if c not in ("id", "emb")]
    schema = StructType(
        [
            StructField("id_a", LongType()),
            StructField("id_b", LongType()),
            StructField("sim", DoubleType()),
        ]
        + [probe.schema[c] for c in payload]
    )
    spark = probe.sparkSession
    if len(ids) == 0:
        return spark.createDataFrame([], schema)
    b = spark.sparkContext.broadcast((ids, mat))

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_b, mat_b = b.value
        m = len(ids_b)
        # Row-block the arrow batch so each (rows x M) sims block stays
        # ~32 MB: one giant block (2k-row partition x 64k items = 1 GB of
        # float64 PER TASK, x32 concurrent tasks) thrashes the allocator —
        # measured 3.5s @32k -> 102s-254s @64k before blocking. Small blocks
        # keep the BLAS + mask sweep in cache and the worker RSS flat.
        blk = max(1, (32 << 20) // (m * 8))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            p_ids = pdf["id"].to_numpy(dtype=np.int64)
            p_mat = np.asarray(
                [np.asarray(e, dtype=np.float64) for e in pdf["emb"]]
            )
            for s in range(0, len(pdf), blk):
                r_ids = p_ids[s:s + blk]
                sims = p_mat[s:s + blk] @ mat_b.T  # (blk, M) — BLAS
                cond = sims >= threshold if inclusive else sims > threshold
                if bipartite:
                    cond &= r_ids[:, None] != ids_b[None, :]
                else:
                    cond &= ids_b[None, :] < r_ids[:, None]
                pi, bj = np.nonzero(cond)
                out = pd.DataFrame(
                    {"id_a": ids_b[bj], "id_b": r_ids[pi], "sim": sims[pi, bj]}
                )
                for c in payload:
                    out[c] = pdf[c].to_numpy()[s + pi]
                if top and len(out):
                    tied = out["sim"].round(TIE_DECIMALS)
                    out = out[tied == tied.groupby(out["id_a"]).transform("max")]
                yield out

    return probe.mapInPandas(score, schema=schema)


def candidate_pairs(
    items: DataFrame,
    cfg: MatchConfig,
    threshold: float,
    n_items: int | None = None,
    emb_dim: int | None = None,
    right: DataFrame | None = None,
) -> DataFrame:
    """items(id, emb) -> (id_a, id_b, sim), id_a < id_b.

    With `right` (same two columns) the pairs are bipartite instead: id_a
    from `items`, the side broadcast or banded first, id_b from `right`,
    the side streamed against it, id_a != id_b.

    `emb` must be unit-normalized (cosine == dot). `n_items` counts `items`;
    `emb_dim` byte-bounds the broadcast path and saves the LSH path a
    dim-probing job.
    """
    method = cfg.candidate_method
    if method == "auto":
        n = n_items if n_items is not None else items.count()
        method = "broadcast" if n <= cfg.candidate_broadcast_limit(emb_dim) else "lsh"

    def emb_items(df: DataFrame) -> DataFrame:
        return df.select("id", "emb")

    if method == "broadcast":
        rows = emb_items(items).collect()
        ids = np.asarray([r["id"] for r in rows], dtype=np.int64)
        mat = np.asarray([np.asarray(r["emb"], dtype=np.float64) for r in rows])
        return _broadcast_pairs(
            emb_items(items if right is None else right),
            ids,
            mat,
            threshold,
            cfg.inclusive,
            bipartite=right is not None,
        )

    # ---- LSH path -----------------------------------------------------------
    # The band join is ids-only: candidate volume is O(sum bucket_size^2)
    # rows pre-dedup (measured 82M rows for 20k clustered vectors at 24
    # bands), and carrying the two embedding arrays through the join + the
    # pair-dedup shuffle multiplies its bytes ~60x (64-dim float64 pairs =
    # ~1KB/row vs 16B of ids — ~80GB vs ~1.3GB at that scale).
    if emb_dim:
        dim = emb_dim
    else:  # embedding dim read from one row (the schema doesn't carry it)
        first = items.select(F.size("emb").alias("d")).first()
        dim = int(first["d"]) if first else 2
    sigs = lsh_signatures_udf(dim, LSH_ROWS, LSH_BANDS, LSH_SEED)

    def sig_items(df: DataFrame) -> DataFrame:
        return df.select("id", F.explode(sigs(F.col("emb"))).alias("sig"))

    if right is None:
        scored = score_pairs(bucket_pairs(sig_items(items), "sig"), emb_items(items))
    else:
        scored = score_pairs(
            bucket_pairs(sig_items(items), "sig", right=sig_items(right)),
            emb_items(items),
            right=emb_items(right),
        )
    return scored.where(
        F.col("sim") >= threshold if cfg.inclusive else F.col("sim") > threshold
    ).select("id_a", "id_b", "sim")
