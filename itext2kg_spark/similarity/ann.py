"""Approximate-nearest-neighbor search over an embedding column.

* `ann_topk_bruteforce` — exact top-k by cosine: the (small) query matrix is
  broadcast as numpy and each corpus partition scores against it with ONE
  BLAS matmul (`mapInPandas`), keeping a per-partition partial top-k per
  query; a final window over the ~|Q|*k*partitions survivors picks the
  global top-k. Linear scan, embarrassingly parallel, and the shuffle
  carries |Q|*k*partitions rows — not |Q|*|C|.
* `ann_topk_lsh` — the scale path: both sides get random-hyperplane band
  signatures (shared operator with entity resolution), candidates come from
  bucket equi-joins, exact cosine re-ranks within candidates. Sub-linear
  candidate volume; recall is tunable via (rows, bands).
* `ann_topk_ivf` — coarse-quantizer cells as the buckets: queries probe
  their nearest cells, the corpus sits in its nearest one.

The LSH and IVF candidates come from the package's one bucket-pair kernel
(`merge.candidates.bucket_pairs`, bipartite form: queries x corpus, self
matches dropped). Its join carries ids only; `score_pairs` joins the
embeddings onto the distinct (query, neighbor) pairs afterwards, so no
vector is copied once per shared band or probed cell.

All cosine math is float64; candidate re-ranks score through the shared
Arrow-vectorized einsum scorer (`merge.candidates.pair_cosine`) — Catalyst
higher-order array functions are interpreted per element and ~100x slower
than numpy on this path (see merge/candidates.py docstring). All three
searches rank through one window (`_top_k`).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from itext2kg_spark.functions.vectors import unit
from itext2kg_spark.merge.candidates import (
    bucket_pairs,
    lsh_signatures_udf,
    md5_rademacher,
    score_pairs,
)


def _prep(df: DataFrame, id_col: str, emb_col: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias("id"),
        unit(F.col(emb_col).cast("array<double>")).alias("emb"),
    )


def _top_k(cand: DataFrame, k: int) -> DataFrame:
    """(id_a, id_b, sim) scored query/neighbor pairs -> the k best
    neighbors per query, ordered sim desc then neighbor id asc:
    (query_id, neighbor_id, rank, sim_10k)."""
    w = Window.partitionBy("id_a").orderBy(F.col("sim").desc(), F.col("id_b").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("id_a").alias("query_id"),
            F.col("id_b").alias("neighbor_id"),
            F.col("rank").cast("long").alias("rank"),
            F.floor(F.col("sim") * 10000).cast("long").alias("sim_10k"),
        )
    )


def ann_topk_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, rank, sim_10k); self-matches excluded,
    deterministic tie-break on neighbor id."""
    q = _prep(queries, id_col, emb_col)
    c = _prep(corpus, id_col, emb_col)
    qrows = q.collect()
    if not qrows:
        return q.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, rank long, sim_10k long"
        )
    q_ids = np.asarray([r["id"] for r in qrows], dtype=np.int64)
    q_mat = np.asarray([np.asarray(r["emb"], dtype=np.float64) for r in qrows])
    bc = q.sparkSession.sparkContext.broadcast((q_ids, q_mat))

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_q, mat_q = bc.value
        nq = len(ids_q)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            c_ids = pdf["id"].to_numpy(dtype=np.int64)
            c_mat = np.asarray([np.asarray(e, dtype=np.float64) for e in pdf["emb"]])
            sims = c_mat @ mat_q.T  # (batch, Q) — one BLAS call
            sims[c_ids[:, None] == ids_q[None, :]] = -np.inf  # self-match
            # partial top-k per query under the GLOBAL ordering
            # (sim desc, neighbor_id asc): the union of per-partition top-ks
            # contains the global top-k, so the final window is exact
            kk = min(k, len(c_ids))
            order = np.lexsort(
                (np.broadcast_to(c_ids[:, None], sims.shape), -sims), axis=0
            )
            top = order[:kk, :]  # (kk, Q) corpus-row index per query column
            qcol = np.tile(np.arange(nq), kk)
            rows = top.reshape(-1)
            keep = np.isfinite(sims[rows, qcol])
            yield pd.DataFrame(
                {
                    "id_a": ids_q[qcol[keep]],
                    "id_b": c_ids[rows[keep]],
                    "sim": sims[rows[keep], qcol[keep]],
                }
            )

    return _top_k(
        c.mapInPandas(score, schema="id_a long, id_b long, sim double"), k
    )


def ann_topk_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    n_cells: int | None = None,
    n_probe: int | None = None,
    seed: int = 7,
    kmeans_iters: int = 5,
    sample_size: int = 10_000,
    centroid_source: str = "kmeans",
) -> DataFrame:
    """IVF (inverted-file) ANN: coarse quantizer -> cell-bucketed
    equi-join -> exact re-rank within probed cells.

    centroid_source="kmeans" (default) trains the quantizer with the
    driver-side mini k-means below. centroid_source="md5" uses
    data-independent Rademacher centroids (md5_rademacher — same bit source
    as the LSH md5 planes), trading per-dataset cell balance for exact
    SQL replicability: DuckDB recomputes the centroids, assignments and
    probes bit-for-bit, making the whole IVF path oracle-checkable
    (cell assignment by max dot product is invariant to the uniform
    positive centroid scale, so the +-1 rows need no normalization).

    Training is a driver-side mini k-means over a bounded sample (spherical:
    centroids re-normalized each iteration, assignment by max dot product —
    correct for cosine on unit vectors). Assignment of the full corpus and of
    queries is one BLAS matmul per Arrow batch; queries probe their `n_probe`
    nearest cells, so the scored candidate set is ~n_probe/n_cells of the
    corpus. Deterministic: fixed seed, sample = first `sample_size` rows by
    id order.

    Cell count must grow with corpus size (a fixed count degenerates to a
    scan as cells fatten), so the default is AUTO: n_cells =
    ceil(sqrt(N)) bounded to [1, 4096] (the FAISS rule of thumb), with
    n_probe = max(3, ceil(n_cells/8)) — a constant ~1/8 probe fraction, so
    recall stays stable across corpus scales without retuning. N is the
    sample size when the sample is complete, else one corpus count(). Pass
    explicit n_cells/n_probe to override.
    """
    c = _prep(corpus, id_col, emb_col)
    q = _prep(queries, id_col, emb_col)

    if centroid_source == "md5":
        if n_cells is None:
            n_corpus = c.count()
            n_cells = max(1, min(int(np.ceil(np.sqrt(n_corpus))), 4096))
        if n_probe is None:
            n_probe = max(3, -(-n_cells // 8))
        dim_row = c.select(F.size("emb").alias("d")).first()
        if dim_row is None:
            return ann_topk_bruteforce(queries, corpus, k, id_col, emb_col)
        cent = md5_rademacher(seed, n_cells, int(dim_row["d"]))
    else:
        sample = c.orderBy("id").limit(sample_size).select("emb").collect()
        mat = np.asarray([np.asarray(r["emb"]) for r in sample])
        if len(mat) == 0:
            return ann_topk_bruteforce(queries, corpus, k, id_col, emb_col)
        if n_cells is None:
            n_corpus = len(mat) if len(mat) < sample_size else c.count()
            n_cells = max(1, min(int(np.ceil(np.sqrt(n_corpus))), 4096))
        if n_probe is None:
            n_probe = max(3, -(-n_cells // 8))
        rng = np.random.Generator(np.random.PCG64(seed))
        n_cells_eff = min(n_cells, len(mat))
        cent = mat[rng.choice(len(mat), n_cells_eff, replace=False)]
        for _ in range(kmeans_iters):
            assign = (mat @ cent.T).argmax(axis=1)
            for j in range(n_cells_eff):
                members = mat[assign == j]
                if len(members):
                    v = members.sum(axis=0)
                    n = np.linalg.norm(v)
                    if n > 0:
                        cent[j] = v / n
    bc = c.sparkSession.sparkContext.broadcast(cent)

    def assign_cells(probes: int):
        # (id, cell) rows only: the embedding stays behind and joins back
        # once per distinct candidate pair in score_pairs
        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            ct = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                m = np.asarray([np.asarray(e) for e in pdf["emb"]])
                top = np.argsort(-(m @ ct.T), axis=1)[:, :probes]
                yield pd.DataFrame(
                    {
                        "id": np.repeat(pdf["id"].to_numpy(), probes),
                        "cell": top.reshape(-1).astype(np.int64),
                    }
                )

        return run

    schema = "id long, cell long"
    pairs = bucket_pairs(
        q.mapInPandas(assign_cells(n_probe), schema=schema),
        "cell",
        right=c.mapInPandas(assign_cells(1), schema=schema),
    )
    return _top_k(score_pairs(pairs, q, right=c), k)


def ann_topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    rows: int = 4,
    bands: int = 16,
    seed: int = 1729,
    plane_source: str = "gauss",
) -> DataFrame:
    """Approximate top-k: LSH-bucketed candidates, exact re-rank.
    plane_source="md5" uses SQL-replicable Rademacher planes (see
    lsh_signatures_udf) so the whole query is oracle-checkable."""
    q = _prep(queries, id_col, emb_col)
    c = _prep(corpus, id_col, emb_col)
    dim_row = c.select(F.size("emb").alias("d")).first()
    dim = int(dim_row["d"]) if dim_row else 2
    sig = lsh_signatures_udf(dim, rows, bands, seed, plane_source)

    def buckets(df: DataFrame) -> DataFrame:
        return df.select("id", F.explode(sig("emb")).alias("sig"))

    pairs = bucket_pairs(buckets(q), "sig", right=buckets(c))
    return _top_k(score_pairs(pairs, q, right=c), k)
