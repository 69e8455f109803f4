"""MinHash + LSH near-dup detection: shingle -> minhash -> band -> bucket join.

The scale path for n-gram Jaccard: signatures are fixed-size (k hashes) per
document regardless of length, candidate DOCS are the members of collided
(band, band_signature) buckets (one groupBy — no bucket self-join, no pair
expansion), and only candidates pay the exact-verify cost. With k=64, b=16
bands of r=4 rows, P(candidate | J=0.8) ≈ 1-(1-0.8^4)^16 ≈ 0.9997 per PAIR.
Verification only needs the weaker id-level condition (each endpoint
collides with ANY near-dup partner), so recall is at least that pair-level
0.9997 and verified output matches exact Jaccard pairs with near-certain
recall.

Fully Catalyst, no Python stage: gram hashes are `xxhash64(gram) mod p`
(p = 2^31-1, so the (a*h+b) mod p permutation products fit in int64), and the
k row-mins are k codegen'd MIN aggregates over the exploded distinct-gram
table — ONE hash aggregate keyed on the doc id with map-side partial
aggregation, so the exchange carries one (id, 64 longs) row per doc per map
partition. The same materialized gram table then feeds candidate
verification, so grams are tokenized exactly once per run. (The earlier
shape was a pandas UDF hashing every gram with blake2b per document — the
Python boundary plus a second gram tokenization; the hash family is not part
of the operator's contract, which is 'identical to exact Jaccard whenever
LSH recall holds' — the DuckDB oracle is the exact-Jaccard SQL.)

Docs with no grams (shorter than n tokens) get no signature; they cannot
reach any Jaccard threshold in verification either, so the output is
unchanged by their absence from banding.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from itext2kg_spark.dedup.ngram import (
    _materialize,
    drop_hot_grams,
    jaccard_pairs,
    word_ngrams,
)

_P31 = (1 << 31) - 1  # Mersenne prime 2^31-1: products stay within int64


def minhash_permutations(k: int = 64, seed: int = 42) -> tuple[list[int], list[int]]:
    """Deterministic (a, b) coefficient lists for the k permutations
    h -> (a*h + b) mod p, drawn from the seeded PCG64 stream."""
    rng = np.random.Generator(np.random.PCG64(seed))
    a = rng.integers(1, _P31, size=k, dtype=np.int64)
    b = rng.integers(0, _P31, size=k, dtype=np.int64)
    return [int(x) for x in a], [int(x) for x in b]


def minhash_signature_cols(k: int, seed: int) -> list[F.Column]:
    """k MIN-aggregate columns (aliased s0..s{k-1}) over a `__h` gram-hash
    column — the per-doc minhash signature as a groupBy(id).agg(*cols)."""
    a, b = minhash_permutations(k, seed)
    return [
        F.min(
            F.pmod(F.col("__h") * F.lit(a[j]) + F.lit(b[j]), F.lit(_P31))
        ).alias(f"s{j}")
        for j in range(k)
    ]


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    k: int = 64,
    bands: int = 16,
    n: int = 3,
    seed: int = 42,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_gram_df: int | None = 1000,
) -> DataFrame:
    """(id_a, id_b, jaccard_10k): LSH candidates verified by exact Jaccard.

    Output is identical to `jaccard_pairs` whenever LSH recall holds — the
    DuckDB oracle for this operator IS the exact-Jaccard SQL.
    """
    assert k % bands == 0
    rows = k // bands

    # ONE gram tokenization per run: the distinct-gram table feeds the
    # signature aggregate, the full-corpus df cutoff AND the candidate
    # verification join (previously signatures re-tokenized inside a UDF).
    g0 = _materialize(word_ngrams(docs, n, text_col, id_col), size_src=docs)

    # no checkpoint: since candidates come from a bucket groupBy (below)
    # rather than a self-join, the sig aggregate has exactly one consumer
    sigs = (
        g0.select(
            "id", F.pmod(F.xxhash64(F.col("gram")), F.lit(_P31)).alias("__h")
        )
        .groupBy("id")
        .agg(*minhash_signature_cols(k, seed))
    )

    # band signature = xxhash64 over the band's k/bands signature values
    banded = sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.xxhash64(
                            *[F.col(f"s{j}")
                              for j in range(bi * rows, (bi + 1) * rows)]
                        ).alias("bsig"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bs"),
    ).select("id", "bs.band", "bs.bsig")

    # Candidate IDS via ONE groupBy on the bucket key (no bucket self-join,
    # no pair expansion): verification restricts the gram table to docs that
    # collided in ANY bucket and runs exact Jaccard over that sub-corpus.
    # Every pair that emits has true df-filtered Jaccard >= threshold —
    # shared counts and |A|/|B| are computed over the candidates' FULL gram
    # sets — so no pair-level filter is needed afterwards: output equals
    # exact `jaccard_pairs` whenever id-level LSH recall holds, which is
    # implied by (and weaker than) the pair-level recall the banding is
    # tuned for. (The earlier shape expanded per-bucket i<j pairs and
    # left_semi-filtered the verified output against them — one more
    # Generate chain, one more join, and strictly worse recall on pairs
    # whose endpoints collided only with other partners.) No checkpoint:
    # the bucket aggregate has exactly one consumer now. cand_ids is NOT
    # deduped: it only feeds the left_semi build side, whose hash relation
    # dedups inherently — a .distinct() would add a full exchange to save
    # at most bands× duplicate ids from the (cheaper) join build.
    cand_ids = (
        banded.groupBy("band", "bsig")
        .agg(F.collect_list("id").alias("ids"))
        .where(F.size("ids") > 1)
        .select(F.explode("ids").alias("id"))
    )

    # exact verification via the gram equi-join restricted to candidates;
    # the df cutoff counts over the FULL corpus (round-4 advice) with the
    # restriction applied first so join cost stays candidate-proportional.
    # The hot-gram cutoff is a left_anti join against the small HOT set
    # rather than a semi join against the huge KEEP set (drop_hot_grams).
    gc = g0.join(cand_ids, "id", "left_semi")
    if max_gram_df is not None:
        gc = drop_hot_grams(gc, g0, max_gram_df)
    return jaccard_pairs(
        docs, threshold=threshold, n=n, text_col=text_col, id_col=id_col,
        grams=gc, max_gram_df=None,
    )
