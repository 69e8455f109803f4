"""SimHash near-dup detection: 64-bit token-weighted signatures, band-blocked
Hamming search.

Signature = sign(sum over tokens of tf-weighted ±1 per bit of md5(token)).
Near-dups = pairs with Hamming distance <= max_hamming, found by splitting the
64 bits into `bands` exact-match blocks (pigeonhole: any pair within distance
d < bands shares at least one block) — an equi-join, never a cross join.
With bands > max_hamming the banding is COMPLETE: the output is exactly the
set of pairs within the Hamming budget, independent of corpus or scale.

The bit source is md5 (first 8 digest bytes little-endian, bit i = (h>>i)&1)
specifically so the whole signature is replicable in ANSI-ish SQL — DuckDB's
`md5_number_upper(tok)` IS this integer, making `simhash_pairs` exactly
oracle-checkable (the driver's dedup_simhash oracle recomputes signatures and
brute-forces Hamming pairs in SQL).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from itext2kg_spark.merge.candidates import bucket_pairs


def _simhash(text: str) -> int:
    acc = np.zeros(64, dtype=np.int64)
    toks = (text or "").split()
    if not toks:
        return 0
    from collections import Counter

    for tok, cnt in Counter(toks).items():
        digest = hashlib.md5(tok.encode()).digest()[:8]
        # bitorder='little': bit i == (int.from_bytes(digest,'little') >> i) & 1
        bits = np.unpackbits(
            np.frombuffer(digest, dtype=np.uint8), bitorder="little"
        )
        acc += cnt * (bits.astype(np.int64) * 2 - 1)
    sig = np.packbits((acc > 0).astype(np.uint8), bitorder="little").tobytes()
    return int.from_bytes(sig, "little", signed=True)


# token -> (64,) ±1 bit row, shared across batches AND (via Python worker
# reuse — this module is importable on executors) across tasks: real corpora
# share most of their vocabulary between documents, so md5+unpackbits runs
# once per distinct token per worker instead of once per (doc, token)
# (guide §4.5). Bounded so a pathological vocabulary cannot grow worker RSS.
_BITS_CACHE: dict[str, np.ndarray] = {}
_BITS_CACHE_MAX = 1 << 20


def _token_bits(tok: str) -> np.ndarray:
    b = _BITS_CACHE.get(tok)
    if b is None:
        digest = hashlib.md5(tok.encode()).digest()[:8]
        b = (
            np.unpackbits(
                np.frombuffer(digest, dtype=np.uint8), bitorder="little"
            ).astype(np.int64)
            * 2
            - 1
        )
        if len(_BITS_CACHE) < _BITS_CACHE_MAX:
            _BITS_CACHE[tok] = b
    return b


def _simhash_batch(texts: list) -> np.ndarray:
    """Vectorized batch twin of `_simhash` (value-parity tested): per doc,
    one (distinct_tokens, 64) matrix of cached bit rows and one counts @
    bits matmul instead of a per-token Python accumulation loop."""
    from collections import Counter

    out = np.zeros(len(texts), dtype=np.int64)
    for r, text in enumerate(texts):
        toks = (text or "").split()
        if not toks:
            continue
        cnt = Counter(toks)
        mat = np.empty((len(cnt), 64), dtype=np.int64)
        counts = np.empty(len(cnt), dtype=np.int64)
        for i, (tok, c) in enumerate(cnt.items()):
            mat[i] = _token_bits(tok)
            counts[i] = c
        acc = counts @ mat
        sig = np.packbits((acc > 0).astype(np.uint8), bitorder="little").tobytes()
        out[r] = int.from_bytes(sig, "little", signed=True)
    return out


@F.pandas_udf(LongType())
def simhash_udf(texts: pd.Series) -> pd.Series:
    return pd.Series(_simhash_batch(texts.tolist()))


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_a, id_b, hamming) for pairs with Hamming(simhash) <= max_hamming."""
    from itext2kg_spark.functions.partitioning import ensure_scan_parallelism

    assert 64 % bands == 0 and max_hamming < bands
    width = 64 // bands
    docs = ensure_scan_parallelism(docs)  # signature kernel is per-row CPU
    sigs = docs.select(
        F.col(id_col).alias("id"), simhash_udf(F.col(text_col)).alias("sig")
    ).localCheckpoint(eager=False)  # lazy: plan builders stay side-effect-free

    blocks = sigs.select(
        "id",
        "sig",
        F.explode(
            F.expr(
                f"transform(sequence(0, {bands - 1}),"
                f" bi -> struct(bi as band,"
                f"  (shiftright(sig, bi * {width}) & {(1 << width) - 1}) as block))"
            )
        ).alias("b"),
    ).select("id", "sig", "b.band", "b.block")

    # hamming filter BEFORE the pair dedup: the band join emits one row per
    # shared block (O(collisions) rows — millions at small block widths) and
    # bit_count is whole-stage-codegen'd per row, so filtering first shrinks
    # the dropDuplicates shuffle to just the near pairs (sf0.1, 16 bands:
    # 7.4M candidate rows -> hundreds)
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    near = bucket_pairs(blocks, ["band", "block"], where=hamming <= max_hamming)
    return near.select("id_a", "id_b", hamming.alias("hamming"))


def simhash_verified_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    max_hamming: int = 12,
    bands: int = 16,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_gram_df: int | None = 1000,
) -> DataFrame:
    """SimHash candidates verified by exact n-gram Jaccard — (id_a, id_b,
    jaccard_10k), identical to `ngram.jaccard_pairs` whenever every true
    near-dup pair lands within `max_hamming` signature bits (measured on the
    synthetic corpora: true 0.8-Jaccard pairs sit at Hamming <= 12 of 64 up
    to sf0.1, so the pigeonhole-maximum budget of 15 holds with margin),
    which makes the exact-Jaccard SQL this operator's DuckDB oracle. Same shape as minhash_lsh_pairs' verify step:
    the gram equi-join is restricted to candidate ids (left_semi), so exact
    verification cost tracks candidate volume, not corpus size. No
    pair-level filter afterwards: every pair the candidate-restricted
    Jaccard emits has true df-filtered Jaccard >= threshold (shared counts
    and |A|/|B| come from the candidates' FULL gram sets), so output equals
    exact jaccard_pairs whenever id-level recall holds — implied by, and
    weaker than, the pair-level Hamming recall above."""
    from itext2kg_spark.dedup.ngram import (
        jaccard_pairs,
        restricted_filtered_grams,
    )

    # checkpoint the (small) candidate pair set: it feeds two id projections
    # and its lineage contains the multi-million-row band join
    cand = simhash_pairs(docs, max_hamming, bands, text_col, id_col).select(
        "id_a", "id_b"
    ).localCheckpoint(eager=False)
    # no .distinct(): cand_ids only feeds restricted_filtered_grams'
    # left_semi build side, whose hash relation dedups inherently — the
    # distinct would add a full exchange of the candidate ids to save
    # nothing (same argument as minhash_lsh_pairs' cand_ids)
    cand_ids = cand.select(F.col("id_a").alias("id")).union(
        cand.select(F.col("id_b").alias("id"))
    )
    # df cutoff counts over the FULL corpus (round-4 advice: candidate-local
    # df kept boilerplate grams that plain jaccard_pairs drops); the
    # restriction-then-filter order inside keeps the join cost
    # candidate-proportional
    grams_c = restricted_filtered_grams(
        docs, cand_ids, n, text_col, id_col, max_gram_df
    )
    return jaccard_pairs(
        docs, threshold=threshold, n=n, text_col=text_col, id_col=id_col,
        grams=grams_c, max_gram_df=None,
    )
