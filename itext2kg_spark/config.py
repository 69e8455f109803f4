"""Pipeline configuration.

Defaults mirror the reference:
  - ATOM `Atom.build_graph` defaults: ent_threshold=0.8, rel_threshold=0.7,
    entity_name_weight=0.8, entity_label_weight=0.2
    (reference: itext2kg/atom/atom.py:155-163).
  - Legacy/star `iText2KG.build_graph`: 0.7/0.7 thresholds, 0.6/0.4 weights
    (reference: itext2kg/itext2kg_star/itext2kg.py:36-44).
  - ATOM similarity gate is inclusive (score >= threshold,
    atom/graph_matching/matcher.py:80); the star matcher is strict (score >
    threshold, itext2kg_star/graph_matching/matcher.py:41) — `inclusive`
    selects between them.
"""

from __future__ import annotations

from dataclasses import dataclass, field

# Byte ceiling for driver-collected / broadcast embedding matrices: a row
# limit alone ignores vector width (100k rows x 1536 dims x 8B is ~1.2 GB).
BROADCAST_LIMIT_BYTES = 256 * 1024 * 1024

# Candidate-generation broadcast->LSH row cutover — MEASURED, not asserted
# (BENCH.md round-6 "Broadcast->LSH cutover" table): at 64-dim the exact
# broadcast-BLAS path beats banded LSH at EVERY probed size (8k/16k/32k/64k,
# warmed min-of-2; 3.5s vs 136s at 32k on a dup-dense corpus whose hot
# buckets are LSH's worst case), so the row cutover sits at the top of the
# probed range and BROADCAST_LIMIT_BYTES is what sends wide vectors
# (1536-dim > ~21k rows) to LSH. Distinct from driver_matrix_bytes/n_quad,
# which bounds the DRIVER-resolve n x n matrix — a constraint the chunked
# executor-side BLAS path does not have (conflating the two is what pinned
# the old cutover at 32,768).
CAND_BROADCAST_ROWS = 65_536


@dataclass(frozen=True)
class MatchConfig:
    """Entity / relation resolution parameters."""

    ent_threshold: float = 0.8
    rel_threshold: float = 0.7
    inclusive: bool = True  # ATOM: sim >= thr; star mode: sim > thr
    # Cluster linking: "best" connects each item only to its argmax match
    # (parity with the reference's per-item argmax, matcher.py:73-94);
    # "leader" reproduces the reference's SEQUENTIAL fold exactly (each item
    # matches only surviving leaders, in first_seen order — absorbed surface
    # forms leave the pool, so similarity chains never over-merge). Both
    # paths implement it: the driver path as the literal fold, the
    # distributed path as an ord-prefix fixpoint (rounds = chain depth) that
    # provably yields the same assignment; its fold rank needs one global
    # sort of the distinct-item table, so prefer the order-free default at
    # extreme cardinalities.
    link_mode: str = "best"
    # Candidate generation: "broadcast" = exact all-pairs (small side broadcast),
    # "lsh" = banded random-hyperplane bucketing, "auto" switches on count.
    candidate_method: str = "auto"

    # Byte ceiling for the driver resolution's n x n similarity matrix —
    # the collect limit alone misses that _driver_resolve is quadratic in
    # rows (100k rows -> an 80 GB float64 matrix). 8 GiB caps the driver
    # path at ~32k distinct items; larger batches take the distributed path.
    driver_matrix_bytes: int = 8 * 1024 * 1024 * 1024

    def effective_broadcast_limit(self, emb_dim: int | None = None) -> int:
        """Row limit for driver-side paths: bounded by the quadratic n x n
        similarity-matrix budget and, when the vector width is known, by
        the collected-matrix bytes."""
        n_quad = int((self.driver_matrix_bytes / 8) ** 0.5)
        if not emb_dim:
            return n_quad
        return min(BROADCAST_LIMIT_BYTES // (emb_dim * 8), n_quad)

    def candidate_broadcast_limit(self, emb_dim: int | None = None) -> int:
        """Row limit for candidate_pairs' auto broadcast->LSH switch: the
        measured cutover (CAND_BROADCAST_ROWS) and the collected-matrix byte
        ceiling. No n_quad term: the executor-side BLAS path scores in
        (arrow-batch x n) chunks and never builds the n x n matrix that
        bounds the driver-resolve path."""
        if not emb_dim:
            return CAND_BROADCAST_ROWS
        return min(CAND_BROADCAST_ROWS, BROADCAST_LIMIT_BYTES // (emb_dim * 8))

    def __post_init__(self):
        # Both resolve paths honour exactly these values; anything else would
        # silently take some other path's behaviour.
        if self.link_mode not in ("best", "leader"):
            raise ValueError(
                f"link_mode must be 'best' or 'leader', got {self.link_mode!r}"
            )
        if self.candidate_method not in ("auto", "broadcast", "lsh"):
            raise ValueError(
                "candidate_method must be 'auto', 'broadcast' or 'lsh', "
                f"got {self.candidate_method!r}"
            )


@dataclass(frozen=True)
class EmbedConfig:
    """Deterministic hash-embedding parameters (test/bench embedder).

    Production swaps `itext2kg_spark.extract.embed.Embedder` for an API-backed
    one; everything downstream only sees `array<float>` columns.
    """

    dim: int = 256
    seed: int = 42
    # Weighted entity embedding: emb = name_weight*emb(name) + label_weight*emb(label)
    # (reference: atom/models/knowledge_graph.py:29-43, weights atom/atom.py:161-162)
    name_weight: float = 0.8
    label_weight: float = 0.2


@dataclass(frozen=True)
class PipelineConfig:
    match: MatchConfig = field(default_factory=MatchConfig)
    embed: EmbedConfig = field(default_factory=EmbedConfig)
    # "atom" (quintuples with t_start/t_end) or "star" (t_obs only)
    mode: str = "atom"


ATOM = PipelineConfig()
STAR = PipelineConfig(
    match=MatchConfig(ent_threshold=0.7, rel_threshold=0.7, inclusive=False),
    embed=EmbedConfig(name_weight=0.6, label_weight=0.4),
    mode="star",
)
