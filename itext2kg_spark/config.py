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
    # Above this many distinct items per side, "auto" switches to LSH.
    broadcast_limit: int = 100_000
    # Byte ceiling for driver-collected embedding matrices: the row limit
    # alone ignores vector width (100k rows x 1536 dims x 8B is ~1.2 GB).
    # Effective limit = min(broadcast_limit, broadcast_limit_bytes/(dim*8)).
    broadcast_limit_bytes: int = 256 * 1024 * 1024
    # Candidate-generation broadcast->LSH row cutover — MEASURED, not
    # asserted (BENCH.md round-6 "Broadcast->LSH cutover" table): at 64-dim
    # the exact broadcast-BLAS path beats banded LSH at EVERY probed size
    # (8k/16k/32k/64k, warmed min-of-2; 3.5s vs 136s at 32k on a dup-dense
    # corpus whose hot buckets are LSH's worst case), so the row cutover
    # sits at the top of the probed range and the BYTE ceiling above is
    # what sends wide vectors (1536-dim > ~21k rows) to LSH. Distinct from
    # driver_matrix_bytes/n_quad below, which bounds the DRIVER-resolve
    # n x n matrix — a constraint the chunked executor-side BLAS path does
    # not have (conflating the two is what pinned the old cutover at 32,768).
    cand_broadcast_rows: int = 65_536
    # LSH shape: `lsh_rows` sign-bits per band, `lsh_bands` bands. Recall for
    # cosine θ: 1 - (1 - p^rows)^bands with p = 1 - arccos(θ)/π.
    # (6, 24) gives ≥0.997 recall at θ=0.7 and ≥0.9996 at θ=0.8.
    lsh_rows: int = 6
    lsh_bands: int = 24
    lsh_seed: int = 1729
    # Connected-components iteration cap (each iteration does neighbor-min +
    # pointer-jumping, so convergence is O(log diameter)).
    cc_max_iter: int = 25

    # Distinct-item ceiling for DISTRIBUTED leader-mode resolution: its fold
    # rank is a global row_number (a single-partition sort of the distinct
    # item table) and the fixpoint runs ~2 actions per chain-depth round —
    # fine for a parity mode, pathological at extreme cardinality. Above
    # this, resolve_items refuses with guidance to use the order-free
    # default (link_mode="best"), rather than silently sorting 10^8 rows on
    # one partition. The driver leader path is unaffected (it is already
    # bounded by effective_broadcast_limit).
    leader_sort_limit: int = 10_000_000

    # Byte ceiling for the driver resolution's n x n similarity matrix —
    # the collect limit alone misses that _driver_resolve is quadratic in
    # rows (100k rows -> an 80 GB float64 matrix). 8 GiB caps the driver
    # path at ~32k distinct items; larger batches take the distributed path.
    driver_matrix_bytes: int = 8 * 1024 * 1024 * 1024

    def effective_broadcast_limit(self, emb_dim: int | None = None) -> int:
        """Row limit for driver-side paths: bounded by the configured row
        count, the collected-matrix bytes (when the vector width is known),
        and the quadratic n x n similarity-matrix budget."""
        n_quad = int((self.driver_matrix_bytes / 8) ** 0.5)
        if not emb_dim:
            return min(self.broadcast_limit, n_quad)
        return min(
            self.broadcast_limit,
            self.broadcast_limit_bytes // (emb_dim * 8),
            n_quad,
        )

    def candidate_broadcast_limit(self, emb_dim: int | None = None) -> int:
        """Row limit for candidate_pairs' auto broadcast->LSH switch: the
        measured cutover (cand_broadcast_rows — see its comment) and the
        collected-matrix byte ceiling. No n_quad term: the executor-side
        BLAS path scores in (arrow-batch x n) chunks and never builds the
        n x n matrix that bounds the driver-resolve path."""
        if not emb_dim:
            return min(self.broadcast_limit, self.cand_broadcast_rows)
        return min(
            self.broadcast_limit,
            self.cand_broadcast_rows,
            self.broadcast_limit_bytes // (emb_dim * 8),
        )

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
    # shuffle partitioning for the merge stages; None = leave session default
    shuffle_partitions: int | None = None


ATOM = PipelineConfig()
STAR = PipelineConfig(
    match=MatchConfig(ent_threshold=0.7, rel_threshold=0.7, inclusive=False),
    embed=EmbedConfig(name_weight=0.6, label_weight=0.4),
    mode="star",
)
