"""Matcher differential over the reference's OWN calibration datasets
(datasets/itext2kg/similar_entities/*.xlsx — ~1,500 Concept/Variation pairs;
similar_relations/Relationship_Variations.xlsx — 500 relation variations).

These workbooks exist precisely to calibrate the merge thresholds; running
the differential on them (instead of only on synthetic pages tuned to the
hash-embedder geometry) makes the P/R >= 0.95 claim much harder to game.

Protocol: both systems see the same normalized strings and the same
deterministic hash-embedding space. The REFERENCE side folds items one at a
time into an accumulated global list via its own matcher (the sequential
accumulate of iText2KG.build_graph / the pairwise tree's left fold); our side
resolves the same distinct items with resolve_items (best-match links + CC).
Agreement is co-clustering precision/recall over unordered same-cluster
pairs, >= 0.95 at the merge-eval threshold θ=0.8 (entities) and the relation
default θ=0.7.
"""

from __future__ import annotations

import glob
import itertools

import numpy as np
import pytest

from itext2kg_spark.config import MatchConfig
from itext2kg_spark.extract.embed import hash_embed_texts
from itext2kg_spark.merge.resolve import resolve_items
from tests.ref_loader import get_reference
from tests.xlsx_lite import read_xlsx

ENT_DIR = "/root/reference/datasets/itext2kg/similar_entities"
REL_XLSX = (
    "/root/reference/datasets/itext2kg/similar_relations/Relationship_Variations.xlsx"
)


@pytest.fixture(scope="module")
def ref():
    r = get_reference()
    if r is None:
        pytest.skip("reference tree not loadable")
    return r


def _entity_corpus(ref) -> list[str]:
    names = []
    for p in sorted(glob.glob(f"{ENT_DIR}/*.xlsx")):
        for row in read_xlsx(p):
            for v in row.values():
                e = ref.Entity(name=v, label="Concept")
                e.process()
                names.append(e.name)
    # distinct, input order preserved (the fold is order-dependent)
    seen, out = set(), []
    for n in names:
        if n not in seen:
            seen.add(n)
            out.append(n)
    return out


def _pairs_from_clusters(assign: dict[str, str]) -> set[tuple[str, str]]:
    clusters: dict[str, list[str]] = {}
    for k, c in assign.items():
        clusters.setdefault(c, []).append(k)
    out = set()
    for members in clusters.values():
        for a, b in itertools.combinations(sorted(members), 2):
            out.add((a, b))
    return out


def _co_pr(ref_assign, our_assign):
    rp, op = _pairs_from_clusters(ref_assign), _pairs_from_clusters(our_assign)
    if not rp and not op:  # neither side merges anything: perfect agreement
        return 1.0, 1.0
    inter = len(rp & op)
    return inter / max(len(op), 1), inter / max(len(rp), 1)


def _weighted_emb(names: list[str], label: str, w_name=0.8, w_label=0.2):
    name_m = hash_embed_texts(names).astype(np.float64)
    lab_m = hash_embed_texts([label])[0].astype(np.float64)
    return w_name * name_m + w_label * lab_m[None, :]


def _reference_entity_fold(ref, names, embs, threshold) -> dict[str, str]:
    """Sequential accumulate via the reference matcher: each entity matched
    against the growing global list (matcher.py _batch_match_entities)."""
    matcher = ref.GraphMatcher()
    global_entities: list = []
    assign: dict[str, str] = {}
    for i, n in enumerate(names):
        e = ref.Entity(name=n, label="Concept")
        e.properties.embeddings = embs[i]
        matched, global_entities = matcher._batch_match_entities(
            [e], global_entities, threshold=threshold
        )
        assign[n] = matched[0].name
    return assign


def _our_resolution(spark, names, embs, threshold, link_mode="leader", cfg=None):
    unit = embs / np.linalg.norm(embs, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [
            (n, i, [float(x) for x in unit[i]])
            for i, n in enumerate(names)
        ],
        "name string, first_seen long, emb array<double>",
    )
    resolved = resolve_items(
        df,
        cfg or MatchConfig(link_mode=link_mode),
        threshold,
        key_cols=["name"],
        order_col="first_seen",
    )
    return {r["name"]: r["canon_name"] for r in resolved.collect()}


def test_entity_matcher_agreement_on_concept_variations(spark, ref):
    names = _entity_corpus(ref)
    assert len(names) >= 800  # 1,500 pairs -> 872 distinct normalized strings
    embs = _weighted_emb(names, "Concept")
    theta = 0.8  # the merge-eval threshold (evaluate_itext2kg_merge.py:38)
    expected = _reference_entity_fold(ref, names, embs, theta)
    got = _our_resolution(spark, names, embs, theta)
    p, r = _co_pr(expected, got)
    assert p >= 0.95, f"co-clustering precision {p:.3f} over {len(names)} items"
    assert r >= 0.95, f"co-clustering recall {r:.3f}"


def test_relation_matcher_agreement_on_relationship_variations(spark, ref):
    rows = read_xlsx(REL_XLSX)
    names = []
    seen = set()
    for row in rows:
        for v in row.values():
            r_ = ref.Relationship(
                name=v,
                startEntity=ref.Entity(name="a", label="x"),
                endEntity=ref.Entity(name="b", label="x"),
                properties=ref.RelationshipProperties(),
            )
            r_.process()
            if r_.name not in seen:
                seen.add(r_.name)
                names.append(r_.name)
    assert len(names) >= 250  # 500 pairs -> 278 distinct normalized names
    embs = hash_embed_texts(names).astype(np.float64)  # P8: emb(name) only
    theta = 0.7  # ATOM rel_threshold default (atom/atom.py:160)
    expected = _reference_entity_fold(ref, names, embs, theta)
    got = _our_resolution(spark, names, embs, theta)
    p, r = _co_pr(expected, got)
    assert p >= 0.95, f"co-clustering precision {p:.3f} over {len(names)} items"
    assert r >= 0.95, f"co-clustering recall {r:.3f}"


def test_distributed_leader_matches_driver_fold(spark, ref):
    """The distributed leader formulation (ord-prefix fixpoint) must produce
    the SAME canonical assignment as the driver's sequential fold — and
    therefore the reference — on the relation-variation corpus."""
    rows = read_xlsx(REL_XLSX)
    names, seen = [], set()
    for row in rows:
        for v in row.values():
            r_ = ref.Relationship(
                name=v,
                startEntity=ref.Entity(name="a", label="x"),
                endEntity=ref.Entity(name="b", label="x"),
                properties=ref.RelationshipProperties(),
            )
            r_.process()
            if r_.name not in seen:
                seen.add(r_.name)
                names.append(r_.name)
    embs = hash_embed_texts(names).astype(np.float64)
    theta = 0.7
    driver = _our_resolution(spark, names, embs, theta)
    dist = _our_resolution(
        spark, names, embs, theta,
        cfg=MatchConfig(
            link_mode="leader", driver_matrix_bytes=0, candidate_method="broadcast"
        ),
    )
    assert dist == driver
    # and both match the reference fold
    expected = _reference_entity_fold(ref, names, embs, theta)
    p, r = _co_pr(expected, dist)
    assert p == 1.0 and r == 1.0


def test_threshold_curve_documented(spark, ref, capsys):
    """Agreement curve across θ for BOTH link modes — recorded in BENCH.md.

    link_mode='leader' must track the reference exactly at every θ (same
    algorithm, order-free-implemented). The default 'best'+CC mode is
    order-free and transitively closes similarity chains, so its pair
    precision dips on this adversarial corpus (variation families ARE
    chains) — measured and documented, with the floor pinned so regressions
    surface."""
    names = _entity_corpus(ref)
    embs = _weighted_emb(names, "Concept")
    leader_floor, cc_floor = 1.0, 1.0
    lines = []
    for theta in (0.6, 0.7, 0.8, 0.9):
        expected = _reference_entity_fold(ref, names, embs, theta)
        lp, lr = _co_pr(expected, _our_resolution(spark, names, embs, theta))
        cp, cr = _co_pr(
            expected, _our_resolution(spark, names, embs, theta, link_mode="best")
        )
        lines.append(
            f"theta={theta}: leader P={lp:.4f} R={lr:.4f} | best+CC"
            f" P={cp:.4f} R={cr:.4f} (ref clusters={len(set(expected.values()))})"
        )
        leader_floor = min(leader_floor, lp, lr)
        cc_floor = min(cc_floor, cp, cr)
    print("\n".join(lines))
    assert leader_floor >= 0.95, "\n".join(lines)
    # CC transitively closes chains; at the sub-default θ=0.6 the corpus's
    # variation families chain hard (measured P=0.56). At the engine's real
    # thresholds (0.7/0.8) CC pair-precision stays >= 0.77 with recall 1.0,
    # and the full-pipeline triple-P/R differential (test_differential) holds
    # >= 0.95. Floor pinned at measured values to catch regressions.
    assert cc_floor >= 0.50, "\n".join(lines)
