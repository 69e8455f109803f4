"""Store-stability regression tests for entity resolution.

The reference matcher computes argmax links only for BATCH entities against
the store (atom/graph_matching/matcher.py:65-94), so two store entities can
never merge — a property round 1 violated: a single batch entity x with
cosine >= θ to two store entities e1, e2 bridged them into one component
(e1 <- x -> e2), demoting one store row and dangling its edges.
"""

import math

import pytest
from pyspark.sql import functions as F

from itext2kg_spark.config import ATOM, MatchConfig, PipelineConfig
from itext2kg_spark.merge.resolve import resolve_items


def _vec(angle_deg: float) -> list[float]:
    a = math.radians(angle_deg)
    return [math.cos(a), math.sin(a)]


def _items(spark, rows):
    # rows: (name, label, angle)
    data = [(r[0], r[1], _vec(r[2])) for r in rows]
    return spark.createDataFrame(data, "name string, label string, emb array<double>")


# x at 25deg sits between store rows e1 (0deg) and e2 (50deg):
# cos(x,e1)=cos(x,e2)=0.906 >= 0.8, cos(e1,e2)=0.64 < 0.8.
STORE_ROWS = [("e1", "L", 0.0), ("e2", "L", 50.0)]
BRIDGE_ROWS = [("x", "L", 25.0)]


def _canon_map(resolved):
    return {
        (r["name"], r["label"]): (r["canon_name"], r["canon_label"])
        for r in resolved.collect()
    }


@pytest.mark.parametrize("path", ["driver", "distributed"])
def test_batch_entity_cannot_bridge_two_store_entities(spark, path):
    cfg = (
        MatchConfig()
        if path == "driver"
        else MatchConfig(driver_matrix_bytes=0, candidate_method="broadcast")
    )
    resolved = resolve_items(
        _items(spark, BRIDGE_ROWS), cfg, threshold=0.8,
        key_cols=["name", "label"], store=_items(spark, STORE_ROWS),
    )
    canon = _canon_map(resolved)
    # only the batch row comes back: store rows are never re-resolved
    assert set(canon) == {("x", "L")}
    # the batch entity merges onto exactly ONE store row (its argmax), never
    # bridging both (the two sims are equal up to rounding, so either store
    # row is a valid argmax)
    assert canon[("x", "L")] in {("e1", "L"), ("e2", "L")}


def test_incremental_store_edges_never_dangle(spark):
    """End-to-end: merging a batch into a store whose two entities are both
    within θ of one batch entity must leave every edge endpoint present in
    the entities output (round-1 bug: e1<-x->e2 demoted a store row, its
    edges kept the stale name)."""
    from itext2kg_spark.merge.kg import canonicalize_kg

    class AngleEmbedder:
        """name -> fixed 2-d unit vector by lookup (labels share one vec)."""

        def udf(self):
            import pandas as pd

            angles = {
                "alpha corp": 0.0,
                "beta corp": 50.0,
                "alfa corp": 25.0,
                "supplies": 120.0,
                "acquires": 200.0,
            }

            @F.pandas_udf("array<double>")
            def emb(s: pd.Series) -> pd.Series:
                import math as m

                def vec(v):
                    a = m.radians(angles.get(v, 90.0))
                    return [m.cos(a), m.sin(a)]

                return s.map(vec)

            return emb

    cfg = PipelineConfig(
        match=MatchConfig(ent_threshold=0.8, rel_threshold=0.99),
        embed=ATOM.embed.__class__(dim=2, name_weight=1.0, label_weight=0.0),
    )
    store_entities = spark.createDataFrame(
        [("alpha corp", "org", _vec(0.0)), ("beta corp", "org", _vec(50.0))],
        "name string, label string, embedding array<double>",
    )
    store_edges = spark.createDataFrame(
        [
            ("alpha corp", "org", "supplies", "beta corp", "org",
             [1.0], [], [], ["alpha supplies beta"]),
        ],
        "src_name string, src_label string, pred string, dst_name string,"
        " dst_label string, t_obs array<double>, t_start array<double>,"
        " t_end array<double>, atomic_facts array<string>",
    )
    quintuples = spark.createDataFrame(
        [
            ("u1", None, "f", 0, "alfa corp", "org", "acquires",
             "gamma corp", "org", [], []),
        ],
        "url string, obs_ts timestamp, fact string, fact_idx int,"
        " subj_name string, subj_label string, pred string, obj_name string,"
        " obj_label string, t_start array<string>, t_end array<string>",
    )
    entities, edges = canonicalize_kg(
        quintuples, cfg, AngleEmbedder(),
        existing_entities=store_entities, existing_edges=store_edges,
    )
    ent_keys = {(r["name"], r["label"]) for r in entities.collect()}
    # both store entities survive as canonical
    assert ("alpha corp", "org") in ent_keys
    assert ("beta corp", "org") in ent_keys
    for r in edges.collect():
        assert (r["src_name"], r["src_label"]) in ent_keys, r
        assert (r["dst_name"], r["dst_label"]) in ent_keys, r
