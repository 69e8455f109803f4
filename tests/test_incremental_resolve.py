"""Batch-proportional incremental resolution: a batch is resolved against the
stored entities as a streamed candidate side.

Checked here against a test-local numpy oracle of the reference semantics
(store ∪ batch, links only from batch rows, union-find, representatives by
stored first, then first_seen, key), over several batches, on the driver and the
distributed path in both link modes; plus what the batch-proportional shape
promises: only new keys are embedded, no store×store pair is scored and the
stored side is never collected to the driver.
"""

import math
import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from itext2kg_spark.config import EmbedConfig, MatchConfig, PipelineConfig
from itext2kg_spark.merge.kg import canonicalize_kg
from tests.kg_helpers import quintuples_df

DIM = 8
THETA = 0.8
LABEL = "thing"
PREDS = ["p0", "p1", "p2"]


def _vec_fn():
    def vec(text: str) -> list[float]:
        """Entities lie on a circle in dims 0-1 (name "e<degrees>"),
        predicates and the label on their own axes, so no predicate ever
        merges."""
        v = [0.0] * DIM
        if text.startswith("e"):
            a = math.radians(float(text[1:]))
            v[0], v[1] = math.cos(a), math.sin(a)
        elif text in PREDS:
            v[2 + PREDS.index(text)] = 1.0
        else:
            v[DIM - 1] = 1.0
        return v

    return vec


# built in a function, so the UDF ships it by value to the Python workers,
# which cannot import this test module
_vec = _vec_fn()


class VecEmbedder:
    """Looks vectors up by text; with `log` set, every embedded text is
    appended to that file (the UDF runs in the Python workers)."""

    def __init__(self, log: str | None = None):
        self.log = log

    def udf(self):
        log = self.log

        @F.pandas_udf("array<double>")
        def emb(s: pd.Series) -> pd.Series:
            if log is not None and len(s):
                with open(log, "a") as f:
                    f.write("".join(f"{t}\n" for t in s))
            return s.map(_vec)

        return emb


def _cfg(path: str, link_mode: str, method: str = "auto") -> PipelineConfig:
    match = MatchConfig(
        ent_threshold=THETA,
        rel_threshold=0.7,
        link_mode=link_mode,
        candidate_method=method,
        # one n x n cell: every batch of two or more new keys resolves on
        # the distributed path
        **({"driver_matrix_bytes": 8} if path == "distributed" else {}),
    )
    return PipelineConfig(
        match=match, embed=EmbedConfig(dim=DIM, name_weight=1.0, label_weight=0.0)
    )


def _rows(batch: int, triples) -> list[dict]:
    return [
        {
            "url": f"u{batch}",
            "obs_ts": None,
            "lang": "en",
            "fact_idx": i,
            "fact": f"b{batch} f{i}",
            "subj_name": s,
            "subj_label": LABEL,
            "pred": p,
            "obj_name": o,
            "obj_label": LABEL,
            "t_start": [],
            "t_end": [],
        }
        for i, (s, p, o) in enumerate(triples)
    ]


# Angles keep every pair's cosine at least 0.02 away from θ and no row's
# candidates tie. Batch 0 is the fresh build.
BATCHES = [
    # 200/212 merge inside the fresh batch; the rest stay apart
    [("e0", "p0", "e50"), ("e100", "p1", "e150"), ("e212", "p2", "e200")],
    # e22 is within θ of both stored e0 (0.93) and e50 (0.88) and must join
    # only one; e100 re-mentions a stored key exactly; 260~290~318 is a
    # chain (best: one cluster; leader: 318 stays apart)
    [("e22", "p0", "e100"), ("e260", "p1", "e290"), ("e318", "p2", "e260")],
    # e45 joins stored e50, e140 stored e150; e330 is within θ of e0 (0.87)
    # and, in leader mode, of the stored e318 (0.98); e290 comes back as a
    # new key in best mode (only its representative e260 is stored)
    [("e45", "p0", "e140"), ("e330", "p1", "e0"), ("e290", "p2", "e45")],
    # e5 and e338 join stored rows; e212 comes back as a new key
    [("e5", "p0", "e338"), ("e100", "p1", "e5"), ("e338", "p2", "e212")],
]


def _oracle(link_mode: str):
    """Entity set and edge multiset after every batch, from numpy."""
    store: list[str] = []  # canonical names, vectors are _vec(name)
    edges: dict[tuple, int] = {}
    out = []
    for b, triples in enumerate(BATCHES):
        first: dict[str, tuple] = {}
        for i, (s, _, o) in enumerate(triples):
            for n in (s, o):
                first[n] = min(first.get(n, (f"u{b}", i)), (f"u{b}", i))
        new = sorted(n for n in first if n not in store)
        vec = {n: np.asarray(_vec(n)) for n in new + store}

        def sim(x, y):
            s_ = float(vec[x] @ vec[y])
            assert abs(s_ - THETA) > 0.02, (x, y, s_)
            return s_

        link: dict[str, str] = {}
        if link_mode == "leader":
            leaders = list(store)
            for n in sorted(new, key=lambda n: (first[n], n)):
                cands = [(sim(n, m), m) for m in leaders if sim(n, m) >= THETA]
                if cands:
                    link[n] = max(cands, key=lambda t: t[0])[1]
                else:
                    leaders.append(n)
        else:
            for n in new:
                cands = [
                    (sim(n, m), m) for m in new + store if m != n and sim(n, m) >= THETA
                ]
                if cands:
                    top = max(c[0] for c in cands)
                    assert sum(c[0] == top for c in cands) == 1, n
                    link[n] = max(cands, key=lambda t: t[0])[1]
        parent = {n: n for n in new + store}

        def find(x):
            while parent[x] != x:
                x = parent[x]
            return x

        for n, m in link.items():
            parent[find(n)] = find(m)
        comps: dict[str, list[str]] = {}
        for n in new + store:
            comps.setdefault(find(n), []).append(n)
        canon = {}
        for members in comps.values():
            stored = [m for m in members if m in store]
            assert len(stored) <= 1, members
            rep = stored[0] if stored else min(members, key=lambda n: (first[n], n))
            for m in members:
                canon[m] = rep
        store = sorted(set(store) | {canon[n] for n in new})
        for s, p, o in triples:
            key = (canon.get(s, s), p, canon.get(o, o))
            edges[key] = edges.get(key, 0) + 1
        out.append((set(store), dict(edges)))
    return out


@pytest.mark.parametrize(
    "path,link_mode,method",
    [
        ("driver", "best", "auto"),
        ("driver", "leader", "auto"),
        ("distributed", "best", "auto"),
        ("distributed", "leader", "auto"),
        ("distributed", "best", "lsh"),
    ],
)
def test_batches_match_numpy_oracle(spark, path, link_mode, method):
    cfg = _cfg(path, link_mode, method)
    expected = _oracle(link_mode)
    ents = edges = None
    for b, triples in enumerate(BATCHES):
        ents, edges = canonicalize_kg(
            quintuples_df(spark, _rows(b, triples)), cfg, VecEmbedder(), ents, edges
        )
        ents, edges = ents.localCheckpoint(), edges.localCheckpoint()
        got_ents = [r["name"] for r in ents.collect()]
        assert len(got_ents) == len(set(got_ents))
        got_edges = {
            (r["src_name"], r["pred"], r["dst_name"]): len(r["t_obs"])
            for r in edges.collect()
        }
        want_ents, want_edges = expected[b]
        assert set(got_ents) == want_ents, f"batch {b}"
        assert got_edges == want_edges, f"batch {b}"
    # stored vectors pass through unchanged
    for r in ents.collect():
        assert list(r["embedding"]) == pytest.approx(_vec(r["name"]))


def _store(spark, cfg, embedder=None):
    ents, edges = canonicalize_kg(
        quintuples_df(spark, _rows(0, BATCHES[0])), cfg, embedder or VecEmbedder()
    )
    return ents.localCheckpoint(), edges.localCheckpoint()


def test_only_new_batch_keys_reach_the_entity_embedder(spark, tmp_path):
    cfg = _cfg("driver", "best")
    stored_ents, stored_edges = _store(spark, cfg)
    log = str(tmp_path / "embedded.txt")
    batch = [("e22", "p0", "e100"), ("e260", "p1", "e0")]  # e100, e0 stored
    ents, edges = canonicalize_kg(
        quintuples_df(spark, _rows(1, batch)), cfg, VecEmbedder(log),
        stored_ents, stored_edges,
    )
    ents.collect(), edges.collect()
    with open(log) as f:
        embedded = set(f.read().splitlines())
    # entity names and the label; predicates (stored ones included) are
    # embedded apart from entities
    assert embedded - set(PREDS) == {"e22", "e260", LABEL}


def test_no_store_pair_scored_and_store_never_collected(spark, monkeypatch):
    """A 300-entity store and a batch of two new keys: every matrix that is
    broadcast for scoring holds batch rows only (so every scored pair has a
    batch end), and no collect returns more than a handful of rows."""
    cfg = _cfg("driver", "best")
    store_triples = [
        (f"e{i * 1.2:.1f}", "p0", f"e{i * 1.2 + 0.6:.1f}") for i in range(150)
    ]
    stored_ents, stored_edges = canonicalize_kg(
        quintuples_df(spark, _rows(0, store_triples)),
        PipelineConfig(
            match=MatchConfig(ent_threshold=1.5, rel_threshold=0.7),
            embed=cfg.embed,
        ),
        VecEmbedder(),
    )
    stored_ents = stored_ents.localCheckpoint()
    stored_edges = stored_edges.localCheckpoint()
    assert stored_ents.count() == 300

    sc = spark.sparkContext
    frame = type(stored_ents)  # the classic DataFrame class
    broadcast, collect = type(sc).broadcast, frame.collect
    sizes, collected = [], []

    def record_broadcast(self, value):
        if isinstance(value, tuple) and len(value) == 2:
            sizes.append(len(value[0]))
        return broadcast(self, value)

    def record_collect(self):
        rows = collect(self)
        collected.append(len(rows))
        return rows

    monkeypatch.setattr(type(sc), "broadcast", record_broadcast)
    monkeypatch.setattr(frame, "collect", record_collect)
    batch = [("e400.5", "p1", "e500.5")]  # two new keys near stored ones
    ents, edges = canonicalize_kg(
        quintuples_df(spark, _rows(1, batch)), cfg, VecEmbedder(),
        stored_ents, stored_edges,
    )
    monkeypatch.undo()
    assert sizes and max(sizes) <= 2, sizes  # 2 new entities, 1 new pred at most
    assert collected and max(collected) <= 16, collected
    names = {r["name"] for r in ents.collect()}
    assert len(names) == 300  # both new keys joined a stored entity
    (row,) = edges.where(F.col("pred") == "p1").collect()
    assert row["src_name"] in names and row["dst_name"] in names


def test_stored_entities_need_their_embedding(spark):
    cfg = _cfg("driver", "best")
    stored_ents, stored_edges = _store(spark, cfg)
    with pytest.raises(ValueError, match="embedding"):
        canonicalize_kg(
            quintuples_df(spark, _rows(1, BATCHES[1])), cfg, VecEmbedder(),
            stored_ents.drop("embedding"), stored_edges,
        )


def test_entity_file_count_stays_bounded(spark, tmp_path):
    """The stored entities pass through unchanged next to the new
    representatives; the written entity table keeps the stored table's
    partition count instead of adding the new rows' partitions each batch."""
    from itext2kg_spark.sources.store import KGStore

    cfg = _cfg("driver", "best")
    store = KGStore(str(tmp_path / "store"))
    counts = []
    for b, triples in enumerate(BATCHES):
        prev = store.load(spark)
        ents, edges = canonicalize_kg(
            quintuples_df(spark, _rows(b, triples)), cfg, VecEmbedder(),
            *(prev or (None, None)),
        )
        store.write_snapshot(b, ents, edges)
        d = os.path.join(store._snap_dir(b), "entities")
        counts.append(sum(f.endswith(".parquet") for f in os.listdir(d)))
    assert max(counts[1:]) <= max(counts[0], 1), counts
