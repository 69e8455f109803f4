"""Merge-semantics tests mirroring the reference's matcher unit tests
(tests/atom/test_atom_matching.py scenarios, re-expressed over DataFrames)."""

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from itext2kg_spark.config import ATOM
from itext2kg_spark.extract.embed import HashEmbedder
from itext2kg_spark.merge.kg import canonicalize_kg
from tests.kg_helpers import quintuples_df

EMB = HashEmbedder(256, 42)

OBS1 = datetime(2025, 7, 17)
OBS2 = datetime(2025, 9, 15)
OBS3 = datetime(2025, 9, 30)


def q(url, obs, idx, fact, s, sl, p, o, ol, t_start=None, t_end=None):
    return {
        "url": url,
        "obs_ts": obs,
        "lang": "en",
        "fact_idx": idx,
        "fact": fact,
        "subj_name": s,
        "subj_label": sl,
        "pred": p,
        "obj_name": o,
        "obj_label": ol,
        "t_start": t_start or [],
        "t_end": t_end or [],
    }


def build(spark, rows, existing=None):
    ents_prev, edges_prev = existing if existing else (None, None)
    return canonicalize_kg(
        quintuples_df(spark, rows), ATOM, EMB, ents_prev, edges_prev
    )


# -- exact entity matching (ref test :217-239) ------------------------------
def test_exact_entity_match_unifies(spark):
    rows = [
        q("u1", OBS1, 0, "John Doe works at Google since 2025-01-01.",
          "John Doe", "Person", "works_at", "Google", "Company", ["2025-01-01"]),
        q("u2", OBS2, 0, "John Doe works at Google since 2025-01-01.",
          "John Doe", "Person", "works_at", "Google", "Company", ["2025-01-01"]),
    ]
    ents, edges = build(spark, rows)
    assert ents.count() == 2  # john doe, google
    e = edges.collect()
    assert len(e) == 1
    assert e[0]["src_name"] == "john doe" and e[0]["dst_name"] == "google"


# -- timestamp combining (ref :241-280, :540-567) -----------------------------
def test_timestamp_lists_extend_on_merge(spark):
    rows = [
        q("u1", OBS1, 0, "f1", "John Doe", "Person", "works_at", "Google",
          "Company", ["2025-01-01"]),
        q("u2", OBS2, 0, "f2", "John Doe", "Person", "works_at", "Google",
          "Company", ["2025-03-01"]),
    ]
    _, edges = build(spark, rows)
    row = edges.collect()[0]
    assert len(row["t_obs"]) == 2
    assert len(row["t_start"]) == 2
    assert sorted(row["atomic_facts"]) == ["f1", "f2"]


# -- relationship equality ignores timestamps (ref :282-305) ------------------
def test_edge_identity_ignores_timestamps(spark):
    rows = [
        q("u1", OBS1, 0, "f1", "A", "Person", "works_at", "B", "Company",
          ["2025-01-01"]),
        q("u2", OBS2, 0, "f2", "A", "Person", "works_at", "B", "Company",
          ["2030-12-31"]),
    ]
    _, edges = build(spark, rows)
    assert edges.count() == 1


# -- 3-snapshot timeline (ref :428-538 / FIXTURES.md F4) ----------------------
def test_three_snapshot_timeline(spark):
    rows = [
        q("u1", OBS1, 0, "John Doe works at Google since 2025-01-01.",
          "John Doe", "Person", "works_at", "Google", "Company", ["2025-01-01"]),
        q("u1", OBS1, 1, "Jane Smith is the ceo of Apple since 2024-06-01.",
          "Jane Smith", "Person", "ceo_of", "Apple", "Company", ["2024-06-01"]),
        q("u2", OBS2, 0, "John Doe works at Google since 2025-01-01.",
          "John Doe", "Person", "works_at", "Google", "Company", ["2025-01-01"]),
        q("u2", OBS2, 1, "Jane Smith is the ceo of XAI since 2025-09-01.",
          "Jane Smith", "Person", "ceo_of", "XAI", "Company", ["2025-09-01"]),
        q("u3", OBS3, 0, "John Doe works at Google since 2025-01-01.",
          "John Doe", "Person", "works_at", "Google", "Company", ["2025-01-01"]),
        q("u3", OBS3, 1, "Jane Smith is no longer the ceo of Apple since 2025-09-01.",
          "Jane Smith", "Person", "ceo_of", "Apple", "Company", [], ["2025-09-01"]),
    ]
    ents, edges = build(spark, rows)
    names = {(r["name"], r["label"]) for r in ents.collect()}
    assert names == {
        ("john doe", "person"),
        ("jane smith", "person"),
        ("google", "company"),
        ("apple", "company"),
        ("xai", "company"),
    }
    by_key = {
        (r["src_name"], r["pred"], r["dst_name"]): r for r in edges.collect()
    }
    works = by_key[("john doe", "works_at", "google")]
    assert len(works["t_obs"]) >= 2 and len(works["atomic_facts"]) >= 2
    ceo_apple = by_key[("jane smith", "ceo_of", "apple")]
    assert len(ceo_apple["t_obs"]) == 2
    assert len(ceo_apple["t_end"]) == 1  # end-of-validity recorded
    assert ("jane smith", "ceo_of", "xai") in by_key


# -- invalid timestamps tolerated (ref :589-607) ------------------------------
def test_invalid_timestamps_skipped_not_fatal(spark):
    rows = [
        q("u1", OBS1, 0, "f", "A", "Person", "works_at", "B", "Company",
          ["not a date", "2025-01-01", "garbage!!"]),
    ]
    _, edges = build(spark, rows)
    row = edges.collect()[0]
    assert len(row["t_start"]) == 1  # only the parseable one survives


# -- empty inputs (ref :609-639) ----------------------------------------------
def test_empty_batch_merge_is_identity(spark):
    rows = [
        q("u1", OBS1, 0, "f", "A", "Person", "works_at", "B", "Company",
          ["2025-01-01"]),
    ]
    ents1, edges1 = build(spark, rows)
    # merge an empty batch against the existing KG
    empty = quintuples_df(spark, [])
    ents2, edges2 = canonicalize_kg(empty, ATOM, EMB, ents1, edges1)
    assert sorted((r["name"], r["label"]) for r in ents2.collect()) == sorted(
        (r["name"], r["label"]) for r in ents1.collect()
    )
    assert edges2.count() == edges1.count()


# -- similarity merge: variants unify, strangers don't ------------------------
def test_similarity_merge_thresholds(spark):
    rows = [
        q("u1", OBS1, 0, "f1", "acme corp", "Company", "acquired",
          "globex labs", "Company", ["2025-01-01"]),
        q("u2", OBS2, 0, "f2", "acme corp inc", "Company", "acquired",
          "globex labs", "Company", ["2025-01-01"]),
        q("u3", OBS3, 0, "f3", "soylent media", "Company", "acquired",
          "globex labs", "Company", ["2025-02-02"]),
    ]
    ents, edges = build(spark, rows)
    names = {r["name"] for r in ents.collect()}
    # "acme corp" and "acme corp inc" merge (cos≈0.83 >= 0.8); representative
    # is the lexicographic min; soylent stays separate (cos≈0.2)
    assert "acme corp" in names and "acme corp inc" not in names
    assert "soylent media" in names
    srcs = {r["src_name"] for r in edges.collect()}
    assert srcs == {"acme corp", "soylent media"}


# -- incremental: store representative wins (matcher.py:81-87) ----------------
def test_existing_store_representative_wins(spark):
    rows1 = [
        q("u1", OBS1, 0, "f1", "acme corp inc", "Company", "acquired",
          "globex labs", "Company", ["2025-01-01"]),
    ]
    store = build(spark, rows1)
    rows2 = [
        q("u2", OBS2, 0, "f2", "acme corp", "Company", "acquired",
          "globex labs", "Company", ["2025-06-01"]),
    ]
    ents, edges = build(spark, rows2, existing=store)
    names = {r["name"] for r in ents.collect()}
    # "acme corp" < "acme corp inc" lexicographically, but the STORE holds
    # "acme corp inc" — the existing object must win the representative choice
    assert "acme corp inc" in names and "acme corp" not in names
    row = edges.collect()[0]
    assert row["src_name"] == "acme corp inc"
    assert len(row["t_obs"]) == 2  # original + re-observation


def test_distributed_leader_refuses_above_sort_limit(spark, monkeypatch):
    """Leader mode's distributed path needs a single-partition sort of the
    distinct-item table for the fold rank; above LEADER_SORT_LIMIT it must
    refuse with guidance instead of silently sorting (resolve.py guard)."""
    from itext2kg_spark.config import MatchConfig
    from itext2kg_spark.merge import resolve
    from itext2kg_spark.merge.resolve import resolve_items

    df = spark.createDataFrame(
        [(f"n{i}", i, [1.0, 0.0]) for i in range(6)],
        "name string, first_seen long, emb array<double>",
    )
    cfg = MatchConfig(
        link_mode="leader",
        driver_matrix_bytes=0,  # force the distributed path
        candidate_method="broadcast",
    )
    monkeypatch.setattr(resolve, "LEADER_SORT_LIMIT", 3)
    with pytest.raises(ValueError, match="LEADER_SORT_LIMIT"):
        resolve_items(df, cfg, 0.8, key_cols=["name"], order_col="first_seen")
    # at/below the limit the distributed fold still runs
    ok = resolve_items(
        df.limit(3), cfg, 0.8, key_cols=["name"], order_col="first_seen"
    )
    assert ok.count() == 3


def test_match_config_rejects_values_no_path_honours():
    """link_mode="all" used to be documented, but the driver resolve treated
    it as "best" while the distributed one linked every pair, so the result
    hung on the item count; an unknown candidate_method silently became
    LSH. Both are refused when the config is built."""
    from itext2kg_spark.config import MatchConfig

    for mode in ("best", "leader"):
        assert MatchConfig(link_mode=mode).link_mode == mode
    for method in ("auto", "broadcast", "lsh"):
        assert MatchConfig(candidate_method=method).candidate_method == method
    with pytest.raises(ValueError, match="link_mode"):
        MatchConfig(link_mode="all")
    with pytest.raises(ValueError, match="candidate_method"):
        MatchConfig(candidate_method="minhash")


def test_path_cutovers_pinned():
    """The row limits that pick the driver vs distributed resolve path and
    the broadcast vs LSH candidate path, at the configs callers build:
    default (entity vectors are name+label, 2 x dim wide), the perfbench
    1,024-row driver limit, and the forced-distributed test config."""
    from itext2kg_spark.config import MatchConfig

    default = MatchConfig()
    assert default.effective_broadcast_limit(2 * 256) == 32_768
    assert default.effective_broadcast_limit(2 * 1536) == 10_922
    assert default.effective_broadcast_limit(None) == 32_768
    perfbench = MatchConfig(driver_matrix_bytes=1024**2 * 8)
    assert perfbench.effective_broadcast_limit(2 * 256) == 1_024
    assert MatchConfig(driver_matrix_bytes=0).effective_broadcast_limit(2 * 256) == 0
    assert [default.candidate_broadcast_limit(d) for d in (64, 256, 1536, None)] == [
        65_536, 65_536, 21_845, 65_536
    ]


def test_resolve_threads_inherit_caller_job_group(spark):
    """Entity and predicate resolution run on two pool threads; the job
    group the caller sets must reach their jobs too, so a caller can name,
    track or cancel a whole build."""
    rows = [
        q("u1", OBS1, 0, "John Doe works at Google.",
          "John Doe", "Person", "works_at", "Google", "Company"),
        q("u2", OBS2, 0, "Jane Roe works at Google.",
          "Jane Roe", "Person", "works_at", "Google", "Company"),
    ]
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("kg-build", "kg build")
    try:
        ents, edges = build(spark, rows)
        assert ents.count() == 3 and edges.count() == 2
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert tracker.getJobIdsForGroup("kg-build")
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()


def test_driver_and_distributed_paths_equivalent_randomized(spark):
    """Randomized equivalence of the two physical resolution strategies: the
    driver BLAS path and the LSH/CC distributed path must induce the same
    clustering (batch keys grouped by component) and the same key ->
    canonical-key mapping, for random batch/store mixes. comp ids
    themselves differ by construction (indices vs xxhash64), so the partition
    structure is compared, not the labels."""
    import random

    from itext2kg_spark.config import MatchConfig
    from itext2kg_spark.merge.resolve import resolve_items

    rnd = random.Random(1234)

    def run(cfg, rows):
        batch = spark.createDataFrame(
            [(n, i, e) for n, i, stored, e in rows if not stored],
            "name string, first_seen long, emb array<double>",
        )
        store = spark.createDataFrame(
            [(n, e) for n, _, stored, e in rows if stored],
            "name string, emb array<double>",
        )
        out = resolve_items(
            batch, cfg, 0.9, key_cols=["name"], order_col="first_seen",
            store=store,
        ).collect()
        groups = {}
        for r in out:
            groups.setdefault(r["comp"], set()).add(r["name"])
        partition = frozenset(frozenset(g) for g in groups.values())
        canon = {r["name"]: r["canon_name"] for r in out}
        return partition, canon

    for trial in range(4):
        # clustered unit vectors in 2D: a few base angles, per-item jitter
        # small enough that same-base cosine > 0.9 > cross-base cosine
        import math

        rows = []
        n_bases = rnd.randint(2, 4)
        bases = [rnd.uniform(0, math.pi) for _ in range(n_bases)]
        for i in range(rnd.randint(4, 12)):
            a = bases[rnd.randrange(n_bases)] + rnd.uniform(-0.05, 0.05)
            rows.append(
                (
                    f"n{i}",
                    i,
                    rnd.random() < 0.3,
                    [math.cos(a), math.sin(a)],
                )
            )
        driver_cfg = MatchConfig(candidate_method="broadcast")
        dist_cfg = MatchConfig(driver_matrix_bytes=0, candidate_method="broadcast")
        got_d = run(driver_cfg, rows)
        got_x = run(dist_cfg, rows)
        assert got_d == got_x, f"trial {trial}: {got_d} != {got_x}"


def test_empty_batch_build_graph(spark):
    """Zero-page batches must produce empty (entities, edges) standalone AND
    leave an existing store state untouched when merged incrementally —
    exercises the n=0 driver-resolve path and its empty LocalRelation."""
    from itext2kg_spark.pipeline import KGPipeline
    from itext2kg_spark.sources.pages import synth_pages

    pipe = KGPipeline()
    empty = synth_pages(spark, 5, seed=1).limit(0)
    ents, edges = pipe.build_graph(empty)
    assert ents.count() == 0 and edges.count() == 0

    prev_e, prev_d = pipe.build_graph(synth_pages(spark, 20, seed=3))
    prev_e, prev_d = prev_e.localCheckpoint(), prev_d.localCheckpoint()
    e2, d2 = pipe.build_graph(empty, prev_e, prev_d)
    assert e2.count() == prev_e.count()
    assert sorted(map(tuple, d2.collect())) == sorted(map(tuple, prev_d.collect()))


@pytest.mark.parametrize("path", ["driver", "distributed"])
def test_best_tie_goes_to_smallest_id_in_any_row_order(spark, path):
    """HashEmbedder gives token permutations with one label identical
    vectors, so stored "john smith" and "smith john" tie exactly for the
    batch row "john smyth". Both paths, in both row orders, link it to the
    tied row with the smallest id = xxhash64(name, label), however the rows
    are partitioned."""
    import numpy as np

    from itext2kg_spark.config import MatchConfig
    from itext2kg_spark.merge.resolve import resolve_items

    names = ["john smith", "smith john", "john smyth"]
    vecs = 0.8 * EMB(names).astype(float) + 0.2 * EMB(["person"]).astype(float)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    assert np.array_equal(vecs[0], vecs[1])
    rows = [
        (n, "person", [float(x) for x in v])
        for n, v in zip(names, vecs)
    ]
    schema = "name string, label string, emb array<double>"
    batch = spark.createDataFrame(
        [rows[2] + (2,)], schema + ", first_seen long"
    )
    cfg = (
        MatchConfig()
        if path == "driver"
        else MatchConfig(driver_matrix_bytes=0, candidate_method="broadcast")
    )
    got = set()
    for order in (rows[:2], rows[1::-1]):
        for parts in (1, 3):  # one or three BLAS blocks score the tie
            out = resolve_items(
                batch, cfg, 0.45, key_cols=["name", "label"],
                order_col="first_seen",
                store=spark.createDataFrame(order, schema).coalesce(parts),
            )
            canon = {r["name"]: r["canon_name"] for r in out.collect()}
            assert set(canon) == {"john smyth"}  # only batch rows return
            got.add(canon["john smyth"])
    ids = spark.createDataFrame(rows[:2], schema).select(
        "name", F.xxhash64("name", "label").alias("id")
    )
    assert got == {min(ids.collect(), key=lambda r: r["id"])["name"]}


def test_resolve_jobs_keep_their_call_site(spark):
    """The resolve threads take on the caller's job properties without a
    pyspark frame at the bottom of their stack, so each job's stage is
    named after the program line that ran it, not after the thread pool."""
    rows1 = [
        q("u1", OBS1, 0, "f1", "acme corp inc", "Company", "acquired",
          "globex labs", "Company"),
    ]
    rows2 = [
        q("u2", OBS2, 0, "f2", "acme corp", "Company", "acquired",
          "initech", "Company"),
    ]
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("kg-callsite", "kg build")
    try:
        store = build(spark, rows1)
        store = store[0].localCheckpoint(), store[1].localCheckpoint()
        ents, edges = build(spark, rows2, existing=store)
        assert ents.count() == 3 and edges.count() == 2
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    names = []
    for job in tracker.getJobIdsForGroup("kg-callsite"):
        for sid in tracker.getJobInfo(job).stageIds:
            info = tracker.getStageInfo(sid)
            if info is not None:
                names.append(info.name)
    assert not [n for n in names if n.startswith("wrapped at")], names
    assert any("merge/resolve.py" in n for n in names), names
