"""Bucketed canonical store: co-located merge joins (plan-pinned) and
versioned pointer-swap semantics."""

import pyspark.sql.functions as F
import pytest

from itext2kg_spark.sources.bucketed import BucketedTableStore

EDGES = [
    ("a", "r", "b", 2, [10, 20]),
    ("b", "r", "c", 1, [30]),
    ("c", "s", "a", 3, [40, 50, 60]),
]
SCHEMA = ("src_name string, pred string, dst_name string, "
          "n_mentions long, t_obs array<long>")


@pytest.fixture()
def store(spark, tmp_path):
    st = BucketedTableStore(spark, str(tmp_path / "bstore"), buckets=4)
    yield st
    v = st.current_version()
    if v is not None:
        spark.sql(f"DROP TABLE IF EXISTS {st._table(v)}")


def test_write_load_roundtrip_and_versioning(spark, store):
    df = spark.createDataFrame(EDGES, SCHEMA)
    assert store.write(df) == 0
    assert store.current_version() == 0
    got = sorted(map(tuple, store.load().collect()))
    assert got == sorted(map(tuple, df.collect()))
    # a second write becomes v1 and the pointer swaps
    assert store.write(df.limit(1)) == 1
    assert store.load().count() == 1
    # crashed-merge safety: pointer file is the commit; v0's data files are
    # still on disk (vacuum is explicit), only its catalog entry is gone
    assert not spark.catalog.tableExists(store._table(0))


def test_merge_batch_semantics(spark, store):
    store.write(spark.createDataFrame(EDGES, SCHEMA))
    updates = spark.createDataFrame(
        [
            ("a", "r", "b", 1, [70]),       # existing key: count+list extend
            ("x", "r", "y", 5, [80]),       # new key: passes through
        ],
        SCHEMA,
    )
    store.merge_batch(updates, list_cols=("t_obs",))
    got = {(r["src_name"], r["pred"], r["dst_name"]): r
           for r in store.load().collect()}
    assert got[("a", "r", "b")]["n_mentions"] == 3
    assert got[("a", "r", "b")]["t_obs"] == [10, 20, 70]
    assert got[("x", "r", "y")]["n_mentions"] == 5
    assert got[("b", "r", "c")]["n_mentions"] == 1   # untouched stored row
    assert len(got) == 4


def test_register_recovers_bucketing_after_catalog_loss(spark, store):
    """Session-restart simulation: drop the in-memory catalog entry, keep
    the files + pointer marker. load() must re-register and the recovered
    table must STILL join co-located (bucketing metadata restored, not
    just readable data)."""
    store.write(spark.createDataFrame(EDGES, SCHEMA))
    v = store.current_version()
    spark.sql(f"DROP TABLE {store._table(v)}")
    assert not spark.catalog.tableExists(store._table(v))

    recovered = store.load()  # re-registers from the marker
    assert sorted(map(tuple, recovered.collect())) == sorted(
        map(tuple, spark.createDataFrame(EDGES, SCHEMA).collect())
    )
    fresh = spark.createDataFrame(EDGES, SCHEMA)
    with _no_broadcast(spark):
        plan = _final_plan(
            store.load().join(fresh, ["src_name", "pred", "dst_name"])
        )
    assert plan.count("Exchange hashpartitioning") == 1  # fresh side only


def _final_plan(df):
    df.collect()
    return (
        df._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )


def test_merge_plan_shuffles_only_the_update_side(spark, store):
    """The whole point of the bucketed store: the per-batch merge must not
    re-shuffle the (corpus-aged) stored side — exactly one exchange, on the
    batch-sized updates."""
    store.write(spark.createDataFrame(EDGES, SCHEMA))
    updates = spark.createDataFrame(EDGES[:1], SCHEMA)
    with _no_broadcast(spark):
        plan = _final_plan(
            store.merge_plan(updates, list_cols=("t_obs",))
        )
    assert plan.count("Exchange hashpartitioning") == 1


def test_bucketed_join_shuffles_only_the_fresh_side(spark, store):
    store.write(spark.createDataFrame(EDGES, SCHEMA))
    stored = store.load()
    fresh = spark.createDataFrame(EDGES, SCHEMA)
    # disable broadcast so the join must pick SMJ and reveal its exchanges
    with _no_broadcast(spark):
        j = stored.join(
            fresh, ["src_name", "pred", "dst_name"], "full_outer"
        )
        plan = _final_plan(j)
    assert plan.count("Exchange hashpartitioning") == 1  # fresh side only


def test_bucketed_join_with_bucketed_needs_no_shuffle(spark, store, tmp_path):
    store.write(spark.createDataFrame(EDGES, SCHEMA))
    other = BucketedTableStore(spark, str(tmp_path / "b2"), name="kg_edges_b",
                               buckets=4)
    other.write(spark.createDataFrame(EDGES, SCHEMA))
    try:
        with _no_broadcast(spark):
            j = store.load().join(
                other.load(), ["src_name", "pred", "dst_name"]
            )
            plan = _final_plan(j)
        assert "Exchange hashpartitioning" not in plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {other._table(other.current_version())}")


class _no_broadcast:
    def __init__(self, spark):
        self.spark = spark

    def __enter__(self):
        self.prev = self.spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        self.spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.autoBroadcastJoinThreshold", self.prev)


def test_write_explicit_current_version_stays_registered(spark, store):
    """ADVICE r5: write(version=current_version()) is an overwrite-in-place;
    the just-written table must stay in the catalog (the old code dropped
    the entry it had just created because cur == version)."""
    df = spark.createDataFrame(EDGES, SCHEMA)
    assert store.write(df) == 0
    assert store.write(df.limit(2), version=0) == 0
    assert store.current_version() == 0
    assert spark.catalog.tableExists(store._table(0))
    assert store.load().count() == 2


def test_pointer_write_crash_keeps_previous_version(spark, store, monkeypatch):
    """A crash while the version pointer is written (here: the rename of its
    fsynced tmp file fails) leaves the previous version current — a torn
    pointer must never make the store look empty."""
    import os

    df = spark.createDataFrame(EDGES, SCHEMA)
    assert store.write(df) == 0

    def crash(src, dst):
        raise OSError("crash before the pointer rename")

    with monkeypatch.context() as m:
        m.setattr(os, "replace", crash)
        with pytest.raises(OSError):
            store.write(df.limit(1))
    assert store.current_version() == 0
    assert store.load().count() == len(EDGES)
    spark.sql(f"DROP TABLE IF EXISTS {store._table(1)}")
