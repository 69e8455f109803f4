"""Physical-plan shape assertions: the optimizations we rely on must be
visible in `explain`, not assumed — column pruning of the binary html column,
parquet filter pushdown, broadcast joins on the mapping tables, and skew
utilities behaving deterministically."""

import pyspark.sql.functions as F

from itext2kg_spark.functions.skew import salted_repartition, domain_of
from itext2kg_spark.pipeline import KGPipeline
from itext2kg_spark.sources.pages import synth_pages


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_html_pruned_after_distill(spark, tmp_path):
    """The parquet scan feeding distill reads exactly what mapInPandas
    consumes (url, warc_ts, html, lang) — the pages table's `text` column is
    never read (distill re-derives it from html; the byte-identity invariant
    is tested elsewhere), so Catalyst prunes it from the scan."""
    p = str(tmp_path / "pages")
    synth_pages(spark, 30, seed=3).write.parquet(p)
    pages = spark.read.parquet(p)
    pipe = KGPipeline()
    q = pipe.quintuples_from_pages(pages).select("subj_name")
    plan = _plan(q)
    assert "ReadSchema" in plan
    scan_schema = plan.split("ReadSchema:")[-1].splitlines()[0]
    assert "html" in scan_schema
    assert "text" not in scan_schema


def test_timeparse_clean_branch_stays_jvm(spark):
    """The dateutil-fallback split must keep the all-fast-path branch free of
    Python stages: only the dirty branch may carry ArrowEvalPython. A naive
    row-gated UDF would put EVERY row through the Python worker."""
    import pyspark.sql.functions as F
    from itext2kg_spark.functions.timeparse import parse_timestamp_array_columns

    df = spark.createDataFrame(
        [(["2025-01-01"],), (["July 17th, 2025"],)], "t array<string>"
    )
    out = parse_timestamp_array_columns(df, ["t"])
    plan = _plan(out)
    # the union has exactly one Python-eval subtree (dirty branch), not two
    assert plan.count("ArrowEvalPython") + plan.count("BatchEvalPython") == 1
    # and the parse itself is correct on both branches
    rows = sorted(r["t"] for r in out.collect())
    assert len(rows) == 2 and all(len(v) == 1 for v in rows)


def test_parquet_filter_pushdown(spark, tmp_path):
    p = str(tmp_path / "pages2")
    synth_pages(spark, 30, seed=4).write.parquet(p)
    df = spark.read.parquet(p).where(F.col("lang") == "en").select("url")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)" in plan
    assert "ReadSchema" in plan and "html" not in plan.split("ReadSchema")[-1]


def test_edge_remap_uses_broadcast_joins(spark):
    pages = synth_pages(spark, 40, seed=5)
    pipe = KGPipeline()
    _, edges = pipe.build_graph(pages)
    plan = _plan(edges)
    # all three mapping joins (src, dst, pred) broadcast the small side
    assert plan.count("BroadcastHashJoin") >= 3
    # the only wide exchange is the final groupBy on the canonical triple
    assert "HashAggregate" in plan


def test_remap_joins_execute_once_with_timeparse_split(spark):
    """The timeparse clean/dirty split runs on the checkpointed quintuple
    table BEFORE the remap joins, so the three broadcast joins appear ONCE in
    the plan (splitting after the joins doubled them — each branch re-ran all
    three). synth_pages emits dateutil-only temporal forms, so the dirty
    branch is live; exactly one Python-eval subtree total."""
    pages = synth_pages(spark, 40, seed=5)
    pipe = KGPipeline()
    _, edges = pipe.build_graph(pages)
    plan = _plan(edges)
    assert plan.count("BroadcastHashJoin") == 3
    assert plan.count("ArrowEvalPython") + plan.count("BatchEvalPython") == 1


def test_salted_repartition_spreads_hot_key(spark):
    # one hot domain = 80% of rows; salt must spread it over many partitions
    pages = synth_pages(spark, 400, seed=6, hot_share=0.8)
    df = salted_repartition(pages, domain_of(F.col("url")), 16, salt=8)
    per_part = (
        df.where(F.col("url").contains("hot.example.com"))
        .groupBy(F.spark_partition_id().alias("p"))
        .count()
        .collect()
    )
    assert len(per_part) >= 4  # hot domain no longer lands in one partition
    assert df.count() == 400
    # deterministic: same input -> same partitioning decision
    df2 = salted_repartition(pages, domain_of(F.col("url")), 16, salt=8)
    a = sorted(r["p"] for r in per_part)
    b = sorted(
        r["p"]
        for r in df2.where(F.col("url").contains("hot.example.com"))
        .groupBy(F.spark_partition_id().alias("p"))
        .count()
        .collect()
    )
    assert a == b


def test_grouped_eval_plan_shape(spark):
    """The evaluation operators' execution shape (merge/quality.py
    _grouped_eval): partial-agg collect_list on BOTH sides (map-side
    combine before the doc_id exchange), an equi-join (never cartesian),
    and ONE batched MapInPandas — not a per-group FlatMapCoGroupsInPandas."""
    from itext2kg_spark.merge.quality import quintuple_quality

    rows = [(0, 0, "a", "r", "b", None, None), (1, 0, "c", "r", "d", None, None)]
    schema = ("doc_id long, idx long, head string, rel string, tail string, "
              "t_start string, t_end string")
    df = spark.createDataFrame(rows, schema)
    plan = _plan(quintuple_quality(df, df))
    assert "MapInPandas" in plan
    assert "FlatMapCoGroupsInPandas" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # collect_list partial aggregation: ObjectHashAggregate appears in
    # partial + final pairs per side
    assert plan.count("ObjectHashAggregate") >= 4


def test_decontam_plan_broadcasts_eval(spark):
    """The eval gram set reaches the corpus join as a broadcast hash join
    (never a shuffle of the corpus side onto gram, never cartesian)."""
    from itext2kg_spark.dedup.decontam import ngram_decontaminate

    docs = spark.createDataFrame(
        [(i, f"w{i} w{i+1} w{i+2} w{i+3}") for i in range(20)],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame([(0, "w1 w2 w3")], "doc_id long, text string")
    plan = _plan(ngram_decontaminate(docs, ev, n=3))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_running_total_plan_no_global_window(spark):
    """global_running_total's big window is PARTITIONED (by the id-range
    bucket); the only unpartitioned window runs over the per-bucket totals.
    Guard: the corpus-side window spec must carry a partition key."""
    from itext2kg_spark.functions.sampling import pack_sequences

    docs = spark.createDataFrame(
        [(i, "a b c") for i in range(50)], "doc_id long, text string"
    )
    plan = _plan(pack_sequences(docs, budget=8))
    # two Window nodes: the per-bucket cumsum mentions the bucket key in
    # its partition spec; the offsets join is broadcast
    assert plan.count("Window") >= 2
    assert "__bucket" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_repetition_plan_stays_codegen(spark):
    """The gram construction must not contain interpreted higher-order
    lambdas (ArrayTransform/ArrayFilter) — the arrays_zip formulation is
    what keeps per-gram cost ~20x below the lambda version."""
    from itext2kg_spark.functions.repetition import ngram_repetition

    docs = spark.createDataFrame(
        [(0, "a b a b a b")], "doc_id long, text string"
    )
    plan = _plan(ngram_repetition(docs))
    assert "arrays_zip" in plan or "ArraysZip" in plan
    assert "ArrayTransform" not in plan and "ArrayFilter" not in plan


def test_dsir_plan_broadcast_ratio_and_takeordered(spark):
    """dsir_select's scale contract: the per-bucket log-ratio table joins
    into the corpus-sized (doc, bucket, count) side as a BROADCAST hash
    join (the ratio side is <= n_buckets rows), and the top-k is a
    distributed TakeOrderedAndProject — never a global Sort of the
    corpus followed by Limit."""
    from itext2kg_spark.functions.dsir import dsir_select

    raw = spark.createDataFrame(
        [(i, f"w{i} w{i+1} common") for i in range(40)],
        "doc_id long, text string",
    )
    target = spark.createDataFrame(
        [(100, "common w1 w2")], "doc_id long, text string"
    )
    plan = _plan(dsir_select(raw, target, k=5, n_buckets=64))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    # no corpus-wide global sort: every Sort node must be inside the
    # take-ordered (which explain prints as TakeOrderedAndProject, not Sort)
    for line in plan.splitlines():
        if "Sort " in line and "TakeOrdered" not in line:
            assert "SortAggregate" in line or "SortMergeJoin" in line, line


def test_token_budget_mix_plan_partitioned_windows(spark):
    """token_budget_mix's running total must keep BOTH window passes
    partitioned (stratum x hash-range bucket, then stratum over bucket
    totals) and broadcast the per-bucket offsets back — no stratum-sized
    single partition, no shuffle of the corpus onto one task."""
    from itext2kg_spark.functions.sampling import token_budget_mix

    docs = spark.createDataFrame(
        [(i, f"s{i % 2}", "a b c") for i in range(50)],
        "doc_id long, source string, text string",
    )
    plan = _plan(token_budget_mix(docs, budgets={"s0": 10}, default_budget=5))
    assert plan.count("Window") >= 2
    assert "__bucket" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_temporal_empty_is_checked_and_plans_no_python_parse(spark):
    """temporal_empty=True is the caller's promise that every t_start/t_end
    array is empty; a nonempty one fails loudly instead of being dropped.
    The token path keeps that promise, and its edge plan carries no Python
    timestamp-parse stage."""
    import pytest

    from itext2kg_spark.config import ATOM
    from itext2kg_spark.extract.embed import HashEmbedder
    from itext2kg_spark.merge.kg import canonicalize_kg
    from tests.kg_helpers import quintuples_df

    row = {
        "url": "u1", "obs_ts": None, "lang": "en", "fact_idx": 0, "fact": "f",
        "subj_name": "a", "subj_label": "x", "pred": "p", "obj_name": "b",
        "obj_label": "x", "t_start": [], "t_end": ["2025-01-01"],
    }
    with pytest.raises(ValueError, match="temporal_empty"):
        canonicalize_kg(
            quintuples_df(spark, [row]), ATOM, HashEmbedder(), temporal_empty=True
        )
    _, edges = KGPipeline(extraction="token").build_graph(synth_pages(spark, 40, seed=5))
    plan = _plan(edges)
    assert plan.count("ArrowEvalPython") + plan.count("BatchEvalPython") == 0
    assert edges.count() > 0
