"""End-to-end pipeline tests: distill invariant, extraction inverse,
incremental store with checkpoint/resume."""

import pyspark.sql.functions as F
import pytest

from itext2kg_spark.extract.distill import distill_pages, extract_main_text, synth_html
from itext2kg_spark.extract.facts import split_atomic_facts
from itext2kg_spark.pipeline import KGPipeline, partition_lineage
from itext2kg_spark.sources.pages import synth_pages, generate_page
from itext2kg_spark.sources.store import KGStore


def test_distill_byte_identical_per_url(spark):
    """The input_hint invariant: distill(html) == text, byte for byte."""
    pages = synth_pages(spark, 40, seed=7)
    joined = (
        distill_pages(pages)
        .withColumnRenamed("text", "distilled")
        .join(pages.select("url", "text"), "url")
    )
    bad = joined.where(F.col("distilled") != F.col("text")).count()
    assert bad == 0
    assert joined.count() == 40


def test_distill_roundtrip_handles_escaping():
    text = 'Facts with <angle> & "quotes" and unicode café.'
    assert extract_main_text(synth_html(text)) == text


def test_distill_catalyst_matches_python_reference(spark):
    """The Catalyst distill projection must equal the row-level Python
    reference (extract_main_text) byte-for-byte on adversarial envelope
    inputs: literal entities in the source text (double-escaped by the
    envelope), angle brackets, ampersand runs, newlines, unicode, empty
    body, missing <main>, and NULL html."""
    texts = [
        "plain sentence.",
        'with <angle> & "quotes".',
        "literal entity &amp; and &lt;tag&gt; in source.",
        "double &amp;amp; and bare & mix &&& runs.",
        "&copy; &#65; named and numeric entities stay literal.",
        "line one\nline two\n\tindented.",
        "unicode café naïve résumé ☃.",
        "",
        "trailing ampersand &",
        "&lt; leading entity",
    ]
    rows = [(i, synth_html(t)) for i, t in enumerate(texts)]
    rows.append((len(texts), b"<html><body>no main tag</body></html>"))
    rows.append((len(texts) + 1, None))
    pages = spark.createDataFrame(rows, "i long, html binary")
    got = {
        r["i"]: r["text"]
        for r in pages.select(
            "i", __import__("itext2kg_spark.extract.distill",
                            fromlist=["main_text_col"])
            .main_text_col(F.col("html")).alias("text")
        ).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == extract_main_text(synth_html(t)) == t, (i, got[i])
    assert got[len(texts)] == ""
    assert got[len(texts) + 1] == ""


def test_fact_split_recovers_sentences(spark):
    page = generate_page(3, seed=42)
    pages = synth_pages(spark, 10, seed=42)
    facts = split_atomic_facts(distill_pages(pages))
    got = [
        r["fact"]
        for r in facts.where(F.col("url") == page["url"]).orderBy("fact_idx").collect()
    ]
    # every fact is a grammar sentence ending with '.', and rejoining
    # reconstructs the page text
    assert " ".join(got) == page["text"]


def test_extraction_is_grammar_inverse(spark):
    """Each grammar sentence yields exactly one quintuple; facts and
    quintuples are 1:1 (the deterministic stand-in for LLM extraction)."""
    pages = synth_pages(spark, 30, seed=11)
    p = KGPipeline()
    facts = split_atomic_facts(distill_pages(pages))
    quints = p.quintuples_from_pages(pages)
    assert quints.count() == facts.count()
    # t_start/t_end populated per grammar kind
    neg = quints.where(F.size("t_end") > 0).count()
    pos = quints.where(F.size("t_start") > 0).count()
    assert neg + pos == quints.count()


def test_incremental_store_resume(spark, tmp_path):
    store = KGStore(str(tmp_path / "kg"))
    p = KGPipeline()

    b0 = p.run_batch(synth_pages(spark, 20, seed=1), store)
    assert b0 == 0
    ents0, edges0 = store.load(spark)
    n_edges0 = edges0.count()

    b1 = p.run_batch(synth_pages(spark, 20, seed=2), store)
    assert b1 == 1
    ents1, edges1 = store.load(spark)
    assert edges1.count() >= n_edges0  # monotone growth of the canonical graph

    # resume semantics: a partial (uncommitted) snapshot is invisible
    import os

    partial = os.path.join(store.root, "snapshots", "batch=2")
    os.makedirs(partial)
    assert store.last_committed() == 1
    assert store.next_batch_id() == 2

    # a re-observed edge extends its t_obs list
    tobs_max = edges1.select(F.max(F.size("t_obs")).alias("m")).collect()[0]["m"]
    assert tobs_max >= 1


def test_store_entities_stable_across_rebuild(spark, tmp_path):
    """Same batch merged twice: second merge adds no new entities (exact
    re-observation path) and edge count is unchanged."""
    store = KGStore(str(tmp_path / "kg2"))
    p = KGPipeline()
    pages = synth_pages(spark, 15, seed=3)
    p.run_batch(pages, store)
    e1, ed1 = store.load(spark)
    c_ents, c_edges = e1.count(), ed1.count()
    p.run_batch(synth_pages(spark, 15, seed=3), store)
    e2, ed2 = store.load(spark)
    assert e2.count() == c_ents
    assert ed2.count() == c_edges


def test_partition_lineage_metrics(spark):
    pages = synth_pages(spark, 32, seed=5, partitions=4)
    m = partition_lineage(pages).collect()
    assert sum(r["rows"] for r in m) == 32
    assert len(m) == 4


def test_run_batch_token_mode_incremental_equals_oneshot(spark, tmp_path):
    """KGPipeline(extraction='token') routes run_batch through the Catalyst
    token extractor; two incremental batches through the REAL store path
    must reproduce the one-shot build exactly in exact-match mode (the
    kg_incremental_exact driver oracle, as a standalone test)."""
    from dataclasses import replace

    from pyspark.sql import functions as F

    from itext2kg_spark.config import ATOM
    from itext2kg_spark.pipeline import KGPipeline
    from itext2kg_spark.sources.pages import pages_from_documents
    from itext2kg_spark.sources.store import KGStore

    docs = spark.createDataFrame(
        [(i, f"s{i % 7} r{i % 3} o{i % 5} s{i % 4} r{i % 2} o{i}", "en")
         for i in range(20)],
        "doc_id long, text string, lang string",
    )
    cfg = replace(ATOM, match=replace(ATOM.match, ent_threshold=2.0,
                                      rel_threshold=2.0))
    pipe = KGPipeline(cfg, extraction="token")

    store = KGStore(str(tmp_path / "store"))
    pipe.run_batch(pages_from_documents(docs.where(F.col("doc_id") % 2 == 0)), store)
    pipe.run_batch(pages_from_documents(docs.where(F.col("doc_id") % 2 == 1)), store)
    _, edges_inc = store.load(spark)

    _, edges_one = pipe.build_graph(pages_from_documents(docs))

    def canon(edges):
        return {
            tuple(r)
            for r in edges.select(
                "src_name", "src_label", "pred", "dst_name", "dst_label",
                F.array_join(
                    F.transform(F.array_sort("t_obs"),
                                lambda x: x.cast("long").cast("string")), ","
                ).alias("t_obs_list"),
            ).collect()
        }

    assert canon(edges_inc) == canon(edges_one)
    assert len(canon(edges_inc)) > 0


def test_kg_commit_marker_is_atomic(spark, tmp_path, monkeypatch):
    """A crash while the snapshot's _COMMITTED marker is written (here: the
    rename of its fsynced tmp file fails) leaves the batch uncommitted; the
    next run_batch takes the same id and commits it."""
    import os

    store = KGStore(str(tmp_path / "kg"))
    p = KGPipeline()
    pages = synth_pages(spark, 5, seed=1)

    def crash(src, dst):
        raise OSError("crash before the marker rename")

    with monkeypatch.context() as m:
        m.setattr(os, "replace", crash)
        with pytest.raises(OSError):
            p.run_batch(pages, store)
    assert store.committed_batches() == []
    assert store.next_batch_id() == 0

    assert p.run_batch(pages, store) == 0
    assert store.committed_batches() == [0]
    assert store.load(spark)[1].count() > 0
    assert store.snapshot_metrics(0) == {"batch_id": 0, "metrics": {"n_pages": 5}}


def test_canonicalize_kg_accepts_only_the_union_edge_merge(spark):
    """Stored edges merge into a batch one way, the union before the edge
    groupBy; any other `existing_edges_merge` is refused up front."""
    from itext2kg_spark.config import ATOM
    from itext2kg_spark.merge.kg import canonicalize_kg

    q = spark.range(1)
    with pytest.raises(ValueError, match="existing_edges_merge"):
        canonicalize_kg(q, ATOM, None, existing_edges_merge="join")
