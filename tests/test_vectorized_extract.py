"""The vectorized grammar extraction must stay row-identical (including
temporal arrays) to the pluggable GrammarExtractor path."""

from itext2kg_spark.extract.distill import distill_pages
from itext2kg_spark.extract.facts import split_atomic_facts
from itext2kg_spark.extract.quintuples import (
    GrammarExtractor,
    extract_quintuples,
    extract_quintuples_vectorized,
)
from itext2kg_spark.sources.pages import synth_pages


def test_vectorized_extraction_parity(spark):
    pages = synth_pages(spark, 120, seed=21)
    facts = split_atomic_facts(distill_pages(pages))
    a = extract_quintuples(facts, GrammarExtractor())
    b = extract_quintuples_vectorized(facts)
    key = lambda r: (  # noqa: E731
        r["url"], r["fact_idx"], r["subj_name"], r["pred"], r["obj_name"],
        tuple(r["t_start"]), tuple(r["t_end"]),
    )
    ra, rb = sorted(map(key, a.collect())), sorted(map(key, b.collect()))
    assert ra == rb and len(ra) > 100

