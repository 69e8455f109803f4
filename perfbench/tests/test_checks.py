"""Output checks: pure verdicts, plus the Spark summaries on tiny tables."""

import pytest

from perfbench import checks
from perfbench.worker import lsq_growth

GOOD_KG = {"entities": 3, "entity_keys": 3, "edges": 2, "facts": 5, "t_obs": 5, "dangling": 0}


def test_check_kg_accepts_consistent_summary():
    assert checks.check_kg(GOOD_KG, 5, [0, 1, 2]) == []


@pytest.mark.parametrize("change, expected, committed, needle", [
    ({"facts": 4}, 5, [0], "atomic_facts"),
    ({}, 6, [0], "quintuples extracted=6"),
    ({"entity_keys": 2}, 5, [0], "duplicate entity"),
    ({"dangling": 1}, 5, [0], "dangling"),
    ({}, 5, [0, 2], "contiguous"),
])
def test_check_kg_flags_each_violation(change, expected, committed, needle):
    problems = checks.check_kg({**GOOD_KG, **change}, expected, committed)
    assert len(problems) == 1 and needle in problems[0]


def test_check_corpus_flags_violations():
    good = {"survivors": 4, "ids": 4, "fps": 4, "not_in_input": 0}
    assert checks.check_corpus(good, [0, 1]) == []
    assert "doc_id" in checks.check_corpus({**good, "ids": 3}, [0])[0]
    assert "fp" in checks.check_corpus({**good, "fps": 3}, [0])[0]
    assert "not in the input" in checks.check_corpus({**good, "not_in_input": 1}, [0])[0]
    assert "no survivors" in checks.check_corpus({**good, "survivors": 0, "ids": 0, "fps": 0}, [0])[0]


def test_lsq_growth_reads_fit_not_endpoints():
    assert lsq_growth([1.0, 2.0, 3.0]) == pytest.approx(3.0)
    # a noisy last batch moves the fit less than the raw endpoint ratio
    assert lsq_growth([2.0] * 9 + [4.0]) < 1.6


@pytest.fixture(scope="module")
def spark():
    from itext2kg_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", cores=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


EDGE_SCHEMA = (
    "src_name string, src_label string, pred string, dst_name string,"
    " dst_label string, t_obs array<double>, atomic_facts array<string>"
)


def test_kg_summary_counts_facts_keys_and_dangling(spark):
    ents = spark.createDataFrame(
        [("a", "P"), ("b", "C"), ("b", "C")], "name string, label string"
    )
    edges = spark.createDataFrame([
        ("a", "P", "works_at", "b", "C", [1.0, 2.0], ["f1", "f2"]),
        ("a", "P", "ceo_of", "z", "C", [3.0], ["f3"]),
    ], EDGE_SCHEMA)
    s = checks.kg_summary(ents, edges)
    assert s == {"entities": 3, "entity_keys": 2, "edges": 2, "facts": 3,
                 "t_obs": 3, "dangling": 1}


def test_corpus_summary_detects_foreign_and_duplicate_rows(spark):
    inputs = spark.createDataFrame([(1, "x"), (2, "y")], "doc_id long, text string")
    surv = spark.createDataFrame(
        [(1, "x", "f1"), (2, "changed", "f1")], "doc_id long, text string, fp string"
    )
    s = checks.corpus_summary(surv, inputs)
    assert s == {"survivors": 2, "ids": 2, "fps": 1, "not_in_input": 1}


def test_table_hash_ignores_row_order_and_sees_content(spark):
    a = spark.createDataFrame([(1, "x"), (2, "y")], "k long, v string")
    b = spark.createDataFrame([(2, "y"), (1, "x")], "k long, v string").repartition(3)
    c = spark.createDataFrame([(1, "x"), (2, "z")], "k long, v string")
    assert checks.table_hash(a) == checks.table_hash(b)
    assert checks.table_hash(a) != checks.table_hash(c)
