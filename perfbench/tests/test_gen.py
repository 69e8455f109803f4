"""Generator determinism and shape (no Spark)."""

import re

from itext2kg_spark.extract.distill import extract_main_text
from itext2kg_spark.extract.quintuples import GrammarExtractor
from perfbench import gen


def test_highcard_pages_deterministic_per_seed():
    a, fa = gen.highcard_pages(100, 20, seed=5)
    b, fb = gen.highcard_pages(100, 20, seed=5)
    c, _ = gen.highcard_pages(100, 20, seed=6)
    assert a == b and fa == fb
    assert [r["text"] for r in a] != [r["text"] for r in c]


def test_highcard_every_fact_is_one_quintuple():
    rows, n_facts = gen.highcard_pages(0, 50, seed=1)
    ex = GrammarExtractor()
    total = 0
    for row in rows:
        text = extract_main_text(row["html"])
        assert text == row["text"]
        for sent in re.split(r"(?<=[.!?])\s+", text):
            quints = ex.extract(sent, row["warc_ts"])
            assert len(quints) == 1, sent
            total += 1
    assert total == n_facts


def test_highcard_vocabulary_is_large():
    rows, _ = gen.highcard_pages(0, 300, seed=1)
    ex = GrammarExtractor()
    names = set()
    for row in rows:
        for sent in re.split(r"(?<=[.!?])\s+", row["text"]):
            q = ex.extract(sent, None)[0]
            names.update([(q["subj_name"], q["subj_label"]), (q["obj_name"], q["obj_label"])])
    assert len(names) > 1500  # ~900 facts, nearly every name new


def test_corpus_docs_deterministic_and_ascending():
    a = gen.corpus_docs(3, 200, seed=9)
    assert a == gen.corpus_docs(3, 200, seed=9)
    assert a != gen.corpus_docs(3, 200, seed=10)
    ids = [i for batch in a for i, _ in batch]
    assert ids == list(range(600))


def test_corpus_docs_carry_cross_batch_copies():
    batches = gen.corpus_docs(4, 500, seed=3)
    seen: set[str] = set()
    exact_cross = 0
    for b, batch in enumerate(batches):
        texts = [t for _, t in batch]
        if b:
            exact_cross += sum(t in seen for t in texts)
        seen.update(texts)
    assert exact_cross > 50  # ~10% exact copies, most of earlier batches
    flat = [t for batch in batches for _, t in batch]
    # one-token edits: same token count as some earlier doc, differing in one token
    by_len: dict[int, list[list[str]]] = {}
    near = 0
    for t in flat:
        toks = t.split(" ")
        for prev in by_len.get(len(toks), []):
            if sum(x != y for x, y in zip(prev, toks)) == 1:
                near += 1
                break
        by_len.setdefault(len(toks), []).append(toks)
    assert near > 100
