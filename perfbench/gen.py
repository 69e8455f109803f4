"""Deterministic benchmark inputs: every batch is a pure function of
(seed, batch index), generated on the driver before any timing starts.

* ``highcard_pages`` — pages in the fact grammar that ``GrammarExtractor``
  parses exactly (one quintuple per sentence), with person and company names
  drawn from a vocabulary far larger than ``synth_pages``' 280 entities.
* ``corpus_docs`` — documents made of page-grammar sentences, a fixed share
  of them exact or one-token-edit copies of earlier documents, including
  documents of earlier batches.
"""

from __future__ import annotations

from datetime import datetime, timedelta

import numpy as np

from itext2kg_spark.extract.distill import synth_html

_SYL = [
    "ka", "lo", "mi", "ne", "ru", "sa", "te", "vo", "zu", "ba",
    "di", "fe", "go", "hi", "ja", "ku", "le", "mo", "ni", "po",
    "ra", "si", "to", "ve", "xa", "yo", "za", "bi", "co", "du",
]
_ORG_SUFFIX = ["corp", "labs", "media", "systems", "energy", "group", "works", "partners"]
_ROLES = ["ceo", "cto", "founder", "president", "director"]
_BASE = datetime(2024, 1, 1)
# Vocabulary sizes (first names, last names, companies). HIGHCARD: a page
# batch mostly mentions entities the store has not seen, as a web crawl
# does. PAGE: the size of synth_pages' vocabulary (~280 entities).
HIGHCARD = (900, 27_000, 7_200)
PAGE = (10, 10, 100)
# Shares of corpus documents that copy an earlier document exactly, or with
# one token changed.
EXACT_SHARE = 0.1
NEAR_SHARE = 0.1


def _word(k: int, n_syl: int) -> str:
    """k-th word of n_syl syllables (k < 30**n_syl), bijective in k."""
    out = []
    for _ in range(n_syl):
        k, r = divmod(k, len(_SYL))
        out.append(_SYL[r])
    return "".join(out)


def _person(rng: np.random.Generator, vocab: tuple[int, int, int]) -> str:
    return (
        f"{_word(int(rng.integers(vocab[0])), 2)} "
        f"{_word(int(rng.integers(vocab[1])), 3)}"
    ).title()


def _org(rng: np.random.Generator, vocab: tuple[int, int, int]) -> str:
    k = int(rng.integers(vocab[2]))
    return f"{_word(k // len(_ORG_SUFFIX), 3)} {_ORG_SUFFIX[k % len(_ORG_SUFFIX)]}".title()


def _date(rng: np.random.Generator) -> str:
    return (_BASE + timedelta(days=int(rng.integers(0, 700)))).strftime("%Y-%m-%d")


def _fact(rng: np.random.Generator, vocab: tuple[int, int, int]) -> str:
    """One sentence of the synth_pages fact grammar."""
    kind = rng.random()
    p, o = _person(rng, vocab), _org(rng, vocab)
    if kind < 0.3:
        return f"{p} is the {_ROLES[int(rng.integers(len(_ROLES)))]} of {o} since {_date(rng)}."
    if kind < 0.4:
        return f"{p} is no longer the {_ROLES[int(rng.integers(len(_ROLES)))]} of {o} since {_date(rng)}."
    if kind < 0.8:
        return f"{p} works at {o} since {_date(rng)}."
    if kind < 0.9:
        return f"{p} no longer works at {o} since {_date(rng)}."
    return f"{o} acquired {_org(rng, vocab)} on {_date(rng)}."


def highcard_page(page_id: int, seed: int) -> tuple[dict, int]:
    """One page row (PAGES_SCHEMA columns) and its number of facts."""
    rng = np.random.Generator(np.random.PCG64([seed, 7, page_id]))
    n_facts = int(rng.integers(2, 5))
    text = " ".join(_fact(rng, HIGHCARD) for _ in range(n_facts))
    url = f"https://site{int(rng.integers(0, 500)):03d}.example.org/p/{page_id}"
    ts = _BASE + timedelta(seconds=int(rng.integers(0, 365 * 86400)))
    row = {
        "url": url,
        "warc_ts": ts,
        "html": synth_html(text, title=url),
        "text": text,
        "lang": "en",
    }
    return row, n_facts


def highcard_pages(first_id: int, n: int, seed: int) -> tuple[list[dict], int]:
    """Pages first_id .. first_id+n-1 and their total number of facts."""
    rows, facts = [], 0
    for i in range(first_id, first_id + n):
        row, k = highcard_page(i, seed)
        rows.append(row)
        facts += k
    return rows, facts


def _one_token_edit(text: str, rng: np.random.Generator) -> str:
    tokens = text.split(" ")
    i = int(rng.integers(len(tokens)))
    tokens[i] = _word(int(rng.integers(30**3)), 3)
    return " ".join(tokens)


def corpus_docs(n_batches: int, batch_size: int, seed: int) -> list[list[tuple[int, str]]]:
    """Batches of (doc_id, text); doc ids ascend across batches.

    Each document is, with EXACT_SHARE and NEAR_SHARE, an exact copy or a
    one-token-edit copy of a uniformly chosen earlier *fresh* document (of
    this batch or an earlier one), otherwise a fresh page-grammar document.
    """
    rng = np.random.Generator(np.random.PCG64([seed, 11]))
    fresh: list[str] = []
    out = []
    doc_id = 0
    for _ in range(n_batches):
        batch = []
        for _ in range(batch_size):
            r = rng.random()
            if fresh and r < EXACT_SHARE:
                text = fresh[int(rng.integers(len(fresh)))]
            elif fresh and r < EXACT_SHARE + NEAR_SHARE:
                text = _one_token_edit(fresh[int(rng.integers(len(fresh)))], rng)
            else:
                n_facts = int(rng.integers(4, 9))
                text = " ".join(_fact(rng, PAGE) for _ in range(n_facts))
                fresh.append(text)
            batch.append((doc_id, text))
            doc_id += 1
        out.append(batch)
    return out
