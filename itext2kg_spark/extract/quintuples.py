"""Quintuple extraction (E1, ATOM Module-2): one fact -> N (s,p,o,t_start,t_end).

The reference wraps an LLM structured-output call per atomic fact
(`Atom.extract_quintuples`, itext2kg/atom/atom.py:30-38; output schema
`RelationshipsExtractor`, atom/models/schemas.py:139-205) whose prompt resolves
relative dates against the observation timestamp and rewrites end-of-validity
statements to an affirmative predicate plus `t_end` (atom/models/prompts.py:45-56).

Spark mapping: a pandas UDF of signature (fact, obs_ts) -> array<struct> over
Arrow record batches, then `explode` — the UDTF surface of the engine. The
extractor is pluggable:

  * `GrammarExtractor` — deterministic rule extractor for the FIXTURES.md F3
    grammar ("X is the ceo of Y since D.", "X is no longer the ceo of Y since
    D." -> affirmative pred + t_end), used by tests/bench/differential harness.
    An LLM extractor drops in with the same signature; the batch it sees IS
    the Arrow batch (= the API batch, cf. langchain_output_parser.py:168-221).
  * `TokenTripleExtractor` — pure-Catalyst extraction over whitespace token
    triples, used where a DuckDB-SQL oracle must reproduce the extraction
    exactly (driver correctness gate).

Malformed facts yield an empty array (the reference retries then skips,
ientities_extractor.py:54-70) — `explode` drops them, and callers can count
dropped rows from the pre/post explode delta.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    StringType,
    StructField,
    StructType,
)

QUINTUPLE_STRUCT = StructType(
    [
        StructField("subj_name", StringType()),
        StructField("subj_label", StringType()),
        StructField("pred", StringType()),
        StructField("obj_name", StringType()),
        StructField("obj_label", StringType()),
        StructField("t_start", ArrayType(StringType())),
        StructField("t_end", ArrayType(StringType())),
    ]
)
QUINTUPLE_SCHEMA = ArrayType(QUINTUPLE_STRUCT)


class GrammarExtractor:
    """Deterministic extractor for the synthetic-fixture fact grammar.

    Grammar (shared with itext2kg_spark.sources.pages.synth_pages):
      "{P} is the {role} of {O} since {date}."        -> ({P},Person) {role}_of ({O},Company) t_start=[date]
      "{P} is no longer the {role} of {O} since {date}." -> same pred, t_end=[date]
      "{P} works at {O} since {date}."                -> works_at, t_start
      "{P} no longer works at {O} since {date}."      -> works_at, t_end
      "{O} acquired {O2} on {date}."                  -> acquired, t_start
    """

    _ROLE = re.compile(
        r"^(?P<neg>.*? is no longer the |.*? is the )(?P<role>[\w ]+?) of (?P<obj>.+?) since (?P<date>.+?)\.$"
    )
    _WORKS = re.compile(
        r"^(?P<subj>.+?) (?P<neg>no longer works|works) at (?P<obj>.+?) since (?P<date>.+?)\.$"
    )
    _ACQ = re.compile(r"^(?P<subj>.+?) acquired (?P<obj>.+?) on (?P<date>.+?)\.$")

    def extract(self, fact: str, obs_ts) -> list[dict]:
        if not fact:
            return []
        fact = fact.strip()
        m = self._ROLE.match(fact)
        if m:
            neg = "no longer" in m.group("neg")
            subj = m.group("neg").split(" is ")[0]
            role = m.group("role").strip().replace(" ", "_")
            t = [m.group("date")]
            return [
                {
                    "subj_name": subj,
                    "subj_label": "Person",
                    "pred": f"{role}_of",
                    "obj_name": m.group("obj"),
                    "obj_label": "Company",
                    "t_start": [] if neg else t,
                    "t_end": t if neg else [],
                }
            ]
        m = self._WORKS.match(fact)
        if m:
            neg = m.group("neg").startswith("no longer")
            t = [m.group("date")]
            return [
                {
                    "subj_name": m.group("subj"),
                    "subj_label": "Person",
                    "pred": "works_at",
                    "obj_name": m.group("obj"),
                    "obj_label": "Company",
                    "t_start": [] if neg else t,
                    "t_end": t if neg else [],
                }
            ]
        m = self._ACQ.match(fact)
        if m:
            return [
                {
                    "subj_name": m.group("subj"),
                    "subj_label": "Company",
                    "pred": "acquired",
                    "obj_name": m.group("obj"),
                    "obj_label": "Company",
                    "t_start": [m.group("date")],
                    "t_end": [],
                }
            ]
        return []

    def udf(self):
        extract = self.extract

        @F.pandas_udf(QUINTUPLE_SCHEMA)
        def _extract(fact: pd.Series, obs: pd.Series) -> pd.Series:
            return pd.Series(
                [extract(f, o) for f, o in zip(fact.tolist(), obs.tolist())]
            )

        return _extract


def extract_quintuples(facts: DataFrame, extractor=None) -> DataFrame:
    """facts(url, obs_ts, lang, fact_idx, fact) -> one row per quintuple.

    Output: lineage cols + subj_name, subj_label, pred, obj_name, obj_label,
    t_start array<string>, t_end array<string>.
    """
    extractor = extractor or GrammarExtractor()
    udf = extractor.udf()
    exploded = facts.withColumn(
        "__q", F.explode(udf(F.col("fact"), F.col("obs_ts").cast("string")))
    )
    return exploded.select(
        "url",
        "obs_ts",
        "lang",
        "fact_idx",
        "fact",
        "__q.subj_name",
        "__q.subj_label",
        "__q.pred",
        "__q.obj_name",
        "__q.obj_label",
        "__q.t_start",
        "__q.t_end",
    )


_VEC_LINEAGE = ["url", "obs_ts", "lang", "fact_idx", "fact"]

_VEC_SCHEMA = (
    "url string, obs_ts timestamp, lang string, fact_idx int, fact string,"
    " subj_name string, subj_label string, pred string, obj_name string,"
    " obj_label string, t_start array<string>, t_end array<string>"
)

# order matters: negative forms first (their text also contains the
# positive form's keywords)
_VEC_PATTERNS = (
    (r"^(?P<subj>.+?) is no longer the (?P<role>[\w ]+?) of (?P<obj>.+?) since (?P<date>.+?)\.$", "role", "Person", True),
    (r"^(?P<subj>.+?) is the (?P<role>[\w ]+?) of (?P<obj>.+?) since (?P<date>.+?)\.$", "role", "Person", False),
    (r"^(?P<subj>.+?) no longer works at (?P<obj>.+?) since (?P<date>.+?)\.$", "works_at", "Person", True),
    (r"^(?P<subj>.+?) works at (?P<obj>.+?) since (?P<date>.+?)\.$", "works_at", "Person", False),
    (r"^(?P<subj>.+?) acquired (?P<obj>.+?) on (?P<date>.+?)\.$", "acquired", "Company", False),
)


def _vectorized_extract_pdf(pdf):
    """Batch kernel: facts pandas frame (lineage cols + fact) -> quintuple
    frame, via .str.extract (C regex) per grammar pattern — no per-row
    Python."""
    import pandas as pd

    s = pdf["fact"].astype(str)
    remaining = pd.Series(True, index=pdf.index)
    blocks = []

    def emit(mask, g, pred, subj_label, neg):
        if not mask.any():
            return
        out = pdf.loc[mask, _VEC_LINEAGE].copy()
        out["subj_name"] = g.loc[mask, "subj"]
        out["subj_label"] = subj_label
        out["pred"] = pred[mask] if isinstance(pred, pd.Series) else pred
        out["obj_name"] = g.loc[mask, "obj"]
        out["obj_label"] = "Company"
        dates = g.loc[mask, "date"]
        t = [[d] for d in dates]
        empty = [[] for _ in range(int(mask.sum()))]
        out["t_start"] = empty if neg else t
        out["t_end"] = t if neg else empty
        blocks.append(out)

    for pattern, pred_kind, subj_label, neg in _VEC_PATTERNS:
        g = s.str.extract(pattern)
        mask = remaining & g["subj"].notna()
        if pred_kind == "role":
            pred = (
                g["role"].str.strip().str.replace(" ", "_", regex=False)
                + "_of"
            )
            emit(mask, g, pred, subj_label, neg)
        else:
            emit(mask, g, pred_kind, subj_label, neg)
        remaining &= ~mask

    if blocks:
        return pd.concat(blocks, ignore_index=True)
    return pd.DataFrame(
        {
            c: pd.Series(dtype=t)
            for c, t in zip(
                _VEC_LINEAGE
                + [
                    "subj_name", "subj_label", "pred",
                    "obj_name", "obj_label", "t_start", "t_end",
                ],
                ["object"] * 12,
            )
        }
    )


def extract_quintuples_vectorized(facts: DataFrame) -> DataFrame:
    """Vectorized grammar extraction: pandas .str.extract (C regex) over the
    whole Arrow batch, columnwise output — no per-row Python. Same rows as
    `extract_quintuples(facts, GrammarExtractor())` (row-parity tested);
    KGPipeline.quintuples_from_pages uses this path whenever the extractor is
    the built-in GrammarExtractor.
    """
    import pandas as pd
    from collections.abc import Iterator

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _vectorized_extract_pdf(pdf)

    return facts.select(*_VEC_LINEAGE).mapInPandas(run, schema=_VEC_SCHEMA)


class TokenTripleExtractor:
    """Pure-Catalyst extraction: consecutive whitespace-token triples.

    Whole-stage-codegen'd end to end (no Python), and exactly mirrorable in
    ANSI SQL for the DuckDB correctness oracle. Labels are the first character
    of the name (SQL-portable determinism); t_start derives from obs_ts.
    """

    @staticmethod
    def apply(df: DataFrame, text_col: str = "text") -> DataFrame:
        # Build the (i, subj, pred, obj) structs BEFORE exploding: exploding
        # an index and projecting __toks[i*3] afterwards makes the Generate
        # carry the full token array, which each exploded UnsafeRow copies —
        # one ~100-element string-array copy per emitted triple. The struct
        # array keeps the Generate output at three strings + an int per row
        # (measured ~25% faster on the extraction stage, rows identical).
        toks = F.split(F.trim(F.col(text_col)), r"\s+")
        d = df.withColumn("__toks", toks).withColumn(
            "__n", (F.size("__toks") / 3).cast("int")
        )
        trip = F.expr(
            "CASE WHEN __n >= 1 THEN transform(sequence(0, __n - 1), i ->"
            " named_struct('i', i, 's', __toks[i*3], 'p', __toks[i*3+1],"
            " 'o', __toks[i*3+2]))"
            " ELSE array() END"
        )
        d = d.select(*df.columns, F.explode(trip).alias("__t"))
        return d.select(
            *df.columns,
            F.col("__t.i").alias("i"),
            F.col("__t.s").alias("subj_name"),
            F.substring(F.col("__t.s"), 1, 1).alias("subj_label"),
            F.col("__t.p").alias("pred"),
            F.col("__t.o").alias("obj_name"),
            F.substring(F.col("__t.o"), 1, 1).alias("obj_label"),
        )
