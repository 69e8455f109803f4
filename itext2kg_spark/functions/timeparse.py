"""Timestamp-string -> epoch-seconds parsing (P4).

Reference behavior (`Relationship.combine_timestamps`,
itext2kg/atom/models/relationship.py:44-57; `Atom.build_atomic_kg_from_quintuples`,
itext2kg/atom/atom.py:111-134): `dateutil.parser.parse(ts).timestamp()`, with
unparseable strings silently skipped (dropped from the list, never fatal).

Spark mapping:
  * fast path — pure Catalyst `try_to_timestamp` over the common layouts
    (ISO date, ISO datetime, `MMMM d yyyy` style), `unix_timestamp` -> double;
  * fallback — a vectorized pandas UDF calling dateutil itself for the fuzzy
    forms Catalyst can't express ("July 17th, 2025"); it only ever sees rows
    the fast path missed, so per-row Python cost is bounded by the dirty-data
    fraction, not the table size.

Naive datetimes are treated as UTC (the engine pins
spark.sql.session.timeZone=UTC; the reference inherits whatever the host TZ
is — run hosts at TZ=UTC for bit-parity).
"""

from __future__ import annotations

from datetime import datetime, timezone

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType

_FAST_FORMATS = [
    "yyyy-MM-dd",
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy/MM/dd",
    "MM/dd/yyyy",
    "MMMM d yyyy",
    "MMMM d, yyyy",
    "d MMMM yyyy",
]

# string -> epoch-or-None memo for the dateutil fallback. Real corpora repeat
# a small set of date surface forms across millions of mentions, so dateutil
# (~30-50us per parse) should run once per DISTINCT string per worker, not
# once per element — the same worker-lifetime bounded-cache pattern as the
# simhash token cache (guide §4.5: heavyweight per-item work once). Only a
# clock-independent parse is memoized. An underspecified string ("July 17th",
# "Jan 31", "10:30") takes its missing fields from today's date, so a memo of
# it would outlive a day or year boundary; such a key is stored as
# _CLOCK_DEPENDENT and re-parsed against the clock each time, as the
# reference does. The bound caps worker memory on adversarial corpora with
# unbounded distinct strings.
_DATEUTIL_CACHE: dict[str, object] = {}
_DATEUTIL_CACHE_MAX = 1 << 20
_CLOCK_DEPENDENT = object()
# A string parses the same under both defaults iff it names its own year,
# month and day (time fields default to midnight, as dateutil's own default
# does). The leap/non-leap pair tells "Feb 29" apart; days 1 and 9 are a
# week apart so a bare weekday ("2000 Jan Monday") lands on different dates.
_PROBE_DEFAULTS = (datetime(2000, 1, 1), datetime(2001, 2, 9))


def _dateutil_parse(key: str, default: datetime | None = None) -> float | None:
    """dateutil-parse one string to epoch seconds (None on failure); naive
    results are read as UTC."""
    from dateutil import parser as dparser

    try:
        dt = dparser.parse(key, default=default)
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=timezone.utc)
        return dt.timestamp()
    except Exception:  # noqa: BLE001 — reference skips unparseable strings
        return None


def _dateutil_epoch_one(v) -> float | None:
    """dateutil-parse one string to epoch seconds (None on failure), memoized
    when the result cannot depend on the current date."""
    key = str(v)
    if key in _DATEUTIL_CACHE:
        hit = _DATEUTIL_CACHE[key]
        return _dateutil_parse(key) if hit is _CLOCK_DEPENDENT else hit
    a, b = (_dateutil_parse(key, d) for d in _PROBE_DEFAULTS)
    if a == b:
        out, memo = a, a
    else:
        out, memo = _dateutil_parse(key), _CLOCK_DEPENDENT
    if len(_DATEUTIL_CACHE) < _DATEUTIL_CACHE_MAX:
        _DATEUTIL_CACHE[key] = memo
    return out


def _fast_parse(col: Column) -> Column:
    """Catalyst replication of dateutil for the common layouts, as a
    lazily-evaluated coalesce (later branches only run where earlier ones
    returned null, so clean ISO elements never pay for the exotic tries).

    The two appended families move the frequent dateutil-only surface forms
    into the JVM — they are APPENDED so every string the original list
    accepted parses exactly as before, and anything they newly accept is
    proven to parse identically to dateutil (exhaustive parity test over
    all aa.bb.yyyy numeric triples and all month/day ordinal forms,
    tests/test_timeparse.py):
      * dotted numeric triples — month-first then day-first, which IS
        dateutil's dayfirst=False disambiguation (swap only when the first
        number cannot be a month);
      * ordinal day suffixes ("July 17th, 2025") — st/nd/rd/th after a
        digit are jump tokens dateutil skips wholesale, so stripping them
        and parsing the month-name layouts is equivalent. Anything else
        (spaced suffixes, lowercase months, 2-digit years) still falls
        through to the dateutil fallback unchanged.

    Years below 100 are left to dateutil: Catalyst reads `0050` as year 50
    and accepts year 0, while dateutil maps two-digit-valued years into the
    current century and rejects year 0."""
    tries = [F.try_to_timestamp(col, F.lit(fmt)) for fmt in _FAST_FORMATS]
    tries += [
        F.try_to_timestamp(col, F.lit("MM.dd.yyyy")),
        F.try_to_timestamp(col, F.lit("dd.MM.yyyy")),
    ]
    stripped = F.regexp_replace(col, r"(?<=\d)(st|nd|rd|th)\b", "")
    tries += [
        F.try_to_timestamp(stripped, F.lit(fmt))
        for fmt in ("MMMM d yyyy", "MMMM d, yyyy", "d MMMM yyyy")
    ]
    ts = F.coalesce(*tries)
    return F.when(F.year(ts) >= 100, ts)


@F.pandas_udf(DoubleType())
def _dateutil_epoch(s: pd.Series) -> pd.Series:
    def one(v):
        if v is None:
            return None
        return _dateutil_epoch_one(v)

    return s.map(one)


def parse_timestamp_expr(col: Column, use_dateutil_fallback: bool = True) -> Column:
    """String -> epoch seconds (double); null when unparseable.

    Callers drop nulls to reproduce the reference's skip-on-error (F4).
    """
    fast = F.unix_timestamp(_fast_parse(col)).cast("double")
    if not use_dateutil_fallback:
        return fast
    # dateutil only runs where the fast path missed AND the input is non-null.
    return F.coalesce(fast, F.when(col.isNotNull(), _dateutil_epoch(col)))


@F.pandas_udf(ArrayType(DoubleType()))
def _dateutil_epoch_array(strs: pd.Series, fast: pd.Series) -> pd.Series:
    """Per row: keep the Catalyst fast-parse where it hit, dateutil the
    misses, drop elements neither can parse (reference skip-on-error).
    Only rows the caller gated (fast-path miss present) arrive non-null."""

    def one(pair):
        ss, ff = pair
        if ss is None:
            return None
        out = []
        for i, s in enumerate(ss):
            f = ff[i] if ff is not None and i < len(ff) else None
            if f is not None and f == f:  # not None/NaN (Arrow null -> NaN)
                out.append(float(f))
                continue
            if s is None:
                continue
            v = _dateutil_epoch_one(s)
            if v is not None:
                out.append(v)
        return out

    return pd.Series(map(one, zip(strs, fast)))


def parse_timestamp_array(col: Column, use_dateutil_fallback: bool = True) -> Column:
    """array<string> -> array<double>, dropping unparseable elements.

    Mirrors the reference's per-element try/except-continue loop
    (relationship.py:47-57): parse each element, skip failures. The Catalyst
    fast path covers the common layouts JVM-side; rows with at least one
    fast-path miss (and only those — the UDF inputs are null-gated, so the
    Python worker sees null for clean rows) fall back to a vectorized pandas
    UDF that runs dateutil on the missed elements, preserving element order.
    The per-row-Python cost is bounded by the dirty-data fraction, not the
    table size.
    """
    fast = F.transform(col, lambda x: F.unix_timestamp(_fast_parse(x)).cast("double"))
    fast_ok = F.filter(fast, lambda x: x.isNotNull())
    if not use_dateutil_fallback:
        return fast_ok
    miss = F.exists(
        F.zip_with(col, fast, lambda s, d: s.isNotNull() & d.isNull()),
        lambda b: b,
    )
    combined = _dateutil_epoch_array(F.when(miss, col), F.when(miss, fast))
    return F.when(miss, combined).otherwise(fast_ok)


def _array_miss(col: Column, fast: Column) -> Column:
    return F.coalesce(
        F.exists(
            F.zip_with(col, fast, lambda s, d: s.isNotNull() & d.isNull()),
            lambda b: b,
        ),
        F.lit(False),
    )


def parse_timestamp_array_columns(df, cols: list[str]):
    """Replace each array<string> column with its parsed array<double>.

    Why not just `parse_timestamp_array` per column: a pandas UDF anywhere in
    a projection inserts an ArrowEvalPython stage that round-trips EVERY row
    through the Python worker, even rows whose UDF inputs are nulled — ~1.5x
    on the KG mentions projection when the corpus is clean. Here the rows are
    split on the fast-path-miss flag instead: clean rows (the vast majority)
    keep a pure-JVM plan, only rows with at least one unparseable-by-Catalyst
    element flow through dateutil, and the two branches union back. Upstream
    should be (cheaply recomputable or) checkpointed since both branches scan
    it.

    The Catalyst fast-parse of each array is projected as a REAL column
    (`__fast_<c>`) so it evaluates once per row although the miss flag and
    both branches read it (Catalyst keeps the projection boundary: the
    aliases are non-cheap and multiply referenced).
    """
    fast_names = {c: f"__fast_{c}" for c in cols}
    base = df.select(
        "*",
        *[
            F.transform(
                F.col(c), lambda x: F.unix_timestamp(_fast_parse(x)).cast("double")
            ).alias(fast_names[c])
            for c in cols
        ],
    )
    miss = None
    for c in cols:
        m = _array_miss(F.col(c), F.col(fast_names[c]))
        miss = m if miss is None else (miss | m)
    base = base.withColumn("__miss", miss)

    clean = base.where(~F.col("__miss")).select(
        *[
            F.filter(F.col(fast_names[c]), lambda x: x.isNotNull()).alias(c)
            if c in cols
            else c
            for c in df.columns
        ]
    )
    dirty = base.where(F.col("__miss")).select(
        *[
            _dateutil_epoch_array(F.col(c), F.col(fast_names[c])).alias(c)
            if c in cols
            else c
            for c in df.columns
        ]
    )
    return clean.unionByName(dirty)
