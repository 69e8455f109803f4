"""P4 parity: timestamp parsing vs dateutil (the reference's parser)."""

from dateutil import parser as dparser
from pyspark.sql import functions as F

from itext2kg_spark.functions.timeparse import parse_timestamp_expr, parse_timestamp_array

CASES = [
    "2025-01-01",
    "2025-07-17 12:30:00",
    "2025-07-17T12:30:00",
    "July 17 2025",
    "March 3, 2024",
    "17 March 2024",
    "03/15/2025",
    "not a date",
    "",
]


def _dateutil_utc(v):
    from datetime import timezone

    try:
        dt = dparser.parse(v)
    except Exception:
        return None
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return dt.timestamp()


def test_scalar_parse_matches_dateutil(spark):
    df = spark.createDataFrame([(c,) for c in CASES], ["s"])
    got = {
        r["s"]: r["epoch"]
        for r in df.select("s", parse_timestamp_expr(F.col("s")).alias("epoch")).collect()
    }
    for c in CASES:
        expected = _dateutil_utc(c)
        assert got[c] == expected, f"{c!r}: {got[c]} != {expected}"


def test_array_parse_drops_unparseable(spark):
    df = spark.createDataFrame(
        [(["2025-01-01", "garbage", "July 17 2025"],)], ["a"]
    )
    row = df.select(parse_timestamp_array(F.col("a")).alias("p")).collect()[0]
    assert len(row["p"]) == 2
    assert row["p"][0] == _dateutil_utc("2025-01-01")
    assert row["p"][1] == _dateutil_utc("July 17 2025")


def test_array_parse_fuzzy_matches_dateutil(spark):
    """Fuzzy forms the Catalyst fast path can't parse must fall back to
    dateutil instead of being silently dropped (reference combine_timestamps,
    relationship.py:44-57, parses them); order preserved, garbage skipped."""
    arrays = [
        ["July 17th, 2025", "17.07.2025"],          # both dateutil-only
        ["2025-01-01", "July 17th, 2025", "nope"],  # mixed fast/fuzzy/garbage
        ["2025-01-01", "2025-02-02"],               # pure fast path (no UDF rows)
        [],
        None,
    ]
    df = spark.createDataFrame([(a,) for a in arrays], "a array<string>")
    got = [
        r["p"]
        for r in df.select(parse_timestamp_array(F.col("a")).alias("p")).collect()
    ]
    expected = [
        None if a is None else [e for e in map(_dateutil_utc, a) if e is not None]
        for a in arrays
    ]
    assert got == expected


def test_array_parse_no_fallback_flag(spark):
    # "1st of May 2020" stays dateutil-only (the ordinal fast format covers
    # attached suffixes, not "of"-joined forms), so with the fallback off it
    # must be dropped while the fast-path element survives
    df = spark.createDataFrame([(["1st of May 2020", "2025-01-01"],)], ["a"])
    row = df.select(
        parse_timestamp_array(F.col("a"), use_dateutil_fallback=False).alias("p")
    ).collect()[0]
    assert row["p"] == [_dateutil_utc("2025-01-01")]


def test_fast_path_extensions_match_dateutil_exhaustively(spark):
    """The dotted-triple and ordinal-suffix fast formats (appended to
    _fast_parse so they only see strings the original list rejected) must
    agree with dateutil on EVERY string: exhaustive over all aa.bb.yyyy
    numeric triples and all month/day ordinal layouts, plus adversarial
    near-misses that must keep falling through to the (identical) dateutil
    fallback."""
    import itertools

    months = [
        "January", "February", "March", "April", "May", "June", "July",
        "August", "September", "October", "November", "December",
    ]
    cases = []
    for a, b in itertools.product(range(0, 32), repeat=2):
        cases += [f"{a:02d}.{b:02d}.2025", f"{a}.{b}.2025"]
    for mon in months:
        for day in (1, 2, 3, 4, 11, 13, 21, 22, 23, 30, 31):
            suf = (
                "th"
                if 10 <= day % 100 <= 20
                else {1: "st", 2: "nd", 3: "rd"}.get(day % 10, "th")
            )
            cases += [
                f"{mon} {day}{suf}, 2025",
                f"{mon} {day}{suf} 2025",
                f"{day}{suf} {mon} 2025",
                f"{mon} {day}th, 2025",
                f"{mon.lower()} {day}{suf}, 2025",
            ]
    cases += [
        "1st of May 2020", "2024-01-03rd", "31.04.2025", "00.00.2025",
        "13.13.2025", "12.31.99", "05.07.25", "July 17 th, 2025",
        "July 17th", "17th July", "1.2.3", "10.10.10.10",
        "August 1st, 2024 12:30:00",
        # years below 100 (year 0 included) must reach dateutil
        "01.01.0000", "0000-01-01", "January 1 0050", "July 17th, 0099",
        "17.07.0099", "01.01.0001",
    ]
    df = spark.createDataFrame([(c,) for c in cases], ["s"])
    got = {
        r["s"]: r["e"]
        for r in df.select(
            "s", parse_timestamp_expr(F.col("s")).alias("e")
        ).collect()
    }
    for c in cases:
        assert got[c] == _dateutil_utc(c), f"{c!r}: {got[c]} != {_dateutil_utc(c)}"


def test_dateutil_memo_keeps_only_clock_independent_parses():
    """The fallback memo stores a parse only when no field of it comes from
    today's date; an underspecified string is re-parsed against the clock
    on every occurrence, so a long-lived worker never serves a stale day."""
    from itext2kg_spark.functions import timeparse as tp

    fixed = ["2025-07-17", "17.07.2025", "2025-07-17T10:00Z", "not a date"]
    clock = ["July 17th", "July 2025", "Jan 31", "10:30", "Feb 29", "2000 Jan Monday"]
    for s in fixed + clock:
        tp._DATEUTIL_CACHE.pop(s, None)
        for _ in range(2):  # first occurrence, then the memo's answer
            assert tp._dateutil_epoch_one(s) == _dateutil_utc(s), s
    for s in fixed:
        assert tp._DATEUTIL_CACHE[s] == _dateutil_utc(s), s
    for s in clock:
        assert not isinstance(tp._DATEUTIL_CACHE.get(s), float), s
