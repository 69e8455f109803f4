"""Event-log parsing and span attribution on a hand-written log."""

import json

import pytest

from perfbench import eventlog


def _job_start(jid, t, stages, site):
    return json.dumps({
        "Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t,
        "Stage IDs": stages, "Properties": {"callSite.short": site},
    }, separators=(",", ":"))


def _job_end(jid, t):
    return json.dumps({"Event": "SparkListenerJobEnd", "Job ID": jid,
                       "Completion Time": t}, separators=(",", ":"))


def _task_end(stage, run_ms, cpu_ns, shuffle=0, spill=0, recs=0):
    return json.dumps({
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
            "Disk Bytes Spilled": spill,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle,
                                      "Shuffle Records Written": recs},
            "Output Metrics": {"Records Written": 0},
        },
    }, separators=(",", ":"))


LOG = [
    '{"Event":"SparkListenerLogStart","Spark Version":"4.1.2"}',
    _job_start(0, 1000, [0, 1], "localCheckpoint at /x/perfbench/worker.py:10"),
    _task_end(0, 200, 100_000_000, shuffle=2_000_000, recs=50),
    _task_end(1, 300, 200_000_000),
    _job_end(0, 1600),
    _job_start(1, 2000, [2], "collect at /x/itext2kg_spark/merge/resolve.py:319"),
    _task_end(2, 400, 300_000_000, recs=7),
    _job_end(1, 2500),
    _job_start(2, 2400, [3], "collect at /x/itext2kg_spark/merge/components.py:70"),
    _task_end(3, 100, 50_000_000, spill=3_000_000),
    _job_end(2, 3000),
    _job_start(3, 9000, [4], "count at /x/perfbench/checks.py:1"),
    _task_end(4, 999, 999),
    _job_end(3, 9100),
]


def test_parse_event_log_sums_task_metrics_per_job():
    jobs = eventlog.parse_event_log(LOG)
    assert [j.job_id for j in jobs] == [0, 1, 2, 3]
    j0 = jobs[0]
    assert (j0.start_ms, j0.end_ms) == (1000, 1600)
    assert j0.task_s == pytest.approx(0.5)
    assert j0.cpu_s == pytest.approx(0.3)
    assert j0.shuffle_bytes == 2_000_000 and j0.records_out == 50
    assert jobs[2].spill_bytes == 3_000_000


def test_callsite_layer():
    assert eventlog.callsite_layer("collect at /a/b/itext2kg_spark/merge/resolve.py:12") == "merge.resolve"
    assert eventlog.callsite_layer("collect at /a/itext2kg_spark/merge/components.py:67") == "merge.components"
    assert eventlog.callsite_layer("count at /a/itext2kg_spark/dedup/minhash.py:3") is None
    assert eventlog.callsite_layer("collect at /a/itext2kg_spark/merge/kg.py:227") is None
    assert eventlog.callsite_layer("") is None


def test_attribute_splits_span_by_callsite_and_takes_self_time():
    jobs = eventlog.parse_event_log(LOG)
    spans = [eventlog.Span("merge.kg", 900, 3100, rows_out=42)]
    per = eventlog.attribute(jobs, spans)
    # job 3 lies outside every span and is ignored
    assert set(per) == {"merge.kg", "merge.resolve", "merge.components"}
    kg, res, comp = per["merge.kg"], per["merge.resolve"], per["merge.components"]
    assert kg["jobs"] == 1 and kg["task_s"] == pytest.approx(0.5)
    assert kg["rows_out"] == 42 and kg["shuffle_mb"] == pytest.approx(2.0)
    # sub-layer jobs cover 2000..3000 (overlapping), so self = 2.2 s - 1.0 s
    assert kg["wall_s"] == pytest.approx(1.2)
    assert res["wall_s"] == pytest.approx(0.5) and res["rows_out"] == 7
    assert comp["wall_s"] == pytest.approx(0.6) and comp["spill_mb"] == pytest.approx(3.0)


def test_attribute_sums_repeated_spans_of_one_layer():
    jobs = eventlog.parse_event_log(LOG)
    spans = [eventlog.Span("sources.store", 950, 1700, rows_out=1),
             eventlog.Span("sources.store", 8000, 9500, rows_out=2)]
    per = eventlog.attribute(jobs, spans)
    assert per["sources.store"]["jobs"] == 2
    assert per["sources.store"]["rows_out"] == 3
    assert per["sources.store"]["wall_s"] == pytest.approx(0.75 + 1.5)


def test_nested_tracer_spans_become_disjoint_segments(monkeypatch):
    from perfbench import worker

    clock = iter([1.0, 2.0, 5.0, 7.0])
    monkeypatch.setattr(worker.time, "time", lambda: next(clock))
    tracer = worker.Tracer()
    with tracer.span("corpus") as outer:
        with tracer.span("dedup.minhash") as inner:
            inner.rows_out = 3
        outer.rows_out = 9
    segs = [(s.layer, s.start_ms, s.end_ms, s.rows_out) for s in tracer.spans]
    assert segs == [
        ("corpus", 1000, 2000, 0),
        ("dedup.minhash", 2000, 5000, 3),
        ("corpus", 5000, 7000, 9),
    ]


def test_job_without_call_site_stays_with_its_span():
    log = [
        json.dumps({"Event": "SparkListenerJobStart", "Job ID": 0,
                    "Submission Time": 100, "Stage IDs": [0],
                    "Properties": {"spark.sql.execution.id": "3"}},
                   separators=(",", ":")),
        _task_end(0, 250, 1_000_000),
        _job_end(0, 400),
    ]
    jobs = eventlog.parse_event_log(log)
    assert jobs[0].call_site == ""
    per = eventlog.attribute(jobs, [eventlog.Span("corpus", 0, 500)])
    assert set(per) == {"corpus"} and per["corpus"]["task_s"] == pytest.approx(0.25)
