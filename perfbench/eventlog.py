"""Per-layer attribution of Spark jobs from Spark's JSON event log.

The benchmark records *spans* (layer name, wall interval) around its own
calls into the program's public functions. Spans do not overlap: a span
opened inside another one cuts the outer span into segments. A job belongs
to the span whose interval contains the job's submission time; job groups
are not used, because ``canonicalize_kg`` submits jobs from its own threads.

Inside a span, jobs are split further by the program file that Spark
records as the job's call site (``collect at .../merge/resolve.py:319``).
The call site names the *action* that triggered a job, not the operator that
did the work: a lazy plan built in one module and collected in another is
charged to the collecting module.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

# call-site file (path suffix) -> sub-layer; checked inside every span
CALLSITE_LAYERS = {
    "itext2kg_spark/merge/resolve.py": "merge.resolve",
    "itext2kg_spark/merge/candidates.py": "merge.candidates",
    "itext2kg_spark/merge/components.py": "merge.components",
}

# per-layer speed and volume metrics; rows_out is reported beside them
LAYER_METRICS = ("wall_s", "task_s", "cpu_s", "jobs", "shuffle_mb", "spill_mb")

_CALLSITE_FILE = re.compile(r" at (\S+?\.py):\d+")


@dataclass
class Job:
    job_id: int
    start_ms: int
    end_ms: int = 0
    call_site: str = ""
    stage_ids: tuple[int, ...] = ()
    task_s: float = 0.0
    cpu_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    records_out: int = 0


@dataclass
class Span:
    layer: str
    start_ms: float
    end_ms: float
    rows_out: int = 0


@dataclass
class LayerTotals:
    wall_s: float = 0.0
    task_s: float = 0.0
    cpu_s: float = 0.0
    jobs: int = 0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0
    rows_out: int = 0
    intervals: list[tuple[int, int]] = field(default_factory=list)

    def add_job(self, job: Job) -> None:
        self.task_s += job.task_s
        self.cpu_s += job.cpu_s
        self.jobs += 1
        self.shuffle_mb += job.shuffle_bytes / 1e6
        self.spill_mb += job.spill_bytes / 1e6
        self.intervals.append((job.start_ms, job.end_ms))

    def as_dict(self) -> dict[str, float]:
        return {m: float(getattr(self, m)) for m in (*LAYER_METRICS, "rows_out")}


def parse_event_log(lines) -> list[Job]:
    """Jobs with their call site and the summed metrics of their tasks."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        if not line.startswith('{"Event":"SparkListener'):
            continue
        if line.startswith('{"Event":"SparkListenerJobStart"'):
            ev = json.loads(line)
            job = Job(
                job_id=ev["Job ID"],
                start_ms=ev["Submission Time"],
                stage_ids=tuple(ev.get("Stage IDs", ())),
            )
            # jobs of plans that no program file collects (a parquet
            # write or localCheckpoint called through Py4J, their AQE
            # stages) carry no call site and stay with their span
            job.call_site = (ev.get("Properties") or {}).get("callSite.short", "")
            jobs[job.job_id] = job
            for sid in job.stage_ids:
                stage_job.setdefault(sid, job.job_id)
        elif line.startswith('{"Event":"SparkListenerJobEnd"'):
            ev = json.loads(line)
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
        elif line.startswith('{"Event":"SparkListenerTaskEnd"'):
            ev = json.loads(line)
            job = jobs.get(stage_job.get(ev["Stage ID"], -1))
            tm = ev.get("Task Metrics")
            if job is None or not tm:
                continue
            job.task_s += tm.get("Executor Run Time", 0) / 1e3
            job.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
            sw = tm.get("Shuffle Write Metrics") or {}
            out = tm.get("Output Metrics") or {}
            job.shuffle_bytes += sw.get("Shuffle Bytes Written", 0)
            job.spill_bytes += tm.get("Disk Bytes Spilled", 0)
            job.records_out += sw.get("Shuffle Records Written", 0) + out.get(
                "Records Written", 0
            )
    return sorted(jobs.values(), key=lambda j: j.job_id)


def callsite_layer(call_site: str) -> str | None:
    m = _CALLSITE_FILE.search(call_site)
    if not m:
        return None
    path = m.group(1).replace("\\", "/")
    for suffix, layer in CALLSITE_LAYERS.items():
        if path.endswith(suffix):
            return layer
    return None


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1e3


def attribute(jobs: list[Job], spans: list[Span]) -> dict[str, dict[str, float]]:
    """Per-layer totals. A span layer's wall time is its *self* time: the
    span's duration minus the wall time its call-site sub-layer jobs cover.
    Sub-layer rows_out counts records their jobs wrote to shuffle or
    storage; span rows_out is the row count the caller measured."""
    layers: dict[str, LayerTotals] = {}
    for span in spans:
        own = layers.setdefault(span.layer, LayerTotals())
        own.rows_out += span.rows_out
        inside = [j for j in jobs if span.start_ms <= j.start_ms < span.end_ms]
        covered: list[tuple[int, int]] = []
        for job in inside:
            sub = callsite_layer(job.call_site)
            if sub is None:
                own.add_job(job)
                continue
            tot = layers.setdefault(sub, LayerTotals())
            tot.add_job(job)
            tot.rows_out += job.records_out
            covered.append((job.start_ms, job.end_ms))
        own.wall_s += max(
            0.0, (span.end_ms - span.start_ms) / 1e3 - _union_s(covered)
        )
    for name, tot in layers.items():
        if name in CALLSITE_LAYERS.values():
            tot.wall_s = _union_s(tot.intervals)
    return {name: tot.as_dict() for name, tot in layers.items()}
