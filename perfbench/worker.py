"""One benchmark run inside one Spark driver process.

Started by ``perfbench/run.py`` (which owns the temp root, the process
group and the printed result); writes its findings as JSON to ``--out``.

Run shape: start the session, generate every input batch from the seed, run
``SETUP_ROUNDS`` set-up rounds (each bootstraps a fresh store; they double as
JIT warm-up and the last one's store is measured), then commit batches for
``--seconds`` of wall time. The set-up-independent end-to-end metrics are
taken over the first ``MIN_BATCHES`` window batches, which every run
commits whatever the program's speed. With ``--trace 1`` one more batch
follows, run both untraced and span-traced from a copy of the same store.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import ExitStack, contextmanager
from unittest import mock

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import itext2kg_spark.corpus
import itext2kg_spark.dedup.clusters
import itext2kg_spark.dedup.minhash
from itext2kg_spark.config import MatchConfig, PipelineConfig
from itext2kg_spark.corpus import CorpusStore
from itext2kg_spark.extract.distill import distill_pages
from itext2kg_spark.extract.facts import split_atomic_facts
from itext2kg_spark.extract.quintuples import extract_quintuples_vectorized
from itext2kg_spark.merge.kg import canonicalize_kg
from itext2kg_spark.pipeline import KGPipeline, partition_lineage
from itext2kg_spark.session import get_spark
from itext2kg_spark.sources.store import KGStore
from perfbench import checks, eventlog, gen

SETUP_ROUNDS = 2
INPUT_FILES = 4  # parquet files per input batch
PAGES_ARROW = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
])
DOCS_ARROW = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
LAYERS = (
    "extract.distill", "extract.facts", "extract.quintuples",
    "merge.kg", "merge.resolve", "merge.candidates", "merge.components",
    "sources.store", "corpus", "corpus.survivors",
    "dedup.ngram", "dedup.minhash", "dedup.clusters",
)
E2E_METRICS = (
    "setup_s", "rows_per_s", "batch_s_p50", "write_amp", "driver_py_rss_peak_mb",
    "committed_share",
)
RATIO_METRICS = ("trace.coverage", "host.probe_s")


def host_probe() -> float:
    """Seconds for a fixed single-thread integer loop (host-drift probe)."""
    t = time.perf_counter()
    acc = 0
    for i in range(3_000_000):
        acc += i * i
    return time.perf_counter() - t


def cpu_ticks() -> tuple[int, int]:
    """Host-wide (steal, total) CPU ticks from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return ticks[7], sum(ticks[:8])


def tree_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def reset_peak_rss(pid: int) -> None:
    """Restart the kernel's resident-set high-water mark of a process."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def peak_rss_mb(pid: int) -> float:
    """The kernel's resident-set high-water mark of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Tracer:
    """Records spans that do not overlap: opening a span inside another
    closes the outer span's current segment, and closing it starts the
    outer span's next segment, so each moment belongs to the innermost
    open span."""

    def __init__(self):
        self.spans: list[eventlog.Span] = []
        self._open: list[eventlog.Span] = []

    @contextmanager
    def span(self, layer: str):
        now = time.time() * 1e3
        if self._open:
            outer = self._open[-1]
            self.spans.append(eventlog.Span(outer.layer, outer.start_ms, now))
        s = eventlog.Span(layer, now, 0.0)
        self._open.append(s)
        try:
            yield s
        finally:
            self._open.pop()
            s.end_ms = time.time() * 1e3
            self.spans.append(s)
            if self._open:
                self._open[-1].start_ms = s.end_ms

    def materialized(self, layer: str, fn):
        """`fn` called in a span of `layer` that forces its DataFrame result."""
        def call(*args, **kwargs):
            with self.span(layer) as s:
                out = fn(*args, **kwargs).localCheckpoint()
                s.rows_out = out.count()
            return out
        return call


class Workload:
    """Inputs, store and batch loop shared by both workloads."""

    WINDOW_BATCHES = 10  # pre-generated window batches (+1 for the traced batch)
    MIN_BATCHES = 3  # a window commits at least this many batches
    first_window = 0  # input index of the first window batch
    rows_per_batch = 0

    def __init__(self, spark, tmp: str, seed: int):
        self.spark = spark
        self.tmp = tmp
        self.seed = seed
        self.inputs = os.path.join(tmp, "inputs")
        self.store_root = None
        self.next_batch = self.first_window
        self.committed_inputs: list[int] = []

    def input_dir(self, key) -> str:
        return os.path.join(self.inputs, f"batch={key}")

    def write_input(self, key, rows: list, schema: pa.Schema) -> None:
        """One input batch as INPUT_FILES parquet files (written with
        pyarrow: inputs are made before, and apart from, the timed Spark
        work)."""
        table = pa.Table.from_pandas(pd.DataFrame(rows), schema=schema, preserve_index=False)
        d = self.input_dir(key)
        os.makedirs(d)
        step = -(-len(table) // INPUT_FILES)
        for i in range(INPUT_FILES):
            pq.write_table(table.slice(i * step, step), os.path.join(d, f"part-{i}.parquet"))

    def measure_window(self, seconds: float) -> tuple[list[tuple[float, int]], int]:
        """Commit the first MIN_BATCHES batches, then more while the next one
        is expected to end within `seconds`. Returns, per committed batch,
        its latency and the store's bytes after it, and the number of
        batches attempted."""
        done: list[tuple[float, int]] = []
        attempted = 0
        t0 = time.perf_counter()
        while self.next_batch < self.first_window + self.WINDOW_BATCHES and (
            attempted < self.MIN_BATCHES
            or done and time.perf_counter() - t0
            + statistics.median([lat for lat, _ in done]) <= seconds
        ):
            attempted += 1
            t = time.perf_counter()
            try:
                self.commit(self.next_batch)
            except Exception:  # noqa: BLE001 — a failed batch is counted, not fatal
                traceback.print_exc()
            else:
                done.append((time.perf_counter() - t, tree_bytes(self.store_root)))
                self.committed_inputs.append(self.next_batch)
            self.next_batch += 1
        return done, attempted


class KGHighcard(Workload):
    """Small page batches into a KGStore that already holds more distinct
    entities than the driver-resolve limit, so every batch resolves on the
    distributed resolve_items -> candidate_pairs -> connected_components
    path. The limit is lowered to DRIVER_LIMIT through the public
    MatchConfig.driver_matrix_bytes so the store crosses it at benchmark
    scale; the default limit is 32,768 items."""

    BULK_PAGES = 300
    BATCH_PAGES = 100
    DRIVER_LIMIT = 1024
    rows_per_batch = BATCH_PAGES

    def __init__(self, spark, tmp, seed):
        super().__init__(spark, tmp, seed)
        cfg = PipelineConfig(
            match=MatchConfig(driver_matrix_bytes=self.DRIVER_LIMIT**2 * 8)
        )
        self.pipe = KGPipeline(cfg)
        self.facts: dict = {}

    def generate(self) -> None:
        rows, self.facts["bulk"] = gen.highcard_pages(0, self.BULK_PAGES, self.seed)
        self.write_input("bulk", rows, PAGES_ARROW)
        first = self.BULK_PAGES
        for b in range(self.WINDOW_BATCHES + 1):
            rows, self.facts[b] = gen.highcard_pages(first, self.BATCH_PAGES, self.seed)
            self.write_input(b, rows, PAGES_ARROW)
            first += self.BATCH_PAGES

    def pages(self, key):
        return self.spark.read.parquet(self.input_dir(key))

    def setup_round(self, r: int) -> float:
        self.store_root = os.path.join(self.tmp, f"store{r}")
        self.store = KGStore(self.store_root)
        t = time.perf_counter()
        self.pipe.run_batch(self.pages("bulk"), self.store)
        return time.perf_counter() - t

    def commit(self, b: int) -> None:
        self.pipe.run_batch(self.pages(b), self.store)

    def snapshot_hash(self, store: KGStore, batch_id: int) -> str:
        ents, edges = store.load(self.spark, batch_id)
        return checks.combine_hashes(checks.table_hash(ents), checks.table_hash(edges))

    def check(self) -> tuple[list[str], str]:
        committed = self.store.committed_batches()
        ents, edges = self.store.load(self.spark)
        expected = self.facts["bulk"] + sum(self.facts[b] for b in self.committed_inputs)
        problems = checks.check_kg(checks.kg_summary(ents, edges), expected, committed)
        # batch ids: 0 = bulk, 1.. = window; the hash covers a prefix every
        # run of the seed commits, whatever the window length
        return problems, self.snapshot_hash(self.store, self.MIN_BATCHES)

    def trace(self, tracer: Tracer) -> tuple[float, dict, list[str]]:
        b = self.next_batch
        copy_root = os.path.join(self.tmp, "store_traced")
        shutil.copytree(self.store_root, copy_root)
        traced = KGStore(copy_root)
        pages = self.pages(b)

        t = time.perf_counter()
        plain_id = self.pipe.run_batch(pages, self.store)
        untraced_s = time.perf_counter() - t

        spark, cfg = self.spark, self.pipe.cfg
        n_prev = traced.load(spark)[0].count()
        with tracer.span("sources.store"):
            ents_prev, edges_prev = traced.load(spark)
        with tracer.span("extract.distill") as s:
            d = distill_pages(pages).localCheckpoint()
            s.rows_out = d.count()
        with tracer.span("extract.facts") as s:
            f = split_atomic_facts(d).localCheckpoint()
            s.rows_out = f.count()
        with tracer.span("extract.quintuples") as s:
            q = extract_quintuples_vectorized(f).localCheckpoint()
            s.rows_out = n_q = q.count()
        with tracer.span("merge.kg") as s:
            ents, edges = canonicalize_kg(
                q, cfg, self.pipe.embedder, existing_entities=ents_prev,
                existing_edges=edges_prev, existing_edges_merge="union",
            )
            ents, edges = ents.localCheckpoint(), edges.localCheckpoint()
            n_ents = ents.count()
            s.rows_out = n_ents + edges.count()
        with tracer.span("sources.store") as s:
            batch_id = traced.next_batch_id()
            traced.write_snapshot(
                batch_id, ents, edges, metrics={"n_pages": pages.count()},
                lineage=partition_lineage(pages).withColumn("batch_id", F.lit(batch_id)),
            )
            s.rows_out = n_ents + edges.count()
        problems = []
        if self.snapshot_hash(traced, batch_id) != self.snapshot_hash(self.store, plain_id):
            problems.append("traced batch output differs from the untraced run_batch")
        diagnostics = {"merge.kg.entities_per_mention": (n_ents - n_prev) / max(1, 2 * n_q)}
        return untraced_s, diagnostics, problems


class CorpusIncremental(Workload):
    """Document batches with exact and near copies of earlier documents
    into a CorpusStore with near-dup dedup at Jaccard 0.8."""

    BATCH_DOCS = 700
    BOOT_BATCHES = 1
    MIN_BATCHES = 4  # ~6 s batches on 4 cores: a run still ends within ~55 s
    THRESHOLD = 0.8
    first_window = BOOT_BATCHES
    rows_per_batch = BATCH_DOCS

    def generate(self) -> None:
        batches = gen.corpus_docs(
            self.BOOT_BATCHES + self.WINDOW_BATCHES + 1, self.BATCH_DOCS, self.seed
        )
        for b, batch in enumerate(batches):
            rows = [{"doc_id": i, "text": t} for i, t in batch]
            self.write_input(b, rows, DOCS_ARROW)

    def docs(self, b: int):
        return self.spark.read.parquet(self.input_dir(b))

    def setup_round(self, r: int) -> float:
        self.store_root = os.path.join(self.tmp, f"store{r}")
        self.store = CorpusStore(self.store_root)
        t = time.perf_counter()
        for b in range(self.BOOT_BATCHES):
            self.commit(b)
        return time.perf_counter() - t

    def commit(self, b: int, store=None):
        return (store or self.store).run_batch_with_id(
            self.docs(b), batch_id=b, near_dup_threshold=self.THRESHOLD
        )

    def survivors_hash(self, store: CorpusStore, through: int) -> str:
        parts = [checks.table_hash(store.load_delta(self.spark, b)) for b in range(through + 1)]
        return checks.combine_hashes(*parts)

    def check(self) -> tuple[list[str], str]:
        committed = self.store.committed_batches()
        inputs = self.spark.read.parquet(*[self.input_dir(b) for b in committed])
        summary = checks.corpus_summary(self.store.load_survivors(self.spark), inputs)
        problems = checks.check_corpus(summary, committed)
        return problems, self.survivors_hash(
            self.store, self.BOOT_BATCHES + self.MIN_BATCHES - 1
        )

    def trace(self, tracer: Tracer) -> tuple[float, dict, list[str]]:
        b = self.next_batch
        copy_root = os.path.join(self.tmp, "store_traced")
        shutil.copytree(self.store_root, copy_root)
        traced = CorpusStore(copy_root)

        t = time.perf_counter()
        self.commit(b)
        untraced_s = time.perf_counter() - t

        # the store's batch calls these public functions by module
        # attribute; each runs in its own span and is forced there
        hooks = (
            (itext2kg_spark.corpus, "incremental_survivors", "corpus.survivors"),
            (itext2kg_spark.corpus, "near_dup_clusters", "dedup.clusters"),
            (itext2kg_spark.dedup.clusters, "minhash_lsh_pairs", "dedup.minhash"),
            (itext2kg_spark.dedup.minhash, "word_ngrams", "dedup.ngram"),
        )
        with ExitStack() as patches:
            for module, name, layer in hooks:
                fn = tracer.materialized(layer, getattr(module, name))
                patches.enter_context(mock.patch.object(module, name, fn))
            with tracer.span("corpus") as s:
                _, delta = self.commit(b, traced)
                s.rows_out = kept = delta.count()
        problems = []
        if self.survivors_hash(traced, b) != self.survivors_hash(self.store, b):
            problems.append("traced batch output differs from the untraced batch")
        diagnostics = {"corpus.kept_share": kept / self.BATCH_DOCS}
        return untraced_s, diagnostics, problems


WORKLOADS = {"kg_highcard": KGHighcard, "corpus_incremental": CorpusIncremental}


def lsq_growth(lat: list[float]) -> float:
    """Latency at the last batch over latency at the first, both read from
    the least-squares line through all measured batches."""
    n = len(lat)
    xm, ym = (n - 1) / 2, statistics.fmean(lat)
    sxx = sum((i - xm) ** 2 for i in range(n))
    slope = sum((i - xm) * (y - ym) for i, y in enumerate(lat)) / sxx
    first = ym - slope * xm
    return (first + slope * (n - 1)) / first


def start_spark(tmp: str, nproc: int, trace: bool):
    local = os.path.join(tmp, "local")
    conf = {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
    }
    if trace:
        logdir = os.path.join(tmp, "eventlog")
        os.makedirs(logdir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + logdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", cores=nproc, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def run(args) -> dict:
    nproc = len(os.sched_getaffinity(0))
    probe_start = host_probe()
    t0 = time.perf_counter()
    spark = start_spark(args.tmp, nproc, args.trace)
    session_s = time.perf_counter() - t0
    jvm_pid = spark.sparkContext._gateway.proc.pid
    wl = WORKLOADS[args.workload](spark, args.tmp, args.seed)
    t = time.perf_counter()
    wl.generate()
    gen_s = time.perf_counter() - t
    # memory is the program's from here on, not the input generator's
    for pid in (os.getpid(), jvm_pid):
        reset_peak_rss(pid)
    rounds = [wl.setup_round(r) for r in range(SETUP_ROUNDS)]
    bytes_before = tree_bytes(wl.store_root)
    steal0, total0 = cpu_ticks()
    done, attempted = wl.measure_window(args.seconds)
    steal1, total1 = cpu_ticks()
    lat = [t for t, _ in done]
    # a faster program fits more batches into --seconds, on a larger store;
    # the metrics cover only the batches every run commits
    fixed = done[:wl.MIN_BATCHES]
    fixed_lat = [t for t, _ in fixed]
    written = fixed[-1][1] - bytes_before
    input_bytes = sum(tree_bytes(wl.input_dir(b)) for b in wl.committed_inputs[:len(fixed)])
    t = time.perf_counter()
    problems, output_hash = wl.check()
    check_s = time.perf_counter() - t
    rss_mb = {"python": peak_rss_mb(os.getpid()), "jvm": peak_rss_mb(jvm_pid)}
    result = {
        "nproc": nproc,
        "session_s": session_s,
        "gen_s": gen_s,
        "setup_rounds_s": rounds,
        "check_s": check_s,
        "peak_rss_mb": rss_mb,
        "batch_s": lat,
        "batch_growth": lsq_growth(lat),
        # share of CPU time the hypervisor gave to others during the window
        "steal_share": (steal1 - steal0) / max(1, total1 - total0),
        "attempted": attempted,
        "failed": attempted - len(lat),
        "output_hash": output_hash,
        "problems": problems,
        "e2e": dict(zip(E2E_METRICS, (
            session_s + gen_s + statistics.median(rounds),
            wl.rows_per_batch * len(fixed_lat) / sum(fixed_lat),
            statistics.median(fixed_lat),
            written / input_bytes,
            rss_mb["python"],
            len(lat) / attempted,
        ), strict=True)),
    }
    if args.trace:
        tracer = Tracer()
        untraced_s, diagnostics, trace_problems = wl.trace(tracer)
        problems.extend(trace_problems)
    stop_spark(spark)
    probe_end = host_probe()
    result["probe_s"] = [probe_start, probe_end]
    if args.trace:
        jobs = []
        logdir = os.path.join(args.tmp, "eventlog")
        for name in sorted(os.listdir(logdir)):
            with open(os.path.join(logdir, name)) as f:
                jobs += eventlog.parse_event_log(f)
        if not jobs:
            raise RuntimeError(f"no Spark jobs in the event log under {logdir}")
        per = eventlog.attribute(jobs, tracer.spans)
        layers = {}
        for layer in LAYERS:
            vals = per.get(layer, {})
            for m in eventlog.LAYER_METRICS:
                layers[f"{layer}.{m}"] = vals.get(m, 0.0)
            diagnostics[f"{layer}.rows_out"] = vals.get("rows_out", 0.0)
        traced_s = sum((s.end_ms - s.start_ms) / 1e3 for s in tracer.spans)
        layers["trace.coverage"] = traced_s / untraced_s
        layers["host.probe_s"] = statistics.fmean(result["probe_s"])
        result["layers"] = layers
        # how much data each layer produced: a move either way is a change
        # of behaviour, not of speed, so these are not metrics
        result["diagnostics"] = diagnostics
    return result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tmp", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    try:
        result = run(args)
    except Exception:  # noqa: BLE001 — report, run.py turns it into a failed run
        traceback.print_exc()
        return 1
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
