"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Each run gets a fresh temp root under
``.perfbench_tmp/`` (inputs, stores, Spark local dirs, event log, TMPDIR),
runs ``perfbench.worker`` in its own process group, stops every process of
that group, deletes the temp root and prints, as its last stdout line, one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it is the run's artifact (nproc, host probe,
per-batch latencies, output hash, free disk), also written to
``.perfbench_out/``. Exits non-zero, printing no result, when the run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TIMEOUT_S = 170


def _definition() -> tuple[list[str], dict[str, str]]:
    """Workload names and metric units, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    return [w["name"] for w in bench["workloads"]], units


def _group_pids(pgid: int) -> list[int]:
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # fields after the parenthesised command name: state ppid pgrp ...
        fields = stat.rsplit(")", 1)[1].split()
        if int(fields[2]) == pgid:
            pids.append(int(entry))
    return pids


def _stop_group(pgid: int) -> None:
    """Terminate every process left in the group and wait until none is."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not _group_pids(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + grace
        while _group_pids(pgid) and time.monotonic() < deadline:
            time.sleep(0.1)


def main(argv=None) -> int:
    workloads, units = _definition()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "itext2kg_spark", "__init__.py")):
        print("perfbench: itext2kg_spark/ not found next to perfbench/", file=sys.stderr)
        return 2

    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{tag}-{os.getpid()}")
    os.makedirs(os.path.join(tmp, "tmp"))
    os.makedirs(os.path.join(tmp, "local"))
    out = os.path.join(tmp, "result.json")
    log = os.path.join(tmp, "worker.log")
    env = dict(
        os.environ,
        PYTHONPATH=ROOT,
        TMPDIR=os.path.join(tmp, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(tmp, "local"),
        # every JVM (launcher and driver) keeps its temp files in the run's
        # root; no hsperfdata file under the system /tmp
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(tmp, 'tmp')}",
    )
    cmd = [
        sys.executable, "-m", "perfbench.worker",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--tmp", tmp, "--out", out,
    ]
    result = None
    try:
        with open(log, "w") as logf:
            proc = subprocess.Popen(
                cmd, cwd=ROOT, env=env, stdout=logf, stderr=subprocess.STDOUT,
                start_new_session=True,
            )
            try:
                rc = proc.wait(timeout=TIMEOUT_S)
            except subprocess.TimeoutExpired:
                rc = None
            finally:
                _stop_group(proc.pid)
                proc.wait()
        if rc == 0 and os.path.exists(out):
            with open(out) as f:
                result = json.load(f)
        else:
            with open(log, errors="replace") as f:
                tail = f.readlines()[-40:]
            status = "timed out" if rc is None else f"exited {rc}"
            print(f"perfbench: worker {status}; log tail:", file=sys.stderr)
            sys.stderr.writelines(tail)
        free_mb = shutil.disk_usage(tmp).free / 2**20
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if result is None:
        return 1

    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "free_disk_after_mb": free_mb,
        **{k: v for k, v in result.items() if k not in ("e2e", "layers")},
    }
    values = result["layers"] if args.trace else result["e2e"]
    metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
    artifact["metrics"] = metrics
    os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
    with open(os.path.join(ROOT, ".perfbench_out", f"{tag}.json"), "w") as f:
        json.dump(artifact, f, indent=1)
    correct = not result["problems"] and result["failed"] == 0
    for p in result["problems"]:
        print(f"perfbench: CHECK FAILED: {p}", file=sys.stderr)
    print(json.dumps(artifact))
    print(json.dumps({
        "correct": correct,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
