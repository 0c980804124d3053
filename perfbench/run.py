#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload wire_pubsub --seed 1 --seconds 10 --trace 0

Runs one workload from the root of a checkout, checks its outputs and
prints two JSON lines: a full report (every metric with its sample count
and percentile, the environment stamp, failures by kind), then, as the
last line, the summary ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones. Everything the run writes stays under ``.perfbench/`` in
the checkout; its scratch directory is removed when it ends. See
``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "p50_ms": "ms",
    "work_s": "s",
}
PER_LAYER = {
    "setup.session_s": "s",
    "setup.data_s": "s",
    "wal.committed_batches": "count",
    "wal.peek_calls": "count",
    "wal.entries_per_peek": "entries",
    "wal.append_calls": "count",
    "wal.entries_per_commit": "entries",
    "wal.cursor_flush_calls": "count",
    "wal.ingest_calls": "count",
    "wal.ingest_pinned_retries": "count",
    "wal.read_relists": "count",
    "wal.fsync_count": "count",
    "wire.get_empty_ratio": "ratio",
    "stream.batches": "count",
    "stream.window.state_rows": "count",
    "q.jobs": "count",
    "q.tasks": "count",
}
WORKLOADS = ("wire_pubsub", "log_stream", "curation_batch")


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the machine since boot: the share of
    time the hypervisor gave this machine's CPUs to someone else."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


class Context:
    def __init__(self, a, work: str) -> None:
        self.workload = a.workload
        self.seed = a.seed
        self.seconds = a.seconds
        self.trace = a.trace
        self.smoke = a.smoke
        self.work = work


def _environment(work: str) -> None:
    """Keep every file Spark and the program write inside ``work``:
    the program's build-once artifacts go under the temp dir, Spark's
    shuffle and block files under its local dirs."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    # the JVM's own temp files and perf-data file, too; the serial
    # collector grows the heap by occupancy alone, where G1 follows
    # pause-time goals and the JVM's resident memory drifts run to run
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -XX:+UseSerialGC -Djava.io.tmpdir={tmp}")
    # Spark's Python workers import the program from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [ROOT, HERE]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="minimal sizes: checks correctness, times nothing useful")
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "walrus_spark", "__init__.py")):
        print(f"no walrus_spark package under {ROOT}: run from a checkout",
              file=sys.stderr)
        return 2

    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{os.getpid()}")
    os.makedirs(work)
    try:
        _environment(work)
        ctx = Context(a, work)
        load_start = os.getloadavg()[0]
        steal_start = _cpu_ticks()
        t0 = time.perf_counter()
        if a.workload == "wire_pubsub":
            import workload_wire as wl
        elif a.workload == "log_stream":
            import workload_stream as wl
        else:
            import workload_curation as wl
        res = wl.run(ctx)
        wall = time.perf_counter() - t0
        load_end = os.getloadavg()[0]
        steal_end = _cpu_ticks()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    detail = res["detail"]
    detail["environment"] = {
        "seed": a.seed, "seconds": a.seconds, "nproc": os.cpu_count(),
        "load1_start": load_start, "load1_end": load_end, "wall_s": wall,
        "steal_pct": 100 * (steal_end[0] - steal_start[0])
        / max(1, steal_end[1] - steal_start[1]),
        "gen_late_ms": detail.pop("gen_late_ms", None),
    }
    last_path = os.path.join(out_dir, f"last-{a.workload}.json")
    if a.trace:
        layers = res["layers"]
        detail["spans"] = len(res.get("spans", []))
        metrics = {k: {"value": float(layers.get(k, 0)), "unit": u}
                   for k, u in PER_LAYER.items()}
        with open(os.path.join(out_dir, f"spans-{name}.jsonl"), "w") as f:
            for s in res.get("spans", []):
                f.write(json.dumps(s) + "\n")
        # tracing overhead: this traced run against the last untraced
        # run of the same workload in this checkout
        if os.path.isfile(last_path):
            with open(last_path) as f:
                base = json.load(f)
            detail["tracing_overhead"] = {
                k: v - base[k] for k, v in res["end_to_end"].items() if k in base
            }
        detail["end_to_end_traced"] = res["end_to_end"]
    else:
        metrics = {k: {"value": float(res["end_to_end"][k]), "unit": u}
                   for k, u in END_TO_END.items()}
        with open(last_path, "w") as f:
            json.dump(res["end_to_end"], f)
    report = {"workload": a.workload, "trace": a.trace,
              "end_to_end": res["end_to_end"], "layers": res["layers"],
              "detail": detail}
    with open(os.path.join(out_dir, f"report-{name}.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
