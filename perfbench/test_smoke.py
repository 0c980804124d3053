"""Smoke test of the benchmark at minimal size.

Runs every workload once with ``--smoke`` (tiny inputs, one set-up, the
full correctness check), all three at the same time, and asserts that
each printed a correct result with every end-to-end metric.

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import END_TO_END, WORKLOADS  # noqa: E402


def test_every_workload_is_correct_at_minimal_size():
    procs = {
        w: subprocess.Popen(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
             "--seed", "7", "--seconds", "1", "--trace", "0", "--smoke"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
            text=True,
        )
        for w in WORKLOADS
    }
    for w, p in procs.items():
        out, _ = p.communicate(timeout=170)
        assert p.returncode == 0, w
        last = json.loads(out.strip().splitlines()[-1])
        assert last["correct"], (w, out)
        assert last["failed"] == 0 and last["attempted"] >= 1, w
        assert set(last["metrics"]) == set(END_TO_END), w
