"""The wire_pubsub server process: a WalrusLog behind a CommandServer.

Started by ``workload_wire.py``; not meant to be run by hand. It builds
the server from the program's public pieces (``get_spark``,
``WalrusLog``, ``CommandServer``), seeds the log with a history of small
committed batches that are already consumed, and prints one
``READY <json>`` line with the port and its set-up times. It then serves
until a line arrives on stdin, shuts down, and writes its results (log
metrics, spans, peak memory) as JSON to ``--out``.

With ``--trace 1`` it wraps the log's and the command shell's bound
methods in spans (see ``harness.Tracer``).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402


def seed_history(log, topics: list[str], n_batches: int, seed: int) -> None:
    """``n_batches`` small commits (1-3 entries each) spread over the
    topics, all of them consumed: a log that has been in use, with
    nothing left to deliver."""
    rng = random.Random(seed)
    for i in range(n_batches):
        topic = rng.choice(topics)
        n = rng.randint(1, 3)
        log.multi_append(
            {topic: [f"history {i}.{j} ".encode() + b"h" * rng.randint(16, 200)
                     for j in range(n)]}
        )
    # consumed the way a wire consumer does it (peek, then move the
    # cursor), which also warms the read path before the run
    for t in topics:
        log.peek_range(t, 0)
        log.commit_cursor(t, log.high_watermark(t))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--topics", type=int, required=True)
    ap.add_argument("--history", type=int, required=True)
    ap.add_argument("--setups", type=int, required=True)
    ap.add_argument("--trace", type=int, required=True)
    a = ap.parse_args()

    from walrus_spark.log import CommandServer, WalrusLog

    rss = harness.PeakRss(os.getpid())
    spark, session_s = harness.start_spark("perfbench-wire")
    topics = [f"t{i}" for i in range(a.topics)]

    # the log set-up is repeated and its median reported; the last log
    # built is the one served
    data_s = []
    log = None
    for k in range(a.setups):
        if log is not None:
            log.close()
            shutil.rmtree(log.root)
        t0 = time.perf_counter()
        log = WalrusLog(spark, os.path.join(a.root, f"log{k}"))
        seed_history(log, topics, a.history, a.seed)
        data_s.append(time.perf_counter() - t0)

    tracer = harness.Tracer(a.trace == 1)
    server = CommandServer(log)
    tracer.wrap(log, "multi_append", "wal.append",
                lambda args, res: sum(len(v) for v in args[0].values()))
    tracer.wrap(log, "peek_range", "wal.peek",
                lambda args, res: len(res) if res is not None else None)
    tracer.wrap(log, "flush_cursor_covering", "wal.cursor_flush")
    tracer.wrap(server.shell, "execute", "wire.exec",
                lambda args, res: [args[0].split(" ", 1)[0],
                                   (res or "ERR").split(" ", 1)[0]])
    for t in topics:
        reply = server.shell.execute(f"REGISTER {t}")
        if reply != "OK":
            raise RuntimeError(f"REGISTER {t}: {reply}")
    host, port = server.start_background()
    t_ready = time.perf_counter()
    print("READY " + json.dumps({
        "host": host, "port": port, "session_s": session_s,
        "data_s": data_s,
    }), flush=True)

    sys.stdin.readline()
    server.shutdown()
    server.server_close()
    m = log.metrics()
    log.close()
    harness.stop_spark(spark)
    out = {
        "peak_rss_mb": rss.stop(),
        "peak_rss_by_process_mb": rss.at_peak,
        "committed_batches": m["committed_batches"],
        "fsync_count": m["fsync_count"],
        "read_relists": m["read_relists"],
        "ingest_pinned_retries": m["ingest_pinned_retries"],
        "t_ready": t_ready,
        "self_time_s": tracer.self_time_s(),
        "spans": [list(s) for s in tracer.spans],
    }
    with open(a.out, "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main()
