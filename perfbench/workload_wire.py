"""wire_pubsub: live publish/subscribe over the wire protocol.

The server (``wire_server.py``) runs in its own process. This process is
the load generator:

- producers: an open loop at ``RATE`` PUT/s in total, spread round-robin
  over the producer connections; every PUT is timed from the moment it
  was due, so a stalled connection makes the PUTs queued behind it late;
- consumers: closed loops, one per connection, each owning a fixed share
  of the topics (as in a consumer group) and visiting them in turn, so
  per-topic order can be checked from one connection's reply sequence.

Each payload carries its sequence number, its producer and the time it
was due; delivery latency runs from that time to the GET reply. After
the last PUT the consumers drain until every acknowledged entry has been
delivered or ``DRAIN_DEADLINE_S`` passes.
"""

from __future__ import annotations

import bisect
import json
import os
import random
import subprocess
import sys
import threading
import time

import harness
from walrus_spark.log import CommandClient

RATE = 10.0  # PUT/s offered, all producers together
TOPICS = 4
HISTORY = 50  # committed, already-consumed batches the log starts with
SETUPS = 3
VISIT_S = 0.1  # how long a consumer keeps reading one topic per visit
DRAIN_DEADLINE_S = 60.0
SOCKET_TIMEOUT_S = 120.0

SMOKE = {"rate": 10.0, "history": 5, "setups": 1}


def _connect(host: str, port: int) -> CommandClient:
    c = CommandClient(host, port)
    c.sock.settimeout(SOCKET_TIMEOUT_S)
    return c


def _start_server(ctx, history: int, setups: int) -> tuple[subprocess.Popen, dict]:
    here = os.path.dirname(os.path.abspath(__file__))
    log_path = os.path.join(ctx.work, "server.log")
    with open(log_path, "w") as err:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(here, "wire_server.py"),
             "--root", os.path.join(ctx.work, "wal"),
             "--out", os.path.join(ctx.work, "server.json"),
             "--seed", str(ctx.seed), "--topics", str(TOPICS),
             "--history", str(history), "--setups", str(setups),
             "--trace", str(ctx.trace)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=err,
            text=True, cwd=ctx.work,
        )
    line = proc.stdout.readline()
    if not line.startswith("READY "):
        proc.kill()
        proc.wait()
        with open(log_path) as f:
            tail = f.read()[-2000:]
        raise RuntimeError(f"wire server did not start:\n{tail}")
    return proc, json.loads(line[len("READY "):])


def _stop_server(ctx, proc: subprocess.Popen) -> dict:
    proc.stdin.write("STOP\n")
    proc.stdin.close()
    if proc.wait(timeout=120) != 0:
        raise RuntimeError(f"wire server exited with {proc.returncode}")
    with open(os.path.join(ctx.work, "server.json")) as f:
        return json.load(f)


def run(ctx) -> dict:
    rate = SMOKE["rate"] if ctx.smoke else RATE
    history = SMOKE["history"] if ctx.smoke else HISTORY
    setups = SMOKE["setups"] if ctx.smoke else SETUPS
    conns = max(2, min(4, os.cpu_count() or 2))
    n_prod = conns // 2
    n_cons = conns - n_prod
    topics = [f"t{i}" for i in range(TOPICS)]
    rng = random.Random(ctx.seed)
    n_put = max(1, round(rate * ctx.seconds))
    plan = [(i, i / rate, rng.choice(topics), rng.randint(16, 200))
            for i in range(n_put)]

    proc, ready = _start_server(ctx, history, setups)
    try:
        host, port = ready["host"], ready["port"]
        puts: list[list[tuple]] = [[] for _ in range(n_prod)]
        gets: list[list[tuple]] = [[] for _ in range(n_cons)]
        counters = {"get": 0, "ok": 0, "empty": 0, "get_err": 0}
        lock = threading.Lock()
        producers_done = threading.Event()
        drain = {"target": None, "deadline": None}
        t0 = time.perf_counter() + 0.2

        def producer(k: int) -> None:
            c = _connect(host, port)
            prev_reply = t0
            try:
                for i, due, topic, size in plan[k::n_prod]:
                    due_abs = t0 + due
                    now = time.perf_counter()
                    if now < due_abs:
                        time.sleep(due_abs - now)
                    sent = time.perf_counter()
                    late = sent - max(due_abs, prev_reply)
                    payload = f"{i} {k} {due_abs:.6f} " + "p" * size
                    try:
                        reply = c.send(f"PUT {topic} {payload}")
                    except OSError as e:  # timeout or broken connection
                        reply = f"ERR {type(e).__name__}"
                        c.close()
                        c = _connect(host, port)
                    prev_reply = time.perf_counter()
                    puts[k].append((i, topic, due_abs, sent, prev_reply,
                                    late, reply))
            finally:
                c.close()

        def consumer(k: int) -> None:
            owned = topics[k::n_cons]
            c = _connect(host, port)
            got = gets[k]
            try:
                while True:
                    # a visit reads a topic until EMPTY or until VISIT_S
                    # has passed: entries the server already holds are
                    # taken at once, and a GET that waited for a refill
                    # ends the visit, so no topic starves another
                    for t in owned:
                        visit = time.perf_counter()
                        while True:
                            try:
                                reply = c.send(f"GET {t}")
                            except OSError:
                                reply = "ERR timeout"
                                c.close()
                                c = _connect(host, port)
                            now = time.perf_counter()
                            if reply.startswith("OK "):
                                try:
                                    i, prod, created = reply[3:].split(" ", 3)[:3]
                                    got.append((t, int(i), int(prod), now,
                                                now - float(created)))
                                except ValueError:  # not one of ours
                                    got.append((t, -1, -1, now, 0.0))
                                kind = "ok"
                            else:
                                kind = "empty" if reply == "EMPTY" else "get_err"
                            with lock:
                                counters["get"] += 1
                                counters[kind] += 1
                            if kind != "ok" or now - visit > VISIT_S:
                                break
                    if producers_done.is_set():
                        target = drain["target"][k]
                        if len(got) >= target or time.perf_counter() > drain["deadline"]:
                            return
            finally:
                c.close()

        threads = [threading.Thread(target=producer, args=(k,))
                   for k in range(n_prod)]
        cthreads = [threading.Thread(target=consumer, args=(k,))
                    for k in range(n_cons)]
        for t in threads + cthreads:
            t.start()
        for t in threads:
            t.join()
        last_put = max(r[4] for p in puts for r in p)
        owner = {t: j % n_cons for j, t in enumerate(topics)}
        target = [0] * n_cons
        for p in puts:
            for r in p:
                if r[6] == "OK":
                    target[owner[r[1]]] += 1
        drain["target"] = target
        drain["deadline"] = last_put + DRAIN_DEADLINE_S
        producers_done.set()
        for t in cthreads:
            t.join()
    finally:
        server = _stop_server(ctx, proc)

    return _results(ctx, plan, puts, gets, counters, last_put, ready, server,
                    history)


def _results(ctx, plan, puts, gets, counters, last_put, ready, server,
             history) -> dict:
    put_rows = [r for p in puts for r in p]
    acked = {r[0]: r for r in put_rows if r[6] == "OK"}
    failed = sum(1 for r in put_rows if r[6] != "OK")

    # exactly once, and in order per (topic, producer): a producer sends
    # its PUTs one at a time, so their commit order is their send order
    seen: dict[int, int] = {}
    out_of_order = 0
    for got in gets:
        last: dict[tuple, int] = {}
        for t, i, prod, _now, _lat in got:
            seen[i] = seen.get(i, 0) + 1
            key = (t, prod)
            if key in last and i < last[key]:
                out_of_order += 1
            last[key] = i
    not_once = sum(1 for i in acked if seen.get(i, 0) != 1)
    phantom = sum(n for i, n in seen.items() if i not in acked)
    failed += not_once + phantom + out_of_order + counters["get_err"]

    deliver_ms = [g[4] * 1e3 for got in gets for g in got if g[1] in acked]
    put_ms = [(r[4] - r[2]) * 1e3 for r in acked.values()]
    late_ms = [r[5] * 1e3 for r in put_rows]
    last_delivery = max((g[3] for got in gets for g in got), default=last_put)
    first_due = min(r[2] for r in put_rows)
    dl = harness.summarize(deliver_ms)
    pl = harness.summarize(put_ms)
    gl = harness.summarize(late_ms)
    setup_s = ready["session_s"] + harness.p50(ready["data_s"])
    end_to_end = {
        "setup_s": setup_s,
        "peak_rss_mb": server["peak_rss_mb"],
        "p50_ms": dl["p50"],
        "work_s": last_delivery - first_due,
    }
    detail = {
        "deliver_ms": dl,
        "put_ms": pl,
        "put_p50_ms": pl["p50"],
        "deliver_p50_ms": dl["p50"],
        "drain_s": last_delivery - last_put,
        "deliver_mean_s": sum(deliver_ms) / max(1, len(deliver_ms)) / 1e3,
        "offered_put_per_s": len(plan) / ctx.seconds,
        "gen_late_ms": gl,
        "failed_ratio": failed / len(plan),
        "failures": {"put_err": sum(1 for r in put_rows if r[6] != "OK"),
                     "not_exactly_once": not_once, "phantom": phantom,
                     "out_of_order": out_of_order,
                     "get_err": counters["get_err"]},
        "gets": counters["get"],
        "empty_gets": counters["empty"],
        "wal.committed_batches": server["committed_batches"],
        "peak_rss_by_process_mb": server["peak_rss_by_process_mb"],
    }
    layers = {
        "setup.session_s": ready["session_s"],
        "setup.data_s": harness.p50(ready["data_s"]),
        "wal.committed_batches": server["committed_batches"],
        "wal.fsync_count": server["fsync_count"],
        "wal.read_relists": server["read_relists"],
        "wal.ingest_pinned_retries": server["ingest_pinned_retries"],
    }
    if ctx.trace:
        _trace_layers(server, history, layers, detail)
    return {"attempted": len(plan), "failed": failed,
            "end_to_end": end_to_end, "layers": layers, "detail": detail,
            "spans": server["spans"]}


def _trace_layers(server, history, layers, detail) -> None:
    tr = harness.Tracer(True)
    tr.spans = [tuple(s) for s in server["spans"]]
    peeks = tr.of("wal.peek")
    appends = tr.of("wal.append")
    flushes = tr.of("wal.cursor_flush")
    execs = tr.of("wire.exec")
    put_ex = [s for s in execs if s[5][0] == "PUT"]
    get_ex = [s for s in execs if s[5][0] == "GET"]

    def ms(spans):
        return [(s[3] - s[2]) * 1e3 for s in spans]

    # a PUT's wait: its execute time minus the commit that carried it,
    # i.e. the last append that ended inside the PUT's own span
    ends = sorted((s[3], s[3] - s[2]) for s in appends)
    end_ts = [e for e, _d in ends]
    wait_ms = []
    for s in put_ex:
        j = bisect.bisect_right(end_ts, s[3]) - 1
        if j >= 0 and end_ts[j] >= s[2]:
            wait_ms.append((s[3] - s[2] - ends[j][1]) * 1e3)

    pk, ap, fl = harness.summarize(ms(peeks)), harness.summarize(ms(appends)), harness.summarize(ms(flushes))
    layers.update({
        "wal.peek_calls": len(peeks),
        "wal.entries_per_peek": sum(s[5] or 0 for s in peeks) / max(1, len(peeks)),
        "wal.append_calls": len(appends),
        "wal.entries_per_commit": sum(s[5] or 0 for s in appends) / max(1, len(appends)),
        "wal.cursor_flush_calls": len(flushes),
        "wire.get_empty_ratio": sum(1 for s in get_ex if s[5][1] == "EMPTY") / max(1, len(get_ex)),
    })
    detail.update({
        "wal.peek_ms": pk, "wal.peek_p50_ms": pk["p50"], "wal.peek_tail_ms": pk["tail"],
        "wal.append_ms": ap, "wal.append_p50_ms": ap["p50"], "wal.append_tail_ms": ap["tail"],
        "wal.cursor_flush_p50_ms": fl["p50"],
        "wire.put_exec_p50_ms": harness.p50(ms(put_ex)),
        "wire.get_exec_p50_ms": harness.p50(ms(get_ex)),
        "wire.put_wait_ms": harness.p50(wait_ms),
        "self_time_s": server["self_time_s"],
    })
    # read-path growth: peek time against the committed-batch count
    # while the run went on, in four equal slices of the peeks
    peeks.sort(key=lambda s: s[2])
    growth = []
    for q in range(4):
        part = peeks[q * len(peeks) // 4:(q + 1) * len(peeks) // 4]
        if part:
            mid = part[len(part) // 2][2]
            growth.append({
                "committed_batches": history + bisect.bisect_right(end_ts, mid),
                "peek_p50_ms": harness.p50(ms(part)), "peeks": len(part)})
    detail["wal.peek_growth"] = growth
