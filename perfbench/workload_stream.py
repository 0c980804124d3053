"""log_stream: the bulk path, few large commits, read by stream jobs.

Set-up writes seeded event chunks as Parquet files: Zipf-skewed topics,
JSON payloads carrying ``user_id`` and an event time in ms, event times
rising through the stream but out of order by up to ``DISORDER_MS``,
which stays inside the watermark so no event arrives late.

One cycle, on a fresh log, runs three Structured Streaming queries to
completion (``availableNow``):

1. ingest: ``write_log_stream`` over the chunk files, one chunk per
   micro-batch, so one log commit per chunk;
2. consume: ``shared_cursor_stream`` delivers every entry once;
3. window: watermarked ``windowed_counts`` over ``read_log_stream`` with
   the payloads decoded by ``from_json``.

An untimed warm-up cycle over the first ``WARMUP_CHUNKS`` chunks comes
first: it pays the session's code generation and JIT, whose cost falls
over the first ten or so commits and would otherwise set the median.
Timed cycles then repeat for about ``--seconds`` (up to the cycle
boundary nearest to it), at least ``MIN_CYCLES`` of them. Every cycle,
the warm-up too, is checked: per-topic ingested and consumed counts
against the generated counts, and every window count against a DuckDB
recomputation over the generated events.
"""

from __future__ import annotations

import os
import time
from collections import Counter

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import harness

TOPICS = 8
ZIPF_S = 1.2
USERS = 50_000
CHUNKS = 10
CHUNK_ROWS = 12_000  # above the log's 10k-row driver-side commit path
STEP_MS = 250  # mean event-time step
DISORDER_MS = 5 * 60 * 1000
WINDOW = "1 minute"
WATERMARK = "10 minutes"
WARMUP_CHUNKS = 6
MIN_CYCLES = 1
SETUPS = 3

SMOKE = {"chunks": 3, "rows": 500, "warmup": 1, "cycles": 1, "setups": 1}

SOURCE_SCHEMA = "topic string, value binary"
PAYLOAD_SCHEMA = "user_id long, ts long"


def make_events(seed: int, chunks: int, rows: int) -> list[pa.Table]:
    rng = np.random.default_rng(seed)
    w = 1.0 / np.arange(1, TOPICS + 1) ** ZIPF_S
    n = chunks * rows
    topic = rng.choice(TOPICS, size=n, p=w / w.sum())
    user = rng.integers(0, USERS, size=n)
    base = 1_767_225_600_000  # 2026-01-01T00:00:00Z
    ts = base + np.arange(n, dtype=np.int64) * STEP_MS - rng.integers(0, DISORDER_MS, size=n)
    tables = []
    for c in range(chunks):
        sl = slice(c * rows, (c + 1) * rows)
        tables.append(pa.table({
            "topic": [f"e{t}" for t in topic[sl]],
            "value": [b'{"user_id":%d,"ts":%d}' % (u, t)
                      for u, t in zip(user[sl], ts[sl])],
            "ts_ms": ts[sl],
        }))
    return tables


def write_chunks(tables: list[pa.Table], path: str) -> None:
    os.makedirs(path)
    t_file = time.time() - len(tables)
    for c, t in enumerate(tables):
        f = os.path.join(path, f"chunk-{c:03d}.parquet")
        pq.write_table(t.select(["topic", "value"]), f)
        # the file source orders by modification time: make it the
        # chunk order, so event time keeps rising batch to batch
        os.utime(f, (t_file + c, t_file + c))


def expected(tables: list[pa.Table]) -> tuple[Counter, dict]:
    ev = pa.concat_tables(tables).select(["topic", "ts_ms"])
    con = duckdb.connect()
    con.register("ev", ev)
    per_topic = Counter(dict(con.execute(
        "SELECT topic, count(*) FROM ev GROUP BY topic").fetchall()))
    windows = {(s, t): n for s, t, n in con.execute(
        "SELECT (ts_ms // 60000) * 60000, topic, count(*) FROM ev GROUP BY ALL"
    ).fetchall()}
    con.close()
    return per_topic, windows


def _progress(q) -> list[dict]:
    out = []
    for p in q.recentProgress:
        ops = p.stateOperators or []
        out.append({
            "rows": p.numInputRows,
            "ms": dict(p.durationMs),
            "state_rows": sum(o.numRowsTotal for o in ops),
            "state_commit_ms": sum(o.commitTimeMs for o in ops),
        })
    return out


def cycle(spark, ctx, k: int, input_dir: str, tracer) -> dict:
    import pyspark.sql.functions as F

    from walrus_spark.log import WalrusLog
    from walrus_spark.streaming.stream import (
        read_log_stream,
        shared_cursor_stream,
        windowed_counts,
        write_log_stream,
    )

    root = os.path.join(ctx.work, f"cycle{k}")
    log = WalrusLog(spark, os.path.join(root, "log"))
    # every commit is timed, traced or not: its duration is the
    # workload's per-operation latency
    commit_ms = []
    ingest = log.ingest

    def timed_ingest(*args, **kwargs):
        t0 = time.perf_counter()
        try:
            return ingest(*args, **kwargs)
        finally:
            commit_ms.append((time.perf_counter() - t0) * 1e3)

    log.ingest = timed_ingest
    tracer.wrap(log, "ingest", "wal.ingest")
    out: dict = {"progress": {}, "commit_ms": commit_ms}
    try:
        src = (spark.readStream.schema(SOURCE_SCHEMA)
               .option("maxFilesPerTrigger", 1).parquet(input_dir))
        t0 = time.perf_counter()
        with tracer.span("stream.ingest"):
            q = write_log_stream(src, log, os.path.join(root, "ck-ingest"))
            q.awaitTermination()
        out["ingest_s"] = time.perf_counter() - t0
        out["progress"]["ingest"] = _progress(q)
        out["ingested"] = Counter({t: log.high_watermark(t) for t in log.topics()})

        consumed: Counter = Counter()

        def sink(df, _batch_id):
            for r in df.groupBy("topic").count().collect():
                consumed[r[0]] += r[1]

        t0 = time.perf_counter()
        with tracer.span("stream.consume"):
            q = shared_cursor_stream(spark, log, os.path.join(root, "ck-consume"), sink)
            q.awaitTermination()
        out["consume_s"] = time.perf_counter() - t0
        out["progress"]["consume"] = _progress(q)
        out["consumed"] = consumed

        events = (
            read_log_stream(spark, log)
            .select("topic", F.from_json(F.col("value").cast("string"),
                                         PAYLOAD_SCHEMA).alias("e"))
            .select("topic", F.timestamp_millis(F.col("e.ts")).alias("ts"))
        )
        counts: dict = {}

        def keep(df, _batch_id):
            for s, t, n in df.select(F.unix_millis("w.start"), "topic", "n").collect():
                counts[(s, t)] = n

        t0 = time.perf_counter()
        with tracer.span("stream.window"):
            q = (windowed_counts(events, window=WINDOW, watermark=WATERMARK)
                 .writeStream.outputMode("update").foreachBatch(keep)
                 .option("checkpointLocation", os.path.join(root, "ck-window"))
                 .trigger(availableNow=True).start())
            q.awaitTermination()
        out["window_s"] = time.perf_counter() - t0
        out["progress"]["window"] = _progress(q)
        out["windows"] = counts
        out["ingest_pinned_retries"] = log.ingest_pinned_retries
        out["read_relists"] = log.read_relists
        out["fsync_count"] = log.fsync_count
        out["committed_batches"] = log.metrics()["committed_batches"]
    finally:
        log.close()
    return out


def _failures(c: dict, per_topic: Counter, windows: dict) -> int:
    bad = 0
    for t in set(per_topic) | set(c["ingested"]) | set(c["consumed"]):
        bad += abs(c["ingested"].get(t, 0) - per_topic.get(t, 0))
        bad += abs(c["consumed"].get(t, 0) - per_topic.get(t, 0))
    for key in set(windows) | set(c["windows"]):
        bad += abs(c["windows"].get(key, 0) - windows.get(key, 0))
    return bad


def run(ctx) -> dict:
    chunks = SMOKE["chunks"] if ctx.smoke else CHUNKS
    rows = SMOKE["rows"] if ctx.smoke else CHUNK_ROWS
    min_cycles = SMOKE["cycles"] if ctx.smoke else MIN_CYCLES
    setups = SMOKE["setups"] if ctx.smoke else SETUPS
    warmup = SMOKE["warmup"] if ctx.smoke else WARMUP_CHUNKS

    rss = harness.PeakRss(os.getpid())
    spark, session_s = harness.start_spark("perfbench-stream")
    try:
        data_s = []
        for k in range(setups):
            t0 = time.perf_counter()
            tables = make_events(ctx.seed, chunks, rows)
            input_dir = os.path.join(ctx.work, f"input{k}")
            write_chunks(tables, input_dir)
            data_s.append(time.perf_counter() - t0)
        per_topic, windows = expected(tables)
        warm_dir = os.path.join(ctx.work, "input-warmup")
        write_chunks(tables[:warmup], warm_dir)

        t0 = time.perf_counter()
        w = cycle(spark, ctx, 0, warm_dir, harness.Tracer(False))
        warmup_s = time.perf_counter() - t0
        failed = _failures(w, *expected(tables[:warmup]))

        tracer = harness.Tracer(ctx.trace == 1)
        cycles = []
        t_start = time.perf_counter()
        # stop at the cycle boundary nearest to --seconds: another cycle
        # (as long as the last one) starts only if it would end nearer
        # to it than now, so the cycle count does not flip with small
        # changes in speed
        while (len(cycles) < min_cycles
               or time.perf_counter() - t_start + cycles[-1]["wall_s"] / 2 < ctx.seconds):
            t0 = time.perf_counter()
            c = cycle(spark, ctx, len(cycles) + 1, input_dir, tracer)
            c["wall_s"] = time.perf_counter() - t0
            failed += _failures(c, per_topic, windows)
            cycles.append(c)
    finally:
        harness.stop_spark(spark)
    peak = rss.stop()

    n_rows = chunks * rows
    commit_ms = [ms for c in cycles for ms in c["commit_ms"]]
    bm = harness.summarize(commit_ms)
    setup_s = session_s + harness.p50(data_s)
    end_to_end = {
        "setup_s": setup_s,
        "peak_rss_mb": peak,
        "p50_ms": bm["p50"],
        "work_s": harness.p50([c["wall_s"] for c in cycles]),
    }
    detail = {
        "ingest_commit_ms": bm,
        "ingest_rows_per_s": harness.p50([n_rows / c["ingest_s"] for c in cycles]),
        "consume_rows_per_s": harness.p50([n_rows / c["consume_s"] for c in cycles]),
        "window_s": harness.p50([c["window_s"] for c in cycles]),
        "peak_rss_by_process_mb": rss.at_peak,
        "rows_per_cycle": n_rows,
        "warmup_rows": warmup * rows,
        "warmup_s": warmup_s,
        "warmup_commit_ms": w["commit_ms"],
        "cycles": len(cycles),
        "cycle_s": [c["wall_s"] for c in cycles],
        "cycle_commit_ms": [c["commit_ms"] for c in cycles],
        "failed_ratio": failed / (n_rows * len(cycles) + warmup * rows),
    }
    last = cycles[-1]
    layers = {
        "setup.session_s": session_s,
        "setup.data_s": harness.p50(data_s),
        "wal.committed_batches": last["committed_batches"],
        "wal.ingest_calls": len(last["progress"]["ingest"]),
        "wal.ingest_pinned_retries": last["ingest_pinned_retries"],
        "wal.read_relists": last["read_relists"],
        "wal.fsync_count": last["fsync_count"],
        "stream.batches": sum(len(v) for v in last["progress"].values()),
        "stream.window.state_rows": sum(
            p["state_rows"] for p in last["progress"]["window"][-1:]),
    }
    if ctx.trace:
        for name in ("ingest", "consume", "window"):
            progs = [p for c in cycles for p in c["progress"][name]]

            def med(key, progs=progs):
                return harness.p50([p["ms"].get(key, 0) for p in progs])

            detail[f"stream.{name}.batches"] = len(progs) / len(cycles)
            detail[f"stream.{name}.batch_p50_ms"] = med("triggerExecution")
            for key in ("addBatch", "walCommit", "commitOffsets", "queryPlanning"):
                detail[f"stream.{name}.{key}_ms"] = med(key)
        detail["stream.window.state_commit_ms"] = harness.p50(
            [sum(p["state_commit_ms"] for p in c["progress"]["window"]) for c in cycles])
        ingests = tracer.of("wal.ingest")
        detail["wal.ingest_calls"] = len(ingests)
        detail["wal.ingest_s"] = sum(s[3] - s[2] for s in ingests) / len(cycles)
        detail["self_time_s"] = tracer.self_time_s()
    return {"attempted": n_rows * len(cycles) + warmup * rows, "failed": failed,
            "end_to_end": end_to_end, "layers": layers, "detail": detail,
            "spans": [list(s) for s in tracer.spans]}
