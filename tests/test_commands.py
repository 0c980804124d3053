"""The reference client protocol end-to-end — the python port of
distributed-walrus/tests/cli_e2e.rs::cli_end_to_end_roundtrip_and_errors,
run over a real TCP socket with the reference's length-prefixed
framing."""

from __future__ import annotations

import json
import os

import pytest

from walrus_spark.log import CommandClient, CommandServer, CommandShell, WalrusLog


def test_cli_end_to_end_roundtrip_and_errors(spark, tmp_path):
    log = WalrusLog(spark, str(tmp_path / "cli"))
    server = CommandServer(log)
    host, port = server.start_background()
    client = CommandClient(host, port)
    try:
        # Unknown topic should error (cluster surface requires REGISTER)
        assert "unknown topic" in client.send("PUT missing payload").lower()

        assert client.send("REGISTER logs") == "OK"
        # Idempotent register should not fail
        assert client.send("REGISTER logs") == "OK"

        messages = ["one", "two", "three", "four", "five"]
        for m in messages:
            assert client.send(f"PUT logs {m}") == "OK"
        for m in messages:
            assert client.send("GET logs") == f"OK {m}"

        # Queue drained -> EMPTY
        assert client.send("GET logs") == "EMPTY"

        # State returns JSON
        state = json.loads(client.send("STATE logs"))
        assert state["high_watermark"] == 5 and state["unconsumed"] == 0

        # Metrics responds with JSON
        metrics = json.loads(client.send("METRICS"))
        assert "logs" in metrics["topics"]

        # Garbage command surfaces server error text
        assert client.send("GARBAGE").upper().startswith("ERR")

        # payload keeps embedded spaces (splitn(3) semantics)
        client.send("REGISTER sp")
        assert client.send("PUT sp hello world  twice") == "OK"
        assert client.send("GET sp") == "OK hello world  twice"

        # framing errors mirror client.rs:40-53
        assert client.send_raw(b"\xff\xfe METRICS") == "ERR invalid utf-8"
        assert "ERR" in client.send_raw(b"")  # zero-length frame
    finally:
        client.close()
        server.shutdown()
        log.close()


def test_command_shell_direct(spark, tmp_path):
    """The in-process shell (no socket) for embedded/tooling use."""
    log = WalrusLog(spark, str(tmp_path / "sh"))
    sh = CommandShell(log)
    assert sh.execute("REGISTER t") == "OK"
    assert sh.execute("PUT t payload") == "OK"
    assert sh.execute("GET t") == "OK payload"
    assert sh.execute("GET t") == "EMPTY"
    assert sh.execute("STATE nope").startswith("ERR unknown topic")
    assert sh.execute("PUT") == "ERR PUT requires a topic"
    assert sh.execute("PUT t") == "ERR PUT requires a payload"
    # client.rs:55 trims ALL trailing whitespace before dispatch, and an
    # empty line reaches splitn's catch-all -> "ERR unknown command".
    assert sh.execute("") == "ERR unknown command"
    assert sh.execute("   \t ") == "ERR unknown command"
    assert sh.execute("PUT t padded   \t") == "OK"
    assert sh.execute("GET t") == "OK padded"  # trailing ws stripped
    assert sh.execute("PUT t a b  ") == "OK"
    assert sh.execute("GET t") == "OK a b"  # interior spaces kept
    log.close()


def test_concurrent_clients_per_topic_contiguity(spark, tmp_path):
    """Four concurrent wire clients hammer PUTs (two per topic, two
    topics); the per-topic write locks behind the protocol keep
    offsets contiguous and nothing is lost or duplicated."""
    import threading

    log = WalrusLog(spark, str(tmp_path / "cc"))
    server = CommandServer(log)
    host, port = server.start_background()
    try:
        shell = CommandShell(log)
        shell.execute("REGISTER ta")
        shell.execute("REGISTER tb")
        errs = []

        def worker(topic, tag):
            c = CommandClient(host, port)
            try:
                for i in range(25):
                    r = c.send(f"PUT {topic} {tag}:{i}")
                    if r != "OK":
                        errs.append(r)
            finally:
                c.close()

        ts = [
            threading.Thread(target=worker, args=(t, f"w{j}"))
            for j, t in enumerate(["ta", "ta", "tb", "tb"])
        ]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        assert not errs, errs
        for topic in ("ta", "tb"):
            assert log.high_watermark(topic) == 50
            got = log.batch_read(topic, max_entries=2000)
            assert len(got) == 50
            per_writer = {}
            for p in got:
                tag, i = p.decode().split(":")
                per_writer.setdefault(tag, []).append(int(i))
            # each writer's messages arrive in ITS send order
            for seq in per_writer.values():
                assert seq == sorted(seq)
    finally:
        server.shutdown()
        log.close()


def test_wire_writes_visible_to_streaming_consumer(spark, tmp_path):
    """Cross-plane integration: entries PUT over the wire protocol are
    delivered by the Structured Streaming consumer off the same log —
    the reference's CLI plane and this engine's streaming plane share
    one storage truth."""
    from walrus_spark.streaming import consume_stream

    log = WalrusLog(spark, str(tmp_path / "xp"))
    server = CommandServer(log)
    host, port = server.start_background()
    try:
        c = CommandClient(host, port)
        c.send("REGISTER wire")
        for i in range(10):
            assert c.send(f"PUT wire msg{i}") == "OK"
        c.close()

        seen = []

        def sink(df, _bid):
            seen.extend(
                bytes(r["value"]).decode() for r in df.collect()
            )

        q = consume_stream(
            spark, log, str(tmp_path / "ckpt"), sink, topic="wire"
        )
        q.awaitTermination(120)
        assert sorted(seen) == sorted(f"msg{i}" for i in range(10))
    finally:
        server.shutdown()
        log.close()


def test_concurrent_gets_share_cursor_exactly_once(spark, tmp_path):
    """Code-review regression: two clients GETting one topic race the
    shared cursor's read-modify-write across a Spark job; the per-topic
    consume lock must serialize them so every entry is delivered to
    exactly ONE client — no double delivery, no skips."""
    import threading

    log = WalrusLog(spark, str(tmp_path / "getrace"))
    server = CommandServer(log)
    host, port = server.start_background()
    try:
        shell = CommandShell(log)
        shell.execute("REGISTER q")
        for i in range(20):
            shell.execute(f"PUT q m{i}")
        got, errs = [], []

        def reader():
            c = CommandClient(host, port)
            try:
                while True:
                    r = c.send("GET q")
                    if r == "EMPTY":
                        return
                    if not r.startswith("OK "):
                        errs.append(r)
                        return
                    got.append(r[3:])
            finally:
                c.close()

        ts = [threading.Thread(target=reader) for _ in range(3)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        assert not errs, errs
        assert sorted(got) == sorted(f"m{i}" for i in range(20)), got
    finally:
        server.shutdown()
        log.close()


def test_get_readahead_soak_and_speedup(spark, tmp_path, job_probe):
    """r5 directive #3 soak: the wire GET plane serves frames from the
    per-topic read-ahead buffer (one driver-side peek amortized over
    up to READAHEAD_ENTRIES frames + metadata-only cursor commits).
    1200 wire GETs must deliver every entry exactly once IN ORDER,
    then EMPTY, without starting a single Spark job — the read path
    under GET is a driver-side range read."""
    log = WalrusLog(spark, str(tmp_path / "soak"))
    server = CommandServer(log)
    host, port = server.start_background()
    try:
        shell = CommandShell(log)
        N = 1200
        shell.execute("REGISTER s")
        log.batch_append("s", [f"p{i}".encode() for i in range(N)])

        first = job_probe()
        client = CommandClient(host, port)
        got = []
        for _ in range(N):
            r = client.send("GET s")
            assert r.startswith("OK "), r
            got.append(r[3:])
        assert client.send("GET s") == "EMPTY"
        client.close()
        assert job_probe() == first + 1  # no Spark job in between

        # exact, ordered, exactly-once delivery across the whole soak
        assert got == [f"p{i}" for i in range(N)]
        assert log.cursor("s") == N
    finally:
        server.shutdown()
        log.close()


def test_get_readahead_coheres_with_library_consumer(spark, tmp_path):
    """A library-API consumer advancing the shared cursor between wire
    GETs must invalidate the server's read-ahead buffer (optimistic
    expect-commit): no entry is delivered twice, none skipped, and the
    union of both consumers is exactly the topic."""
    log = WalrusLog(spark, str(tmp_path / "cohere"))
    server = CommandServer(log)
    host, port = server.start_background()
    try:
        shell = CommandShell(log)
        shell.execute("REGISTER t")
        log.batch_append("t", [f"e{i}".encode() for i in range(30)])
        client = CommandClient(host, port)

        wire = [client.send("GET t")[3:] for _ in range(5)]
        assert wire == [f"e{i}" for i in range(5)]
        # the buffer now holds peeked-but-uncommitted entries e5..;
        # a direct library consumer takes the next 10
        lib = log.batch_read("t", max_entries=10)
        assert lib == [f"e{i}".encode() for i in range(5, 15)]
        # next wire GET must RESYNC (stale buffer dropped), not replay
        rest = []
        while True:
            r = client.send("GET t")
            if r == "EMPTY":
                break
            rest.append(r[3:])
        assert rest == [f"e{i}" for i in range(15, 30)]
        client.close()

        # appends after EMPTY are picked up by the next GET
        log.append("t", b"late")
        c2 = CommandClient(host, port)
        assert c2.send("GET t") == "OK late"
        assert c2.send("GET t") == "EMPTY"
        c2.close()
    finally:
        server.shutdown()
        log.close()


def test_commit_cursor_contract(spark, tmp_path):
    """commit_cursor: expect-mismatch refuses (returns False), rewinds
    refuse, past-high-watermark errors, and a successful commit
    advances lag/counters exactly like a consuming read."""
    log = WalrusLog(spark, str(tmp_path / "cc"))
    log.batch_append("t", [b"a", b"b", b"c"])
    assert log.cursor("t") == 0
    assert log.commit_cursor("t", 1) is True
    assert log.cursor("t") == 1
    assert log.topic_entry_count("t") == 2
    # expect mismatch: someone else moved the cursor
    assert log.commit_cursor("t", 3, expect=0) is False
    assert log.cursor("t") == 1
    # rewind refused
    assert log.commit_cursor("t", 1) is False
    assert log.commit_cursor("t", 0) is False
    # past high watermark is loud
    with pytest.raises(ValueError, match="high watermark"):
        log.commit_cursor("t", 99)
    # committed cursor survives restart (persist per StrictlyAtOnce)
    log.close()
    log2 = WalrusLog(spark, str(tmp_path / "cc"))
    assert log2.cursor("t") == 1
    assert log2.batch_read("t", max_entries=10) == [b"b", b"c"]
    log2.close()


def test_wire_rollover_read_across_sealed_segments(spark, tmp_path):
    """Mirror of the reference cluster e2e rollover_read_test.py
    (distributed-walrus/scripts/rollover_read_test.py:193-230) at
    single-storage scope: 60 wire PUTs into a topic with 10-entry
    segments seal 5 segments (STATE reports them with exact counts,
    the TopicState shape of metadata.rs:19-31); 60 wire GETs then
    deliver every message IN ORDER across all six segment boundaries —
    with a mid-stream compact() (the sealed-segment maintenance a
    cluster performs while consumers run) — and drain to EMPTY."""
    log = WalrusLog(spark, str(tmp_path / "roll"), max_segment_entries=10)
    server = CommandServer(log)
    host, port = server.start_background()
    try:
        client = CommandClient(host, port)
        assert client.send("REGISTER rollover_demo") == "OK"
        messages = [f"msg-{i}" for i in range(60)]
        for m in messages:
            assert client.send(f"PUT rollover_demo {m}") == "OK"

        state = json.loads(client.send("STATE rollover_demo"))
        assert state["current_segment"] == 5
        assert state["high_watermark"] == 60
        assert state["sealed_segments"] == {str(s): 10 for s in range(5)}
        assert state["last_sealed_entry_offset"] == 50

        read_back = []
        for i in range(60):
            if i == 30:
                log.compact()  # maintenance races mid-consumption
            r = client.send("GET rollover_demo")
            assert r.startswith("OK "), r
            read_back.append(r[3:])
        assert client.send("GET rollover_demo") == "EMPTY"
        assert read_back == messages  # ordered, exactly once, no gaps

        # post-compaction appends force a FRESH peek over the compacted
        # manifest + new batches (the first 60 were buffered pre-compact)
        for m in ("late-0", "late-1", "late-2"):
            assert client.send(f"PUT rollover_demo {m}") == "OK"
        assert client.send("GET rollover_demo") == "OK late-0"
        assert client.send("GET rollover_demo") == "OK late-1"
        assert client.send("GET rollover_demo") == "OK late-2"
        assert client.send("GET rollover_demo") == "EMPTY"
        client.close()
    finally:
        server.shutdown()
        log.close()


def test_wire_put_stress_group_commit(spark, tmp_path):
    """Mirror of the reference's cluster stress e2e
    (distributed-walrus/scripts/stress_test.py: N threads hammer 1 KiB
    PUTs through persistent connections, assert non-zero writes and
    report throughput) at single-storage scope — plus the engine-side
    proof that GROUP COMMIT actually engaged: concurrent PUTs must
    share commits (entries per manifest commit > 1.5 on average), and
    every committed entry must be present, contiguous, and correct."""
    import threading
    import time

    log = WalrusLog(spark, str(tmp_path / "stress"))
    server = CommandServer(log)
    host, port = server.start_background()
    try:
        shell = server.shell
        shell.execute("REGISTER stress_test_topic")
        base_commits = log.metrics()["committed_batches"]
        payload = "x" * 1024
        n_threads, per_thread = 8, 25
        counts = [0] * n_threads
        errors = []
        barrier = threading.Barrier(n_threads)

        def worker(k: int) -> None:
            c = CommandClient(host, port)
            try:
                barrier.wait()
                for i in range(per_thread):
                    r = c.send(f"PUT stress_test_topic {k}:{i}:{payload}")
                    if r == "OK":
                        counts[k] += 1
                    else:
                        errors.append(r)
            finally:
                c.close()

        ts = [
            threading.Thread(target=worker, args=(k,))
            for k in range(n_threads)
        ]
        t0 = time.monotonic()
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        elapsed = time.monotonic() - t0

        total = sum(counts)
        assert not errors, errors[:3]
        assert total == n_threads * per_thread
        # group-commit proof: the 200 concurrent entries shared commits
        commits = log.metrics()["committed_batches"] - base_commits
        assert commits < total / 1.5, (commits, total)
        # nothing lost, nothing duplicated, offsets contiguous
        assert log.high_watermark("stress_test_topic") == total
        rows = log.batch_read("stress_test_topic", max_entries=2000)
        assert len(rows) == total
        seen = sorted(r.decode().split(":")[:2] for r in rows)
        assert seen == sorted(
            [str(k), str(i)]
            for k in range(n_threads)
            for i in range(per_thread)
        )
        # per-connection PUT order is preserved within each thread
        order = {}
        for r in [x.decode() for x in rows]:
            k, i, _ = r.split(":", 2)
            order.setdefault(k, []).append(int(i))
        for k, idxs in order.items():
            assert idxs == sorted(idxs), (k, idxs)
        print(
            f"\nstress: {total} PUTs, {n_threads} threads, "
            f"{elapsed:.2f}s = {total / elapsed:.0f} ops/s, "
            f"{commits} commits ({total / max(1, commits):.1f} "
            "entries/commit)"
        )
    finally:
        server.shutdown()
        log.close()


def test_wire_multi_topic_mixed_soak(spark, tmp_path):
    """r6 verdict 'what's missing' #3 — the multi_topic_stress_test.py
    shape at the wire boundary: concurrent producers AND consumers
    across 8 topics through ONE CommandServer, so the per-topic
    read-ahead buffers and the cross-topic group committer run
    simultaneously under cross-topic contention. Asserts, per topic:
    exactly-once ordered delivery (every entry once, per-producer
    subsequence order preserved, EMPTY + cursor==total at the end),
    group commit actually shared commits across the concurrent PUTs,
    the read-ahead path actually served every topic, and both planes
    clear the BASELINE.md 100 ops/s floors measured in the mixed phase
    itself."""
    import threading
    import time

    log = WalrusLog(spark, str(tmp_path / "mixed"))
    server = CommandServer(log)
    host, port = server.start_background()
    n_topics, producers_per_topic, per_producer = 8, 2, 60
    per_topic = producers_per_topic * per_producer  # 120
    total = n_topics * per_topic  # 960
    topics = [f"mt{t}" for t in range(n_topics)]
    try:
        shell = server.shell
        for t in topics:
            shell.execute(f"REGISTER {t}")
        base_commits = log.metrics()["committed_batches"]

        put_done = [0] * (n_topics * producers_per_topic)
        got: dict[str, list[str]] = {t: [] for t in topics}
        errors: list[str] = []
        start = threading.Barrier(
            n_topics * producers_per_topic + n_topics + 1
        )
        put_walls = [0.0] * (n_topics * producers_per_topic)
        get_walls = [0.0] * n_topics

        def producer(slot: int) -> None:
            topic = topics[slot // producers_per_topic]
            k = slot % producers_per_topic
            c = CommandClient(host, port)
            try:
                start.wait()
                t0 = time.monotonic()
                for i in range(per_producer):
                    r = c.send(f"PUT {topic} {k}:{i}")
                    if r == "OK":
                        put_done[slot] += 1
                    else:
                        errors.append(f"{topic} put {r}")
                put_walls[slot] = time.monotonic() - t0
            finally:
                c.close()

        def consumer(ti: int) -> None:
            topic = topics[ti]
            c = CommandClient(host, port)
            try:
                start.wait()
                t0 = time.monotonic()
                while len(got[topic]) < per_topic:
                    r = c.send(f"GET {topic}")
                    if r.startswith("OK "):
                        got[topic].append(r[3:])
                    elif r == "EMPTY":
                        # producers still writing; an EMPTY miss costs
                        # a real peek job, so back off rather than spin
                        time.sleep(0.02)
                    else:
                        errors.append(f"{topic} get {r}")
                        return
                get_walls[ti] = time.monotonic() - t0
            finally:
                c.close()

        threads = [
            threading.Thread(target=producer, args=(s,))
            for s in range(n_topics * producers_per_topic)
        ] + [
            threading.Thread(target=consumer, args=(ti,))
            for ti in range(n_topics)
        ]
        for th in threads:
            th.start()
        start.wait()
        t0 = time.monotonic()
        for th in threads:
            th.join(timeout=240)
        wall = time.monotonic() - t0

        assert not errors, errors[:5]
        assert sum(put_done) == total
        # the read-ahead path served every topic (snapshot BEFORE the
        # tail EMPTY probes below — an EMPTY resync resets .delivered)
        assert set(server.shell._readahead) >= set(topics)
        for t in topics:
            assert server.shell._readahead[t].delivered > 0, t
        # per-topic exactly-once, ordered: every entry delivered once,
        # each producer's subsequence in send order, then EMPTY
        tail = CommandClient(host, port)
        for t in topics:
            rows = got[t]
            assert len(rows) == per_topic, (t, len(rows))
            assert sorted(rows) == sorted(
                f"{k}:{i}"
                for k in range(producers_per_topic)
                for i in range(per_producer)
            ), t
            per_k: dict[str, list[int]] = {}
            for r in rows:
                k, i = r.split(":")
                per_k.setdefault(k, []).append(int(i))
            for k, idxs in per_k.items():
                assert idxs == sorted(idxs), (t, k)
            assert tail.send(f"GET {t}") == "EMPTY"
            assert log.cursor(t) == per_topic
        tail.close()

        # group commit shared commits across the 16 concurrent writers
        commits = log.metrics()["committed_batches"] - base_commits
        assert commits < total / 1.5, (commits, total)

        # PUT floor, measured inside the mixed phase itself
        put_rate = total / max(max(put_walls), 1e-9)
        assert put_rate >= 100, (put_rate, wall)

        # GET floor: the mixed-phase consumer wall is producer-bound
        # (EMPTY polls wait on writers), so the floor is measured on a
        # pre-filled multi-topic concurrent drain — 8 read-ahead
        # buffers serving simultaneously, no waiting
        drain_n = 250
        for t in topics:
            log.batch_append(
                t, [f"d:{i}".encode() for i in range(drain_n)]
            )
        drained: dict[str, list[str]] = {t: [] for t in topics}
        dstart = threading.Barrier(n_topics + 1)

        def drainer(ti: int) -> None:
            topic = topics[ti]
            c = CommandClient(host, port)
            try:
                dstart.wait()
                for _ in range(drain_n):
                    r = c.send(f"GET {topic}")
                    if r.startswith("OK "):
                        drained[topic].append(r[3:])
                    else:
                        errors.append(f"{topic} drain {r}")
                        return
            finally:
                c.close()

        dthreads = [
            threading.Thread(target=drainer, args=(ti,))
            for ti in range(n_topics)
        ]
        for th in dthreads:
            th.start()
        dstart.wait()
        t0 = time.monotonic()
        for th in dthreads:
            th.join(timeout=240)
        dwall = time.monotonic() - t0
        assert not errors, errors[:5]
        for t in topics:  # strict order: one appender per topic
            assert drained[t] == [f"d:{i}" for i in range(drain_n)], t
        get_rate = (n_topics * drain_n) / max(dwall, 1e-9)
        assert get_rate >= 100, (get_rate, dwall)
        print(
            f"\nmixed soak: {total} PUTs + {total} GETs over "
            f"{n_topics} topics in {wall:.2f}s "
            f"(PUT {put_rate:.0f}/s, {commits} commits = "
            f"{total / max(1, commits):.1f} entries/commit); "
            f"drain {n_topics * drain_n} GETs in {dwall:.2f}s = "
            f"{get_rate:.0f}/s"
        )
    finally:
        server.shutdown()
        log.close()


def test_wire_get_delivers_entries_committed_by_another_instance(
    spark, tmp_path
):
    """Code-review regression (r6): a serving instance's in-process
    high watermark only tracks its OWN appends, but the read-ahead
    peek sees other writers' commits through the live manifest scan —
    commit_cursor must refresh the watermark from the sidecar/manifest
    instead of erroring, or every GET after an external append replies
    'ERR commit_cursor past high watermark' forever (the CLI `serve` +
    batch-job-writer deployment, and every post-takeover reader)."""
    root = str(tmp_path / "xproc")
    a = WalrusLog(spark, root)
    sh = CommandShell(a)
    assert sh.execute("REGISTER t") == "OK"
    b = WalrusLog(spark, root)  # second instance takes writership
    b.batch_append("t", [b"x1", b"x2"])
    try:
        assert sh.execute("GET t") == "OK x1"
        assert sh.execute("GET t") == "OK x2"
        assert sh.execute("GET t") == "EMPTY"
        # and again after ANOTHER external append (hw refresh repeats)
        b.batch_append("t", [b"x3"])
        assert sh.execute("GET t") == "OK x3"
    finally:
        sh.close()
        b.close()
        a.close()


def test_oversized_frame_keeps_connection_usable(spark, tmp_path):
    """Code-review regression: an oversized frame must be drained (not
    left in the stream) so later commands on the same connection still
    parse — the reference desyncs here; we deliberately do not."""
    log = WalrusLog(spark, str(tmp_path / "bigframe"))
    server = CommandServer(log)
    host, port = server.start_background()
    try:
        c = CommandClient(host, port)
        c.send("REGISTER big")
        payload = b"PUT big " + b"x" * (70 * 1024)  # > 64 KiB frame
        assert c.send_raw(payload) == "ERR invalid frame length"
        # the connection must still speak the protocol
        assert c.send("PUT big small") == "OK"
        assert c.send("GET big") == "OK small"
        c.close()
    finally:
        server.shutdown()
        log.close()


def test_get_multiconn_prefetch_soak(spark, tmp_path):
    """r11 directive #5 soak: 4 concurrent connections drain one topic
    through the prefetching read-ahead plane. 2400 entries force at
    least two full buffer cycles (READAHEAD_ENTRIES=1024, prefetch
    spawned at half-drain and CONSUMED at the refill boundary), so the
    background-prefetch take path runs, not just the sync fallback.
    Exactly-once across connections: the union of delivered payloads is
    exactly the topic, no duplicates, cursor fully advanced — and the
    plane sustains a rate that is only possible when refills overlap
    serving (the pre-r12 leader-election + windowed-peek plane measured
    ~145 GET/s on this workload; the floor here is set at 250/s to stay
    robust to host noise while still failing a regression back to it)."""
    import threading
    import time

    log = WalrusLog(spark, str(tmp_path / "mget"))
    server = CommandServer(log)
    host, port = server.start_background()
    try:
        N = 2400
        server.shell.execute("REGISTER g")
        log.multi_append({"g": [f"m{i}".encode() for i in range(N)]})
        per_conn: list[list[str]] = [[] for _ in range(4)]
        errs: list[str] = []
        barrier = threading.Barrier(5)

        def reader(k: int) -> None:
            c = CommandClient(host, port)
            try:
                barrier.wait()
                while True:
                    r = c.send("GET g")
                    if r == "EMPTY":
                        return
                    if not r.startswith("OK "):
                        errs.append(r)
                        return
                    per_conn[k].append(r[3:])
            finally:
                c.close()

        ts = [threading.Thread(target=reader, args=(k,)) for k in range(4)]
        for t in ts:
            t.start()
        barrier.wait()
        t0 = time.monotonic()
        for t in ts:
            t.join()
        rate = N / (time.monotonic() - t0)

        assert not errs, errs
        got = [p for conn in per_conn for p in conn]
        assert sorted(got) == sorted(f"m{i}" for i in range(N))
        # each connection's own stream is in topic order (offsets only
        # ever advance), even though deliveries interleave across conns
        order = {f"m{i}": i for i in range(N)}
        for conn in per_conn:
            idx = [order[p] for p in conn]
            assert idx == sorted(idx)
        assert log.cursor("g") == N
        # The wall-clock floor is a PERF assertion, not a semantics
        # one — on a loaded CI host it can fail with the code unchanged
        # (r12 advisor). Opt in via WALRUS_PERF_ASSERTS=1 (bench/perf
        # sessions set it); the exactly-once/ordering assertions above
        # stay unconditional.
        if os.environ.get("WALRUS_PERF_ASSERTS", "0") == "1":
            assert rate >= 250, f"GET plane regressed to {rate:.0f}/s"
    finally:
        server.shutdown()
        log.close()


def test_get_readahead_resyncs_on_foreign_cursor_advance(spark, tmp_path):
    """A library-API consumer advancing the shared cursor while the
    read-ahead buffer holds peeked entries must invalidate the buffer
    (its base no longer matches the cursor): no double delivery, no
    skip, across the resync."""
    from walrus_spark.log import commands as cmod

    log = WalrusLog(spark, str(tmp_path / "pfstale"))
    server = CommandServer(log)
    host, port = server.start_background()
    try:
        N = 60
        server.shell.execute("REGISTER t")
        log.multi_append({"t": [f"e{i}".encode() for i in range(N)]})
        c = CommandClient(host, port)
        # first GET fills the buffer with all 60 entries
        assert c.send("GET t") == "OK e0"
        ra = server.shell._readahead["t"]
        assert len(ra.buf) == N - 1
        # a foreign consumer takes 10 entries through the library API
        assert log.batch_read("t", max_entries=10) == [
            f"e{i}".encode() for i in range(1, 11)
        ]
        # wire plane must resync: deliver e11.. exactly once, then EMPTY
        rest = []
        while True:
            r = c.send("GET t")
            if r == "EMPTY":
                break
            rest.append(r[3:])
        assert rest == [f"e{i}" for i in range(11, N)]
        assert log.cursor("t") == N
        c.close()
        assert cmod.READAHEAD_ENTRIES >= 2 * N  # guards the setup premise
    finally:
        server.shutdown()
        log.close()
