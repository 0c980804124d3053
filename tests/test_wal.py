"""WalrusLog semantics — the Spark analogs of the reference's
integration/batch_writes/configuration test suites (SURVEY.md §5)."""

from __future__ import annotations

import os

import pytest

from walrus_spark.log import ReadConsistency, WalrusLog
from walrus_spark.log.wal import MAX_BATCH_ENTRIES


@pytest.fixture()
def log(spark, tmp_path):
    return WalrusLog(spark, str(tmp_path / "wal"), max_segment_entries=5)


def test_append_read_roundtrip(log):
    log.append("t", b"hello")
    log.batch_append("t", [b"a", b"", b"\x00\xffbin"])  # empty + binary legal
    assert log.high_watermark("t") == 4
    assert log.read_next("t") == b"hello"
    assert log.read_next("t") == b"a"
    assert log.read_next("t") == b""
    assert log.read_next("t") == b"\x00\xffbin"
    assert log.read_next("t") is None


def test_multi_topic_isolation(log):
    log.batch_append("a", [b"a1", b"a2"])
    log.batch_append("b", [b"b1"])
    assert log.read_next("a") == b"a1"
    assert log.read_next("b") == b"b1"
    assert log.topic_entry_counts() == {"a": 1, "b": 0}


def test_peek_does_not_consume(log):
    log.batch_append("t", [b"x", b"y"])
    assert log.read_next("t", checkpoint=False) == b"x"
    assert log.read_next("t", checkpoint=False) == b"x"
    assert log.read_next("t", checkpoint=True) == b"x"
    assert log.read_next("t") == b"y"


def test_batch_limits(log):
    with pytest.raises(ValueError):
        log.batch_append("t", [b"x"] * (MAX_BATCH_ENTRIES + 1))
    # empty batch is a successful no-op (test_empty_batch_is_noop),
    # matching batch_writes.rs:231 — not a limit violation


def test_byte_budget_always_one(log):
    log.batch_append("t", [b"0123456789", b"ab", b"cd"])
    # budget smaller than first entry still delivers it
    assert log.batch_read("t", max_bytes=1) == [b"0123456789"]
    # budget covers exactly one more entry
    assert log.batch_read("t", max_bytes=2) == [b"ab"]


def test_stateless_start_offset(log):
    log.batch_append("t", [b"a", b"b", b"c", b"d"])
    assert log.batch_read("t", start_offset=2) == [b"c", b"d"]
    # cursor untouched by stateless reads
    assert log.read_next("t") == b"a"


def test_segments_assigned(log):
    log.batch_append("t", [b"x"] * 7)  # max_segment_entries=5
    segs = {
        (r["offset"], r["segment"]) for r in log.topic_df("t").collect()
    }
    assert segs == {(i, (i - 1) // 5) for i in range(1, 8)}
    assert log.state("t")["current_segment"] == 1


def test_crash_invisible_without_manifest(log, spark):
    log.batch_append("t", [b"a"])
    orphan = os.path.join(log._data_dir, "zzz_orphan")
    spark.createDataFrame(
        [("t", 0, 99, b"ghost", None)],
        "topic string, segment long, offset long, value binary, ts timestamp",
    ).write.mode("overwrite").parquet(orphan)
    relog = WalrusLog(spark, log.root)
    assert relog.high_watermark("t") == 1
    assert relog.df().where("offset = 99").count() == 0


def test_recovery_preserves_cursor_strictly_at_once(log, spark):
    log.batch_append("t", [b"a", b"b"])
    log.read_next("t")
    relog = WalrusLog(spark, log.root)
    assert relog.read_next("t") == b"b"


def test_at_least_once_replays(spark, tmp_path):
    root = str(tmp_path / "alo")
    log = WalrusLog(spark, root, consistency=ReadConsistency.at_least_once(10))
    log.batch_append("t", [b"a", b"b", b"c"])
    assert log.read_next("t") == b"a"
    assert log.read_next("t") == b"b"
    # crash before persist_every threshold → bounded re-delivery
    relog = WalrusLog(spark, root)
    assert relog.read_next("t") == b"a"


def test_multi_append_atomic_across_topics(log):
    ranges = log.multi_append({"x": [b"1", b"2"], "y": [b"3"]})
    assert ranges == {"x": (1, 2), "y": (1, 1)}
    assert len(log._manifest_records()) == 1


def test_vacuum_reclaims_consumed(log):
    log.batch_append("a", [b"1"])
    log.batch_append("b", [b"2"])
    log.batch_read("a")  # consume topic a fully
    assert log.vacuum() == 1
    assert log.topic_df("b").count() == 1
    assert log.high_watermark("a") == 1  # hw survives reclamation


def test_compact_preserves_data(log):
    log.batch_append("t", [b"a", b"b"])
    log.batch_append("t", [b"c"])
    log.compact()
    assert len(log._manifest_records()) == 1
    assert [
        bytes(r["value"])
        for r in log.topic_df("t").orderBy("offset").collect()
    ] == [b"a", b"b", b"c"]


def test_dirty_flags(log):
    log.batch_append("t", [b"a"])
    assert not log.topic_is_clean("t")  # appends auto-mark dirty
    gen = log._dirty["t"]["gen"]
    log.mark_topic_clean("t")
    assert log.topic_is_clean("t")
    assert log._dirty["t"]["gen"] == gen + 1


def test_ingest_contiguous_offsets(log, spark):
    df = spark.createDataFrame(
        [(f"t{i % 3}", f"p{i}".encode()) for i in range(30)],
        "topic string, value binary",
    )
    log.ingest(df, "topic", "value")
    log.ingest(df, "topic", "value")  # second commit continues offsets
    for t in ("t0", "t1", "t2"):
        offs = [r["offset"] for r in log.topic_df(t).orderBy("offset").collect()]
        assert offs == list(range(1, 21)), t


def test_compact_crash_before_cleanup_is_safe(log, spark, monkeypatch):
    """A crash after the compact record commits but before old batches
    are cleaned up must not double-deliver entries: replaced records are
    filtered by `replaces`, so cleanup is pure garbage collection."""
    import walrus_spark.log.wal as wal_mod

    log.batch_append("t", [b"a", b"b"])
    log.batch_append("t", [b"c"])
    # simulate the crash window: suppress cleanup of replaced batches
    monkeypatch.setattr(wal_mod.shutil, "rmtree", lambda *a, **k: None)
    monkeypatch.setattr(wal_mod.os, "remove", lambda *a, **k: None)
    log.compact()
    monkeypatch.undo()
    # old manifests + data dirs still on disk; a fresh instance must see
    # each entry exactly once and the original high watermark
    log2 = WalrusLog(spark, log.root, max_segment_entries=5)
    assert log2.high_watermark("t") == 3
    assert log2.df().count() == 3
    assert log2.batch_read("t", checkpoint=False) == [b"a", b"b", b"c"]


def test_ingest_txn_idempotent(log, spark):
    """A replayed ingest with the same txn id must commit exactly once,
    including after a restart (txn ids survive in the manifest)."""
    df = spark.createDataFrame([("t", b"x"), ("t", b"y")], "topic string, value binary")
    log.ingest(df, "topic", "value", txn="ckpt#0")
    log.ingest(df, "topic", "value", txn="ckpt#0")  # replay → no-op
    assert log.high_watermark("t") == 2
    relog = WalrusLog(spark, log.root)
    relog.ingest(df, "topic", "value", txn="ckpt#0")  # replay after crash
    assert relog.high_watermark("t") == 2
    relog.ingest(df, "topic", "value", txn="ckpt#1")  # new batch commits
    assert relog.high_watermark("t") == 4


def test_ingest_txn_survives_compaction(log, spark):
    """Compaction carries committed txn ids forward — a replay arriving
    after compact + restart is still deduplicated."""
    df = spark.createDataFrame([("t", b"x")], "topic string, value binary")
    log.ingest(df, "topic", "value", txn="ck#7")
    log.compact()
    relog = WalrusLog(spark, log.root)
    relog.ingest(df, "topic", "value", txn="ck#7")
    assert relog.high_watermark("t") == 1


def test_compact_does_not_lose_concurrent_appends(log):
    """Appends racing a compaction must never be dropped: both hold the
    write lock, so every acknowledged entry is in the final log
    (the ADVICE data-loss scenario, made into a chaos regression)."""
    import threading

    def appender():
        for j in range(12):
            log.append("hot", f"v{j}".encode())

    t = threading.Thread(target=appender)
    t.start()
    for _ in range(4):
        log.compact()
    t.join()
    log.compact()
    vals = [
        bytes(r["value"])
        for r in log.topic_df("hot").orderBy("offset").collect()
    ]
    assert vals == [f"v{j}".encode() for j in range(12)]
    assert log.high_watermark("hot") == 12


def test_concurrent_appends_chaos(log):
    """Chaos analog of the reference's concurrency suite
    (tests/integration.rs concurrent writers): threads hammer disjoint
    and overlapping topics; afterwards every topic must hold exactly its
    entries, contiguous from offset 1."""
    import threading

    topics = [f"t{i}" for i in range(4)]
    per_thread = 5

    def writer(tid: int):
        for j in range(per_thread):
            t = topics[(tid + j) % len(topics)]
            log.append(t, f"{tid}:{j}".encode())

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    total = 4 * per_thread
    assert sum(log.high_watermark(t) for t in topics) == total
    for t in topics:
        hw = log.high_watermark(t)
        offs = [
            r["offset"]
            for r in log.topic_df(t).select("offset").orderBy("offset").collect()
        ]
        assert offs == list(range(1, hw + 1)), f"gap in {t}"


def test_namespace_isolation(spark, tmp_path):
    """for_key namespaces (new_for_key analog): separate data, cursors,
    metadata; hostile keys are sanitized into the base root."""
    a = WalrusLog.for_key(spark, str(tmp_path), "tenant-a")
    b = WalrusLog.for_key(spark, str(tmp_path), "../../etc/passwd")
    a.append("t", b"a1")
    b.append("t", b"b1")
    assert a.read_next("t") == b"a1"
    assert a.read_next("t") is None
    assert b.read_next("t", checkpoint=False) == b"b1"
    assert b.topic_entry_count("t") == 1
    assert os.path.commonpath(
        [str(tmp_path), os.path.abspath(b.root)]
    ) == str(tmp_path)


def test_property_roundtrip_random_batches(spark, tmp_path):
    """Property-style round-trip (the reference's generated-pattern
    integrity tests, tests/batch_writes.rs): arbitrary byte payloads in
    arbitrary batch splits across topics come back exactly, in order."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    payloads = st.lists(
        st.binary(min_size=0, max_size=64), min_size=1, max_size=8
    )
    batches = st.lists(
        st.tuples(st.sampled_from(["t0", "t1", "t2"]), payloads),
        min_size=1,
        max_size=4,
    )

    case = [0]

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=list(HealthCheck),
    )
    @given(batches=batches)
    def run(batches):
        case[0] += 1
        log = WalrusLog(spark, str(tmp_path / f"prop{case[0]}"))
        want: dict[str, list[bytes]] = {}
        for topic, ps in batches:
            log.batch_append(topic, ps)
            want.setdefault(topic, []).extend(bytes(p) for p in ps)
        for topic, exp in want.items():
            got = log.batch_read(topic, checkpoint=False)
            assert got == exp
            assert log.high_watermark(topic) == len(exp)

    run()


def test_typed_topic_view_roundtrip(spark, tmp_path):
    """Ingest JSON payloads, register a typed view, and query it with
    SQL — decoded aggregates must match the source; undecodable rows
    survive as NULLs."""
    import json

    from walrus_spark.log.views import register_topic_view

    log = WalrusLog(spark, str(tmp_path / "tv"))
    payloads = [json.dumps({"k": i, "v": i * 1.5}).encode() for i in range(50)]
    log.batch_append("m", payloads + [b"not json"])
    name = register_topic_view(spark, log, "m", "k long, v double")
    got = spark.sql(
        f"SELECT count(k) AS n, sum(k) AS s FROM {name} WHERE k IS NOT NULL"
    ).collect()[0]
    assert (got["n"], got["s"]) == (50, sum(range(50)))
    bad = spark.sql(f"SELECT count(*) AS n FROM {name} WHERE k IS NULL").collect()[0]
    assert bad["n"] == 1  # kept, not dropped


def test_fsync_schedule_modes(spark, tmp_path):
    """O7: the sidecar durability schedule (src/wal/config.rs:29-34;
    background worker src/wal/runtime/background.rs:22-199).
    sync_each fsyncs per cursor persist; no_fsync never issues one yet
    stays rename-visible to a successor instance; milliseconds(n)
    batches fsyncs on the background worker."""
    import time

    from walrus_spark.log import FsyncSchedule

    # sync_each: every consumed read that persists the cursor fsyncs
    se = WalrusLog(
        spark, str(tmp_path / "se"), fsync=FsyncSchedule.sync_each()
    )
    se.batch_append("t", [b"a", b"b"])
    base = se.fsync_count
    se.batch_read("t")  # StrictlyAtOnce default: persist + fsync
    assert se.fsync_count > base

    # no_fsync: zero fsyncs, but the rename still makes the cursor
    # visible to a fresh instance (process-crash durability)
    nf = WalrusLog(
        spark, str(tmp_path / "nf"), fsync=FsyncSchedule.no_fsync()
    )
    nf.batch_append("t", [b"a", b"b"])
    nf.batch_read("t")
    assert nf.fsync_count == 0
    assert WalrusLog(spark, str(tmp_path / "nf")).topic_entry_count("t") == 0

    # milliseconds(n): write is immediately visible, the physical fsync
    # lands on the worker's next sweep, batched across persists
    ms = WalrusLog(
        spark, str(tmp_path / "ms"), fsync=FsyncSchedule(milliseconds=100)
    )
    ms.batch_append("t", [b"a", b"b", b"c"])
    ms.batch_read("t", max_entries=1)
    ms.batch_read("t", max_entries=1)
    assert WalrusLog(spark, str(tmp_path / "ms")).topic_entry_count("t") == 1
    deadline = time.time() + 5
    while ms.fsync_count == 0 and time.time() < deadline:
        time.sleep(0.05)
    assert ms.fsync_count >= 1  # batched: sweeps, not per-persist
    ms.close()
    assert ms.fsync_count <= 4  # far fewer fsyncs than persists+appends


def test_property_cursor_model(spark, tmp_path):
    """Model-checked delivery semantics (the reference's core contract,
    src/wal/runtime/walrus_read.rs + tests/batch_read.rs): a Python
    model of {entries, in-memory cursor, PERSISTED cursor, unpersisted
    count} must agree with the engine under arbitrary interleavings of
    append / consume / peek / restart with AtLeastOnce(persist_every=3).
    Mirrors the implementation detail that a cursor flush persists ALL
    topics' cursors (extra persistence is allowed — the contract is a
    replay BOUND, never a gap).

    This model (plus the fencing and marathon tests below) carries the
    single-node analogs of the reference's TLA+ invariants
    (distributed-walrus/spec/DistributedWalrus.tla:139-186):
    InvSeqOrder (delivery == append order: got == want on every
    consume/peek), InvReadCursorWithinBounds (entry_count == appended -
    consumed ≥ 0 at every step and across restarts),
    InvLastSealedIsSum/InvSealedCountsStable (segment accounting —
    test_metrics_surface, dq06), InvNoWritesPastOpen +
    InvOpenLeaderMatchesMap (exactly one live writer epoch may mutate —
    test_writer_fencing_two_instances), InvDomainConsistency (topics in
    metadata == topics with committed data — recovery tests). The Raft
    liveness properties (RolloverProgress/ReadProgress) are N/A: Spark
    job scheduling replaces the consensus plane (SURVEY §4)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    topics = ["a", "b"]
    ops = st.lists(
        st.one_of(
            st.tuples(
                st.just("append"), st.sampled_from(topics), st.integers(1, 5)
            ),
            st.tuples(
                st.just("consume"), st.sampled_from(topics), st.integers(1, 4)
            ),
            st.tuples(st.just("peek"), st.sampled_from(topics), st.just(0)),
            st.tuples(st.just("restart"), st.just("a"), st.just(0)),
        ),
        min_size=2,
        max_size=14,
    )
    case = [0]
    PE = 3

    @settings(
        max_examples=10, deadline=None, suppress_health_check=list(HealthCheck)
    )
    @given(ops=ops)
    def run(ops):
        case[0] += 1
        root = str(tmp_path / f"model{case[0]}")
        log = WalrusLog(
            spark, root, consistency=ReadConsistency.at_least_once(PE)
        )
        entries = {t: [] for t in topics}
        mem = {t: 0 for t in topics}      # in-memory cursor
        filec = {t: 0 for t in topics}    # persisted cursor
        pend = {t: 0 for t in topics}     # unpersisted reads
        seq = [0]
        for op, t, k in ops:
            if op == "append":
                ps = [f"{t}{seq[0] + i}".encode() for i in range(k)]
                seq[0] += k
                log.batch_append(t, ps)
                entries[t].extend(ps)
            elif op == "consume":
                want = entries[t][mem[t] : mem[t] + k]
                got = log.batch_read(t, max_entries=k)
                assert got == want, (op, t, k, got, want)
                if want:
                    mem[t] += len(want)
                    pend[t] += len(want)
                    if pend[t] >= PE:
                        # flush persists EVERY topic's current cursor
                        for x in topics:
                            filec[x] = mem[x]
                        pend[t] = 0
            elif op == "peek":
                want = entries[t][mem[t] : mem[t] + 2]
                got = log.batch_read(t, checkpoint=False, max_entries=2)
                assert got == want, (op, t, got, want)
            else:  # restart: successor hydrates the persisted cursor
                log = WalrusLog(
                    spark, root, consistency=ReadConsistency.at_least_once(PE)
                )
                for x in topics:
                    mem[x] = filec[x]
                    pend[x] = 0
        for t in topics:
            assert log.topic_entry_count(t) == len(entries[t]) - mem[t]
            assert log.high_watermark(t) == len(entries[t])

    run()


def test_metrics_surface(log):
    """D5 METRICS (controller/mod.rs:278-282 analog): the engine-state
    dict must track appends, consumption, commits, and fsyncs."""
    log.batch_append("a", [b"x"] * 7)  # segments of 5 -> current segment 1
    log.batch_append("b", [b"y"] * 3)
    log.batch_read("a", max_entries=2)
    m = log.metrics()
    assert m["n_topics"] == 2
    assert m["committed_batches"] == 2
    assert m["topics"]["a"]["high_watermark"] == 7
    assert m["topics"]["a"]["current_segment"] == 1
    assert m["topics"]["a"]["cursor"] == 2
    assert m["topics"]["a"]["unconsumed"] == 5
    assert m["topics"]["b"]["current_segment"] == 0
    assert m["topics"]["b"]["unconsumed"] == 3
    # StrictlyAtOnce flushes every read -> no unpersisted advances
    assert m["unpersisted_reads"].get("a", 0) == 0


def test_many_topics_metadata_scales(spark, tmp_path):
    """O(topics) driver metadata at high topic cardinality: one ingest
    commit spanning 500 topics must assign contiguous offsets per topic,
    answer counts/state for all of them, and recover identically in a
    fresh instance (the reference's multithreaded multi-topic write
    benchmark shape, benchmarks/multithreaded_benchmark_writes.rs)."""
    import pyspark.sql.functions as F

    root = str(tmp_path / "many")
    log = WalrusLog(spark, root)
    n_topics, per_topic = 500, 4
    df = (
        spark.range(n_topics * per_topic)
        .select(
            F.concat(F.lit("t"), (F.col("id") % n_topics)).alias("topic"),
            F.col("id").cast("string").cast("binary").alias("value"),
        )
    )
    log.ingest(df, "topic", "value")
    m = log.metrics()
    assert m["n_topics"] == n_topics
    assert m["committed_batches"] == 1
    counts = log.topic_entry_counts()
    assert len(counts) == n_topics
    assert set(counts.values()) == {per_topic}
    assert log.high_watermark("t0") == per_topic
    # offsets are contiguous 1..per_topic within every topic
    off = (
        log.df()
        .groupBy("topic")
        .agg(
            F.min("offset").alias("lo"),
            F.max("offset").alias("hi"),
            F.count("*").alias("n"),
        )
        .where(
            (F.col("lo") != 1)
            | (F.col("hi") != per_topic)
            | (F.col("n") != per_topic)
        )
        .count()
    )
    assert off == 0
    log.close()
    # a successor hydrates the same picture from sidecars alone
    log2 = WalrusLog(spark, root)
    assert log2.topic_entry_counts() == counts
    assert log2.metrics()["n_topics"] == n_topics
    log2.close()


def test_metrics_unpersisted_reads_tracks_replay_exposure(spark, tmp_path):
    """Under AtLeastOnce, metrics()['unpersisted_reads'] must equal the
    entries a crash right now would re-deliver — and drop to zero when
    the persist_every threshold flushes the cursor sidecar."""
    log = WalrusLog(
        spark,
        str(tmp_path / "upr"),
        consistency=ReadConsistency.at_least_once(4),
    )
    log.batch_append("t", [f"p{i}".encode() for i in range(8)])
    log.batch_read("t", max_entries=3)  # pending 3 < 4: no flush yet
    assert log.metrics()["unpersisted_reads"]["t"] == 3
    log.batch_read("t", max_entries=1)  # pending 4 >= 4: flushed
    assert log.metrics()["unpersisted_reads"]["t"] == 0
    # a successor sees the flushed cursor: nothing to re-deliver
    log.close()
    succ = WalrusLog(spark, str(tmp_path / "upr"))
    assert succ.topic_entry_count("t") == 4
    succ.close()


def test_checksum_detects_corrupted_payload(spark, tmp_path):
    """Per-entry checksum verification (the FNV-1a analog of reference
    src/wal/block.rs:43-77; corruption tests tests/unit.rs:110-137):
    rewrite a COMMITTED data file with one payload's bytes flipped but
    the original stored crc — the bitrot/bad-storage model parquet's
    own page checksums can't catch, since the file is internally
    consistent. Every read path must refuse loudly, and the cursor
    must NOT advance past the corrupt entry."""
    import glob

    import pyarrow.parquet as pq

    from walrus_spark.log import ChecksumError

    root = str(tmp_path / "crc")
    log = WalrusLog(spark, root)
    log.batch_append("t", [b"alpha", b"beta", b"gamma"])

    [f] = glob.glob(os.path.join(root, "data", "*", "*.parquet"))
    tbl = pq.read_table(f)
    vals = tbl.column("value").to_pylist()
    vals[1] = b"betX"  # flip payload, keep the stored crc
    import pyarrow as pa

    cols = {c: tbl.column(c) for c in tbl.column_names}
    cols["value"] = pa.array(vals, type=pa.binary())
    pq.write_table(pa.table(cols), f)
    # drop Hadoop's local-FS .crc sidecars: on a real object store no
    # such transport check exists — the per-ENTRY checksum is the layer
    # under test
    for sidecar in glob.glob(os.path.join(os.path.dirname(f), ".*.crc")):
        os.remove(sidecar)

    with pytest.raises(ChecksumError, match="offsets \\[2\\]"):
        log.batch_read("t")
    # nothing was consumed: the corrupt batch never advanced the cursor
    assert log.topic_entry_count("t") == 3
    # the intact first entry still reads fine (peek)...
    assert log.read_next("t", checkpoint=False) == b"alpha"
    # ...but stateless reads crossing the corrupt entry refuse too
    with pytest.raises(ChecksumError):
        log.batch_read("t", start_offset=1)
    log.close()


def test_checksum_verified_reads_metric(spark, tmp_path):
    """metrics()['verified_reads'] counts entries whose stored checksum
    was checked on delivery — full coverage on intact data."""
    log = WalrusLog(spark, str(tmp_path / "crcm"))
    log.batch_append("t", [b"a", b"b", b"c"])
    assert log.batch_read("t", max_entries=2) == [b"a", b"b"]
    assert log.metrics()["verified_reads"]["t"] == 2
    assert log.read_next("t") == b"c"
    assert log.metrics()["verified_reads"]["t"] == 3
    log.close()


def test_writer_fencing_two_instances(spark, tmp_path):
    """Cross-process writer fencing (the NotLeaderForPartition analog,
    distributed-walrus/src/bucket.rs:110-118): opening a second live
    instance on the same root TAKES OVER writership; the fenced first
    instance gets a loud NotLeaderError on every mutation — append,
    ingest, vacuum, compact — instead of silently assigning offsets
    from stale high watermarks. Offsets stay contiguous across the
    takeover."""
    from walrus_spark.log import NotLeaderError

    root = str(tmp_path / "fence")
    a = WalrusLog(spark, root)
    a.batch_append("t", [b"a1", b"a2", b"a3"])

    b = WalrusLog(spark, root)  # takeover: epoch bumps
    assert b.writer_epoch == a.writer_epoch + 1
    b.batch_append("t", [b"b4", b"b5"])

    for mutate in (
        lambda: a.append("t", b"stale"),
        lambda: a.vacuum(),
        lambda: a.compact(),
    ):
        with pytest.raises(NotLeaderError):
            mutate()
    # ingest is fenced too
    df = spark.createDataFrame([("t", b"x")], "topic string, v binary")
    with pytest.raises(NotLeaderError):
        a.ingest(df, topic_col="topic", payload_col="v")

    # the surviving writer's log is gap-free and loss-free
    offs = [
        int(r["offset"])
        for r in b.topic_df("t").select("offset").orderBy("offset").collect()
    ]
    assert offs == [1, 2, 3, 4, 5]
    assert b.high_watermark("t") == 5
    # the fenced instance can still READ (fencing is write-side only)
    assert a.read_next("t", checkpoint=False) == b"a1"
    a.close()
    b.close()


def test_concurrent_batch_would_block(spark, tmp_path):
    """wait=False mirrors the reference's concurrent-batch fail-fast
    (tests/batch_writes.rs WouldBlock suite), now at per-topic
    granularity (the per-key mutex, bucket.rs:60-118): while a batch to
    topic t is in flight, a second non-blocking batch to t refuses —
    but a batch to a DIFFERENT topic sails through, and an exclusive
    ingest/maintenance pass refuses every non-blocking append. The
    default still serializes."""
    from walrus_spark.log import WouldBlockError

    log = WalrusLog(spark, str(tmp_path / "wblock"))
    log.append("t", b"warm")  # JVM warm so timings below are sane
    log._topic_lock("t").acquire()  # simulate an in-flight batch to t
    try:
        with pytest.raises(WouldBlockError):
            log.batch_append("t", [b"x"], wait=False)
        with pytest.raises(WouldBlockError):
            log.multi_append({"t": [b"y"]}, wait=False)
        # per-topic locking: a different topic is NOT blocked
        assert log.batch_append("u", [b"u1"], wait=False) == (1, 1)
    finally:
        log._topic_lock("t").release()
    # an exclusive pass (ingest/vacuum/compact) blocks every topic
    log._rw.acquire_exclusive()
    try:
        with pytest.raises(WouldBlockError):
            log.batch_append("u", [b"u2"], wait=False)
    finally:
        log._rw.release_exclusive()
    # default blocking path still works after the contention
    assert log.batch_append("t", [b"z"]) == (2, 2)
    log.close()


def test_default_wait_serializes_with_one_shot_divergence_warning(
    spark, tmp_path
):
    """Pins the SHIPPED default (r5 directive #7): wait=True serializes
    concurrent batch appends — a documented divergence from the
    reference's WouldBlock fail-fast — and the FIRST real contention
    under that default emits one RuntimeWarning naming the divergence;
    later contention stays silent (one-shot per instance). Uncontended
    appends never warn."""
    import threading
    import warnings as _warnings

    log = WalrusLog(spark, str(tmp_path / "wdefault"))
    with _warnings.catch_warnings(record=True) as quiet:
        _warnings.simplefilter("always")
        log.append("t", b"uncontended")
    assert not [w for w in quiet if issubclass(w.category, RuntimeWarning)]

    def contended_round():
        lk = log._topic_lock("t")
        lk.acquire()  # simulate an in-flight batch
        release = threading.Timer(0.2, lk.release)
        release.start()
        with _warnings.catch_warnings(record=True) as caught:
            _warnings.simplefilter("always")
            log.batch_append("t", [b"serialized"])  # default wait=True
        release.join()
        return [
            w for w in caught if issubclass(w.category, RuntimeWarning)
        ]

    first = contended_round()
    assert len(first) == 1
    msg = str(first[0].message)
    assert "WouldBlock" in msg and "wait=False" in msg
    # one-shot: the second contention under the same instance is silent
    assert contended_round() == []
    # and the data all landed, serialized, offsets contiguous
    assert log.high_watermark("t") == 3
    log.close()


def test_appends_to_distinct_topics_interleave(spark, tmp_path):
    """Round-5 directive: appends to distinct topics must proceed
    concurrently (the reference serializes per wal_key, not globally —
    distributed-walrus/src/bucket.rs:60-118). Proof by failpoint: while
    thread A is frozen INSIDE its append to topic a (data written,
    commit pending), the main thread completes a whole append to topic
    b — impossible under a global write lock. Offsets stay contiguous
    per topic afterwards (TLA+ InvSeqOrder)."""
    import threading

    log = WalrusLog(spark, str(tmp_path / "interleave"))
    in_hook = threading.Event()
    release = threading.Event()

    def hook():
        if threading.current_thread().name == "slow-a":
            in_hook.set()
            assert release.wait(timeout=60)

    log._pre_commit_hook = hook
    err: list[Exception] = []

    def slow_append():
        try:
            log.batch_append("a", [b"a1", b"a2"])
        except Exception as e:  # noqa: BLE001
            err.append(e)

    t = threading.Thread(target=slow_append, name="slow-a")
    t.start()
    assert in_hook.wait(timeout=60)  # A is mid-append, holding lock(a)
    # B's append to a DIFFERENT topic completes while A is in flight
    assert log.batch_append("b", [b"b1"]) == (1, 1)
    release.set()
    t.join(timeout=60)
    assert not err, err
    log._pre_commit_hook = None
    # both topics contiguous from 1
    for topic, n in (("a", 2), ("b", 1)):
        offs = [
            r["offset"]
            for r in log.topic_df(topic).select("offset").orderBy("offset").collect()
        ]
        assert offs == list(range(1, n + 1)), topic
    log.close()


def test_fencing_atomic_under_interleaved_takeover(spark, tmp_path):
    """ADVICE r4 (D7 TOCTOU): a takeover landing BETWEEN the fenced
    writer's data write and its manifest rename must prevent the stale
    commit — the flock makes verify+rename atomic, so the window the
    old read-then-rename left open is closed. The failpoint lands a
    full takeover (claim + append) exactly in that window; the fenced
    instance must raise NotLeaderError and publish NOTHING, and the
    survivor's log stays gap-free."""
    from walrus_spark.log import NotLeaderError

    root = str(tmp_path / "fence_toctou")
    a = WalrusLog(spark, root)
    a.batch_append("t", [b"a1", b"a2", b"a3"])
    taken: dict = {}

    def takeover():
        b = WalrusLog(spark, root)  # claim lands mid-append of A
        b.batch_append("t", [b"b4", b"b5"])
        taken["b"] = b

    a._pre_commit_hook = takeover
    with pytest.raises(NotLeaderError):
        a.batch_append("t", [b"stale4"])
    a._pre_commit_hook = None
    b = taken["b"]
    # A's stale batch is invisible: exactly b's offsets, contiguous
    offs = [
        int(r["offset"])
        for r in b.topic_df("t").select("offset").orderBy("offset").collect()
    ]
    assert offs == [1, 2, 3, 4, 5]
    vals = [
        bytes(r["value"])
        for r in b.topic_df("t").select("offset", "value").orderBy("offset").collect()
    ]
    assert vals == [b"a1", b"a2", b"a3", b"b4", b"b5"]
    assert b.high_watermark("t") == 5
    a.close()
    b.close()


def test_background_maintenance_reclaims_without_manual_vacuum(
    spark, tmp_path
):
    """The maintenance daemon (background.rs:167-194 analog) must make
    fully-consumed batch files disappear on its own cadence — no
    vacuum() call — and auto-compact once the live record count
    reaches the threshold."""
    import glob
    import time as _time

    root = str(tmp_path / "maint")
    log = WalrusLog(
        spark,
        root,
        auto_maintenance_seconds=0.2,
        auto_compact_min_batches=3,
    )
    log.batch_append("a", [b"1"])
    log.batch_append("b", [b"2"])
    assert log.batch_read("a") == [b"1"]  # topic a fully consumed
    deadline = _time.time() + 10
    while _time.time() < deadline:
        live = {r["batch"] for r in log._manifest_records()}
        dirs = {
            os.path.basename(p)
            for p in glob.glob(os.path.join(root, "data", "*"))
        }
        if len(live) == 1 and not (dirs - live):
            break
        _time.sleep(0.1)
    else:
        raise AssertionError("daemon never reclaimed the consumed batch")
    assert log.metrics()["maintenance_sweeps"] >= 1

    # grow past the compact threshold: the daemon folds records to one
    for i in range(3):
        log.batch_append("b", [f"x{i}".encode()])
    deadline = _time.time() + 10
    while _time.time() < deadline:
        if len(log._manifest_records()) == 1:
            break
        _time.sleep(0.1)
    else:
        raise AssertionError("daemon never compacted past the threshold")
    # no entry was lost along the way
    assert log.batch_read("b", checkpoint=False) == [
        b"2", b"x0", b"x1", b"x2",
    ]
    assert log.metrics()["maintenance_errors"] == 0
    log.close()


def test_vacuum_crash_mid_sweep_is_safe(spark, tmp_path, monkeypatch):
    """Crash-ordering contract of reclamation: the manifest-record
    removal is the deletion commit point. A crash BEFORE the data-dir
    delete (simulated by suppressing rmtree) must leave a fully
    readable log — the record is gone, the orphan dir is invisible and
    collected later by recovery's grace-period sweep, and no record
    ever points at deleted files."""
    import walrus_spark.log.wal as wal_mod

    root = str(tmp_path / "vcrash")
    log = WalrusLog(spark, root)
    log.batch_append("a", [b"1"])
    log.batch_append("b", [b"keep"])
    log.batch_read("a")  # consume topic a
    monkeypatch.setattr(wal_mod.shutil, "rmtree", lambda *a, **k: None)
    assert log.vacuum() == 1  # record removed; dirs survive the "crash"
    monkeypatch.undo()
    # the crashed sweep's survivor dirs don't resurrect the batch
    log2 = WalrusLog(spark, root)
    assert log2.df().count() == 1
    assert log2.batch_read("b", checkpoint=False) == [b"keep"]
    assert log2.high_watermark("a") == 1  # hw metadata survives
    log.close()
    log2.close()


def test_batch_read_at_byte_trim_semantics(spark, tmp_path):
    """Byte-addressed stateless reads mirror the reference's semantics
    (walrus_read.rs:419-585) at the entry-level layout: each entry
    occupies [256 B header][payload]; a byte offset inside a payload
    trims that payload; inside a header delivers it whole; byte 0
    skips leading sub-128 B payloads (the :533-541 quirk); the byte
    budget keeps its always->=1 rule; the cursor never moves."""
    log = WalrusLog(spark, str(tmp_path / "byteoff"))
    small1, small2 = b"tiny", b"meta"
    big1 = bytes(range(200))          # first >=128 B payload
    big2 = b"B" * 150
    log.batch_append("t", [small1, small2, big1, big2])
    H = 256  # ENTRY_HEADER_BYTES

    # byte 0: the two small leading payloads are skipped
    assert log.batch_read_at_byte("t", 0) == [big1, big2]

    # entry layout: e1@[0,260) e2@[260,520) e3@[520,976) e4@[976,1382)
    e3_payload_start = (H + 4) * 2 + H
    # inside e3's HEADER -> whole payload
    assert log.batch_read_at_byte("t", e3_payload_start - 10) == [big1, big2]
    # 50 bytes into e3's payload -> trimmed first entry
    got = log.batch_read_at_byte("t", e3_payload_start + 50)
    assert got == [big1[50:], big2]
    # budget: always >=1 even when the first entry exceeds it
    assert log.batch_read_at_byte("t", e3_payload_start, max_bytes=1) == [big1]
    # past the end -> empty
    assert log.batch_read_at_byte("t", 10_000) == []
    # stateless: the shared cursor is untouched
    assert log.read_next("t") == small1
    log.close()


def test_recovery_marathon_mixed_workload(spark, tmp_path):
    """Recovery marathon (the e2e_longrunning.rs:15-646 analog —
    sustained mixed workload across MANY abrupt restarts): five
    generations of writer each append to two topics, consume part of
    one, run a maintenance sweep, and then are abandoned without
    close() (crash). Every successor must take over writership, see
    exactly the committed data, resume the strictly-at-once cursor
    with no loss and no re-delivery, and the final drain must account
    for every payload exactly once."""
    from walrus_spark.log import NotLeaderError

    root = str(tmp_path / "marathon")
    appended: dict[str, list[bytes]] = {"a": [], "b": []}
    consumed: list[bytes] = []
    log = WalrusLog(spark, root)
    for gen in range(5):
        pa = [f"a{gen}-{i}".encode() for i in range(4)]
        pb = [f"b{gen}-{i}".encode() for i in range(3)]
        log.batch_append("a", pa)
        log.multi_append({"b": pb})
        appended["a"].extend(pa)
        appended["b"].extend(pb)
        # consume two entries of topic a, then maintenance, then crash
        got = log.batch_read("a", max_entries=2)
        assert len(got) == 2
        consumed.extend(got)
        log.maintenance_sweep()
        crashed = log
        log = WalrusLog(spark, root)  # successor takes over (no close)
        assert log.writer_epoch == crashed.writer_epoch + 1
        # the crashed generation is fenced out of every mutation
        with pytest.raises(NotLeaderError):
            crashed.batch_append("a", [b"zombie"])
        # committed state is intact: hw and remaining unread counts
        assert log.high_watermark("a") == len(appended["a"])
        assert log.high_watermark("b") == len(appended["b"])
        assert log.topic_entry_count("a") == len(appended["a"]) - len(consumed)
        assert log.topic_entry_count("b") == len(appended["b"])
    # final drain: strictly-at-once → continuation, no replay, no gaps
    while True:
        batch = log.batch_read("a")
        if not batch:
            break
        consumed.extend(batch)
    assert consumed == appended["a"]
    drained_b: list[bytes] = []
    while True:
        batch = log.batch_read("b")
        if not batch:
            break
        drained_b.extend(batch)
    assert drained_b == appended["b"]
    assert log.topic_entry_count("a") == 0 and log.topic_entry_count("b") == 0


def test_batch_read_at_byte_across_segments(spark, tmp_path):
    """The two-phase byte-extent computation (per-segment partials +
    driver prefix + per-segment window) must produce one CONTINUOUS
    byte stream across segment boundaries — a byte_start landing in
    segment 2 addresses exactly the same stream a global running sum
    would give."""
    log = WalrusLog(
        spark, str(tmp_path / "bseg"), max_segment_entries=3
    )
    payloads = [bytes([65 + i]) * (130 + i) for i in range(8)]  # 3 segments
    log.batch_append("t", payloads)
    H = 256

    # full stream from byte 0 (all payloads >=128 B, nothing skipped)
    assert log.batch_read_at_byte("t", 0) == payloads

    # byte_start 37 bytes into entry 5's payload (segment 1)
    start_e5 = sum(H + len(p) for p in payloads[:4]) + H
    got = log.batch_read_at_byte("t", start_e5 + 37)
    assert got == [payloads[4][37:]] + payloads[5:]

    # byte_start inside the LAST segment's final header
    start_e8 = sum(H + len(p) for p in payloads[:7]) + H
    assert log.batch_read_at_byte("t", start_e8 - 1) == [payloads[7]]
    log.close()


def test_special_topic_names(log):
    """Special topic names (integration.rs special-names suite analog):
    names with spaces, dots, slashes, unicode, and quotes are plain
    column values / JSON keys in this design — they must round-trip
    bit-exact with full isolation and survive recovery."""
    names = [
        "with space",
        "dots.and.dots",
        "path/like/topic",
        "ünïcødé-主题",
        'quo"te',
        "tab\tname",
    ]
    for i, t in enumerate(names):
        log.batch_append(t, [f"payload-{i}".encode()])
    assert sorted(log.topics()) == sorted(names)
    for i, t in enumerate(names):
        assert log.topic_entry_count(t) == 1
        assert log.batch_read(t, checkpoint=False) == [f"payload-{i}".encode()]
    relog = WalrusLog(log.spark, log.root)
    for i, t in enumerate(names):
        assert relog.read_next(t) == f"payload-{i}".encode(), t


def test_persist_every_zero_clamps_to_one(spark, tmp_path):
    """AtLeastOnce(persist_every=0) clamps to 1 (configuration.rs
    test_persist_every_zero_clamping): every read persists, so a
    successor continues — msg2 after msg1, no re-delivery."""
    root = str(tmp_path / "clamp")
    log = WalrusLog(
        spark, root, consistency=ReadConsistency.at_least_once(0)
    )
    log.append("test", b"msg1")
    log.append("test", b"msg2")
    assert log.read_next("test") == b"msg1"
    log2 = WalrusLog(
        spark, root, consistency=ReadConsistency.at_least_once(0)
    )
    assert log2.read_next("test") == b"msg2"


def test_batch_read_edges_interleaved_peek_zero_len_exact_budget(log):
    """Read-path edges from the reference suites in one scenario
    (batch_read_without_checkpoint, interleaved_single_and_batch_reads,
    chaos_zero_length_entries_in_batch, batch_read_exact_budget_boundary):
    batch peek never moves the cursor; single and batch reads interleave
    on ONE shared cursor; zero-length payloads are delivered (cost 0
    bytes against the budget); a budget exactly equal to the cumulative
    payload size delivers everything up to it."""
    log.batch_append("t", [b"aa", b"", b"bbb", b"", b"cccc"])
    # batch PEEK: no cursor movement
    assert log.batch_read("t", checkpoint=False) == [b"aa", b"", b"bbb", b"", b"cccc"]
    assert log.read_next("t") == b"aa"          # single read advances 1
    # batch read continues after the single read; exact budget 3 covers
    # b"" (0) + b"bbb" (3) inclusive — and the NEXT zero-length entry
    # still fits (it costs 0 against the exactly-consumed budget)
    assert log.batch_read("t", max_bytes=3) == [b"", b"bbb", b""]
    # next single read continues after the batch
    assert log.read_next("t") == b"cccc"
    assert log.topic_entry_count("t") == 0


def test_property_byte_read_model(spark, tmp_path):
    """Model-check batch_read_at_byte against a pure-Python byte-layout
    reference under random append histories and random byte offsets:
    the topic's byte stream is [256 B header][payload] per entry in
    offset order; an offset inside a payload trims it; inside a header
    delivers whole; byte 0 skips leading sub-128 B payloads; the byte
    budget keeps its ≥1 rule. Exercises the two-phase (per-segment)
    extent computation across many segment boundaries."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    H = 256

    def model(entries, byte_start, max_bytes):
        # offsets[i] = start byte of entry i's header
        if byte_start == 0:
            k = next(
                (i for i, p in enumerate(entries) if len(p) >= 128), None
            )
            if k is None:
                return []
            sel, trim = entries[k:], 0
        else:
            pos, sel, trim = 0, None, 0
            for i, p in enumerate(entries):
                end = pos + H + len(p)
                if end > byte_start:
                    sel = entries[i:]
                    trim = max(0, byte_start - (pos + H))
                    break
                pos = end
            if sel is None:
                return []
        out, cum = [], 0
        for j, p in enumerate(sel):
            cum += len(p)
            if j > 0 and cum > max_bytes:
                break
            out.append(p[trim:] if j == 0 else p)
        return out

    payload = st.binary(min_size=0, max_size=300)
    case = [0]

    @settings(
        max_examples=8, deadline=None, suppress_health_check=list(HealthCheck)
    )
    @given(
        batches=st.lists(
            st.lists(payload, min_size=1, max_size=4), min_size=1, max_size=4
        ),
        probes=st.lists(st.integers(0, 4000), min_size=1, max_size=3),
        budget=st.integers(1, 600),
    )
    def run(batches, probes, budget):
        case[0] += 1
        log = WalrusLog(
            spark,
            str(tmp_path / f"bmodel{case[0]}"),
            max_segment_entries=3,  # force many segment boundaries
        )
        entries: list[bytes] = []
        for b in batches:
            log.batch_append("t", b)
            entries.extend(b)
        for byte_start in probes:
            want = model(entries, byte_start, budget)
            got = log.batch_read_at_byte(
                "t", byte_start, max_bytes=budget
            )
            assert got == want, (byte_start, budget, got, want)
        log.close()

    run()


def test_batch_read_predicates_push_down(log, spark):
    """The tail-read claim in batch_read's docstring, pinned: the
    topic equality and offset-range predicates must reach the parquet
    scan as PushedFilters (min/max row-group pruning is what makes a
    cursored read touch only tail files at scale)."""
    log.batch_append("t", [b"a", b"b", b"c"])
    log.batch_append("u", [b"x"])
    import pyspark.sql.functions as F

    scan = log.topic_df("t").where(F.col("offset") > 1)
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan, plan
    pushed = plan[plan.index("PushedFilters") :].split("]")[0]
    assert "EqualTo(topic,t)" in pushed, pushed
    assert "GreaterThan(offset,1)" in pushed, pushed


def test_full_chaos_all_operations(spark, tmp_path):
    """Full-chaos mixed-operation stress (tests/batch_read.rs
    full-chaos / e2e_longrunning mixed-workload analog): writer,
    consumer, peeker, and maintenance threads race on overlapping
    topics for several rounds. Afterwards the log must satisfy every
    invariant at once: per-topic contiguous offsets from 1, consumed
    prefix + drained remainder == exactly the appended sequence
    (strictly-at-once: no loss, no duplication, in order), and
    maintenance never disturbed any of it."""
    import threading

    log = WalrusLog(spark, str(tmp_path / "chaos"), max_segment_entries=7)
    topics = ["a", "b", "c"]
    appended = {t: [] for t in topics}
    consumed = {t: [] for t in topics}
    app_lock = threading.Lock()
    stop = threading.Event()
    errors: list[BaseException] = []

    def guard(fn):
        def run():
            try:
                fn()
            except BaseException as e:  # noqa: BLE001
                errors.append(e)
                stop.set()
        return run

    @guard
    def writer():
        for j in range(30):
            t = topics[j % len(topics)]
            payload = f"{t}-{j}".encode()
            if j % 7 == 0:
                log.batch_append(t, [payload, payload + b"+"])
                with app_lock:
                    appended[t] += [payload, payload + b"+"]
            else:
                log.append(t, payload)
                with app_lock:
                    appended[t].append(payload)
        stop.set()

    @guard
    def consumer():
        # strictly-at-once consume in the background; batch_read holds
        # its own ordering contract
        while not stop.is_set():
            for t in topics:
                consumed[t] += log.batch_read(t, max_entries=3)

    @guard
    def peeker():
        while not stop.is_set():
            for t in topics:
                log.batch_read(t, checkpoint=False, max_entries=2)
                log.topic_entry_count(t)
                log.state(t)

    @guard
    def maintainer():
        while not stop.is_set():
            log.maintenance_sweep()

    threads = [
        threading.Thread(target=f)
        for f in (writer, consumer, peeker, maintainer)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=600)
    assert not errors, errors

    # drain what the background consumer didn't get to
    for t in topics:
        while True:
            batch = log.batch_read(t)
            if not batch:
                break
            consumed[t] += batch
    for t in topics:
        assert consumed[t] == appended[t], t
        n = len(appended[t])
        assert log.high_watermark(t) == n
        # maintenance may have legally reclaimed fully-consumed
        # batches (the log-retention contract): whatever survives must
        # be a contiguous SUFFIX of 1..n, and the high watermark is
        # metadata that outlives reclamation
        offs = [
            r["offset"]
            for r in log.topic_df(t).orderBy("offset").collect()
        ]
        assert offs == list(range(n - len(offs) + 1, n + 1)), (t, offs)
    assert log.metrics()["maintenance_errors"] == 0
    log.close()


def test_batch_read_with_watermark_atomic_lag(spark, tmp_path):
    """Round-5 directive: the cluster GET reply carries high_watermark
    alongside the entries (distributed-walrus/src/rpc.rs:17-20) so a
    consumer learns lag atomically with delivery — one call returns
    (entries, hw), and metrics()['consumer_lag'] tracks
    hw − last_delivered per topic."""
    log = WalrusLog(spark, str(tmp_path / "hwread"))
    log.batch_append("t", [b"a", b"b", b"c", b"d", b"e"])
    entries, hw = log.batch_read_with_watermark("t", max_entries=2)
    assert entries == [b"a", b"b"]
    assert hw == 5
    assert log.metrics()["consumer_lag"]["t"] == 3
    entries, hw = log.batch_read_with_watermark("t")
    assert entries == [b"c", b"d", b"e"]
    assert hw == 5
    assert log.metrics()["consumer_lag"]["t"] == 0
    # peek variant reports lag without consuming
    log.batch_append("t", [b"f"])
    entries, hw = log.batch_read_with_watermark(
        "t", checkpoint=False, max_entries=1
    )
    assert entries == [b"f"] and hw == 6
    assert log.metrics()["consumer_lag"]["t"] == 0
    log.close()


def test_ingest_unpinned_audit_and_pinned_fallback(spark, tmp_path, monkeypatch):
    """Round-5 directive: ingest's fast path skips the localCheckpoint
    (a full-payload materialization that cost ~14% throughput) and
    instead audits the staged files' offsets before commit. A failed
    audit — the nondeterministic-source divergence the checkpoint used
    to pin away — must discard the staged batch and rerun pinned,
    still committing contiguous offsets exactly once."""
    log = WalrusLog(spark, str(tmp_path / "ingaudit"))
    # pin the DISTRIBUTED ingest path (r15's sub-10k-row driver fast
    # path bypasses the audit entirely — it is single-pass by
    # construction; this test targets the two-pass path's repair)
    monkeypatch.setattr(WalrusLog, "DRIVER_APPEND_MAX_ROWS", 0)
    df = spark.createDataFrame(
        [(f"t{i % 2}", f"p{i}".encode()) for i in range(20)],
        "topic string, value binary",
    )
    # force the audit to fail once: the fallback must kick in
    real = WalrusLog._offsets_exact
    calls = {"n": 0}

    def flaky_audit(self, path, ranges):
        calls["n"] += 1
        if calls["n"] == 1:
            return False
        return real(self, path, ranges)

    monkeypatch.setattr(WalrusLog, "_offsets_exact", flaky_audit)
    log.ingest(df, "topic", "value")
    monkeypatch.undo()
    assert log.metrics()["ingest_pinned_retries"] == 1
    # exactly one committed batch, contiguous offsets per topic
    assert len(log._manifest_records()) == 1
    for t in ("t0", "t1"):
        offs = [r["offset"] for r in log.topic_df(t).orderBy("offset").collect()]
        assert offs == list(range(1, 11)), t
    # clean ingest takes the fast path: no retry, audit passes
    log.ingest(df, "topic", "value")
    assert log.metrics()["ingest_pinned_retries"] == 1
    for t in ("t0", "t1"):
        offs = [r["offset"] for r in log.topic_df(t).orderBy("offset").collect()]
        assert offs == list(range(1, 21)), t
    log.close()


def test_ingest_small_commit_driver_path(spark, tmp_path, monkeypatch):
    """r15 optimization: a sub-10k-row ingest commit writes its part
    file DRIVER-side (one collect + the pyarrow writer shared with the
    wire-append path) instead of paying pass 2's Spark job + the
    offset audit. Offsets, segments and crc-verified roundtrip must be
    identical to the distributed path, and the audit (a two-pass-path
    consistency repair) must not run at all."""
    calls = {"driver": 0, "audit": 0}
    real_w = WalrusLog._write_batch_driver
    real_a = WalrusLog._offsets_exact

    def counting_write(self, path, rows):
        calls["driver"] += 1
        return real_w(self, path, rows)

    def counting_audit(self, path, ranges):
        calls["audit"] += 1
        return real_a(self, path, ranges)

    monkeypatch.setattr(WalrusLog, "_write_batch_driver", counting_write)
    monkeypatch.setattr(WalrusLog, "_offsets_exact", counting_audit)
    log = WalrusLog(spark, str(tmp_path / "ingdrv"), max_segment_entries=4)
    df = spark.createDataFrame(
        [(f"t{i % 2}", f"p{i}".encode()) for i in range(10)],
        "topic string, value binary",
    )
    log.ingest(df, "topic", "value")
    assert calls == {"driver": 1, "audit": 0}
    for t in ("t0", "t1"):
        rows = log.topic_df(t).orderBy("offset").collect()
        assert [r["offset"] for r in rows] == list(range(1, 6)), t
        assert [r["segment"] for r in rows] == [0, 0, 0, 0, 1], t
    # delivery runs the JVM-side crc check, so a driver-written file
    # with a wrong XXH64 would fail loudly here
    assert log.batch_read("t0", checkpoint=False) == [
        b"p0",
        b"p2",
        b"p4",
        b"p6",
        b"p8",
    ]
    # a second commit continues offsets across the same fast path
    log.ingest(df, "topic", "value")
    assert calls == {"driver": 2, "audit": 0}
    assert log.high_watermark("t1") == 10
    log.close()


def test_ingest_distributed_pass2_zero_exchange_no_python(
    spark, tmp_path, monkeypatch
):
    """Distributed-ingest pass 2 numbers rows with a per-partition sort
    and a broadcast join against the driver's per-(partition, topic)
    delta table. Three contracts: (a) the staged plan carries NO
    payload Exchange — _pid IS the partition id, so each task numbers
    its own rows locally; (b) the assignment is exact — per-topic
    offsets contiguous from the high watermark, rows numbered in
    (partition, within-partition scan order); (c) nothing in the plan
    runs in a Python worker: no MapInArrow / ArrowEvalPython /
    BatchEvalPython node, and the delta table is a LocalTableScan, not
    a Python-built ExistingRDD."""
    import pyspark.sql.functions as F

    monkeypatch.setattr(WalrusLog, "DRIVER_APPEND_MAX_ROWS", 0)
    log = WalrusLog(
        spark, str(tmp_path / "ingpass2"), max_segment_entries=1000
    )
    n = 5000
    df = (
        spark.range(n)
        .repartition(7)  # multi-partition source, topics interleaved
        .select(
            F.concat(F.lit("t"), (F.col("id") % 3)).alias("topic"),
            F.col("id").cast("string").cast("binary").alias("value"),
        )
    )
    src = df.withColumn("_pid", F.spark_partition_id())
    counts = (
        src.groupBy("_pid", "topic").agg(F.count("*").alias("n")).collect()
    )
    staged, ranges = log._assign_offsets(src, counts)
    assert ranges == {t: (1, ranges[t][1]) for t in ("t0", "t1", "t2")}
    plan = staged._jdf.queryExecution().executedPlan().toString()
    # (a) the only Exchange is the test source's own repartition(7)
    # plus the delta table's broadcast; pass 2 adds no
    # Exchange hashpartitioning(_pid, topic) carrying every payload
    assert "Exchange hashpartitioning" not in plan
    assert plan.count("Exchange") == plan.count(
        "Exchange RoundRobinPartitioning"
    ) + plan.count("BroadcastExchange")
    # (c) no Python execution node; the broadcast side is local
    for node in ("MapInArrow", "ArrowEvalPython", "BatchEvalPython", "ExistingRDD"):
        assert node not in plan, node
    assert "LocalTableScan" in plan.split("BroadcastExchange", 1)[1]
    # (b) exact assignment: expected per-topic value sequence is the
    # rows in (partition, scan-order) — which collect() preserves
    expected_seq: dict[str, list[bytes]] = {}
    for r in src.select("topic", "value").collect():
        expected_seq.setdefault(r["topic"], []).append(bytes(r["value"]))
    log.ingest(df, "topic", "value")
    assert log.ingest_pinned_retries == 0  # audit accepted pass 2
    for t in ("t0", "t1", "t2"):
        rows = sorted(
            log.topic_df(t).collect(), key=lambda r: r["offset"]
        )
        assert [r["offset"] for r in rows] == list(
            range(1, len(rows) + 1)
        ), t
        assert [bytes(r["value"]) for r in rows] == expected_seq[t], t
    # crc-verified delivery path over the staged files
    assert len(log.batch_read("t0", checkpoint=False)) > 0
    log.close()


def test_ingest_distributed_edge_topics_and_segment_roll(
    spark, tmp_path, monkeypatch
):
    """Pass 2's delta table assumes the driver orders topics exactly as
    Spark's sort does (NULLS FIRST, then UTF-8 byte order). A NULL
    topic, non-ASCII and special topics over six source partitions,
    with segments rolling mid-commit: offsets are contiguous per topic
    in (partition, scan) order, segment is (offset-1)//4, every part
    file is (topic, offset)-sorted, a second commit continues, and the
    audit never falls back to the pinned rerun."""
    import glob

    import pyarrow.parquet as pq
    import pyspark.sql.functions as F

    monkeypatch.setattr(WalrusLog, "DRIVER_APPEND_MAX_ROWS", 0)
    log = WalrusLog(spark, str(tmp_path / "ingedge"), max_segment_entries=4)
    names = ["é", "日本", "a b", "z"]
    df = spark.range(0, 90, 1, 6).select(
        F.when(F.col("id") % 7 == 0, F.lit(None).cast("string"))
        .otherwise(
            F.element_at(
                F.array(*[F.lit(t) for t in names]),
                (F.col("id") % len(names) + 1).cast("int"),
            )
        )
        .alias("topic"),
        F.col("id").cast("string").cast("binary").alias("value"),
    )
    src = df.withColumn("_pid", F.spark_partition_id())
    assert src.select("_pid").distinct().count() == 6
    expected: dict = {}
    for r in src.select("topic", "value").collect():
        expected.setdefault(r["topic"], []).append(bytes(r["value"]))
    assert set(expected) == {None, *names}

    def check(commits: int) -> None:
        got: dict = {}
        for r in log.df().collect():
            got.setdefault(r["topic"], []).append(r)
        assert set(got) == set(expected)
        # every row carries its commit's one timestamp
        stamps = {r["ts"] for rows in got.values() for r in rows}
        assert None not in stamps and len(stamps) == commits
        for t, rows in got.items():
            rows.sort(key=lambda r: r["offset"])
            assert [r["offset"] for r in rows] == list(
                range(1, commits * len(expected[t]) + 1)
            ), t
            assert [bytes(r["value"]) for r in rows] == expected[t] * commits, t
            assert all(r["segment"] == (r["offset"] - 1) // 4 for r in rows), t
        for rec in log._manifest_records():
            for part in glob.glob(f"{rec['path']}/part-*.parquet"):
                tbl = pq.read_table(part, columns=["topic", "offset"])
                keys = [
                    (t is not None, (t or "").encode(), o)
                    for t, o in zip(
                        tbl.column("topic").to_pylist(),
                        tbl.column("offset").to_pylist(),
                    )
                ]
                assert keys == sorted(keys), part

    log.ingest(df, "topic", "value")
    check(1)
    log.ingest(df, "topic", "value")
    check(2)
    assert log.ingest_pinned_retries == 0
    for t in names:
        assert log.high_watermark(t) == 2 * len(expected[t])
    log.close()


def test_offsets_exact_audit_rejects_bad_layouts(spark, tmp_path):
    """The pre-commit audit itself: exact interval cover passes;
    duplicate-offset (with a compensating gap), wrong-bounds, and
    missing-topic layouts are all rejected."""
    import pyspark.sql.functions as F

    log = WalrusLog(spark, str(tmp_path / "audit"))

    staged_n = [0]

    def stage(rows):
        staged_n[0] += 1
        p = str(tmp_path / f"staged_{staged_n[0]}")
        (
            spark.createDataFrame(
                [(t, 0, o, b"x", None) for t, _, o in rows],
                "topic string, segment long, offset long, value binary, ts timestamp",
            )
            .withColumn("crc", F.xxhash64("value"))
            .write.mode("overwrite")
            .parquet(p)
        )
        return p

    good = stage([("t", 0, o) for o in range(1, 6)])
    dup = stage([("t", 0, o) for o in [1, 2, 2, 4, 5]])  # dup+gap, same n/min/max
    short = stage([("t", 0, o) for o in range(1, 5)])
    for driver_max in (WalrusLog.AUDIT_DRIVER_MAX_ROWS, 0):
        # both audit forms — driver-side pyarrow and the distributed
        # Spark aggregate (forced by a zero driver ceiling) — must agree
        log.AUDIT_DRIVER_MAX_ROWS = driver_max
        assert log._offsets_exact(good, {"t": (1, 5)}), driver_max
        assert not log._offsets_exact(dup, {"t": (1, 5)}), driver_max
        assert not log._offsets_exact(short, {"t": (1, 5)}), driver_max
        assert not log._offsets_exact(good, {"t": (1, 5), "u": (1, 1)}), driver_max
    log.close()


def test_env_var_config(spark, tmp_path, monkeypatch):
    """Builder env fallbacks (WalrusBuilder analog, src/wal/runtime/
    builder.rs:26-104): WALRUS_DATA_DIR + WALRUS_INSTANCE_KEY place the
    log (paths.rs:11-18), WALRUS_MAX_SEGMENT_ENTRIES /
    WALRUS_FSYNC_SCHEDULE / WALRUS_READ_CONSISTENCY configure it; the
    key is sanitized exactly as for_key (config.rs:88-104)."""
    base = str(tmp_path / "envroot")
    monkeypatch.setenv("WALRUS_DATA_DIR", base)
    monkeypatch.setenv("WALRUS_INSTANCE_KEY", "prod/tenant a")
    monkeypatch.setenv("WALRUS_MAX_SEGMENT_ENTRIES", "5")
    monkeypatch.setenv("WALRUS_FSYNC_SCHEDULE", "no_fsync")
    monkeypatch.setenv("WALRUS_READ_CONSISTENCY", "at_least_once:7")
    log = WalrusLog.builder(spark).build()
    assert log.root == os.path.join(base, "prod_tenant_a")
    assert log.max_segment_entries == 5
    assert log.fsync.milliseconds == -1
    assert log.consistency.persist_every == 7
    log.batch_append("t", [b"x"] * 7)
    assert {r["segment"] for r in log.topic_df("t").collect()} == {0, 1}
    log.close()
    # explicit setters BYPASS the env entirely
    other = str(tmp_path / "explicit")
    log2 = (
        WalrusLog.builder(spark)
        .data_dir(other)
        .key("k")
        .max_segment_entries(100)
        .consistency(ReadConsistency.strictly_at_once())
        .build()
    )
    assert log2.root == os.path.join(other, "k")
    assert log2.max_segment_entries == 100
    assert log2.consistency.persist_every == 1
    log2.close()


def test_builder_eliminates_env_race(spark, tmp_path):
    """Mirror of the reference's env-var race regression
    (tests/env_var_race_condition.rs:27-90): two threads each point
    WALRUS_DATA_DIR at their own directory before constructing; the
    env is process-global so the last set wins — but builders with an
    EXPLICIT data_dir are immune: each thread's log must land in its
    own directory regardless of env state."""
    import threading

    d1, d2 = str(tmp_path / "thread1"), str(tmp_path / "thread2")
    barrier = threading.Barrier(2)
    results: dict[str, bool] = {}

    def worker(name: str, mine: str):
        os.environ["WALRUS_DATA_DIR"] = mine  # the racy global write
        barrier.wait()  # both threads have set the env var now
        log = WalrusLog.builder(spark).data_dir(mine).key("race_test").build()
        log.append("t", name.encode())
        log.close()
        results[name] = os.path.isdir(os.path.join(mine, "race_test"))

    t1 = threading.Thread(target=worker, args=("t1", d1))
    t2 = threading.Thread(target=worker, args=("t2", d2))
    t1.start(); t2.start(); t1.join(60); t2.join(60)
    os.environ.pop("WALRUS_DATA_DIR", None)
    assert results == {"t1": True, "t2": True}


def test_shared_exclusive_lock_fifo_fair():
    """The writer gate must be FIFO-fair in BOTH directions: a
    tight-loop exclusive acquirer (the chaos maintainer) must not
    starve shared acquirers (appenders), and vice versa — the r5
    livelock regression. Pure-Python, no Spark."""
    import threading
    import time as _t

    from walrus_spark.log.wal import _SharedExclusiveLock

    lk = _SharedExclusiveLock()
    deadline = _t.monotonic() + 2.0
    progress = {"s": 0, "x": 0}
    plock = threading.Lock()

    def excl():
        while _t.monotonic() < deadline:
            with lk.exclusive():
                with plock:
                    progress["x"] += 1

    def shared():
        while _t.monotonic() < deadline:
            assert lk.acquire_shared()
            try:
                with plock:
                    progress["s"] += 1
            finally:
                lk.release_shared()

    threads = [threading.Thread(target=excl) for _ in range(2)] + [
        threading.Thread(target=shared) for _ in range(2)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=30)
    assert not any(t.is_alive() for t in threads)
    assert progress["s"] > 100, progress
    assert progress["x"] > 100, progress


def test_per_topic_persist_every_interleaved(spark, tmp_path):
    """persist_every counts PER TOPIC (configuration.rs:184-211,
    test_multiple_topics_different_consistency_behavior): one read on
    each of two topics at persist_every=2 persists NEITHER cursor, so
    a successor replays both topics from the start. Persisting more
    often than the bound (e.g. when another topic's flush sweeps all
    cursors) is a permitted tightening; persisting less is a bug this
    test would catch."""
    root = str(tmp_path / "pt")
    log = WalrusLog(
        spark, root, consistency=ReadConsistency.at_least_once(2)
    )
    log.append("topic_a", b"a1")
    log.append("topic_b", b"b1")
    log.append("topic_a", b"a2")
    log.append("topic_b", b"b2")
    assert log.read_next("topic_a") == b"a1"
    assert log.read_next("topic_b") == b"b1"
    # no close(): simulate a crash before any persist threshold fires
    relog = WalrusLog(
        spark, root, consistency=ReadConsistency.at_least_once(2)
    )
    assert relog.read_next("topic_a") == b"a1"
    assert relog.read_next("topic_b") == b"b1"
    relog.close()


def test_mixed_size_drain_never_stuck(spark, tmp_path):
    """Mixed tiny/multi-MB entries drained under a small byte budget
    (repro_issue.rs:6, the stuck-read regression): every entry —
    including ones far exceeding the budget — is delivered exactly
    once, in order, and the drain terminates."""
    root = str(tmp_path / "mix")
    log = WalrusLog(spark, root)
    big = b"Y" * (2 * 1024 * 1024)
    big2 = b"Z" * (1024 * 1024)
    payloads = [b"X" * 18, big, b"X" * 18, big2]
    log.batch_append("t", payloads)

    # stateless form from offset 0 with a budget below the big entries
    got, off, rounds = [], 0, 0
    while rounds < 20:
        batch = log.batch_read(
            "t", max_bytes=64 * 1024, checkpoint=False, start_offset=off
        )
        if not batch:
            break
        got.extend(batch)
        off += len(batch)
        rounds += 1
    assert got == payloads, [len(p) for p in got]

    # cursor form drains identically
    got2 = []
    while True:
        b = log.batch_read("t", max_bytes=64 * 1024)
        if not b:
            break
        got2.extend(b)
    assert got2 == payloads
    log.close()


def test_extreme_topic_names(spark, tmp_path):
    """stress_extreme_topic_names (unit.rs:409) — and beyond: because
    topics are COLUMN VALUES (never filesystem path components), names
    with dots, dashes, unicode, spaces, and even slashes all work with
    full isolation; the reference tolerates rejection for some of
    these, this engine accepts them all."""
    log = WalrusLog(spark, str(tmp_path / "names"))
    topics = [
        "a", "a" * 10, "topic_with_underscores_and_numbers_123",
        "UPPERCASE_TOPIC", "mixed_Case_Topic_123", "topic.with.dots",
        "topic-with-dashes", "0123456789", "topic_with_unicode_café",
        "topic with spaces", "slash/y",
    ]
    for i, t in enumerate(topics):
        log.append(t, f"data_{i}".encode())
    for i, t in enumerate(topics):
        assert log.read_next(t) == f"data_{i}".encode()
        assert log.topic_entry_count(t) == 0  # fully consumed, isolated
    log.close()


def test_payload_size_boundaries_byte_exact(spark, tmp_path):
    """stress_boundary_conditions (unit.rs:275): payload sizes around
    power-of-two boundaries (0, 1, 63..65, 1023..1025, 64Ki±1, 1Mi±1)
    round-trip byte-exact, each under its own topic."""
    log = WalrusLog(spark, str(tmp_path / "bounds"))
    sizes = [0, 1, 63, 64, 65, 1023, 1024, 1025, 65535, 65536, 65537,
             1024 * 1024 - 1, 1024 * 1024, 1024 * 1024 + 1]
    payloads = {}
    batch = {}
    for i, size in enumerate(sizes):
        data = bytes(((i + j) % 256) for j in range(size))
        payloads[f"boundary_{i}"] = data
        batch[f"boundary_{i}"] = [data]
    log.multi_append(batch)  # one atomic commit for all 14 topics
    for t, data in payloads.items():
        assert log.read_next(t) == data
    log.close()


def test_empty_batch_is_noop(spark, tmp_path):
    """test_empty_batch (batch_writes.rs:231): an empty batch succeeds
    as a no-op — empty returned range, no entries, nothing to read —
    and a subsequent real batch starts exactly where the watermark
    was."""
    log = WalrusLog(spark, str(tmp_path / "eb"))
    first, last = log.batch_append("test_topic", [])
    assert last == first - 1  # empty range
    assert log.topic_entry_count("test_topic") == 0
    assert log.batch_read("test_topic") == []
    assert log.batch_append("test_topic", [b"x"]) == (1, 1)
    log.close()


def test_batch_read_exact_budget_boundary(spark, tmp_path):
    """test_batch_read_exact_budget_boundary (batch_read.rs:944):
    budget-exact consumption over uniform 100-byte entries — exactly
    floor(budget/size) entries per read, ≥1 under any budget, cursor
    advancing monotonically."""
    log = WalrusLog(spark, str(tmp_path / "exact"))
    log.batch_append("exact_budget", [bytes([i]) * 100 for i in range(20)])
    assert len(log.batch_read("exact_budget", max_bytes=300)) == 3
    assert len(log.batch_read("exact_budget", max_bytes=500)) == 5
    assert len(log.batch_read("exact_budget", max_bytes=1)) == 1
    assert len(log.batch_read("exact_budget", max_bytes=350)) == 3
    # 12 consumed; the remaining 8 drain exactly
    assert len(log.batch_read("exact_budget", max_bytes=10_000)) == 8
    assert log.batch_read("exact_budget") == []
    log.close()


def test_interleaved_single_and_batch_reads(spark, tmp_path):
    """test_interleaved_single_and_batch_reads (batch_read.rs:781):
    alternating read_next and batch_read rounds share ONE cursor —
    every entry arrives exactly once, in order, regardless of which
    read form consumed its predecessor."""
    log = WalrusLog(spark, str(tmp_path / "inter"))
    want = [f"interleaved_{i:04d}".encode() for i in range(60)]
    log.batch_append("interleaved", want)
    got = []
    round_i = 0
    while len(got) < len(want) and round_i < 100:
        if round_i % 2 == 0:
            nxt = log.read_next("interleaved")
            if nxt is not None:
                got.append(nxt)
        else:
            got.extend(log.batch_read("interleaved", max_bytes=16 * 5))
        round_i += 1
    assert got == want
    log.close()


def test_nonexistent_topic_and_write_after_exhaustion(spark, tmp_path):
    """integration_nonexistent_topic + integration_write_after_exhaustion
    (integration.rs:296, 313): reading a never-written topic yields
    None/[] (no error, no creation), and a topic written after full
    consumption delivers the new entry from the advanced cursor."""
    log = WalrusLog(spark, str(tmp_path / "nx"))
    assert log.read_next("ghost") is None
    assert log.batch_read("ghost") == []
    assert not log.has_topic("ghost")
    log.append("t", b"a")
    assert log.read_next("t") == b"a"
    assert log.read_next("t") is None  # exhausted
    log.append("t", b"b")
    assert log.read_next("t") == b"b"
    log.close()


def test_xxhash64_python_matches_spark(spark):
    """The driver-side append path stamps crc with a pure-python XXH64;
    Spark's xxhash64 verifies it on EVERY delivery — so the two must be
    bit-identical across every length class of the algorithm (empty,
    <4, 4-7, 8-31, exactly 32, >32, stripe multiples ±1, large,
    all-byte-values)."""
    import random

    import pyspark.sql.functions as F

    from walrus_spark.log.wal import _xxhash64_py

    rnd = random.Random(0xFEED)
    payloads = [b"", b"a", b"ab", b"abc", b"abcd", b"abcdefg",
                b"x" * 8, b"x" * 31, b"x" * 32, b"x" * 33,
                bytes(range(256)), b"\x00" * 100, b"\xff" * 1000]
    # stripe and tail boundaries of the unrolled stripe loop
    payloads += [
        bytes(rnd.getrandbits(8) for _ in range(k))
        for k in (63, 64, 65, 64 * 1024 + 7)
    ]
    payloads += [
        bytes(rnd.getrandbits(8) for _ in range(rnd.randrange(0, 5000)))
        for _ in range(40)
    ]
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(payloads)], "i long, v binary"
    )
    got = {
        r["i"]: r["h"]
        for r in df.select("i", F.xxhash64("v").alias("h")).collect()
    }
    for i, p in enumerate(payloads):
        assert got[i] == _xxhash64_py(p), (i, len(p))


def test_driver_and_spark_append_paths_interleave(spark, tmp_path):
    """Batches written by the driver-side pyarrow fast path and by the
    Spark job path interleave freely in one manifest: reads (with
    JVM-side crc verification — the cross-writer parity proof), cursor
    consumption, state, and restart recovery see ONE consistent log."""
    log = WalrusLog(spark, str(tmp_path / "dual"))
    log.batch_append("t", [b"drv-1", b"drv-2"])  # driver path
    log.DRIVER_APPEND_MAX_ROWS = 0  # force the Spark path
    log.batch_append("t", [b"spk-3", b"spk-4"])
    del log.DRIVER_APPEND_MAX_ROWS  # back to the class default
    log.batch_append("t", [b"drv-5", b""])  # driver path, empty payload

    # JVM-side crc verify runs inside batch_read — a python/JVM hash
    # divergence in either writer fails loudly here
    assert log.batch_read("t", max_entries=10, checkpoint=False) == [
        b"drv-1", b"drv-2", b"spk-3", b"spk-4", b"drv-5", b"",
    ]
    assert log.high_watermark("t") == 6
    st = log.state("t")
    assert st["high_watermark"] == 6 and st["current_segment"] == 0

    # consume across the writer boundary, restart, resume exactly
    assert log.batch_read("t", max_entries=3) == [b"drv-1", b"drv-2", b"spk-3"]
    log.close()
    log2 = WalrusLog(spark, str(tmp_path / "dual"))
    assert log2.batch_read("t", max_entries=10) == [b"spk-4", b"drv-5", b""]
    assert log2.topic_entry_count("t") == 0
    log2.close()


def test_peek_range_matches_batch_read(spark, tmp_path):
    """peek_range (the wire plane's single-stage contiguous fast path)
    must deliver exactly what batch_read(checkpoint=False,
    start_offset=...) delivers for every start/limit/budget shape: the
    plans differ (closed-range scan + driver sort vs TakeOrdered +
    byte-budget windows) but the delivery contract is one."""
    log = WalrusLog(spark, str(tmp_path / "peekr"))
    payloads = [f"entry-{i:03d}".encode() * (1 + i % 3) for i in range(40)]
    log.batch_append("t", payloads[:25])
    log.batch_append("t", payloads[25:])  # spans two committed batches

    for start, n, budget in [
        (0, 10, 10**9),  # plain prefix
        (5, 10, 10**9),  # mid-log start
        (38, 10, 10**9),  # truncated at the tail
        (40, 10, 10**9),  # past the end -> empty
        (0, 40, 55),  # byte budget truncates
        (0, 1, 1),  # >=1 rule: first entry alone exceeds budget
        (12, 3, len(payloads[12]) + len(payloads[13])),  # exact boundary
    ]:
        fast = log.peek_range(
            "t", start, max_entries=n, max_bytes=budget
        )
        slow = log.batch_read(
            "t",
            max_bytes=budget,
            checkpoint=False,
            start_offset=start,
            max_entries=n,
        )
        assert fast == slow, (start, n, budget)
    # the shared cursor never moved: both paths are stateless
    assert log.cursor("t") == 0
    log.close()


def test_peek_range_detects_corruption(spark, tmp_path):
    """peek_range carries the same per-entry crc verify as batch_read:
    a flipped payload byte in the stored parquet surfaces as a loud
    ChecksumError, never a silently-delivered corrupt entry."""
    import glob
    import os

    import pyarrow.parquet as pq
    import pyarrow as pa

    from walrus_spark.log.wal import ChecksumError

    log = WalrusLog(spark, str(tmp_path / "peekc"))
    log.batch_append("t", [b"aaaa", b"bbbb", b"cccc"])
    # corrupt one payload in place, keeping the stored crc
    files = glob.glob(str(tmp_path / "peekc" / "**" / "*.parquet"), recursive=True)
    assert files
    for f in files:
        tbl = pq.read_table(f)
        if tbl.num_rows == 0:
            continue
        vals = tbl.column("value").to_pylist()
        vals[0] = b"XXXX"
        arrays = [
            pa.array(vals, type=tbl.schema.field("value").type)
            if name == "value"
            else tbl.column(name)
            for name in tbl.schema.names
        ]
        pq.write_table(
            pa.Table.from_arrays(arrays, schema=tbl.schema), f
        )
    with pytest.raises(ChecksumError, match="checksum mismatch"):
        log.peek_range("t", 0, max_entries=10)
    log.close()


def test_window_reads_inside_compacted_layout(spark, tmp_path):
    """peek_range and batch_read(start_offset=...) read a compacted
    record (one file set rewritten by (topic, segment)) exactly as they
    read the batches it replaced — for topic names that are numeric or
    carry spaces, '=' and '/', for windows that cross segments
    (max_segment_entries=4), and for windows that straddle the
    compacted record and a batch committed after it."""
    import glob

    log = WalrusLog(spark, str(tmp_path / "cmpwin"), max_segment_entries=4)
    topics = ["7", "a b", "x=y/z"]

    def payload(t, k, i):
        return f"{t}|{k}.{i}".encode() * (1 + i % 3)

    for k in range(3):  # offsets 5k+1 .. 5k+5 per topic
        log.multi_append(
            {t: [payload(t, k, i) for i in range(5)] for t in topics}
        )
    windows = [  # (start_offset, max_entries, max_bytes)
        (0, 3, 10**9),
        (2, 6, 10**9),
        (5, 20, 10**9),
        (13, 5, 10**9),
        (15, 3, 10**9),
        (3, 10, 40),
    ]

    def reads():
        return {
            (t, s, n, b): (
                log.peek_range(t, s, max_entries=n, max_bytes=b),
                log.batch_read(
                    t, max_bytes=b, checkpoint=False, start_offset=s,
                    max_entries=n,
                ),
            )
            for t in topics
            for s, n, b in windows
        }

    before = reads()
    assert all(p == b for p, b in before.values())
    # uncoalesced, the rewrite leaves one file per hash partition, so a
    # topic's segments land in files in no particular offset order
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        log.compact()
    finally:
        spark.conf.set(key, prev)
    [rec] = log._manifest_records()
    assert rec["path"].startswith(str(tmp_path / "cmpwin" / "compacted"))
    assert len(glob.glob(os.path.join(rec["path"], "*.parquet"))) > 1
    assert reads() == before

    for t in topics:
        log.multi_append({t: [f"{t}|late.{i}".encode() for i in range(3)]})
    for t in topics:
        want = [payload(t, 2, i) for i in (2, 3, 4)] + [
            f"{t}|late.{i}".encode() for i in (0, 1)
        ]
        assert log.peek_range(t, 12, max_entries=5) == want
        assert log.batch_read(
            t, checkpoint=False, start_offset=12, max_entries=5
        ) == want
    assert {t: log.cursor(t) for t in topics} == {t: 0 for t in topics}
    log.close()


def test_historical_window_reads_across_compacted_gap(spark, tmp_path):
    """A batch vacuumed before a compaction leaves a gap inside the
    compacted record's offset range (below the cursors). A historical
    window that spans the gap delivers the surviving entries on both
    sides of it, before and after compaction alike."""
    log = WalrusLog(spark, str(tmp_path / "cmpgap"))
    log.multi_append({"t": [b"t1", b"t2", b"t3"], "u": [b"u1"]})
    log.multi_append({"t": [b"t4", b"t5", b"t6"]})  # only t: vacuumable
    log.multi_append({"t": [b"t7", b"t8", b"t9"], "u": [b"u2"]})
    assert log.batch_read("t", max_entries=6) == [
        b"t1", b"t2", b"t3", b"t4", b"t5", b"t6",
    ]
    assert log.vacuum() == 1  # the first batch survives: u1 is unread
    want = [b"t2", b"t3", b"t7", b"t8"]
    assert log.peek_range("t", 1, max_entries=4) == want
    log.compact()
    assert log.peek_range("t", 1, max_entries=4) == want
    assert log.batch_read(
        "t", checkpoint=False, start_offset=1, max_entries=4
    ) == want
    assert log.batch_read("t") == [b"t7", b"t8", b"t9"]
    log.close()


def test_manifest_index_under_concurrent_commits_and_reads(spark, tmp_path):
    """The manifest index is shared by every reading and committing
    thread. With more threads than cores and a short switch interval,
    every peek must see a contiguous prefix of the topic that never
    shrinks, and the last peek sees every committed entry."""
    import sys
    import threading

    log = WalrusLog(spark, str(tmp_path / "idxstress"))
    n_writers, n_readers, per_writer = 2, 2 * (os.cpu_count() or 2), 40
    errs: list[str] = []
    done = threading.Event()

    def writer(k: int) -> None:
        for i in range(per_writer):
            log.multi_append({f"w{k}": [f"{i}".encode()]})

    def reader(k: int) -> None:
        seen = {t: 0 for t in (f"w{j}" for j in range(n_writers))}
        while not done.is_set():
            for t in seen:
                got = log.peek_range(t, 0)
                if got != [f"{i}".encode() for i in range(len(got))]:
                    errs.append(f"{t}: not a contiguous prefix")
                if len(got) < seen[t]:
                    errs.append(f"{t}: {len(got)} < {seen[t]}")
                seen[t] = len(got)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        ws = [threading.Thread(target=writer, args=(k,)) for k in range(n_writers)]
        rs = [threading.Thread(target=reader, args=(k,)) for k in range(n_readers)]
        for t in ws + rs:
            t.start()
        for t in ws:
            t.join(timeout=120)
        done.set()
        for t in rs:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in ws + rs)
    assert not errs, errs[:5]
    for k in range(n_writers):
        assert log.peek_range(f"w{k}", 0) == [
            f"{i}".encode() for i in range(per_writer)
        ]
    log.close()


def test_manifest_index_relists_when_a_listed_record_is_gone(
    spark, tmp_path, monkeypatch
):
    """A listing taken before a compaction names records the compaction
    has since deleted and misses the record that replaced them. The
    index must list again, not drop the vanished names and serve a view
    without the compacted record."""
    root = str(tmp_path / "stale")
    log = WalrusLog(spark, root)
    for k in range(2):
        log.multi_append({"t": [f"{5 * k + i + 1}".encode() for i in range(5)]})
    mdir = log._manifest_dir
    stale = os.listdir(mdir)
    log.compact()
    log.close()
    reader = WalrusLog(spark, root)
    real_listdir = os.listdir
    served = []

    def listdir(path):
        if path == mdir and not served:
            served.append(path)
            return list(stale)
        return real_listdir(path)

    monkeypatch.setattr(os, "listdir", listdir)
    want = [f"{i}".encode() for i in range(1, 11)]
    assert reader.peek_range("t", 0) == want
    assert served  # the stale listing was the one the rebuild started from
    assert reader.batch_read("t") == want
    reader.close()


def test_window_reads_race_compaction(spark, tmp_path):
    """Windows read while compact() rewrites the log under them start at
    exactly after+1 and are contiguous (nothing is vacuumed, so every
    offset exists), and a consuming reader racing the same compactions
    gets every entry exactly once in order."""
    import random
    import threading

    log = WalrusLog(spark, str(tmp_path / "cmprace"))
    n_batches, per = 6, 5
    for k in range(n_batches):
        log.multi_append(
            {t: [f"{per * k + i + 1}".encode() for i in range(per)]
             for t in ("peek", "eat")}
        )
    total = n_batches * per
    errs: list[str] = []
    consumed: list[bytes] = []
    done = threading.Event()

    def peeker(seed: int) -> None:
        rnd = random.Random(seed)
        while not done.is_set():
            after = rnd.randrange(total)
            n = rnd.randrange(1, 12)
            for got in (
                log.peek_range("peek", after, max_entries=n),
                log.batch_read(
                    "peek", checkpoint=False, start_offset=after, max_entries=n
                ),
            ):
                want = [
                    f"{o}".encode() for o in range(after + 1, min(total, after + n) + 1)
                ]
                if got != want:
                    errs.append(f"after={after} n={n}: {got[:3]}...")

    def eater() -> None:
        while len(consumed) < total and not done.is_set():
            consumed.extend(log.batch_read("eat", max_entries=3))

    threads = [threading.Thread(target=peeker, args=(s,)) for s in range(2)]
    threads.append(threading.Thread(target=eater))
    for t in threads:
        t.start()
    try:
        for _ in range(3):
            log.compact()
    finally:
        done.set()
        for t in threads:
            t.join(timeout=60)
    assert not any(t.is_alive() for t in threads)
    assert not errs, errs[:5]
    consumed.extend(log.batch_read("eat"))
    assert consumed == [f"{o}".encode() for o in range(1, total + 1)]
    log.close()


def test_offset_reads_start_no_spark_job(spark, tmp_path, job_probe):
    """read_next, batch_read, batch_read_with_watermark and peek_range
    are driver-side range reads: none of them starts a Spark job."""
    log = WalrusLog(spark, str(tmp_path / "nojob"))
    log.multi_append({"t": [b"a", b"b", b"c", b"d"]})
    first = job_probe()
    assert log.peek_range("t", 0, max_entries=2) == [b"a", b"b"]
    assert log.batch_read("t", checkpoint=False, start_offset=2) == [b"c", b"d"]
    assert log.read_next("t") == b"a"
    assert log.batch_read_with_watermark("t") == ([b"b", b"c", b"d"], 4)
    assert job_probe() == first + 1  # no Spark job in between
    log.close()


def test_cursor_flusher_rekick_after_thread_death(spark, tmp_path):
    """The consume-plane flusher is a daemon started on first use; if
    it dies (interpreter teardown racing close(), or an injected
    fault), a waiting commit must re-kick a fresh flusher rather than
    hang its reply. Inject the death by stopping the thread between
    two commits, then assert the next strictly-at-once commit still
    returns (durably) and the sidecar holds the new cursor."""
    log = WalrusLog(spark, str(tmp_path / "rekick"))
    log.batch_append("t", [b"a", b"b", b"c"])
    assert log.commit_cursor("t", 1) is True  # starts the flusher
    t1 = log._cfl_thread
    assert t1 is not None and t1.is_alive()
    # inject: stop the flusher as close() would, then clear the stop
    # flag WITHOUT restarting — simulating a dead thread with live log
    with log._cfl_lock:
        log._cfl_stop = True
    log._cfl_wake.set()
    t1.join(timeout=10)
    assert not t1.is_alive()
    with log._cfl_lock:
        log._cfl_stop = False
    # next commit must spawn a fresh flusher and complete durably
    assert log.commit_cursor("t", 2) is True
    t2 = log._cfl_thread
    assert t2 is not None and t2 is not t1 and t2.is_alive()
    # restart proves the flush was physical, not just in-memory
    log.close()
    log2 = WalrusLog(spark, str(tmp_path / "rekick"))
    assert log2.cursor("t") == 2
    log2.close()


def test_ingest_null_topic_distributed_path(spark, tmp_path):
    """r16 (r15 advisor): NULL-topic rows must not crash ingest. The
    driver fast path declines them (its (topic, offset) sort key is
    not None-safe), and the distributed path — base sort and the
    offset-exactness audit — must be None-safe end to end. Non-NULL
    topics in the same batch keep contiguous offsets and read back."""
    log = WalrusLog(spark, str(tmp_path / "ingnull"))
    df = spark.createDataFrame(
        [(None, b"n0"), ("tn", b"v1"), (None, b"n1"), ("tn", b"v2")],
        "topic string, value binary",
    )
    log.ingest(df, "topic", "value")
    # no pinned retry: the audit handled the NULL group, it didn't
    # fall through the divergence funnel
    assert log.ingest_pinned_retries == 0
    assert log.batch_read("tn", checkpoint=False) == [b"v1", b"v2"]
    assert log.high_watermark("tn") == 2
    # byte-bound gate (r15 advisor #1): a small-row batch whose
    # payload bytes exceed DRIVER_APPEND_MAX_BYTES keeps the
    # distributed path instead of collecting onto the driver
    big = b"x" * (2 << 20)
    df2 = spark.createDataFrame(
        [("tb", big) for _ in range(40)], "topic string, value binary"
    )
    try:
        orig = WalrusLog.DRIVER_APPEND_MAX_BYTES
        WalrusLog.DRIVER_APPEND_MAX_BYTES = 1 << 20
        seen = {"driver": 0}
        real_w = WalrusLog._write_batch_driver

        def counting_write(self, path, rows):
            seen["driver"] += 1
            return real_w(self, path, rows)

        WalrusLog._write_batch_driver = counting_write
        try:
            log.ingest(df2, "topic", "value")
        finally:
            WalrusLog._write_batch_driver = real_w
    finally:
        WalrusLog.DRIVER_APPEND_MAX_BYTES = orig
    assert seen["driver"] == 0  # byte gate forced the distributed path
    assert log.high_watermark("tb") == 40
    assert log.batch_read("tb", max_entries=1, checkpoint=False) == [big]
    log.close()
