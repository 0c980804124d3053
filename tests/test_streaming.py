"""Streaming-plane semantics: consume-once across restarts, stream
ingest atomicity, windowed aggregates (SURVEY.md §5 test strategy #3)."""

from __future__ import annotations

import pyspark.sql.functions as F

from walrus_spark.log import WalrusLog
from walrus_spark.streaming import (
    consume_stream,
    latest_per_key_stream,
    read_topic_stream,
    windowed_counts,
    write_log_stream,
)


def _mklog(spark, tmp_path, name="wal"):
    return WalrusLog(spark, str(tmp_path / name))


def test_consume_once_across_restart(spark, tmp_path):
    log = _mklog(spark, tmp_path)
    src = spark.createDataFrame(
        [(f"t{i % 2}", f"p{i}".encode()) for i in range(20)],
        "topic string, value binary",
    )
    log.ingest(src, "topic", "value")
    ckpt = str(tmp_path / "ckpt")
    seen: list[int] = []
    q = consume_stream(spark, log, ckpt, lambda b, _i: seen.append(b.count()))
    q.awaitTermination(120)
    assert sum(seen) == 20
    # restart from the same checkpoint: nothing re-delivered
    q2 = consume_stream(spark, log, ckpt, lambda b, _i: seen.append(b.count()))
    q2.awaitTermination(120)
    assert sum(seen) == 20
    # new data after restart is delivered exactly once
    log.batch_append("t0", [b"late"])
    q3 = consume_stream(spark, log, ckpt, lambda b, _i: seen.append(b.count()))
    q3.awaitTermination(120)
    assert sum(seen) == 21


def test_stream_ingest_into_log(spark, tmp_path):
    src_log = _mklog(spark, tmp_path, "src")
    dst_log = _mklog(spark, tmp_path, "dst")
    src_log.batch_append("a", [b"1", b"2", b"3"])
    stream = read_topic_stream(spark, src_log, "a")
    q = write_log_stream(
        stream.select("topic", "value"),
        dst_log,
        str(tmp_path / "ing_ckpt"),
    )
    q.awaitTermination(120)
    dst = WalrusLog(spark, dst_log.root)  # re-hydrate metadata
    assert dst.high_watermark("a") == 3
    assert dst.batch_read("a") == [b"1", b"2", b"3"]


def test_stream_skips_uncommitted_orphan(spark, tmp_path):
    """A crashed write (data dir present, no manifest record) must be
    invisible to streams, not just batch reads — streams list the
    committed mirror, never raw data/."""
    import os

    log = _mklog(spark, tmp_path)
    log.batch_append("t", [b"committed"])
    orphan = os.path.join(log._data_dir, "zzz_orphan")
    spark.createDataFrame(
        [("t", 0, 99, b"ghost", None)],
        "topic string, segment long, offset long, value binary, ts timestamp",
    ).write.mode("overwrite").parquet(orphan)
    seen: list[bytes] = []
    q = consume_stream(
        spark,
        log,
        str(tmp_path / "orph_ckpt"),
        lambda b, _i: seen.extend(bytes(r["value"]) for r in b.collect()),
    )
    q.awaitTermination(120)
    assert seen == [b"committed"]


def test_stream_no_duplicates_after_compact(spark, tmp_path):
    """Compaction re-packs already-delivered entries; its output is not
    mirrored, so a live consumer checkpoint sees no double delivery —
    only genuinely new appends."""
    log = _mklog(spark, tmp_path)
    log.batch_append("t", [b"a", b"b"])
    ckpt = str(tmp_path / "cmp_ckpt")
    seen: list[bytes] = []

    def consume():
        q = consume_stream(
            spark,
            log,
            ckpt,
            lambda b, _i: seen.extend(bytes(r["value"]) for r in b.collect()),
        )
        q.awaitTermination(120)

    consume()
    assert sorted(seen) == [b"a", b"b"]
    log.compact()
    consume()
    assert sorted(seen) == [b"a", b"b"]  # nothing re-delivered
    log.batch_append("t", [b"c"])
    consume()
    assert sorted(seen) == [b"a", b"b", b"c"]


def test_stream_ingest_replayed_batch_commits_once(spark, tmp_path):
    """foreachBatch is at-least-once; the manifest txn id makes the
    commit idempotent. Simulate a replay by deleting the sink
    checkpoint's commit log so the same micro-batch re-runs."""
    import shutil

    src_log = _mklog(spark, tmp_path, "src2")
    dst_log = _mklog(spark, tmp_path, "dst2")
    src_log.batch_append("a", [b"1", b"2"])
    ckpt = str(tmp_path / "replay_ckpt")

    def run():
        q = write_log_stream(
            read_topic_stream(spark, src_log, "a").select("topic", "value"),
            dst_log,
            ckpt,
        )
        q.awaitTermination(120)

    run()
    # crash-before-sink-commit analog: source offsets survive, the
    # commit marker does not → Spark replays micro-batch 0
    shutil.rmtree(f"{ckpt}/commits")
    run()
    dst = WalrusLog(spark, dst_log.root)
    assert dst.high_watermark("a") == 2
    assert dst.batch_read("a") == [b"1", b"2"]


class _CaptureWriter:
    """Stands in for a streaming DataFrame: records the foreachBatch
    function write_log_stream builds, so a test can call it directly."""

    fn = None

    @property
    def writeStream(self):
        return self

    def foreachBatch(self, fn):
        self.fn = fn
        return self

    def option(self, *_a):
        return self

    def outputMode(self, *_a):
        return self

    def trigger(self, **_k):
        return self

    def start(self):
        return self


def test_stream_ingest_commit_empty_and_replay(spark, tmp_path, job_probe):
    """The per-micro-batch commit runs no emptiness probe of its own:
    an empty micro-batch commits nothing, and replaying a committed
    batch_id returns before any Spark job starts."""
    log = _mklog(spark, tmp_path, "cmt")
    cap = _CaptureWriter()
    write_log_stream(cap, log, str(tmp_path / "cmt_ckpt"))
    empty = spark.createDataFrame([], "topic string, value binary")
    cap.fn(empty, 0)
    assert log._manifest_records() == [] and log.high_watermark("a") == 0
    batch = spark.createDataFrame(
        [("a", b"1"), ("a", b"2")], "topic string, value binary"
    )
    cap.fn(batch, 1)
    assert log.high_watermark("a") == 2
    before = job_probe()
    cap.fn(batch, 1)  # replay: already committed
    assert job_probe() == before + 1
    assert log.high_watermark("a") == 2
    assert len(log._manifest_records()) == 1
    # a real stream whose micro-batch filters to no rows commits nothing
    src_log = _mklog(spark, tmp_path, "cmt_src")
    src_log.batch_append("a", [b"x"])
    q = write_log_stream(
        read_topic_stream(spark, src_log, "nosuch").select("topic", "value"),
        log,
        str(tmp_path / "cmt_ckpt2"),
    )
    q.awaitTermination(120)
    assert len(log._manifest_records()) == 1


def test_shared_cursor_frame_is_local_relation(spark, tmp_path):
    """Every micro-batch after the first joins the run cursor; that
    cursor frame plans as a JVM LocalTableScan, never a Python-built
    ExistingRDD. (The micro-batch rows themselves arrive as a JVM
    ExistingRDD, so only the broadcast side is checked.)"""
    from walrus_spark.streaming import shared_cursor_stream

    log = _mklog(spark, tmp_path, "curplan")
    log.batch_append("t", [b"e1", b"e2"])
    log.batch_append("t", [b"e3"])
    plans: list[str] = []
    seen: list[int] = []

    def sink(b, _i):
        plans.append(b._jdf.queryExecution().optimizedPlan().toString())
        seen.extend(int(r["offset"]) for r in b.collect())

    q = shared_cursor_stream(
        spark, log, str(tmp_path / "curplan_ckpt"), sink, max_files_per_trigger=1
    )
    q.awaitTermination(120)
    assert sorted(seen) == [1, 2, 3]
    assert len(plans) == 2
    assert "BroadcastExchange" not in plans[0]  # empty cursor: no join
    cursor_side = plans[1].split("BroadcastExchange", 1)[1]
    assert "LocalTableScan" in cursor_side
    assert "ExistingRDD" not in cursor_side


def test_windowed_counts_matches_batch(spark, tmp_path, sf_dir):
    """Streaming windowed agg over the events fixture == batch DQ8."""
    from walrus_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("topic"),
        F.col("ts").cast("timestamp").alias("ts"),
    )
    log_dir = str(tmp_path / "evlog")
    ev.write.parquet(log_dir)
    stream = spark.readStream.schema(ev.schema).parquet(log_dir)
    agg = windowed_counts(stream, window="1 hour", watermark="0 seconds")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["topic"], r["w"]["start"], r["n"])
        for r in spark.sql("select * from win_counts").collect()
    }
    want = {
        (r["topic"], r["w"], r["n"])
        for r in ev.groupBy(
            F.date_trunc("hour", "ts").alias("w"), "topic"
        )
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want


def test_watermark_drops_late_data(spark, tmp_path):
    """Event-time correctness: a row arriving after the watermark has
    passed its window must be DROPPED (bounded state), while on-time
    rows aggregate normally. Three availableNow sessions over one
    checkpoint advance the watermark between arrivals."""
    from datetime import datetime

    src_dir = str(tmp_path / "wmsrc")
    ckpt = str(tmp_path / "wmckpt")
    schema = "topic string, ts timestamp"

    def land(rows):
        spark.createDataFrame(
            [("t", datetime(2024, 1, 1, h, m)) for h, m in rows], schema
        ).coalesce(1).write.mode("append").parquet(src_dir)

    emitted: list[tuple] = []

    def run():
        stream = spark.readStream.schema(schema).parquet(src_dir)
        agg = windowed_counts(
            stream, window="1 hour", watermark="30 minutes", key_col="topic"
        )
        q = (
            agg.writeStream.foreachBatch(
                lambda b, _i: emitted.extend(
                    (r["w"]["start"].hour, r["n"]) for r in b.collect()
                )
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    land([(8, 10), (8, 20), (10, 5)])
    run()  # watermark after: 09:35
    land([(8, 30), (10, 10), (11, 10)])  # 08:30 is late beyond watermark
    run()  # emits hour-8 window; watermark after: 10:40
    land([(12, 30)])
    run()  # emits hour-10 window
    counts = {}
    for hour, n in emitted:
        assert hour not in counts, f"window {hour} emitted twice: {emitted}"
        counts[hour] = n
    assert counts.get(8) == 2, (counts, emitted)  # late 08:30 dropped
    assert counts.get(10) == 2, (counts, emitted)  # on-time rows kept


def test_latest_per_key_stream_dedups(spark, tmp_path):
    rows = [(1, "a", "2024-01-01 00:00:00")] * 3 + [
        (2, "b", "2024-01-01 01:00:00")
    ]
    df = spark.createDataFrame(rows, "k long, v string, ts string").select(
        "k", "v", F.col("ts").cast("timestamp").alias("ts")
    )
    path = str(tmp_path / "dupsrc")
    df.write.parquet(path)
    stream = spark.readStream.schema(df.schema).parquet(path)
    q = (
        latest_per_key_stream(stream, ["k"])
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert spark.sql("select count(*) c from dedup_out").collect()[0]["c"] == 2


def test_shared_cursor_persist_every_replay(spark, tmp_path):
    """§7 stage 6: the streaming shared cursor must reproduce the
    reference's AtLeastOnce duplicate-replay bound (walrus_read.rs:
    347-366; tests/batch_read.rs:596): a crashed consumer session's
    successor re-delivers exactly the entries since the last persisted
    cursor — at most persist_every, never a gap, never more."""
    from walrus_spark.log import ReadConsistency, WalrusLog
    from walrus_spark.streaming import shared_cursor_stream

    root = str(tmp_path / "scur")
    log = WalrusLog(
        spark, root, consistency=ReadConsistency.at_least_once(5)
    )
    # 4 commits × 2 entries; with maxFilesPerTrigger=1 each is its own
    # micro-batch: pending 2,4 → persist at 6 → 2 unpersisted at end
    for i in range(4):
        log.batch_append("t", [f"e{2 * i + 1}".encode(), f"e{2 * i + 2}".encode()])
    seen: list[int] = []
    q = shared_cursor_stream(
        spark,
        log,
        str(tmp_path / "sess1"),
        lambda b, _i: seen.extend(int(r["offset"]) for r in b.collect()),
        topic="t",
        max_files_per_trigger=1,
    )
    q.awaitTermination(120)
    assert sorted(seen) == list(range(1, 9))  # delivered once, in full
    # crash: new engine instance (hydrates sidecar cursor=6) + fresh
    # consumer session (fresh checkpoint) → replays ONLY 7,8
    log2 = WalrusLog(spark, root)
    replay: list[int] = []
    q2 = shared_cursor_stream(
        spark,
        log2,
        str(tmp_path / "sess2"),
        lambda b, _i: replay.extend(int(r["offset"]) for r in b.collect()),
        topic="t",
        max_files_per_trigger=1,
    )
    q2.awaitTermination(120)
    assert replay == [7, 8], replay  # bounded re-delivery, ≤ persist_every
    # shared-cursor continuity WITHOUT a crash: a further consumer
    # session on the live engine starts from the in-memory cursor (8) —
    # consecutive sessions share one position, delivering only new data
    log2.batch_append("t", [b"e9"])
    tail: list[int] = []
    q3 = shared_cursor_stream(
        spark,
        log2,
        str(tmp_path / "sess3"),
        lambda b, _i: tail.extend(int(r["offset"]) for r in b.collect()),
        topic="t",
    )
    q3.awaitTermination(120)
    assert tail == [9], tail


def test_stateful_topic_stats_across_restart(spark, tmp_path):
    """Custom-state-store operator: running per-topic stats must fold
    only new rows per batch and persist state across a checkpointed
    restart (the WalIndex-analog semantics of SURVEY.md §7 stage 6)."""
    from walrus_spark.streaming import topic_stats_stream
    from walrus_spark.streaming.stream import read_log_stream

    log = _mklog(spark, tmp_path, "stats")
    log.batch_append("a", [b"xx", b"yyy"])
    log.batch_append("b", [b"z"])
    ckpt = str(tmp_path / "stats_ckpt")
    latest: dict[str, tuple] = {}

    def run():
        stats = topic_stats_stream(read_log_stream(spark, log))
        q = (
            stats.writeStream.outputMode("update")
            .foreachBatch(
                lambda b, _i: latest.update(
                    {
                        r["topic"]: (
                            r["high_watermark"],
                            r["entries"],
                            r["bytes"],
                        )
                        for r in b.collect()
                    }
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    assert latest["a"] == (2, 2, 5)
    assert latest["b"] == (1, 1, 1)
    # append more and restart from checkpoint: totals accumulate
    log.batch_append("a", [b"wwww"])
    run()
    assert latest["a"] == (3, 3, 9)
    assert latest["b"] == (1, 1, 1)


def test_shared_cursor_invariant_at_every_crash_point(spark, tmp_path):
    """Delivery invariant under a crash at ANY micro-batch boundary:
    whatever batch the consumer dies before seeing, the successor must
    close the stream with (a) every offset delivered at least once,
    (b) re-delivery bounded by persist_every, (c) never a gap. This
    sweeps the crash point across the whole stream — the generalized
    form of the single-point test above (walrus_read.rs:347-366)."""
    from walrus_spark.log import ReadConsistency, WalrusLog
    from walrus_spark.streaming import shared_cursor_stream

    persist_every = 3
    for crash_at in (0, 1, 3):
        root = str(tmp_path / f"cp{crash_at}")
        log = WalrusLog(
            spark, root,
            consistency=ReadConsistency.at_least_once(persist_every),
        )
        for i in range(4):  # 4 commits x 2 entries = offsets 1..8
            log.batch_append(
                "t", [f"e{2*i+1}".encode(), f"e{2*i+2}".encode()]
            )
        seen: list[int] = []

        def crashing(b, bid, _cut=crash_at):
            if bid >= _cut:
                raise RuntimeError("injected crash")
            seen.extend(int(r["offset"]) for r in b.collect())

        q = shared_cursor_stream(
            spark, log, str(tmp_path / f"s1_{crash_at}"), crashing,
            topic="t", max_files_per_trigger=1,
        )
        try:
            q.awaitTermination(120)
        except Exception:
            pass
        log.close()  # no cursor flush — faithful crash

        log2 = WalrusLog(spark, root)
        q2 = shared_cursor_stream(
            spark, log2, str(tmp_path / f"s2_{crash_at}"),
            lambda b, _i: seen.extend(
                int(r["offset"]) for r in b.collect()
            ),
            topic="t",
        )
        q2.awaitTermination(120)
        log2.close()
        assert sorted(set(seen)) == list(range(1, 9)), (crash_at, seen)
        assert len(seen) - len(set(seen)) <= persist_every, (crash_at, seen)


def test_topic_stats_tws_backend_gating(spark, tmp_path):
    """The transformWithStateInPandas backend is the target API but
    needs protobuf in the Python env; `auto` must degrade to the
    legacy backend (identical fold, no TTL) instead of crashing the
    worker, and an explicit api="tws" without protobuf is the caller's
    own choice. Pins the auto-selection logic both ways."""
    from walrus_spark.streaming.stream import (
        _tws_available,
        read_log_stream,
        topic_stats_stream,
    )

    log = _mklog(spark, tmp_path, "twsgate")
    log.batch_append("a", [b"one", b"two"])
    latest: dict[str, tuple] = {}
    stats = topic_stats_stream(read_log_stream(spark, log))  # auto
    q = (
        stats.writeStream.outputMode("update")
        .foreachBatch(
            lambda b, _i: latest.update(
                {
                    r["topic"]: (r["high_watermark"], r["entries"], r["bytes"])
                    for r in b.collect()
                }
            )
        )
        .option("checkpointLocation", str(tmp_path / "tws_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert latest["a"] == (2, 2, 6)
    if not _tws_available():
        import pytest as _pytest

        with _pytest.raises(ValueError):
            topic_stats_stream(read_log_stream(spark, log), api="nope")
        _pytest.skip("protobuf absent: tws backend not exercisable here")


def test_interval_join_stream_matches_batch_and_drops_expired(
    spark, tmp_path
):
    """Stream-stream interval join: joined micro-batch output equals the
    batch inequality join over the same data, and rows outside the
    interval never pair. Errors (left) pick up same-user clicks (right)
    in the preceding 10 s."""
    from walrus_spark.streaming.stream import interval_join_stream

    base = "2024-01-01 00:00:"
    errors = [(i, i % 3, f"{base}{20 + i:02d}") for i in range(10)]
    clicks = [(100 + j, j % 3, f"{base}{12 + j:02d}") for j in range(18)]
    edf = spark.createDataFrame(
        errors, "eid long, user long, ets string"
    ).select("eid", "user", F.col("ets").cast("timestamp").alias("ets"))
    cdf = spark.createDataFrame(
        clicks, "cid long, cuser long, cts string"
    ).select("cid", "cuser", F.col("cts").cast("timestamp").alias("cts"))

    expected = {
        (r["eid"], r["cid"])
        for r in edf.join(
            cdf,
            (edf.user == cdf.cuser)
            & (cdf.cts >= edf.ets - F.expr("INTERVAL 10 SECONDS"))
            & (cdf.cts <= edf.ets),
        ).collect()
    }
    assert expected  # non-degenerate fixture

    left_dir = tmp_path / "left"
    right_dir = tmp_path / "right"
    edf.write.parquet(str(left_dir))
    cdf.select(
        "cid", F.col("cuser").alias("user"), "cts"
    ).write.parquet(str(right_dir))
    ls = spark.readStream.schema("eid long, user long, ets timestamp").parquet(
        str(left_dir)
    )
    rs = spark.readStream.schema("cid long, user long, cts timestamp").parquet(
        str(right_dir)
    )
    joined = interval_join_stream(
        ls, rs, on="user", left_ts="ets", right_ts="cts",
        lower_us=-10_000_000, upper_us=0, watermark="30 seconds",
    )
    got: set = set()
    q = (
        joined.writeStream.trigger(availableNow=True)
        .outputMode("append")
        .foreachBatch(
            lambda b, _i: got.update(
                (r["eid"], r["cid"]) for r in b.collect()
            )
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.awaitTermination(120)
    assert got == expected


def test_text_operators_run_on_streams(spark, tmp_path):
    """The stateless corpus operators (pii_scrub, with_text_stats) are
    pure projections, so the SAME functions run unchanged inside
    Structured Streaming — the live-scrubbing ingest path. Micro-batch
    output must equal the batch result."""
    from walrus_spark.operators.text import pii_scrub, with_text_stats

    rows = [
        (1, "reach me at a@b.io or 10.0.0.7 please"),
        (2, "no pii here, just words."),
        (3, "call +1 415 555 0100 now"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    batch = {
        r["doc_id"]: (r["text_scrubbed"], r["n_tokens"])
        for r in with_text_stats(pii_scrub(df)).collect()
    }
    src = tmp_path / "txt_in"
    df.write.parquet(str(src))
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        str(src)
    )
    got = {}
    q = (
        with_text_stats(pii_scrub(stream))
        .writeStream.trigger(availableNow=True)
        .foreachBatch(
            lambda b, _i: got.update(
                {
                    r["doc_id"]: (r["text_scrubbed"], r["n_tokens"])
                    for r in b.collect()
                }
            )
        )
        .option("checkpointLocation", str(tmp_path / "txt_ck"))
        .start()
    )
    q.awaitTermination(120)
    assert got == batch
    assert "<EMAIL>" in got[1][0] and "<IP>" in got[1][0]
    assert "<PHONE>" in got[3][0]


def test_streaming_incremental_corpus_dedup(spark, tmp_path):
    """The production incremental-dedup loop, end to end on a stream:
    documents arrive in micro-batches; each batch is near-deduped
    against the ACCUMULATED corpus with minhash_lsh_cross (equi-join
    of band buckets — corpus x corpus pairs never enumerated), then
    only the surviving docs append to the corpus. A later exact
    near-dup of an already-admitted doc must be rejected; unrelated
    docs must be admitted. Final invariant: the accumulated corpus
    has no near-dup pair at all (self-join comes back empty)."""
    import pyspark.sql.functions as F

    from walrus_spark.operators.dedup import (
        minhash_lsh_cross,
        minhash_lsh_pairs,
    )

    base = (
        "the quick brown fox jumps over the lazy dog and then "
        "runs far away into the deep green forest tonight"
    )
    batches = [
        # batch 0: two distinct docs
        [(0, base), (1, "completely different text about spark engines "
                        "processing training corpora at large scale daily")],
        # batch 1: near-dup of doc 0 (one token changed) + a fresh doc
        [(2, base.replace("lazy", "sleepy")),
         (3, "third unrelated document mentioning quantile sketches "
             "bloom filters and count min registers for pipelines")],
        # batch 2: near-dup of doc 3 + exact dup of doc 1
        [(4, ("third unrelated document mentioning quantile sketches "
              "bloom filters and count min registers for pipelines"
              ).replace("third", "fourth")),
         (5, "completely different text about spark engines "
             "processing training corpora at large scale daily")],
    ]
    src = str(tmp_path / "in")
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(src)

    corpus_dir = str(tmp_path / "corpus")
    admitted: list[int] = []

    def dedup_sink(batch_df, _bid):
        batch_df = batch_df.localCheckpoint()  # pin the micro-batch
        import os

        if os.path.exists(corpus_dir):
            corpus = spark.read.parquet(corpus_dir)
            dup_ids = {
                r["doc_new"]
                for r in minhash_lsh_cross(batch_df, corpus).collect()
            }
        else:
            dup_ids = set()
        # batch-internal dedup too: keep the lowest id of each clique
        internal = {
            r["doc_b"] for r in minhash_lsh_pairs(batch_df).collect()
        }
        keep = batch_df.where(
            ~F.col("doc_id").isin(list(dup_ids | internal) or [-1])
        )
        admitted.extend(r["doc_id"] for r in keep.collect())
        keep.write.mode("append").parquet(corpus_dir)

    q = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(dedup_sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(180)

    assert sorted(admitted) == [0, 1, 3], admitted
    final = spark.read.parquet(corpus_dir)
    assert final.count() == 3
    assert minhash_lsh_pairs(final).count() == 0  # corpus is dup-free


def test_stream_feeds_index_deltas(spark, tmp_path):
    """Cross-plane: documents appended to the log plane stream OUT
    through consume_stream, and each streaming run appends an index
    delta (operators/index.py) — the ingest→stream→retrieval loop of
    a live corpus. Run 1 builds the base from what is in the log; more
    docs land; run 2 (same checkpoint — consume-once) delivers ONLY
    the new docs, which append as a delta. The incrementally
    maintained index must answer EXACTLY like one built fresh on
    everything ingested."""
    import json

    import pandas as pd

    from walrus_spark.operators.index import (
        append_index_delta,
        bm25_topk_indexed,
        build_inverted_index,
    )

    texts = [
        "hash join hash join filler words",
        "stream vector stream filler",
        "hash filler words and more",
        "vector vector join padded words",
        "stream stream padded padded",
        "join hash vector stream mix",
    ]
    log = WalrusLog(spark, str(tmp_path / "ilog"))
    idx = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    delivered = []

    def sink(batch_df, batch_id):
        rows = [
            json.loads(bytes(r["value"]).decode())
            for r in batch_df.collect()
        ]
        if not rows:
            return
        docs = spark.createDataFrame(pd.DataFrame(rows))
        if not delivered:
            build_inverted_index(docs, idx, partitions=2)
        else:
            append_index_delta(docs, idx, delta_id=f"b{batch_id}")
        delivered.append([r["doc_id"] for r in rows])

    for i in range(4):
        log.append(
            "docs", json.dumps({"doc_id": i, "text": texts[i]}).encode()
        )
    consume_stream(spark, log, ckpt, sink, topic="docs").awaitTermination(240)

    for i in range(4, 6):
        log.append(
            "docs", json.dumps({"doc_id": i, "text": texts[i]}).encode()
        )
    consume_stream(spark, log, ckpt, sink, topic="docs").awaitTermination(240)

    # consume-once across runs: base got 0-3, the delta got ONLY 4-5
    assert len(delivered) == 2, delivered
    assert sorted(delivered[0]) == [0, 1, 2, 3]
    assert sorted(delivered[1]) == [4, 5]

    qs = [("q1", "hash"), ("q1", "join"), ("q2", "stream"), ("q2", "vector")]
    fresh = str(tmp_path / "fresh")
    build_inverted_index(
        spark.createDataFrame(
            pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
        ),
        fresh,
        partitions=2,
    )
    got = sorted(map(tuple, bm25_topk_indexed(
        spark, idx, qs, k=10, ordered_sum=True).collect()))
    want = sorted(map(tuple, bm25_topk_indexed(
        spark, fresh, qs, k=10, ordered_sum=True).collect()))
    assert got == want
    log.close()


def test_stream_fed_classifier_refresh(spark, tmp_path):
    """Cross-plane classifier refresh (r10 — r9 verdict directive #6):
    labeled docs appended to a log topic feed periodic refits through
    consume_stream. Each refit must (a) pick up ONLY-newly-streamed
    labels (consume-once across cycles) and (b) equal a batch fit on
    the union of every batch delivered so far, to float tolerance
    (per-doc sums are unordered map-side combines — the
    fit_linear_classifier contract)."""
    import json

    import numpy as np
    import pandas as pd

    from walrus_spark.operators.classifier import (
        fit_linear_classifier,
        linear_classifier_score,
        refresh_classifier_from_log,
    )

    nb, n_iter, lr, l2 = 32, 20, 1.0, 0.01
    batch1 = [
        (i, f"useful informative content piece{i} detail", 1)
        for i in range(8)
    ] + [(8 + i, f"spam buy now spam offer{i % 3} spam", 0) for i in range(8)]
    # batch 2 introduces a NEW discriminative token ('zorp') that only
    # a refit which saw the streamed labels can learn
    batch2 = [
        (100 + i, f"zorp zorp useful extra{i}", 1) for i in range(6)
    ] + [(110 + i, f"spam zilch offer{i}", 0) for i in range(6)]

    def df_of(batches):
        rows = [r for b in batches for r in b]
        return spark.createDataFrame(
            pd.DataFrame(
                {
                    "doc_id": [r[0] for r in rows],
                    "text": [r[1] for r in rows],
                    "label": [r[2] for r in rows],
                }
            )
        )

    log = WalrusLog(spark, str(tmp_path / "clog"))
    ckpt = str(tmp_path / "ckpt")
    labels_dir = str(tmp_path / "labels")
    kw = dict(n_buckets=nb, n_iter=n_iter, lr=lr, l2=l2)

    for doc_id, text, label in batch1:
        log.append(
            "labels",
            json.dumps(
                {"doc_id": doc_id, "text": text, "label": label}
            ).encode(),
        )
    w1, b1 = refresh_classifier_from_log(
        spark, log, "labels", ckpt, labels_dir, **kw
    )
    wb1, bb1 = fit_linear_classifier(df_of([batch1]), **kw)
    assert np.allclose(w1, wb1, rtol=1e-6, atol=1e-8)
    assert abs(b1 - bb1) < 1e-8

    for doc_id, text, label in batch2:
        log.append(
            "labels",
            json.dumps(
                {"doc_id": doc_id, "text": text, "label": label}
            ).encode(),
        )
    w2, b2 = refresh_classifier_from_log(
        spark, log, "labels", ckpt, labels_dir, **kw
    )
    # parity vs a batch fit on the UNION of both batches
    wb2, bb2 = fit_linear_classifier(df_of([batch1, batch2]), **kw)
    assert np.allclose(w2, wb2, rtol=1e-6, atol=1e-8)
    assert abs(b2 - bb2) < 1e-8
    # the refit demonstrably picked up the streamed-in signal: the new
    # token's doc scores flip from ~neutral-or-negative under the
    # cycle-1 model to confidently positive under cycle 2
    probe = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0], "text": ["zorp zorp zorp"]})
    )
    s1 = linear_classifier_score(probe, w1, bias=b1).first()["score"]
    s2 = linear_classifier_score(probe, w2, bias=b2).first()["score"]
    assert s2 > 0.5 and s2 > s1

    # Crash-redelivery idempotence (r10 advisor finding): simulate a
    # crash between the labels-store write and the streaming
    # checkpoint commit by deleting the newest commit marker — the
    # next cycle re-delivers that batch under the SAME batch_id. The
    # per-batch_id overwrite sink must absorb the replay: the store
    # (and therefore the refit) is unchanged, no double-counted labels.
    import os

    commits = sorted(
        f
        for f in os.listdir(os.path.join(ckpt, "commits"))
        if not f.startswith(".")
    )
    os.remove(os.path.join(ckpt, "commits", commits[-1]))
    crc = os.path.join(ckpt, "commits", f".{commits[-1]}.crc")
    if os.path.exists(crc):  # hadoop's checksum sidecar blocks rename
        os.remove(crc)
    w3, b3 = refresh_classifier_from_log(
        spark, log, "labels", ckpt, labels_dir, **kw
    )
    assert np.allclose(w3, w2, rtol=1e-6, atol=1e-8)
    assert abs(b3 - b2) < 1e-8
    log.close()


def test_classifier_refresh_checkpoint_lineage_fence(spark, tmp_path):
    """Checkpoint-identity fence (r11 advisor finding): the batch_id
    overwrite sink is idempotent only within ONE checkpoint lineage —
    a fresh checkpoint restarts batch ids at 0 and would silently
    overwrite foreign batch subdirs. refresh_classifier_from_log must
    refuse (a) a brand-new checkpoint and (b) a different lineage's
    checkpoint pointed at an existing batch-subdir store, while the
    store's ORIGINAL checkpoint keeps working."""
    import json
    import os

    import numpy as np
    import pytest

    from walrus_spark.operators.classifier import (
        refresh_classifier_from_log,
    )

    kw = dict(n_buckets=16, n_iter=5, lr=1.0, l2=0.0)
    log = WalrusLog(spark, str(tmp_path / "clog"))
    for i in range(6):
        log.append(
            "labels",
            json.dumps(
                {"doc_id": i, "text": f"tok{i} body", "label": i % 2}
            ).encode(),
        )
    ckpt_a = str(tmp_path / "ckpt_a")
    labels_a = str(tmp_path / "labels_a")
    w1, b1 = refresh_classifier_from_log(
        spark, log, "labels", ckpt_a, labels_a, **kw
    )
    assert os.path.exists(os.path.join(labels_a, "_checkpoint_id"))

    # (a) fresh checkpoint dir at the populated store: refuse BEFORE
    # any stream starts; the store is untouched
    with pytest.raises(ValueError, match="fresh \\(no metadata yet\\)"):
        refresh_classifier_from_log(
            spark, log, "labels", str(tmp_path / "ckpt_b"), labels_a, **kw
        )

    # (b) a different ALREADY-STARTED lineage (its own store) pointed
    # at store A: ids differ -> refuse
    ckpt_c = str(tmp_path / "ckpt_c")
    log.append(
        "labels",
        json.dumps({"doc_id": 99, "text": "more", "label": 1}).encode(),
    )
    refresh_classifier_from_log(
        spark, log, "labels", ckpt_c, str(tmp_path / "labels_c"), **kw
    )
    with pytest.raises(ValueError, match="holds batch subdirs from"):
        refresh_classifier_from_log(
            spark, log, "labels", ckpt_c, labels_a, **kw
        )

    # the original lineage still works: it drains doc 99 through its
    # own cursor and refits on its 7-doc store (fence passes, marker
    # unchanged, one new batch subdir beyond the original run's)
    w2, b2 = refresh_classifier_from_log(
        spark, log, "labels", ckpt_a, labels_a, **kw
    )
    assert all(np.isfinite(w2)) and np.isfinite(b2)
    n_labeled = (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(labels_a)
        .count()
    )
    assert n_labeled == 7  # 6 originals + doc 99, no overwrites lost
    log.close()


def test_stream_late_drop_staging_contract(tmp_path):
    """Pin stream_late_drop's staged workload (r15 verdict item 1):
    the late batch 'c' must carry EXACTLY every LATE_STRIDE-th fixture
    row shifted LATE_SHIFT_HOURS into the past — shrinking the slice
    or the shift would be workload reduction inside a timed entry, not
    an optimization. Batch 'a' must be the fixture verbatim and 'b'
    one nudge row at max(ts), mtime-ordered a < b < c."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from walrus_spark.queries.streaming_queries import (
        LATE_SHIFT_HOURS,
        LATE_STRIDE,
        _stage_late_drop_inputs,
    )

    # the entry's timed workload contract — a change here must be an
    # explicit, recorded decision, not a drive-by edit
    assert LATE_STRIDE == 50 and LATE_SHIFT_HOURS == 1000

    n = 1003  # not a multiple of the stride: exercises the tail
    base_us = 1_700_000_000_000_000
    ts = pa.array(
        [base_us + i * 60_000_000 for i in range(n)],
        type=pa.timestamp("us", tz="UTC"),
    )
    et = pa.array([f"e{i % 7}" for i in range(n)])
    fixture = tmp_path / "events.parquet"
    pq.write_table(pa.table({"event_type": et, "ts": ts}), str(fixture))

    ind = tmp_path / "in"
    ind.mkdir()
    n_late = _stage_late_drop_inputs(str(fixture), str(ind), "timestamp")

    a = pq.read_table(str(ind / "a.parquet"))
    b = pq.read_table(str(ind / "b.parquet"))
    c = pq.read_table(str(ind / "c.parquet"))

    # a: the fixture itself, verbatim
    assert a.equals(pq.read_table(str(fixture)))
    # b: exactly one nudge row at max(ts)
    assert b.num_rows == 1
    assert b.column("ts")[0].as_py().timestamp() * 1e6 == ts[-1].value
    # c: every LATE_STRIDE-th row, shifted LATE_SHIFT_HOURS back
    expect_idx = list(range(0, n, LATE_STRIDE))
    assert n_late == c.num_rows == len(expect_idx)
    shift_us = LATE_SHIFT_HOURS * 3600 * 10**6
    got_ts = [v.value for v in c.column("ts")]
    assert got_ts == [ts[i].value - shift_us for i in expect_idx]
    got_et = [v.as_py() for v in c.column("event_type")]
    assert got_et == [f"e{i % 7}" for i in expect_idx]
    # mtime ordering drives micro-batch order: a < b < c
    mt = [(ind / f"{t}.parquet").stat().st_mtime for t in ("a", "b", "c")]
    assert mt[0] < mt[1] < mt[2]
