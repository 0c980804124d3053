"""Structured Streaming wrappers over the WalrusLog layout.

The reference's streaming semantics (SURVEY.md §2.4) map onto built-in
Structured Streaming machinery:

  consume-once shared cursor (WalIndex)  → checkpointLocation offset/commit log
  StrictlyAtOnce                          → exactly-once file sink / idempotent
                                            foreachBatch (replay-safe)
  AtLeastOnce{persist_every}              → replayable source, at-least-once
                                            foreach sink
  high_watermark (rpc.rs:17-20)           → per-batch max(offset) progress
  segment rollover (monitor.rs)           → segment column assigned in-stream
  no event-time in reference              → we ADD watermarks + windows
                                            (DQ8's streaming form)

A streaming read is `readStream` over the log's STREAM MIRROR
(<root>/stream/): a hardlinked directory per batch, created only after
the manifest commit and appearing atomically via directory rename. The
mirror is what makes streaming reads honor the manifest protocol — a
crashed uncommitted write never reaches data/'s mirror, and compaction
output (a re-pack of already-delivered entries) is never mirrored, so
each entry is stream-visible exactly once. Each micro-batch is thus an
atomic visibility step exactly like the reference's publish of
``cur_offset`` (src/wal/runtime/writer.rs:341).

Maintenance interplay: vacuum/compact retire fully-processed mirror
dirs; a stream that is mid-catch-up over files being reclaimed fails
loudly rather than duplicating or dropping (the log-retention contract).
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from walrus_spark.log.wal import LOG_SCHEMA, WalrusLog, local_frame


def read_log_stream(
    spark: SparkSession, log: WalrusLog, max_files_per_trigger: int = 64
) -> DataFrame:
    """Streaming view of a WalrusLog (all topics): lists the manifest-
    committed stream mirror, never raw data/ (see module docstring).
    `max_files_per_trigger` is the reference's byte/entry read-budget
    backpressure knob (src/wal/config.rs:42-43) in file units."""
    return (
        spark.readStream.schema(LOG_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(f"{log._stream_dir}/*/")
    )


def read_topic_stream(
    spark: SparkSession, log: WalrusLog, topic: str
) -> DataFrame:
    """Streaming view of one topic (predicate prunes at the source)."""
    return read_log_stream(spark, log).where(F.col("topic") == topic)


def write_log_stream(
    df: DataFrame,
    log: WalrusLog,
    checkpoint_dir: str,
    topic_col: str = "topic",
    payload_col: str = "value",
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Stream-ingest into a WalrusLog: each micro-batch is one atomic
    log commit (foreachBatch → WalrusLog.ingest), giving the reference's
    batch-append atomicity (O2). Exactly-once is real, not assumed:
    foreachBatch is at-least-once, so the (checkpoint, batch_id) txn id
    is recorded in the manifest and a replayed micro-batch is skipped —
    idempotent commit, the StrictlyAtOnce analog."""

    txn_scope = os.path.abspath(checkpoint_dir)

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        # no emptiness probe here: ingest returns before any job on a
        # replayed txn and commits nothing for an empty batch
        log.ingest(
            batch_df,
            topic_col=topic_col,
            payload_col=payload_col,
            txn=f"{txn_scope}#{batch_id}",
        )

    writer = (
        df.writeStream.foreachBatch(commit)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def consume_stream(
    spark: SparkSession,
    log: WalrusLog,
    checkpoint_dir: str,
    sink: "callable",
    topic: str | None = None,
) -> StreamingQuery:
    """Consume-once delivery: the checkpointLocation IS the shared
    persistent cursor (WalIndex analog) — restarts resume after the last
    committed micro-batch with no re-delivery (StrictlyAtOnce)."""
    src = (
        read_topic_stream(spark, log, topic)
        if topic
        else read_log_stream(spark, log)
    )

    def deliver(batch_df: DataFrame, batch_id: int) -> None:
        sink(batch_df, batch_id)

    return (
        src.writeStream.foreachBatch(deliver)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def shared_cursor_stream(
    spark: SparkSession,
    log: WalrusLog,
    checkpoint_dir: str,
    sink: "callable",
    topic: str | None = None,
    max_files_per_trigger: int = 64,
) -> StreamingQuery:
    """SURVEY.md §7 stage 6: consume-once delivery through the log's
    SHARED persistent cursor, with the reference's AtLeastOnce
    `persist_every` replay semantics (src/wal/runtime/walrus_read.rs:
    347-366; duplicate-replay behavior of tests/batch_read.rs:596).

    The cursor has three tiers, exactly mirroring the reference:

      hydrate-once   — the sidecar cursor (WalIndex analog) is read ONCE
                       when the query starts (walrus_read.rs:62-92) and
                       seeds the run cursor;
      in-run cursor  — a driver-held per-topic dict advanced inside
                       foreachBatch. Spark runs foreachBatch serially
                       per query, which is exactly the reference
                       reader's single-threaded cursor discipline; each
                       micro-batch delivers only offsets past the
                       cursor via a broadcast anti-filter that runs
                       ENTIRELY JVM-side. (Until r10 this tier was an
                       applyInPandasWithState operator — semantically
                       identical across this module's whole contract
                       surface, since every consumer session starts a
                       fresh checkpoint and cross-run position is the
                       SIDECAR's job — but it shuffled every payload
                       byte into a Python worker and back through
                       Arrow/pandas just to compare an offset: the 1 GiB
                       volume marathon spent most of its consume wall
                       in that roundtrip, and at 100 TB it is precisely
                       the move-the-data-to-the-control-plane
                       anti-pattern. The cursor is bytes of metadata;
                       the values now never leave the JVM.)
      persistence    — the sidecar is advanced through the log's
                       `_checkpoint_read` every `persist_every`
                       delivered entries (per the log's ReadConsistency)
                       in foreachBatch on the driver — the same thread
                       discipline as the reference's reader.

    Crash contract: a "process crash" = this consumer session dies; the
    successor (fresh WalrusLog instance + fresh checkpoint_dir) hydrates
    from the sidecar and re-delivers AT MOST persist_every entries —
    StrictlyAtOnce (persist_every=1) re-delivers none. Unlike
    `consume_stream` (whose position is the per-consumer Spark
    checkpoint), this cursor is ENGINE state: any number of consumer
    sessions, sequentially, share one position — the reference's shared
    per-topic cursor model."""
    run_cursor: dict[str, int] = {
        str(t): int(c) for t, c in log._cursors.items()
    }  # hydrate-once snapshot
    src = read_log_stream(spark, log, max_files_per_trigger)
    if topic:
        src = src.where(F.col("topic") == topic)
    delivered = src.select("topic", "offset", "value")

    def fb(raw_df: DataFrame, batch_id: int) -> None:
        # deliver only offsets past the per-topic run cursor: tiny
        # cursor frame broadcast into a JVM-side filter (absent topic
        # → cursor 0 → everything delivers; offsets are 1-based)
        batch_df = raw_df
        if run_cursor:
            cdf = local_frame(
                raw_df.sparkSession,
                topic=pa.array(list(run_cursor), pa.string()),
                cur=pa.array(list(run_cursor.values()), pa.int64()),
            )
            batch_df = (
                raw_df.join(F.broadcast(cdf), "topic", "left")
                .where(F.col("offset") > F.coalesce(F.col("cur"), F.lit(0)))
                .drop("cur")
            )
        batch_df = batch_df.persist()
        try:
            # Order is the at-least-once contract: the sink must SEE a
            # batch before the shared cursor records it as consumed. A
            # crash after sink but before checkpoint → bounded
            # re-delivery; the reverse order would let a sink failure
            # skip entries forever (a gap, which the contract forbids).
            # The cursor stats run AFTER the sink (r14): they are only
            # USED after it, and aggregating first meant a crashing
            # sink paid a full batch materialization for results the
            # crash discards.
            sink(batch_df, batch_id)
            stats = (
                batch_df.groupBy("topic")
                .agg(F.max("offset").alias("hi"), F.count("*").alias("n"))
                .collect()
            )
            for r in stats:
                # sidecar persistence per ReadConsistency.persist_every
                log._checkpoint_read(r["topic"], int(r["hi"]), int(r["n"]))
                # consumer lag atomically with delivery (the GET
                # reply's high_watermark, rpc.rs:17-20) — surfaced via
                # log.metrics()['consumer_lag']
                log._consumer_lag[r["topic"]] = log.high_watermark(
                    r["topic"]
                ) - int(r["hi"])
                # in-run cursor advances only after the sink saw the
                # batch — same crash window as the sidecar tier
                t = str(r["topic"])
                run_cursor[t] = max(run_cursor.get(t, 0), int(r["hi"]))
        finally:
            batch_df.unpersist()

    return (
        delivered.writeStream.foreachBatch(fb)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def windowed_counts(
    stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    key_col: str = "topic",
) -> DataFrame:
    """DQ8's streaming form: watermarked tumbling-window counts.
    Late data beyond the watermark is dropped; state is bounded."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col(key_col))
        .agg(F.count("*").alias("n"))
    )


def latest_per_key_stream(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming dedup / latest-per-key (DQ9/DQ10 live form) via
    dropDuplicates with watermark — bounded state, no custom store."""
    return stream.withWatermark(ts_col, watermark).dropDuplicates(
        key_cols + [ts_col]
    )


def interval_join_stream(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    lower_us: int,
    upper_us: int,
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked stream-stream interval join — the live form of the
    batch `range_join` (operators/asof.py): every left row pairs with
    the right rows sharing its key whose timestamp lies in
    ``[left_ts + lower_us, left_ts + upper_us]`` (µs, inclusive).

    Both sides carry a watermark and the join condition bounds
    right_ts relative to left_ts, which is exactly what Structured
    Streaming needs to EXPIRE state: a buffered right row can be
    dropped once the left watermark passes ``right_ts - lower_us``, so
    state is O(key-cardinality × interval), never unbounded. Left and
    right must not share column names besides ``on`` (standard Spark
    stream-stream join constraint on ambiguous refs)."""
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (lw[on] == rw[on])
        & (
            rw[right_ts]
            >= lw[left_ts] + F.expr(f"INTERVAL {lower_us} MICROSECOND")
        )
        & (
            rw[right_ts]
            <= lw[left_ts] + F.expr(f"INTERVAL {upper_us} MICROSECOND")
        )
    )
    return lw.join(rw, cond).drop(rw[on])


def _tws_available() -> bool:
    """transformWithStateInPandas needs protobuf in the Python env
    (its state-store protocol is protobuf-framed); absent, the Spark
    worker crashes at import. Gate, don't assume."""
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


_TOPIC_STATS_SCHEMA = (
    "topic string, high_watermark long, entries long, bytes long"
)


def _fold_topic_stats(state, pdfs):
    """Shared fold: (hw, entries, bytes) ⊕ one micro-batch's rows.

    Input rows are the SLIM projection (topic, offset, nbytes) — the
    payload itself never reaches the Python worker (see
    topic_stats_stream: stats are control-plane metadata; shuffling
    value bytes into the state operator just to measure their length
    is the move-the-data-to-the-control-plane anti-pattern this module
    already removed from the cursor tier in r10)."""
    hw, n, b = state
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        hw = max(hw, int(pdf["offset"].max()))
        n += len(pdf)
        b += int(pdf["nbytes"].sum())
    return hw, n, b


def topic_stats_stream(
    stream: DataFrame,
    state_ttl_ms: int | None = None,
    api: str = "auto",
) -> DataFrame:
    """Per-topic running (high_watermark, entries, bytes) with an
    explicit custom state store — the live form of O9–O11 and the
    WalIndex-style per-topic state the reference persists
    (src/wal/runtime/index.rs:6-14, walrus.rs:129-178).

    State is keyed by topic in Spark's checkpointed state store
    (surviving restarts the way WalIndex survives process crashes);
    each micro-batch folds only its new rows into the running totals —
    O(batch) work, O(topics) state, no re-scan of history. Two
    backends behind one contract (§2.6/§7 stage 6):

      * ``transformWithStateInPandas`` — the target API; adds
        per-state TTL (``state_ttl_ms``) and timers, which cursor/
        stats state needs at 100 TB topic cardinality so long-dead
        topics age out instead of accumulating forever. Requires
        protobuf in the executor Python environment.
      * ``applyInPandasWithState`` — the fallback when protobuf is
        absent (as in minimal containers); identical fold, no TTL
        (``state_ttl_ms`` is ignored with this backend).

    ``api``: "auto" (pick tws when available), "tws", or "legacy"."""
    import pandas as pd

    if api == "auto":
        api = "tws" if _tws_available() else "legacy"

    # Slim the stateful shuffle to (topic, offset, nbytes) BEFORE the
    # groupBy: the byte count is computed JVM-side (F.length), so the
    # payload column never crosses into the Python state operator —
    # at 100 TB the stats shuffle carries ~24 B/row, not the corpus.
    stream = stream.select(
        "topic",
        "offset",
        F.coalesce(F.length("value"), F.lit(0)).alias("nbytes"),
    )

    if api == "tws":
        from pyspark.sql.streaming.stateful_processor import (
            StatefulProcessor,
            StatefulProcessorHandle,
        )

        class TopicStatsProcessor(StatefulProcessor):
            def init(self, handle: StatefulProcessorHandle) -> None:
                self._stats = handle.getValueState(
                    "stats",
                    "hw long, entries long, bytes long",
                    ttlDurationMs=state_ttl_ms,
                )

            def handleInputRows(self, key, rows, timer_values):
                cur = (
                    tuple(int(x) for x in self._stats.get())
                    if self._stats.exists()
                    else (0, 0, 0)
                )
                hw, n, b = _fold_topic_stats(cur, rows)
                self._stats.update((hw, n, b))
                yield pd.DataFrame(
                    {
                        "topic": [key[0]],
                        "high_watermark": [hw],
                        "entries": [n],
                        "bytes": [b],
                    }
                )

            def close(self) -> None:
                pass

        return stream.groupBy("topic").transformWithStateInPandas(
            TopicStatsProcessor(),
            _TOPIC_STATS_SCHEMA,
            "Update",
            "None",
        )

    if api != "legacy":
        raise ValueError(f"unknown topic_stats_stream api: {api!r}")

    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        cur = tuple(state.get) if state.exists else (0, 0, 0)
        hw, n, b = _fold_topic_stats(
            (int(cur[0]), int(cur[1]), int(cur[2])), pdfs
        )
        state.update((hw, n, b))
        yield pd.DataFrame(
            {
                "topic": [key[0]],
                "high_watermark": [hw],
                "entries": [n],
                "bytes": [b],
            }
        )

    return stream.groupBy("topic").applyInPandasWithState(
        update,
        _TOPIC_STATS_SCHEMA,
        "hw long, entries long, bytes long",
        "update",
        GroupStateTimeout.NoTimeout,
    )


def high_watermark_progress(query: StreamingQuery) -> dict:
    """METRICS/high-watermark analog from lastProgress."""
    p = query.lastProgress
    if not p:
        return {}
    return {
        "batchId": p.get("batchId"),
        "numInputRows": p.get("numInputRows"),
        "sources": [s.get("endOffset") for s in p.get("sources", [])],
    }
