"""WalrusLog — the reference's embedded log API on a Spark-native layout.

Semantics mirrored from the reference (SURVEY.md §2.1-§2.2; citations
into /root/reference):

  append_for_topic / batch_append_for_topic  (src/wal/runtime/walrus_write.rs:4-18)
      → append(), batch_append(): all-or-nothing multi-entry append,
        ≤2000 entries / ≤10 GiB per batch (src/wal/config.rs:42-43).
  read_next / batch_read_for_topic           (src/wal/runtime/walrus_read.rs:24-1198)
      → read_next(), batch_read(): shared persistent per-topic cursor,
        checkpoint=True consumes, False peeks; byte budget with the
        "always ≥1 entry" rule; hard 2000-entry cap; stateless
        start_offset reads.
  ReadConsistency StrictlyAtOnce / AtLeastOnce{persist_every}
                                              (src/wal/runtime/walrus.rs:20-24)
      → cursor persisted every read vs every N reads; crash replays
        at-most `persist_every` entries (at-least-once).
  get_topic_entry_count(s) / get_topic_size   (src/wal/runtime/walrus.rs:129-178)
  mark_topic_dirty/clean + generation counter (src/wal/runtime/topic_clean.rs)
  startup_chore recovery                      (src/wal/runtime/walrus.rs:240-425)
      → recover(): rebuild per-topic high watermarks from committed data
        when the metadata sidecar is stale/missing.
  Segments (distributed-walrus/src/monitor.rs:16-24): segment =
      floor((offset-1)/max_segment_entries), assigned at append —
      the rollover analog; compact() clusters files by it.

Architecture (Spark-first, NOT a port):
  * Data: parquet files under <root>/data/, one directory per committed
    batch, files sorted by (topic, offset) so parquet row-group min/max
    stats prune both topic and offset predicates at scan time. Atomicity = manifest commit protocol —
    a batch's files are invisible until a manifest record is atomically
    renamed into <root>/manifest/ (the Delta-style txn log in miniature;
    replaces the reference's io_uring write-plan + header-zeroing
    rollback, src/wal/runtime/writer.rs:135-528 — a crashed batch simply
    never gets a manifest record).
  * Offsets: per-topic contiguous, assigned by the single writer from
    the persisted high watermark — the exact analog of the reference's
    one-leader-per-segment write fencing (distributed-walrus/src/
    bucket.rs:110-118). Offset reads (batch_read, read_next,
    peek_range) are driver-side reads of the one or two batches a
    window overlaps, found through an in-memory manifest index; whole-
    log reads (df(), topic_size, batch_read_at_byte) are distributed
    Spark scans.
  * Cursors: tiny JSON sidecar written via tmp+atomic-rename, mirroring
    WalIndex's fsync+rename (src/wal/runtime/index.rs:70-83).
  * Stream mirror: <root>/stream/ holds one hardlinked directory per
    manifest-COMMITTED batch (created only after the manifest rename,
    appearing atomically via dir rename). Structured Streaming sources
    list this mirror, never data/ — so a crashed uncommitted write can
    never be stream-delivered, and compaction output (which re-packs
    already-delivered entries) is never mirrored, so live streams see
    each entry exactly once. Hardlinks cost O(files) metadata, no data
    copy; on an object store this role is played by a manifest-aware
    source (Delta/Iceberg streaming) instead.

Concurrency: appends serialize PER TOPIC (the reference's per-key async
mutex, distributed-walrus/src/bucket.rs:60-118) and proceed in parallel
across distinct topics; only the metadata commit (manifest rename +
sidecar flush) is a short global section. Ingest/compact/vacuum take a
whole-log exclusive gate, so maintenance can never race a commit —
compact snapshots, `replaces` lists, and cleanup all observe one
consistent manifest. Writership verify + commit runs under an OS-level
fence (flock on <root>/writer.lock), so a takeover can never interleave
with a commit. Reads take no write-side lock.

Driver-side state is metadata only: O(topics) watermarks and cursors
plus the manifest index, O(committed batches). Data passes through the
driver only as the payloads handed to the embedded append API and the
bounded windows (≤2000 entries) an offset read delivers (at scale,
ingestion runs through walrus_spark.streaming instead).
"""

from __future__ import annotations

import bisect
import fcntl
import json
import os
import re
import shutil
import struct
import threading
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass
from datetime import datetime, timezone

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# `crc` is the per-entry checksum analog of the reference's FNV-1a
# entry checksum (src/wal/block.rs:43-77): xxhash64(value) computed at
# commit time and re-verified on every batch_read / read_next /
# peek_range (corruption tests: reference tests/unit.rs:110-137).
# Nullable so pre-checksum data files stay readable (null = legacy,
# skipped by verification).
LOG_SCHEMA = StructType(
    [
        StructField("topic", StringType(), False),
        StructField("segment", LongType(), False),
        StructField("offset", LongType(), False),
        StructField("value", BinaryType(), True),
        StructField("ts", TimestampType(), False),
        StructField("crc", LongType(), True),
    ]
)

# Write-side row schema: crc is derived in the plan (F.xxhash64), never
# passed in by callers.
_APPEND_SCHEMA = StructType(LOG_SCHEMA.fields[:-1])


class ChecksumError(RuntimeError):
    """A stored entry's checksum no longer matches its payload — the
    loud corruption signal the reference raises when an FNV-1a entry
    checksum fails (src/wal/block.rs:43-77)."""


class NotLeaderError(RuntimeError):
    """This instance's writership was fenced by a newer claimant — the
    NotLeaderForPartition analog (distributed-walrus/src/bucket.rs:
    110-118): the reference rejects writes that don't arrive at the
    partition's current leader; here, writes from an instance whose
    writer epoch is stale."""


class WouldBlockError(RuntimeError):
    """A conflicting in-flight write was refused instead of queued — the
    reference's WouldBlock fail-fast on concurrent batch appends
    (tests/batch_writes.rs concurrent-batch rejection suite). A
    conflict is an in-flight append to the SAME topic (per-topic
    single-writer, the per-key mutex of distributed-walrus/src/
    bucket.rs:60-118) or an exclusive maintenance/ingest pass; appends
    to distinct topics proceed concurrently and never conflict.

    DELIBERATE DEFAULT DIVERGENCE from the reference: there fail-fast
    is the default; here it is opt-in (wait=False) — the default
    mirrors a thread-safe embedded API and serializes on the conflict
    instead."""


class _SharedExclusiveLock:
    """Writer-side readers/writer lock: appends hold SHARED (their real
    mutual exclusion is the per-topic lock), while ingest / vacuum /
    compact hold EXCLUSIVE — they mutate or delete state across topics
    and must observe a quiesced manifest, exactly the invariant the old
    single global lock provided.

    FIFO-fair: waiters queue in arrival order; a shared request passes
    only waiters that are themselves shared, an exclusive proceeds only
    at the queue head. Fairness is load-bearing both ways — a
    tight-loop maintenance thread re-registering its next exclusive
    immediately after release must not starve appenders (observed as a
    chaos-test livelock with a waiting-exclusive-blocks-shared rule),
    and a steady append stream must not starve maintenance."""

    def __init__(self) -> None:
        self._cond = threading.Condition()
        self._shared = 0
        self._exclusive = False
        self._queue: list[tuple[str, int]] = []  # ("s"|"x", ticket)
        self._next_ticket = 0

    def _may_enter(self, kind: str, ticket: int) -> bool:
        if self._exclusive:
            return False
        if kind == "s":
            for k, t in self._queue:
                if t == ticket:
                    return True
                if k == "x":
                    return False
            raise AssertionError("ticket vanished from queue")
        return self._shared == 0 and self._queue[0][1] == ticket

    def acquire_shared(self, blocking: bool = True) -> bool:
        with self._cond:
            if not blocking:
                if self._exclusive or any(k == "x" for k, _ in self._queue):
                    return False
                self._shared += 1
                return True
            me = ("s", self._next_ticket)
            self._next_ticket += 1
            self._queue.append(me)
            try:
                while not self._may_enter(*me):
                    self._cond.wait()
            finally:
                self._queue.remove(me)
            self._shared += 1
            self._cond.notify_all()  # adjacent shared waiters batch in
            return True

    def release_shared(self) -> None:
        with self._cond:
            self._shared -= 1
            if self._shared == 0:
                self._cond.notify_all()

    def acquire_exclusive(self) -> None:
        with self._cond:
            me = ("x", self._next_ticket)
            self._next_ticket += 1
            self._queue.append(me)
            try:
                while not self._may_enter(*me):
                    self._cond.wait()
            finally:
                self._queue.remove(me)
            self._exclusive = True

    def release_exclusive(self) -> None:
        with self._cond:
            self._exclusive = False
            self._cond.notify_all()

    @contextmanager
    def exclusive(self):
        self.acquire_exclusive()
        try:
            yield
        finally:
            self.release_exclusive()

MAX_BATCH_ENTRIES = 2000  # src/wal/config.rs:42
# Orphan dirs younger than this are presumed to be another live
# instance's in-flight write and are left alone (see _reconcile)
ORPHAN_GRACE_SECONDS = 300
MAX_BATCH_BYTES = 10 * 1024**3  # src/wal/config.rs:43
ENTRY_HEADER_BYTES = 256  # PREFIX_META_SIZE, src/wal/config.rs:40
DEFAULT_MAX_SEGMENT_ENTRIES = 1_000_000  # monitor.rs:16


@dataclass(frozen=True)
class ReadConsistency:
    """StrictlyAtOnce → persist_every=1; AtLeastOnce → persist_every=N."""

    persist_every: int = 1

    @classmethod
    def strictly_at_once(cls) -> "ReadConsistency":
        return cls(1)

    @classmethod
    def at_least_once(cls, persist_every: int) -> "ReadConsistency":
        return cls(max(1, persist_every))


@dataclass(frozen=True)
class FsyncSchedule:
    """O7 durability schedule (src/wal/config.rs:29-34; the dedicated
    background fsync worker, src/wal/runtime/background.rs:22-199).

    Data commits (parquet + manifest rename) are ALWAYS fsync'd — the
    commit protocol is non-negotiable. The schedule governs the CURSOR
    sidecar, this design's high-frequency small write (the reference
    batches data-file fsyncs; our data path has no such write to batch):

      sync_each()       — fsync on every cursor persist: a crash loses
                          no cursor advance (one fsync per read batch).
      milliseconds(n)   — default, mirroring the reference's 200 ms
                          worker: persists are rename-visible
                          immediately, but a background thread batches
                          the physical fsync every n ms. A power loss
                          may lose the last n ms of cursor advances →
                          bounded EXTRA re-delivery, never data loss.
      no_fsync()        — rename-only (page cache): survives process
                          crash, not power loss.
    """

    milliseconds: int = 200

    @classmethod
    def sync_each(cls) -> "FsyncSchedule":
        return cls(0)

    @classmethod
    def no_fsync(cls) -> "FsyncSchedule":
        return cls(-1)


def _sanitize_namespace(key: str) -> str:
    """Filesystem-safe namespace directory (sanitize_namespace,
    src/wal/config.rs:88-104): non [A-Za-z0-9._-] chars become '_'."""
    return re.sub(r"[^A-Za-z0-9._-]", "_", key) or "_"


# --------------------------------------------------------------------------
# Pure-python XXH64 (Yann Collet's public spec), seed 42 — bit-identical
# to Spark's `xxhash64` expression on BinaryType (parity pinned by
# test_xxhash64_python_matches_spark). The driver-side small-batch
# append path stamps the per-entry checksum with it, and the range read
# re-verifies every delivered entry with it, whichever writer (pyarrow
# or a Spark job's xxhash64) stamped the entry.
_X1 = 11400714785074694791
_X2 = 14029467366897019727
_X3 = 1609587929392839161
_X4 = 9650029242287828579
_X5 = 2870177450012600261
_M64 = (1 << 64) - 1


_STRIPE = struct.Struct("<4Q")  # one 32-byte stripe = four LE lanes
_LANE = struct.Struct("<Q")
_HALF = struct.Struct("<I")


def _xxhash64_py(data: bytes, seed: int = 42) -> int:
    """XXH64(data, seed) as a SIGNED 64-bit int (Spark's return type).

    The stripe loop unpacks a 32-byte stripe's four little-endian lanes
    in one struct call and keeps the lanes in locals with the rotations
    written out: the read path verifies every delivered entry with this
    function, so its per-byte cost is a read-path cost."""
    n = len(data)
    end = n - n % 32
    if n >= 32:
        v1 = (seed + _X1 + _X2) & _M64
        v2 = (seed + _X2) & _M64
        v3 = seed & _M64
        v4 = (seed - _X1) & _M64
        for k1, k2, k3, k4 in _STRIPE.iter_unpack(memoryview(data)[:end]):
            v1 = (v1 + k1 * _X2) & _M64
            v1 = ((v1 << 31 | v1 >> 33) & _M64) * _X1 & _M64
            v2 = (v2 + k2 * _X2) & _M64
            v2 = ((v2 << 31 | v2 >> 33) & _M64) * _X1 & _M64
            v3 = (v3 + k3 * _X2) & _M64
            v3 = ((v3 << 31 | v3 >> 33) & _M64) * _X1 & _M64
            v4 = (v4 + k4 * _X2) & _M64
            v4 = ((v4 << 31 | v4 >> 33) & _M64) * _X1 & _M64
        h = (
            (v1 << 1 | v1 >> 63)
            + (v2 << 7 | v2 >> 57)
            + (v3 << 12 | v3 >> 52)
            + (v4 << 18 | v4 >> 46)
        ) & _M64
        for v in (v1, v2, v3, v4):
            v = v * _X2 & _M64
            h ^= ((v << 31 | v >> 33) & _M64) * _X1 & _M64
            h = (h * _X1 + _X4) & _M64
    else:
        h = (seed + _X5) & _M64
    h = (h + n) & _M64
    i = end
    while i + 8 <= n:
        k = _LANE.unpack_from(data, i)[0] * _X2 & _M64
        h ^= ((k << 31 | k >> 33) & _M64) * _X1 & _M64
        h = (((h << 27 | h >> 37) & _M64) * _X1 + _X4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= _HALF.unpack_from(data, i)[0] * _X1 & _M64
        h = (((h << 23 | h >> 41) & _M64) * _X2 + _X3) & _M64
        i += 4
    while i < n:
        h ^= data[i] * _X5 & _M64
        h = ((h << 11 | h >> 53) & _M64) * _X1 & _M64
        i += 1
    h ^= h >> 33
    h = h * _X2 & _M64
    h ^= h >> 29
    h = h * _X3 & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def _atomic_write_json(path: str, obj, durable: bool = True) -> None:
    tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(obj, f)
        f.flush()
        if durable:
            os.fsync(f.fileno())
    os.rename(tmp, path)


def local_frame(spark: SparkSession, **columns) -> DataFrame:
    """A small driver-built table (``name=pyarrow.Array`` columns) as a
    DataFrame that plans as a JVM ``LocalTableScan``. createDataFrame
    over Python rows plans a ``Scan ExistingRDD`` instead, whose tasks
    run in Python workers — a join against it costs a Python stage per
    use."""
    import pyarrow as pa

    return spark.createDataFrame(pa.table(columns))


class WalrusLog:
    """Embedded topic-log engine over parquet + manifest commit log."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        consistency: ReadConsistency | None = None,
        fsync: FsyncSchedule | None = None,
        max_segment_entries: int = DEFAULT_MAX_SEGMENT_ENTRIES,
        auto_maintenance_seconds: float | None = None,
        auto_compact_min_batches: int | None = None,
    ) -> None:
        """``auto_maintenance_seconds`` starts the background
        maintenance daemon (the reference's background reclamation
        worker, src/wal/runtime/background.rs:167-194 +
        allocator.rs:188-200): every interval it vacuums fully-consumed
        batches, and — when ``auto_compact_min_batches`` is set and the
        live record count reaches it — compacts the manifest. None (the
        default) keeps maintenance manual (vacuum()/compact() calls),
        the embedded-library-friendly default."""
        self.spark = spark
        self.root = root
        self.consistency = consistency or ReadConsistency.strictly_at_once()
        self.fsync = fsync or FsyncSchedule()
        self.max_segment_entries = max_segment_entries
        self._data_dir = os.path.join(root, "data")
        self._manifest_dir = os.path.join(root, "manifest")
        self._stream_dir = os.path.join(root, "stream")
        self._compact_dir = os.path.join(root, "compacted")
        self._meta_path = os.path.join(root, "meta.json")
        self._cursor_path = os.path.join(root, "cursors.json")
        os.makedirs(self._data_dir, exist_ok=True)
        os.makedirs(self._manifest_dir, exist_ok=True)
        os.makedirs(self._stream_dir, exist_ok=True)
        # volatile state hydrated from sidecars (WalIndex hydrate-once,
        # walrus_read.rs:62-92)
        self._hw: dict[str, int] = {}
        self._cursors: dict[str, int] = {}
        self._dirty: dict[str, dict] = {}
        self._unpersisted_reads: dict[str, int] = {}
        # checksum-verified entries delivered through the read path
        # (per topic, this process — the corruption-detection coverage
        # counter surfaced by metrics())
        self._verified_reads: dict[str, int] = {}
        # per-topic hw − last_delivered_offset, snapshotted at delivery
        # (the GET-reply lag, rpc.rs:17-20); updated by batch_read /
        # read_next and by shared_cursor_stream's foreachBatch
        self._consumer_lag: dict[str, int] = {}
        # read-side group commit (commit_cursor): one durable cursor
        # flush covers every in-memory advance made while the previous
        # flush was in flight — the _GroupCommitter discipline applied
        # to the consume plane, served by a DEDICATED flusher thread
        # (started on first use). Waiters park on their own Event and
        # the flusher drains every parked waiter per pass; the old
        # leader-election condvar handed flush leadership between GET
        # threads, and under a contended GIL each handoff's
        # notify_all/re-acquire cycle cost more than the flush itself
        # (~5.6 ms wait per frame for a ~1-3 ms rename-only flush).
        # _flushed_cursors tracks, per topic, the highest offset KNOWN
        # covered by a completed flush.
        self._cursor_file_lock = threading.Lock()
        self._flushed_cursors: dict[str, int] = {}
        self._cfl_lock = threading.Lock()
        self._cfl_waiters: list[tuple[str, int, threading.Event]] = []
        self._cfl_wake = threading.Event()
        self._cfl_stop = False
        # permanent: set by close(), never reset — the waiter-side
        # re-kick paths must not resurrect a flusher on a closed log
        self._cfl_closed = False
        self._cfl_thread: threading.Thread | None = None
        self._txns: set[str] = set()
        # Write concurrency mirrors the reference's per-key async mutex
        # (distributed-walrus/src/bucket.rs:60-118): offset assignment
        # serializes PER TOPIC, so appends to distinct topics proceed
        # concurrently. The shared/exclusive gate gives ingest and
        # maintenance the whole-log exclusion the old global lock
        # provided; the meta RLock is the short global section guarding
        # shared metadata (hw/dirty/txns) + its sidecar flush. Reads
        # take none of these.
        self._rw = _SharedExclusiveLock()
        self._topic_locks: dict[str, threading.Lock] = {}
        self._consume_locks: dict[str, threading.Lock] = {}
        self._locks_guard = threading.Lock()
        self._meta_lock = threading.RLock()
        self._wouldblock_warned = False  # one-shot divergence warning
        self._pre_commit_hook = None  # test failpoint (see append path)
        # O7 background fsync worker state (background.rs:22-199):
        # sidecar fsyncs are counted (observable in tests/metrics),
        # dirty paths are swept by a lazily-started daemon thread when
        # the schedule is Milliseconds(n)
        self.fsync_count = 0
        self._fsync_dirty: set[str] = set()
        self._fsync_lock = threading.Lock()
        self._fsync_stop = threading.Event()
        self._fsync_thread: threading.Thread | None = None
        # Cross-process writer fencing (bucket.rs:110-118): opening an
        # instance CLAIMS writership by bumping the epoch in
        # <root>/writer.json (tmp+atomic-rename, like every sidecar).
        # Every mutation re-reads the file and refuses with
        # NotLeaderError when a newer claim exists — the fencing-token
        # protocol; on an object store the final rename becomes a
        # conditional put and the token check is storage-enforced.
        self._writer_path = os.path.join(root, "writer.json")
        # OS-level advisory lock serializing claim and verify+commit
        # across PROCESSES (see _fence)
        self._fence_path = os.path.join(root, "writer.lock")
        self._writer_id = uuid.uuid4().hex
        self._writer_epoch = self._claim_writership()
        # background maintenance daemon state (background.rs:167-194)
        self.auto_compact_min_batches = auto_compact_min_batches
        self.maintenance_sweeps = 0
        self.maintenance_errors = 0
        # reads that re-listed the manifest after losing a file race
        # with concurrent reclamation (surfaced via metrics())
        self.read_relists = 0
        # in-memory manifest index (see _manifest_index)
        self._index_lock = threading.Lock()
        self._index_listing: list[str] | None = None
        self._index_parsed: dict[str, dict] = {}
        self._index: tuple[list[dict], dict] = ([], {})
        # unpinned-ingest audits that failed and reran pinned
        # (nondeterministic source layouts; surfaced via metrics())
        self.ingest_pinned_retries = 0
        self._maint_interval = auto_maintenance_seconds
        self._maint_stop = threading.Event()
        self._maint_thread: threading.Thread | None = None
        self.recover()
        if auto_maintenance_seconds is not None:
            self._maint_thread = threading.Thread(
                target=self._maintenance_worker, daemon=True
            )
            self._maint_thread.start()

    @classmethod
    def for_key(
        cls, spark: SparkSession, base_root: str, key: str, **kwargs
    ) -> "WalrusLog":
        """Namespace-isolated instance (new_for_key /
        WALRUS_INSTANCE_KEY analog, src/wal/paths.rs:11-36): the key is
        sanitized to a filesystem-safe directory under base_root, so
        tenants share nothing — not data, not cursors, not metadata."""
        return cls(
            spark, os.path.join(base_root, _sanitize_namespace(key)), **kwargs
        )

    @classmethod
    def builder(cls, spark: SparkSession) -> "WalrusLogBuilder":
        """Fluent construction with env-var fallbacks — the
        WalrusBuilder analog (src/wal/runtime/builder.rs:26-104)."""
        return WalrusLogBuilder(spark)

    # ------------------------------------------------------------------
    # writer fencing (NotLeaderForPartition analog, bucket.rs:110-118)
    # ------------------------------------------------------------------
    def _read_writer_record(self) -> dict:
        if os.path.exists(self._writer_path):
            try:
                with open(self._writer_path) as f:
                    return json.load(f)
            except (json.JSONDecodeError, OSError):
                pass
        return {"epoch": 0, "writer": None}

    @contextmanager
    def _fence(self):
        """OS-level advisory lock (flock on <root>/writer.lock) held
        across writership claims AND across every verify-then-commit
        section. Closes the cross-process TOCTOU window where a
        takeover lands between the epoch re-check and the manifest
        rename — with the fence, a claim and a commit are atomic with
        respect to each other, so a fenced writer can NEVER publish a
        batch after the new writer's claim. On a local/NFS filesystem
        flock provides this; on an object store the same role is played
        by a conditional-put commit (documented at the module head)."""
        fd = os.open(self._fence_path, os.O_CREAT | os.O_RDWR, 0o644)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)

    def _claim_writership(self) -> int:
        """Bump the writer epoch and install this instance as THE
        writer (leader takeover). The previous holder's next mutation
        fails its epoch check — it can never again commit offsets from
        its now-stale high watermarks. The read-increment-write runs
        under the fence, so two racing claimants get distinct epochs."""
        with self._fence():
            cur = self._read_writer_record()
            epoch = int(cur.get("epoch", 0)) + 1
            _atomic_write_json(
                self._writer_path,
                {"epoch": epoch, "writer": self._writer_id},
            )
            return epoch

    def _verify_writership(self) -> None:
        cur = self._read_writer_record()
        if cur.get("writer") != self._writer_id:
            raise NotLeaderError(
                f"writer epoch {cur.get('epoch')} is held by instance "
                f"{cur.get('writer')}; this instance (epoch "
                f"{self._writer_epoch}) was fenced — open a fresh "
                "WalrusLog to take over writership"
            )

    @property
    def writer_epoch(self) -> int:
        return self._writer_epoch

    # ------------------------------------------------------------------
    # recovery (startup_chore analog, walrus.rs:240-425)
    # ------------------------------------------------------------------
    def recover(self) -> None:
        meta = {}
        if os.path.exists(self._meta_path):
            with open(self._meta_path) as f:
                meta = json.load(f)
        self._hw = {k: int(v) for k, v in meta.get("hw", {}).items()}
        self._dirty = meta.get("dirty", {})
        self._txns.update(meta.get("txns", []))
        if os.path.exists(self._cursor_path):
            with open(self._cursor_path) as f:
                self._cursors = {k: int(v) for k, v in json.load(f).items()}
        else:
            self._cursors = {}
        # If a manifest was committed after the last meta flush (crash
        # window), fold the committed batches' ranges back in — manifest
        # records carry (topic, first, last), so recovery is O(#batches)
        # metadata, never a data scan.
        recs = self._manifest_records()
        for rec in recs:
            for topic, rng in rec["topics"].items():
                self._hw[topic] = max(self._hw.get(topic, 0), int(rng["last"]))
            if rec.get("txn"):
                self._txns.add(rec["txn"])
            self._txns.update(rec.get("txns", []))
        self._reconcile(recs)

    def _reconcile(self, recs: list[dict]) -> None:
        """Finish any crashed maintenance and re-sync the stream mirror.

        Everything here is idempotent garbage collection — the manifest
        (post `replaces` filtering) is the sole source of truth, so a
        crash at ANY point leaves a log this method restores to a clean
        state: (a) records replaced by a committed compaction are dead →
        delete them and their data dirs (compact's own cleanup may have
        crashed midway, tests/rollback_recovery.rs semantics); (b) data
        dirs referenced by no record are crashed uncommitted writes →
        invisible either way, reclaim the space; (c) the stream mirror
        must hold exactly the committed, stream-visible batches."""
        live = {r["batch"] for r in recs}
        # (a) dead records (filtered out of recs by `replaces`)
        for name in os.listdir(self._manifest_dir):
            if name.endswith(".json") and name[: -len(".json")] not in live:
                with open(os.path.join(self._manifest_dir, name)) as f:
                    dead = json.load(f)
                shutil.rmtree(dead["path"], ignore_errors=True)
                os.remove(os.path.join(self._manifest_dir, name))
        # (b) orphan data/compacted dirs from crashed (never-committed)
        # writes. A GRACE PERIOD protects a concurrent instance's
        # in-flight write on the same root (files exist, manifest rename
        # pending): only orphans older than ORPHAN_GRACE_SECONDS are
        # reclaimed — a crashed write is eventually collected, a live
        # one is never. The compacted/ dir is swept too: a compaction
        # that crashed between its (log-sized) output write and the
        # record rename must not leak that copy forever.
        referenced = {os.path.abspath(r["path"]) for r in recs}
        now = time.time()
        for base in (self._data_dir, self._compact_dir):
            if not os.path.isdir(base):
                continue
            for name in os.listdir(base):
                full = os.path.join(base, name)
                if os.path.abspath(full) in referenced:
                    continue
                try:
                    age = now - os.path.getmtime(full)
                except OSError:
                    continue
                if age > ORPHAN_GRACE_SECONDS:
                    shutil.rmtree(full, ignore_errors=True)
        # (c) stream mirror = committed ∩ stream-visible
        self._sync_stream_mirror(recs)

    def _sync_stream_mirror(self, recs: list[dict]) -> None:
        want = {r["batch"]: r for r in recs if r.get("stream", True)}
        have = set()
        for name in os.listdir(self._stream_dir):
            if name.startswith("_"):
                # crashed _link_stream staging dir (hidden to Spark's
                # listers, but still disk) — reclaim with the same grace
                # period as other orphans
                full = os.path.join(self._stream_dir, name)
                try:
                    if time.time() - os.path.getmtime(full) > ORPHAN_GRACE_SECONDS:
                        shutil.rmtree(full, ignore_errors=True)
                except OSError:
                    pass
            else:
                have.add(name)
        for b in have - set(want):
            shutil.rmtree(os.path.join(self._stream_dir, b), ignore_errors=True)
        for b, rec in want.items():
            if b not in have:
                self._link_stream(b, rec["path"])

    def _link_stream(self, batch_id: str, path: str) -> None:
        """Mirror a committed batch's parquet files into <root>/stream/
        via hardlinks, appearing atomically through a directory rename so
        the file-stream lister never sees a partial batch. The staging
        dir carries a leading underscore: Spark's file listers treat
        `_`/`.`-prefixed paths as hidden, so a stream that races the
        rename cannot observe the half-built directory under the
        `stream/*/` glob (it would otherwise double-deliver the batch
        under two paths)."""
        final = os.path.join(self._stream_dir, batch_id)
        tmp = os.path.join(
            self._stream_dir, f"_tmp.{batch_id}.{uuid.uuid4().hex[:8]}"
        )
        os.makedirs(tmp)
        for name in os.listdir(path):
            if name.endswith(".parquet"):
                os.link(os.path.join(path, name), os.path.join(tmp, name))
        os.rename(tmp, final)

    def _manifest_records(self) -> list[dict]:
        """Committed batch records, minus any replaced by a compaction.

        A compact record lists the batch ids it `replaces`; filtering
        them here (rather than deleting their files before the compact
        commit) makes compaction crash-safe: until the compact record's
        atomic rename the old records serve reads, after it they are
        dead regardless of whether their cleanup finished."""
        return list(self._manifest_index()[0])

    def _manifest_index(self) -> tuple[list[dict], dict]:
        """(live records, per-topic spans), from an in-memory index.

        Every call lists the manifest directory once, parses only the
        record names it has not seen before, and drops names that
        vanished; an unchanged listing (compared as listed, so a
        reordered one merely rebuilds) reuses the previous result. A
        topic's span is ``(lasts, recs)``: its live records sorted by
        their last offset for that topic, so ``bisect`` finds the first
        record that can hold an offset. Live records never overlap in a
        topic's offsets (a compaction replaces every record it covers).
        Listing on every call is what keeps commits, vacuums and
        compactions by this or another instance visible without any
        update hook. The directory is listed under the lock, so a stored
        index is never older than one stored before it; a listed record
        that is gone when opened means the listing is stale (a
        compaction may have committed its replacement since), so the
        directory is listed again rather than the name dropped."""
        with self._index_lock:
            while True:
                listing = os.listdir(self._manifest_dir)
                if listing == self._index_listing:
                    return self._index
                names = {n for n in listing if n.endswith(".json")}
                parsed = {
                    n: r for n, r in self._index_parsed.items() if n in names
                }
                try:
                    for name in names - parsed.keys():
                        with open(os.path.join(self._manifest_dir, name)) as f:
                            parsed[name] = json.load(f)
                except FileNotFoundError:
                    continue
                recs = [parsed[n] for n in sorted(parsed)]
                replaced = {b for r in recs for b in r.get("replaces", [])}
                live = [r for r in recs if r["batch"] not in replaced]
                by_topic: dict[str, list[tuple[int, dict]]] = {}
                for r in live:
                    for t, rng in r["topics"].items():
                        by_topic.setdefault(t, []).append((int(rng["last"]), r))
                spans = {}
                for t, items in by_topic.items():
                    items.sort(key=lambda x: x[0])
                    spans[t] = ([x[0] for x in items], [x[1] for x in items])
                self._index_listing, self._index_parsed = listing, parsed
                self._index = (live, spans)
                return self._index

    def _flush_meta(self) -> None:
        # txn ids ride in meta as well as in manifest records: vacuum
        # deletes fully-consumed records, and without this a replayed
        # streaming micro-batch whose record was vacuumed would commit
        # a second time after restart (ids are tiny strings; prune with
        # retention if a deployment ever accumulates millions)
        self._write_sidecar(
            self._meta_path,
            {
                "hw": self._hw,
                "dirty": self._dirty,
                "txns": sorted(self._txns),
            },
        )

    def _flush_cursors(self) -> dict[str, int]:
        """Durably write the cursor sidecar and return the exact map
        written. The file lock serializes writers AND places the
        snapshot inside the critical section, so successive sidecar
        contents are per-topic monotone — a later flush can never
        rename an older cursor over a newer one (the group-commit
        leader in _flush_cursors_covering flushes OUTSIDE the consume
        lock, so unserialized writers could otherwise interleave)."""
        with self._cursor_file_lock:
            snap = dict(self._cursors)
            self._write_sidecar(self._cursor_path, snap)
            return snap

    # -- O7: scheduled sidecar durability --------------------------------
    def _write_sidecar(self, path: str, obj) -> None:
        """Write a sidecar per the FsyncSchedule: always rename-visible
        immediately (a fresh instance hydrates the latest state); the
        physical fsync is immediate (sync_each), deferred to the
        background worker (milliseconds), or skipped (no_fsync)."""
        ms = self.fsync.milliseconds
        if ms == 0 or (ms > 0 and self._fsync_stop.is_set()):
            # sync_each — or a post-close straggler (e.g. a cursor
            # commit racing close): the worker is stopped and would
            # never sweep this path, and respawning it after close
            # violates the lifecycle contract, so sync inline instead
            _atomic_write_json(path, obj, durable=True)
            self.fsync_count += 1
            return
        _atomic_write_json(path, obj, durable=False)
        if ms > 0:
            with self._fsync_lock:
                # stop re-checked UNDER the lock (r13 advisor): a
                # writer that observed stop unset above may lose the
                # race to close() — whose final sweep drains the dirty
                # set under this same lock — and a worker respawned
                # after that sees stop set and exits WITHOUT sweeping,
                # leaving this sidecar rename-visible but unsynced.
                if not self._fsync_stop.is_set():
                    self._fsync_dirty.add(path)
                    if self._fsync_thread is None:
                        self._fsync_thread = threading.Thread(
                            target=self._fsync_worker, daemon=True
                        )
                        self._fsync_thread.start()
                    return
            # straggler lost the race: sync inline (file + parent dir,
            # the sweep's exact durability) — never resurrect a worker
            self._fsync_path(path)

    def _fsync_worker(self) -> None:
        """Dedicated flush thread: one pass every `milliseconds` fsyncs
        every dirty sidecar (file + parent dir) in one sweep — the
        batched-fsync behavior of the reference's worker."""
        while not self._fsync_stop.wait(self.fsync.milliseconds / 1000.0):
            self._fsync_sweep()

    def _fsync_sweep(self) -> None:
        with self._fsync_lock:
            dirty, self._fsync_dirty = self._fsync_dirty, set()
        for path in sorted(dirty):
            self._fsync_path(path)

    def _fsync_path(self, path: str) -> None:
        """Fsync one sidecar (file + parent dir) — the sweep's
        per-path durability, also used inline by a _write_sidecar
        straggler that lost the registration race with close()."""
        try:
            fd = os.open(path, os.O_RDONLY)
            try:
                os.fsync(fd)
            finally:
                os.close(fd)
            dfd = os.open(os.path.dirname(path), os.O_RDONLY)
            try:
                os.fsync(dfd)
            finally:
                os.close(dfd)
            self.fsync_count += 1
        except FileNotFoundError:
            pass  # replaced mid-sweep; a newer rename's writer syncs it

    def _maintenance_worker(self) -> None:
        """Scheduled reclamation (the background worker of
        src/wal/runtime/background.rs:167-194): every interval, vacuum
        fully-consumed batches and, past the configured record-count
        threshold, compact. Each sweep runs under the write lock (via
        vacuum/compact), so it can never race a commit; a fenced
        instance's daemon exits — the new writer owns reclamation."""
        while not self._maint_stop.wait(self._maint_interval):
            try:
                self.maintenance_sweep()
            except NotLeaderError:
                break
            except Exception:
                # a transient failure (e.g. filesystem hiccup) must not
                # kill the daemon; surfaced via the error counter
                self.maintenance_errors += 1

    def maintenance_sweep(self) -> dict:
        """One manual maintenance pass — exactly what the daemon runs."""
        vacuumed = self.vacuum()
        compacted = False
        if (
            self.auto_compact_min_batches is not None
            and len(self._manifest_records()) >= self.auto_compact_min_batches
        ):
            self.compact()
            compacted = True
        self.maintenance_sweeps += 1
        return {"vacuumed": vacuumed, "compacted": compacted}

    def close(self) -> None:
        """Stop the background workers after a final durable sweep."""
        self._maint_stop.set()
        if self._maint_thread is not None:
            self._maint_thread.join(timeout=5)
            self._maint_thread = None
        # quiesce the consume-plane flusher. ORDER MATTERS (r12
        # advisor): the final covering flush and its coverage-map
        # update must land BEFORE _cfl_stop is visible — an
        # already-awake flusher that observes the stop flag releases
        # every parked waiter, and a reply must never leave on a
        # not-yet-covered offset. (The stop branch now re-flushes
        # defensively too, but the ordering here makes close()
        # correct on its own.) _cfl_closed is permanent: waiter-side
        # re-kick paths switch to a direct leader flush instead of
        # resurrecting a flusher on a closed log.
        with self._cfl_lock:
            # closed FIRST: from here no covering caller can spawn a
            # new flusher (they direct-flush instead), so the thread
            # captured below is the only one there will ever be
            self._cfl_closed = True
            flusher = self._cfl_thread
            live_waiters = bool(self._cfl_waiters)
        if flusher is not None or live_waiters:
            snap = self._flush_cursors()
            with self._cfl_lock:
                for t, o in snap.items():
                    if o > self._flushed_cursors.get(t, 0):
                        self._flushed_cursors[t] = o
        with self._cfl_lock:
            self._cfl_stop = True
        if flusher is not None:
            self._cfl_wake.set()
            flusher.join(timeout=5)
            with self._cfl_lock:
                self._cfl_thread = None
        self._fsync_stop.set()
        if self._fsync_thread is not None:
            self._fsync_thread.join(timeout=5)
            self._fsync_thread = None
        self._fsync_sweep()

    # ------------------------------------------------------------------
    # write path (O1/O2)
    # ------------------------------------------------------------------
    def append(self, topic: str, payload: bytes) -> int:
        """Append one entry; returns its offset."""
        return self.batch_append(topic, [payload])[0]

    def batch_append(
        self, topic: str, payloads: list[bytes], wait: bool = True
    ) -> tuple[int, int]:
        """Atomic all-or-nothing append; returns (first, last) offsets.

        Mirrors batch_append_for_topic limits and atomicity (writer.rs:
        135-341): the parquet files exist before the manifest rename, but
        are unreadable until it — a crash mid-write leaves no visible
        trace (the rollback-by-header-zeroing analog). ``wait=False``
        mirrors the reference's concurrent-batch fail-fast: a second
        in-flight batch raises WouldBlockError instead of queueing.

        An EMPTY batch is a successful no-op (tests/batch_writes.rs:231
        test_empty_batch accepts it): nothing is written, no offsets are
        consumed, and the returned range (hw+1, hw) is empty — callers
        iterating `range(first, last+1)` naturally see zero offsets."""
        if not payloads:
            hw = self._hw.get(topic, 0)
            return (hw + 1, hw)
        if len(payloads) > MAX_BATCH_ENTRIES:
            raise ValueError(f"batch exceeds {MAX_BATCH_ENTRIES} entries")
        total = sum(len(p) for p in payloads)
        if total > MAX_BATCH_BYTES:
            raise ValueError(f"batch exceeds {MAX_BATCH_BYTES} bytes")
        return self.multi_append({topic: payloads}, wait=wait)[topic]

    def _warn_wouldblock_divergence(self, topic: str) -> None:
        """One-shot (per instance) surfacing of the documented default
        divergence: the reference fails concurrent batch appends fast
        with WouldBlock (tests/batch_writes.rs concurrent-batch
        rejection suite); this engine's default serializes on the
        per-topic lock instead. A migrating user who RELIED on the
        fail-fast should hear about the difference the first time it
        actually matters — i.e. under real contention — not never."""
        with self._locks_guard:  # atomic test-and-set: truly one-shot
            if self._wouldblock_warned:
                return
            self._wouldblock_warned = True
        import warnings

        warnings.warn(
            "concurrent batch append contention on topic "
            f"{topic!r}: the reference engine fails fast with "
            "WouldBlock here; this engine's default (wait=True) "
            "serializes the writers instead. Pass wait=False for the "
            "reference's fail-fast semantics. (This warning is raised "
            "once per WalrusLog instance.)",
            RuntimeWarning,
            stacklevel=4,
        )

    def _topic_lock(self, topic: str) -> threading.Lock:
        with self._locks_guard:
            lk = self._topic_locks.get(topic)
            if lk is None:
                lk = self._topic_locks[topic] = threading.Lock()
            return lk

    def _consume_lock(self, topic: str) -> threading.Lock:
        """Per-topic consumer serialization (distinct from the append
        locks: consuming never blocks appending)."""
        with self._locks_guard:
            lk = self._consume_locks.get(topic)
            if lk is None:
                lk = self._consume_locks[topic] = threading.Lock()
            return lk

    def multi_append(
        self, batches: dict[str, list[bytes]], wait: bool = True
    ) -> dict[str, tuple[int, int]]:
        """Atomically append to several topics in ONE commit.

        Thread-safe with per-topic write concurrency (the reference's
        per-key async mutex, distributed-walrus/src/bucket.rs:60-118):
        concurrent appenders serialize only when their topic sets
        overlap — disjoint topics assign offsets and write their
        parquet concurrently, and only the short metadata commit
        section is global. Offsets stay per-topic contiguous (the
        single-writer-per-segment invariant, TLA+ InvSeqOrder) because
        each topic's high watermark is read and advanced strictly under
        that topic's lock. With ``wait=False`` a CONFLICTING in-flight
        write (same topic, or an exclusive ingest/maintenance pass)
        raises WouldBlockError instead of queueing — the reference's
        concurrent-batch rejection semantics (tests/batch_writes.rs
        WouldBlock suite); locks are taken in sorted topic order, so
        overlapping multi-topic appends cannot deadlock."""
        if not self._rw.acquire_shared(blocking=wait):
            raise WouldBlockError(
                "an exclusive ingest/maintenance pass is in flight "
                "(wait=False)"
            )
        acquired: list[threading.Lock] = []
        try:
            for t in sorted(batches):
                lk = self._topic_lock(t)
                if not lk.acquire(blocking=False):
                    if not wait:
                        raise WouldBlockError(
                            f"another batch append to topic {t!r} is in "
                            "flight (wait=False)"
                        )
                    self._warn_wouldblock_divergence(t)
                    lk.acquire()
                acquired.append(lk)
            return self._multi_append_locked(batches)
        finally:
            for lk in reversed(acquired):
                lk.release()
            self._rw.release_shared()

    def _multi_append_locked(
        self, batches: dict[str, list[bytes]]
    ) -> dict[str, tuple[int, int]]:
        self._verify_writership()
        now = datetime.now(timezone.utc).replace(tzinfo=None)
        rows: list[Row] = []
        ranges: dict[str, tuple[int, int]] = {}
        for topic, payloads in batches.items():
            base = self._hw.get(topic, 0)
            for i, p in enumerate(payloads):
                off = base + 1 + i
                rows.append(
                    Row(
                        topic=topic,
                        segment=(off - 1) // self.max_segment_entries,
                        offset=off,
                        value=bytes(p),
                        ts=now,
                    )
                )
            ranges[topic] = (base + 1, base + len(payloads))
        batch_id = f"{len(os.listdir(self._manifest_dir)):012d}_{uuid.uuid4().hex[:8]}"
        path = os.path.join(self._data_dir, batch_id)
        total_bytes = sum(len(r.value) for r in rows)
        if (
            len(rows) <= self.DRIVER_APPEND_MAX_ROWS
            and total_bytes <= self.DRIVER_APPEND_MAX_BYTES
        ):
            # Small-batch fast path: write the part file driver-side
            # with pyarrow — no Spark job, which removes the ~0.3-1 s
            # scheduling floor under every single append / wire PUT /
            # group commit (the reference's small appends are a pwrite,
            # not a cluster job; this is the engine analog). The crc is
            # a pure-python XXH64 bit-identical to Spark's xxhash64
            # (parity pinned by test_xxhash64_python_matches_spark, and
            # re-verified on EVERY delivery — batch_read checks
            # xxhash64(value) == crc JVM-side, so any drift fails loud).
            self._write_batch_driver(path, rows)
        else:
            df = (
                self.spark.createDataFrame(rows, _APPEND_SCHEMA)
                .withColumn("crc", F.xxhash64("value"))
                .coalesce(1)
                .sortWithinPartitions("topic", "offset")
            )
            df.write.mode("overwrite").parquet(path)
        if self._pre_commit_hook is not None:
            # failpoint-style injection seam: lets tests land a
            # takeover exactly in the write→commit window (the TOCTOU
            # the fence closes)
            self._pre_commit_hook()
        # Commit point, made ATOMIC against a takeover by the fence:
        # the slow data write above is where a takeover lands, and the
        # flock guarantees no claim can slip between this re-check and
        # the manifest rename — a fenced writer can never publish
        # offsets assigned from its stale high watermarks.
        with self._fence():
            self._verify_writership()
            _atomic_write_json(
                os.path.join(self._manifest_dir, f"{batch_id}.json"),
                {
                    "batch": batch_id,
                    "path": path,
                    "writer_epoch": self._writer_epoch,
                    "topics": {
                        t: {"first": r[0], "last": r[1]}
                        for t, r in ranges.items()
                    },
                },
            )
        self._link_stream(batch_id, path)
        # short global metadata section (concurrent appends to other
        # topics serialize only here)
        with self._meta_lock:
            for topic, (_, last) in ranges.items():
                self._hw[topic] = last
                self.mark_topic_dirty(topic, flush=False)
            self._flush_meta()
        return ranges

    # Small-batch append fast path bounds: below these, the part file
    # is written driver-side with pyarrow (no Spark job — removes the
    # fixed job-scheduling floor from every small append); above, the
    # distributed write. 64 MiB / 10k rows is comfortably driver-sized
    # and far above any wire PUT / group-commit drain.
    DRIVER_APPEND_MAX_ROWS = 10_000
    DRIVER_APPEND_MAX_BYTES = 64 * 1024 * 1024

    def _write_batch_driver(self, path: str, rows: list[Row]) -> None:
        """One sorted parquet part file, schema-identical to the Spark
        write path (readers use an explicit LOG_SCHEMA, so the two
        writers' files interleave freely in one manifest): naive
        microsecond timestamps carry the same wall-clock the Spark
        path stores, crc is the bit-identical XXH64."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        ordered = sorted(rows, key=lambda r: (r.topic, r.offset))
        table = pa.table(
            {
                "topic": pa.array([r.topic for r in ordered], pa.string()),
                "segment": pa.array(
                    [r.segment for r in ordered], pa.int64()
                ),
                "offset": pa.array([r.offset for r in ordered], pa.int64()),
                "value": pa.array([r.value for r in ordered], pa.binary()),
                "ts": pa.array(
                    [r.ts for r in ordered], pa.timestamp("us")
                ),
                "crc": pa.array(
                    [_xxhash64_py(r.value) for r in ordered], pa.int64()
                ),
            }
        )
        os.makedirs(path, exist_ok=True)
        part = os.path.join(path, "part-00000.parquet")
        pq.write_table(table, part)
        # The manifest rename is the commit point; the data bytes and
        # their dirent must be durable BEFORE it, or a power loss could
        # leave a committed manifest pointing at a hole. (Strictly
        # stronger than the distributed write path, which inherits the
        # local filesystem's page-cache semantics from the Hadoop
        # committer.)
        fd = os.open(part, os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)
        # the part file's dirent lives in the batch dir; the batch
        # dir's OWN dirent lives in _data_dir — both must be journaled
        # before the manifest rename can claim the data exists
        for d in (path, self._data_dir):
            dfd = os.open(d, os.O_RDONLY)
            try:
                os.fsync(dfd)
            finally:
                os.close(dfd)

    # Above this many rows the audit runs as a distributed Spark job;
    # below it, a driver-side pyarrow read of the two audit columns is
    # faster than any Spark job's fixed scheduling cost (~10M rows ×
    # ~16 B ≈ 160 MB, well inside driver memory).
    AUDIT_DRIVER_MAX_ROWS = 10_000_000

    def _offsets_exact(self, path: str, ranges: dict) -> bool:
        """Pre-commit audit for the unpinned ingest fast path: the
        staged files must hold, for every topic, EXACTLY the offsets
        [first, last] — count, min, max, and distinct-count all agree
        with the interval, which uniquely pins the multiset (n distinct
        values inside an n-wide interval is the interval). Scans only
        the (topic, offset) columns of the just-written batch — ~16
        bytes/row against full payload bytes, which is what makes this
        audit cheaper than the localCheckpoint it replaces. Below
        AUDIT_DRIVER_MAX_ROWS the audit is a driver-side pyarrow
        column read (no Spark job at all — the common streaming
        micro-batch shape); above it, a distributed aggregate."""
        expected_rows = sum(last - first + 1 for first, last in ranges.values())
        if expected_rows <= self.AUDIT_DRIVER_MAX_ROWS:
            return self._offsets_exact_driver(path, ranges)
        rows = (
            self.spark.read.schema(LOG_SCHEMA)
            .parquet(path)
            .groupBy("topic")
            .agg(
                F.count("*").alias("n"),
                F.count_distinct("offset").alias("nd"),
                F.min("offset").alias("lo"),
                F.max("offset").alias("hi"),
            )
            .collect()
        )
        got = {r["topic"]: r for r in rows}
        if set(got) != set(ranges):
            return False
        for t, (first, last) in ranges.items():
            r = got[t]
            n = last - first + 1
            if (
                int(r["n"]) != n
                or int(r["nd"]) != n
                or int(r["lo"]) != first
                or int(r["hi"]) != last
            ):
                return False
        return True

    def _offsets_exact_driver(self, path: str, ranges: dict) -> bool:
        """Driver-side form of the audit: read (topic, offset) out of
        the staged parquet with pyarrow and check exact interval cover
        per topic in numpy — microseconds-scale for streaming-sized
        batches, zero Spark jobs."""
        import numpy as np
        import pyarrow.compute as pc
        import pyarrow.dataset as pads

        tbl = pads.dataset(path, format="parquet").to_table(
            columns=["topic", "offset"]
        )
        # NULL topics (legal in ingest, keyed None in ranges) would
        # break np.argsort over an object array; substitute a sentinel
        # string for sorting and map it back at lookup. A real topic
        # equal to the sentinel keeps its own name (lookup prefers the
        # literal key), in which case a genuine NULL group would fail
        # the audit and fall back to the pinned path — safe, not wrong.
        null_t = "\x00\x00__null_topic__"
        tcol = tbl.column("topic")
        if tcol.null_count:
            tcol = pc.fill_null(tcol, null_t)
        topics = np.asarray(tcol)
        offsets = np.asarray(tbl.column("offset"))
        seen = set()
        order = np.argsort(topics, kind="stable")
        topics, offsets = topics[order], offsets[order]
        bounds = np.searchsorted(
            topics, np.unique(topics), side="left"
        ).tolist() + [len(topics)]
        for i in range(len(bounds) - 1):
            lo, hi = bounds[i], bounds[i + 1]
            t = str(topics[lo])
            if t not in ranges:
                if t == null_t and None in ranges:
                    t = None
                else:
                    return False
            seen.add(t)
            first, last = ranges[t]
            offs = np.sort(offsets[lo:hi].astype(np.int64))
            n = last - first + 1
            if len(offs) != n or offs[0] != first or offs[-1] != last:
                return False
            if n > 1 and (np.diff(offs) != 1).any():
                return False
        return seen == set(ranges)

    def ingest(
        self,
        df: DataFrame,
        topic_col: str,
        payload_col: str,
        txn: str | None = None,
    ) -> None:
        """Bulk-ingest a DataFrame as log entries (one atomic commit).

        The distributed ingestion path: offsets are assigned from the
        persisted high watermark without any driver data movement
        (SURVEY.md §7 "monotonic offset assignment under parallelism").

        ``txn`` makes the commit idempotent: a txn id already present in
        the manifest is skipped, so a replayed streaming micro-batch
        (foreachBatch is at-least-once) commits exactly once — the
        Delta-style txn-version dedup in miniature.

        Runs EXCLUSIVE (no concurrent appends): ingest reads and
        advances many topics' high watermarks at once, the whole-log
        exclusion the per-topic append locks deliberately don't
        provide."""
        with self._rw.exclusive():
            self._verify_writership()
            self._ingest_locked(df, topic_col, payload_col, txn)

    def _ingest_locked(
        self,
        df: DataFrame,
        topic_col: str,
        payload_col: str,
        txn: str | None = None,
        pin: bool = False,
    ) -> None:
        if txn is not None and txn in self._txns:
            return  # replayed micro-batch: already committed
        src = df.select(
            F.col(topic_col).alias("topic"),
            F.col(payload_col).cast("binary").alias("value"),
        ).withColumn("_pid", F.spark_partition_id())
        # The two passes below (count, then assign+write) MUST see
        # identical (_pid, row) placement. FAST PATH (pin=False): trust
        # the source plan to be deterministic — true for file scans,
        # the scale ingestion shape — and let pass 1 run column-pruned
        # against the ORIGINAL source (only the topic column is read,
        # never payload bytes). Exactly-once is then enforced by the
        # post-write offset-exactness audit before the commit: if the
        # layout diverged between the passes (nondeterministic source:
        # unseeded sample, rand filter, round-robin repartition under
        # retry), the staged files are discarded and the ingest reruns
        # PINNED — localCheckpoint materializes the batch once so
        # divergence is impossible. The r4 always-pin design cost ~14%
        # ingest throughput materializing payload bytes that a
        # deterministic source re-scans for free; the audit reads only
        # the (topic, offset) columns of the just-written files.
        if pin:
            src = src.localCheckpoint(eager=True)
        # Pass 1 (metadata-light): per-(source partition, topic) counts.
        # From the counts the driver computes each (partition, topic)
        # group's offset base — O(partitions×topics) metadata — so
        # offset assignment below needs NO global per-topic window
        # (which would serialize each topic through one task).
        counts = (
            src.groupBy("_pid", "topic").agg(F.count("*").alias("n")).collect()
        )
        if not counts:
            return
        batch_id = f"{len(os.listdir(self._manifest_dir)):012d}_{uuid.uuid4().hex[:8]}"
        path = os.path.join(self._data_dir, batch_id)
        # r15 small-commit fast path (the streaming micro-batch shape:
        # many sub-10k-row commits): collect (topic, value) in partition
        # order — the SAME (partition, scan) order pass 2 numbers rows
        # in — assign offsets driver-side and write with the pyarrow writer
        # the wire-append path already uses. This replaces pass 2's
        # Spark job AND the offset-exactness audit: consistency is by
        # construction, because offsets derive from the rows actually
        # written (one materialization, the same property pin=True
        # buys). Large commits keep the distributed path — the driver
        # must not hold corpus-scale payload bytes (guide §5); an
        # oversized collect trips spark.driver.maxResultSize and falls
        # back.
        collected = None
        if not pin and sum(int(r["n"]) for r in counts) <= self.DRIVER_APPEND_MAX_ROWS:
            # r16 (r15 advisor): the row gate alone let a 10k-row batch
            # of multi-MB payloads stay driver-side unbounded; enforce
            # the sibling wire-append path's DRIVER_APPEND_MAX_BYTES
            # bound and guard NULLs. Checked AFTER the collect, in one
            # driver pass over the <= 10k rows, NOT with a pre-collect
            # probe job: a separate agg job per small commit is a
            # steady-state cost on the streaming micro-commit path
            # (measured ~0.1 s per commit at sf0.1), while the
            # pathological over-bound batch is transient — it is
            # capped by spark.driver.maxResultSize (the except
            # fallback), immediately discarded here, and takes the
            # distributed path. NULL payloads keep JVM semantics; NULL
            # topics keep the distributed path (_write_batch_driver's
            # (topic, offset) sort key is not None-safe).
            try:
                collected = src.select("topic", "value").collect()
            except Exception:  # noqa: BLE001  # maxResultSize guard etc.
                collected = None
            if collected is not None:
                nb = 0
                for r in collected:
                    if r["topic"] is None or r["value"] is None:
                        collected = None
                        break
                    nb += len(r["value"])
                if collected is not None and nb > self.DRIVER_APPEND_MAX_BYTES:
                    collected = None
        if collected is not None:
            now = datetime.now(timezone.utc).replace(tzinfo=None)
            next_off: dict[str, int] = {}
            rows: list[Row] = []
            for r in collected:
                t = r["topic"]
                off = next_off.get(t, self._hw.get(t, 0)) + 1
                next_off[t] = off
                rows.append(
                    Row(
                        topic=t,
                        segment=(off - 1) // self.max_segment_entries,
                        offset=off,
                        value=bytes(r["value"]),
                        ts=now,
                    )
                )
            ranges = {
                t: (self._hw.get(t, 0) + 1, last)
                for t, last in next_off.items()
            }
            self._write_batch_driver(path, rows)
        else:
            # Pass 2: assign offsets and write, zero-exchange and
            # entirely in the JVM (see _assign_offsets) — payloads
            # never leave the node that scanned them
            staged, ranges = self._assign_offsets(src, counts)
            staged.write.mode("overwrite").parquet(path)
            if not pin and not self._offsets_exact(path, ranges):
                # layout diverged between the passes (nondeterministic
                # source) — nothing was committed; discard the staged
                # files and rerun with the batch pinned by
                # localCheckpoint
                shutil.rmtree(path, ignore_errors=True)
                self.ingest_pinned_retries += 1
                return self._ingest_locked(
                    df, topic_col, payload_col, txn, pin=True
                )
        rec = {
            "batch": batch_id,
            "path": path,
            "writer_epoch": self._writer_epoch,
            "topics": {
                t: {"first": r[0], "last": r[1]} for t, r in ranges.items()
            },
        }
        if txn is not None:
            rec["txn"] = txn
        # fenced verify+commit (see _multi_append_locked): no takeover
        # can land between the re-check and the manifest rename
        with self._fence():
            self._verify_writership()
            _atomic_write_json(
                os.path.join(self._manifest_dir, f"{batch_id}.json"), rec
            )
        self._link_stream(batch_id, path)
        with self._meta_lock:
            if txn is not None:
                self._txns.add(txn)
            for topic, (_, last) in ranges.items():
                self._hw[topic] = max(self._hw.get(topic, 0), last)
                self.mark_topic_dirty(topic, flush=False)
            self._flush_meta()

    # Delta for a (partition, topic) group pass 1 never saw — a
    # nondeterministic source changed layout between the passes. Pass
    # 2's left join finds no delta (and no ts) for such rows and
    # coalesces the delta to this, so their offsets land wildly outside
    # the expected ranges; the pre-commit offset-exactness audit rejects
    # the staged files and the ingest reruns pinned.
    _DIVERGED_BASE = -(1 << 41)

    def _assign_offsets(
        self, src: DataFrame, counts: list[Row]
    ) -> tuple[DataFrame, dict]:
        """Distributed-ingest pass 2: the staged (topic, offset)-sorted
        frame and each topic's committed (first, last) range.

        One local sort per partition by (topic, scan order) — the scan
        order is a monotonically_increasing_id taken before the sort —
        lays each topic out as one run in the order the file is written
        in. A second monotonically_increasing_id after the sort reads
        the row's position in its partition (the low 33 bits), so a
        row's offset is ``position + delta(_pid, topic) + 1``, where the
        driver derives ``delta = base − start of the topic's run`` from
        pass 1's per-(partition, topic) counts. That needs the driver to
        order topics as Spark sorts them: NULLS FIRST, then UTF-8 byte
        order, which is Python's code-point order. The delta table is a
        broadcast local relation, so the plan has no Exchange over
        payloads and no Python stage; ts and crc are JVM expressions.
        The position is read before the join, and being
        nondeterministic it keeps the optimizer from dropping the sort
        under the join."""
        import pyarrow as pa

        pids, topics, deltas = [], [], []
        next_off: dict[str | None, int] = {}
        run_start: dict[int, int] = {}
        for r in sorted(
            counts,
            key=lambda r: (r["topic"] is not None, r["topic"] or "", r["_pid"]),
        ):
            t, p, n = r["topic"], int(r["_pid"]), int(r["n"])
            base = next_off.get(t, self._hw.get(t, 0))
            next_off[t] = base + n
            start = run_start.get(p, 0)
            run_start[p] = start + n
            pids.append(p)
            topics.append(t)
            deltas.append(base - start)
        ranges = {
            t: (self._hw.get(t, 0) + 1, last) for t, last in next_off.items()
        }
        # ts rides the broadcast side: the optimizer folds the commit's
        # current_timestamp into the local relation's rows. Projected on
        # the payload side it would be a per-commit literal inlined in
        # the stage's generated code, forcing a fresh Janino compile on
        # every commit (~40 ms on a 12k-row commit, 4-core host).
        delta = local_frame(
            self.spark,
            _dpid=pa.array(pids, pa.int32()),
            _dtopic=pa.array(topics, pa.string()),
            _delta=pa.array(deltas, pa.int64()),
        ).withColumn("_ts", F.current_timestamp())
        position = F.monotonically_increasing_id().bitwiseAND((1 << 33) - 1)
        off0 = f"_pos + coalesce(_delta, {self._DIVERGED_BASE})"  # offset - 1
        staged = (
            src.withColumn("_rid", F.monotonically_increasing_id())
            .sortWithinPartitions("topic", "_rid")
            .withColumn("_pos", position)
            .join(
                F.broadcast(delta),
                (F.col("_pid") == F.col("_dpid"))
                & F.col("topic").eqNullSafe(F.col("_dtopic")),
                "left",
            )
            .select(
                "topic",
                F.expr(f"({off0}) div {self.max_segment_entries}").alias("segment"),
                F.expr(f"{off0} + 1").alias("offset"),
                "value",
                F.col("_ts").alias("ts"),
                F.xxhash64("value").alias("crc"),
            )
        )
        return staged, ranges

    # ------------------------------------------------------------------
    # read path (O3/O4)
    # ------------------------------------------------------------------
    def df(self) -> DataFrame:
        """The committed log as a DataFrame. Files are (topic, offset)-
        sorted, so topic/offset predicates prune at row-group level."""
        paths = [rec["path"] for rec in self._manifest_records()]
        if not paths:
            return self.spark.createDataFrame([], LOG_SCHEMA)
        return self.spark.read.schema(LOG_SCHEMA).parquet(*paths)

    def topic_df(self, topic: str) -> DataFrame:
        return self.df().where(F.col("topic") == topic)

    def _read_with_relist(self, attempt, tries: int = 3):
        """Run a read, re-listing the manifest on a file-level race.

        A read's plan captures the batch-dir file list at build time; a
        concurrent vacuum/compact (maintenance daemon, or another
        thread) may legally delete a fully-consumed or replaced batch
        before the tasks run, failing the job with a file-not-found —
        the same stale-snapshot race every table format has, resolved
        the same way (Delta's stale-snapshot retry): rebuild the plan
        from the CURRENT manifest and retry. The manifest is the
        committed source of truth, so the retried read sees exactly the
        live batches — never partial data (deletion commit point is the
        record removal). Anything that isn't a file-level race
        propagates unchanged."""
        for i in range(tries):
            try:
                return attempt()
            except ChecksumError:
                raise
            except Exception as e:  # noqa: BLE001
                s = str(e)
                transient = (
                    isinstance(e, FileNotFoundError)
                    or "FileNotFoundException" in s
                    or "does not exist" in s
                    or "FileReadException" in s
                    or "No such file" in s
                )
                if not transient or i == tries - 1:
                    raise
                self.read_relists += 1
        raise AssertionError("unreachable")

    def read_next(self, topic: str, checkpoint: bool = True) -> bytes | None:
        """Next entry at the shared cursor; consume or peek
        (walrus_read.rs:24-345)."""
        out = self.batch_read(
            topic, max_bytes=1, checkpoint=checkpoint, max_entries=1
        )
        return out[0] if out else None

    def batch_read(
        self,
        topic: str,
        max_bytes: int = MAX_BATCH_BYTES,
        checkpoint: bool = True,
        start_offset: int | None = None,
        max_entries: int = MAX_BATCH_ENTRIES,
    ) -> list[bytes]:
        """Read ≤2000 entries within a payload-byte budget (always ≥1
        entry if available), from the shared cursor or a stateless
        start_offset (walrus_read.rs:368-1198).

        The entries come from _read_range: a driver-side read of only
        the committed batches that hold the offsets after the cursor,
        found through the in-memory manifest index — no Spark job, and
        a cost that follows the window rather than the age of the log.

        CONSUMING reads (checkpoint=True, no start_offset) serialize
        per topic: the shared cursor is a read-modify-write spanning
        the read, so two concurrent consumers of one topic would both
        read the same cursor and double-deliver (the reference's
        per-topic reader state is likewise serialized). Peeks and
        stateless reads touch no cursor and stay lock-free."""
        if checkpoint and start_offset is None:
            with self._consume_lock(topic):
                return self._batch_read_impl(
                    topic, max_bytes, checkpoint, start_offset, max_entries
                )
        return self._batch_read_impl(
            topic, max_bytes, checkpoint, start_offset, max_entries
        )

    def _batch_read_impl(
        self,
        topic: str,
        max_bytes: int,
        checkpoint: bool,
        start_offset: int | None,
        max_entries: int,
    ) -> list[bytes]:
        after = (
            int(start_offset)
            if start_offset is not None
            else self._cursors.get(topic, 0)
        )
        rows = self._read_range(topic, after, max_entries, max_bytes)
        if rows and checkpoint and start_offset is None:
            new_cursor = rows[-1][0]
            self._checkpoint_read(topic, new_cursor, len(rows))
            # lag tracks the SHARED cursor only: a stateless/pinned
            # replay (start_offset=) must not clobber a caught-up
            # consumer's metrics()['consumer_lag']
            self._consumer_lag[topic] = self._hw.get(topic, 0) - new_cursor
        return [v for _, v in rows]

    def peek_range(
        self,
        topic: str,
        start_offset: int,
        max_entries: int = MAX_BATCH_ENTRIES,
        max_bytes: int = MAX_BATCH_BYTES,
    ) -> list[bytes]:
        """Stateless peek of the entries after ``start_offset`` — what
        the wire GET read-ahead fills its buffer with. It is
        batch_read(checkpoint=False, start_offset=start_offset) without
        the argument juggling: the same _read_range, so the same
        ascending order, per-entry crc verification, byte budget with
        the ≥1-entry rule, and, for a start_offset below the vacuum
        horizon, the surviving tail."""
        return [
            v for _, v in self._read_range(topic, start_offset, max_entries, max_bytes)
        ]

    def _read_range(
        self, topic: str, after: int, max_entries: int, max_bytes: int
    ) -> list[tuple[int, bytes]]:
        """The one range read under every offset read (read_next,
        batch_read, batch_read_with_watermark, peek_range): the first
        ``max_entries`` (≤2000) entries of ``topic`` after offset
        ``after`` as ascending (offset, payload) pairs, cut at the
        payload-byte budget but always ≥1 entry when one exists.

        Driver-side and job-free: the manifest index bisects to the
        first record that can hold an offset past ``after``, and
        pyarrow reads only the one or two records the window overlaps,
        with topic and offset predicates pushed down to parquet row
        groups — the analog of walrus serving a read from the cursor's
        own block. Every returned entry's crc is checked before the
        caller can move a cursor: a corrupt entry raises ChecksumError
        and is never delivered (reference tests/unit.rs:110-137). A
        record a concurrent vacuum or compaction deletes during the read
        re-lists the manifest and retries (_read_with_relist)."""
        n = min(int(max_entries), MAX_BATCH_ENTRIES)
        rows = self._read_with_relist(
            lambda: self._scan_after(topic, int(after), n, max_bytes)
        )
        out: list[tuple[int, bytes | None, int | None]] = []
        cum = 0
        for row in rows:
            cum += len(row[1] or b"")
            if out and cum > max_bytes:
                break
            out.append(row)
        # Spark's xxhash64 of a NULL payload is its seed, 42; a NULL
        # crc is pre-checksum data and is not checked
        bad = [
            off
            for off, v, crc in out
            if crc is not None
            and crc != (42 if v is None else _xxhash64_py(v))
        ]
        if bad:
            raise ChecksumError(
                f"checksum mismatch in topic {topic!r} at offsets "
                f"{bad} — stored payload no longer matches its "
                "commit-time xxhash64"
            )
        self._verified_reads[topic] = self._verified_reads.get(
            topic, 0
        ) + sum(1 for r in out if r[2] is not None)
        return [(off, v or b"") for off, v, _ in out]

    def _scan_after(
        self, topic: str, after: int, n: int, max_bytes: int
    ) -> list[tuple[int, bytes | None, int | None]]:
        """The first ``n`` (offset, value, crc) rows of ``topic`` after
        ``after``, reading record by record from the index and stopping
        at the first record boundary past ``max_bytes`` of payload.

        Vacuum and compaction delete a record's data only after its
        manifest file, so a read whose records all still have theirs
        afterwards read whole files; otherwise the data may have gone
        mid-read and FileNotFoundError sends the caller to re-list."""
        lasts, recs = self._manifest_index()[1].get(topic, ([], []))
        rows: list[tuple[int, bytes | None, int | None]] = []
        size, used = 0, []
        for rec in recs[bisect.bisect_right(lasts, after):]:
            need = n - len(rows)
            if need <= 0 or size > max_bytes:
                break
            rng = rec["topics"][topic]
            # offsets are contiguous inside a record, so the next
            # `need` entries are exactly (lo, hi]
            lo = max(after, int(rng["first"]) - 1)
            hi = min(int(rng["last"]), lo + need)
            got = self._record_rows(rec["path"], topic, lo, hi)
            if len(got) < need and hi < int(rng["last"]):
                # a compacted record keeps the gaps of batches vacuumed
                # before it was written (all below the cursors): a
                # historical read continues open-ended past them
                got += self._record_rows(rec["path"], topic, hi, None)
            rows += got[:need]
            size += sum(len(v or b"") for _, v, _ in got[:need])
            used.append(rec["batch"])
        for b in used:
            if not os.path.exists(os.path.join(self._manifest_dir, f"{b}.json")):
                raise FileNotFoundError(f"record {b} reclaimed during a read")
        return rows

    @staticmethod
    def _record_rows(
        path: str, topic: str, lo: int, hi: int | None
    ) -> list[tuple[int, bytes | None, int | None]]:
        """Rows of ``topic`` in one record's files with ``lo < offset
        <= hi`` (``hi=None``: no upper bound), sorted by offset."""
        import pyarrow as pa
        import pyarrow.dataset as pads

        # explicit schema: a pre-checksum file without a crc column
        # reads as NULL crc (not checked) instead of failing
        schema = pa.schema(
            [("topic", pa.string()), ("offset", pa.int64()),
             ("value", pa.binary()), ("crc", pa.int64())]
        )
        flt = (pads.field("topic") == topic) & (pads.field("offset") > lo)
        if hi is not None:
            flt &= pads.field("offset") <= hi
        tbl = (
            pads.dataset(path, format="parquet", schema=schema)
            .to_table(columns=["offset", "value", "crc"], filter=flt)
            .sort_by("offset")
        )
        return list(
            zip(
                tbl.column("offset").to_pylist(),
                tbl.column("value").to_pylist(),
                tbl.column("crc").to_pylist(),
            )
        )

    def batch_read_with_watermark(
        self,
        topic: str,
        max_bytes: int = MAX_BATCH_BYTES,
        checkpoint: bool = True,
        start_offset: int | None = None,
        max_entries: int = MAX_BATCH_ENTRIES,
    ) -> tuple[list[bytes], int]:
        """batch_read plus the topic's high watermark in ONE call —
        the cluster GET reply shape (InternalResp::ReadResult carries
        `data` and `high_watermark` together, distributed-walrus/src/
        rpc.rs:17-20), so a consumer learns its lag in one reply
        instead of issuing a separate high_watermark() call.

        Snapshot semantics (same as the reference's reply builder,
        which reads metadata when constructing ReadResult): hw is
        captured AT REPLY TIME, after the delivered entries are fixed,
        so hw >= every delivered offset and `hw − last_delivered` is
        real, non-negative lag — including entries that committed
        while the read ran, which genuinely are lag. Concurrent
        consumers of one topic are serialized by the consume lock, so
        the (entries, hw) pair never reflects a torn cursor."""
        entries = self.batch_read(
            topic,
            max_bytes=max_bytes,
            checkpoint=checkpoint,
            start_offset=start_offset,
            max_entries=max_entries,
        )
        return entries, self._hw.get(topic, 0)

    def batch_read_at_byte(
        self,
        topic: str,
        byte_start: int = 0,
        max_bytes: int = MAX_BATCH_BYTES,
        max_entries: int = MAX_BATCH_ENTRIES,
    ) -> list[bytes]:
        """Stateless BYTE-offset read with first-entry trim — the
        faithful mirror of the reference's stateless `start_offset`
        semantics (src/wal/runtime/walrus_read.rs:419-585), which are
        byte-addressed, unlike batch_read's logical entry offsets
        (SURVEY.md §1.5 maps the two):

          * the topic's byte stream is [256 B header][payload] per
            entry, in offset order (the ENTRY_HEADER_BYTES analog of
            PREFIX_META_SIZE — the same accounting topic_size uses);
          * a byte_start landing inside a payload delivers that
            payload TRIMMED from that byte (walrus_read.rs:543-555);
            landing inside a header delivers the whole payload;
          * byte_start == 0 skips leading entries with payloads under
            128 B — the reference's skip-small-initial-entries quirk
            (walrus_read.rs:533-541) — then starts untrimmed;
          * then the usual batch rules: ≤max_entries, payload-byte
            budget with the always-≥1 rule. Never touches the cursor.

        The extent computation is the TWO-PHASE distributed prefix sum
        (the seq_packing pattern): per-SEGMENT byte totals reduce in
        one shuffle, the driver prefixes the tiny (segment → base)
        table, and the running byte position is then a per-segment
        window over the broadcast bases — never a global single-task
        window, so the seek scales with segments × cores. At
        deployment scale the manifest would additionally carry
        per-batch byte extents so the seek prunes to one batch; the
        parquet min/max offset stats already prune the payload scan."""
        return self._read_with_relist(
            lambda: self._batch_read_at_byte_once(
                topic, byte_start, max_bytes, max_entries
            )
        )

    def _batch_read_at_byte_once(
        self,
        topic: str,
        byte_start: int,
        max_bytes: int,
        max_entries: int,
    ) -> list[bytes]:
        from pyspark.sql.window import Window

        base_df = self.topic_df(topic).select(
            "offset",
            "segment",
            "value",
            (
                F.col("crc").isNull()
                | (F.xxhash64("value") == F.col("crc"))
            ).alias("crc_ok"),
            F.coalesce(F.length("value"), F.lit(0)).alias("blen"),
        )
        seg_rows = (
            base_df.groupBy("segment")
            .agg(F.sum(F.col("blen") + ENTRY_HEADER_BYTES).alias("sb"))
            .collect()
        )
        if not seg_rows:
            return []
        bases, run = [], 0
        for r in sorted(seg_rows, key=lambda r: int(r["segment"])):
            bases.append((int(r["segment"]), run))
            run += int(r["sb"])
        ws = Window.partitionBy("segment").orderBy("offset")
        ext = (
            base_df.join(
                F.broadcast(
                    self.spark.createDataFrame(
                        bases, "segment long, seg_base long"
                    )
                ),
                "segment",
            )
            .withColumn(
                "cum_end",
                F.col("seg_base")
                + F.sum(F.col("blen") + ENTRY_HEADER_BYTES).over(ws),
            )
            .withColumn(
                "entry_start",
                F.col("cum_end") - F.col("blen") - ENTRY_HEADER_BYTES,
            )
        )
        w = Window.orderBy("offset")  # applied only post-limit (≤2000 rows)
        if byte_start == 0:
            # the skip-small-initial-entries quirk: scan past leading
            # sub-128 B payloads ("likely internal metadata"). The
            # threshold is a plain aggregate (min offset with a big
            # payload), not a running window.
            first_big = base_df.where(F.col("blen") >= 128).agg(
                F.min("offset")
            ).collect()[0][0]
            if first_big is None:
                return []
            cand = ext.where(F.col("offset") >= int(first_big))
            trim_first = 0
        else:
            cand = ext.where(F.col("cum_end") > byte_start)
            first = cand.orderBy("offset").limit(1).collect()
            if not first:
                return []
            payload_start = int(first[0]["entry_start"]) + ENTRY_HEADER_BYTES
            trim_first = max(0, byte_start - payload_start)
        rows = (
            cand.orderBy("offset")
            .limit(min(max_entries, MAX_BATCH_ENTRIES))
            .withColumn("dcum", F.sum("blen").over(w))
            .withColumn("rn", F.row_number().over(w))
            .where((F.col("dcum") <= max_bytes) | (F.col("rn") == 1))
            .orderBy("offset")
            .collect()
        )
        bad = [int(r["offset"]) for r in rows if not r["crc_ok"]]
        if bad:
            raise ChecksumError(
                f"checksum mismatch in topic {topic!r} at offsets {bad}"
            )
        out = [
            bytes(r["value"]) if r["value"] is not None else b""
            for r in rows
        ]
        if out and trim_first:
            out[0] = out[0][trim_first:]
        return out

    def _checkpoint_read(self, topic: str, new_cursor: int, n_read: int) -> None:
        """Persist per ReadConsistency (should_persist, walrus_read.rs:
        347-366): every read for StrictlyAtOnce, every persist_every
        entries for AtLeastOnce (crash → bounded re-delivery)."""
        self._cursors[topic] = new_cursor
        pend = self._unpersisted_reads.get(topic, 0) + n_read
        if pend >= self.consistency.persist_every:
            self._flush_cursors()
            pend = 0
        self._unpersisted_reads[topic] = pend

    def _flush_cursors_covering(self, topic: str, offset: int) -> None:
        """Group commit for the consume plane: return once a DURABLE
        cursor flush covers ``offset`` for ``topic`` — by leading one
        flush, or by riding a concurrent leader's. The cursor map is
        monotone, so one sidecar write covers every in-memory advance
        that landed before the leader snapshotted — N concurrent
        commit_cursor callers (the wire plane's multi-connection GET
        path) pay ~one flush between them instead of N sequential
        flushes on the consume lock — the write plane's
        _GroupCommitter discipline applied to the read plane.
        (Divergence from the reference, documented: its
        strictly-at-once path fsyncs the index per consuming read,
        walrus_read.rs:347-366 + index.rs:70-83; grouping concurrent
        consumers' flushes keeps the same per-reply durability
        guarantee while sharing the physical write.) Strictly-at-once
        is preserved: a reply waits here until ITS offset is covered,
        and a crash loses only advances whose replies never left.

        Implementation: a dedicated flusher thread (started lazily,
        stopped by close()) drains ALL parked waiters per pass — each
        waiter parks on its own Event, so a covered waiter wakes with
        one set() instead of a notify_all thundering herd, and flush
        "leadership" never hops between GET handler threads (the old
        condvar handoff cost ~5.6 ms/frame under a contended GIL for
        a ~1-3 ms flush). A waiter whose commit landed after the
        flusher's snapshot simply rides the NEXT pass — the loop runs
        back-to-back while waiters exist."""
        with self._cfl_lock:
            if self._flushed_cursors.get(topic, 0) >= offset:
                return
            if self._cfl_closed:
                # closed log: never resurrect the flusher (the old
                # re-kick reset _cfl_stop and left a worker running
                # past close) — lead one direct flush instead, which
                # keeps the durability contract for a straggler
                # commit racing close()
                evt = None
            else:
                evt = threading.Event()
                self._cfl_waiters.append((topic, offset, evt))
                if self._cfl_thread is None or not self._cfl_thread.is_alive():
                    self._cfl_stop = False
                    self._cfl_thread = threading.Thread(
                        target=self._cursor_flusher, daemon=True
                    )
                    self._cfl_thread.start()
        if evt is None:
            self._direct_cover_flush()
            return
        self._cfl_wake.set()
        while not evt.wait(timeout=5.0):
            # The flusher is a daemon: if it died (interpreter teardown
            # racing close()) re-check coverage and re-kick rather than
            # hang a reply forever.
            with self._cfl_lock:
                if self._flushed_cursors.get(topic, 0) >= offset:
                    return
                closed = self._cfl_closed
                if not closed and (
                    self._cfl_thread is None or not self._cfl_thread.is_alive()
                ):
                    self._cfl_stop = False
                    self._cfl_thread = threading.Thread(
                        target=self._cursor_flusher, daemon=True
                    )
                    self._cfl_thread.start()
            if closed:
                self._direct_cover_flush()
                return
            self._cfl_wake.set()

    def _direct_cover_flush(self) -> None:
        """Leader-flush fallback for a closed log: flush the sidecar
        and fold the snapshot into the coverage map without touching
        the (stopped) flusher thread."""
        snap = self._flush_cursors()
        with self._cfl_lock:
            for t, o in snap.items():
                if o > self._flushed_cursors.get(t, 0):
                    self._flushed_cursors[t] = o

    def _cursor_flusher(self) -> None:
        """Consume-plane group-flush worker: while waiters are parked,
        flush the cursor sidecar and wake every waiter the flush
        covered; idle otherwise. One physical sidecar write per pass
        covers every advance that landed before its snapshot."""
        while True:
            self._cfl_wake.wait(timeout=1.0)
            with self._cfl_lock:
                stopping = self._cfl_stop
                if stopping:
                    drained = list(self._cfl_waiters)
                    self._cfl_waiters.clear()
                elif not self._cfl_waiters:
                    self._cfl_wake.clear()
                    continue
            if stopping:
                # The stop branch is itself DURABLE (r12 advisor):
                # close() orders its final flush before the flag, but
                # this thread must not rely on that ordering — a
                # parked offset gets a covering flush HERE before its
                # event fires, so the reply can never leave
                # un-covered. Every parked offset is ≤ the in-memory
                # cursor (waiters park only after their commit
                # landed), so one snapshot covers them all.
                if drained:
                    snap = self._flush_cursors()
                    with self._cfl_lock:
                        for t, o in snap.items():
                            if o > self._flushed_cursors.get(t, 0):
                                self._flushed_cursors[t] = o
                for _t, _o, e in drained:
                    e.set()
                return
            snap = self._flush_cursors()
            with self._cfl_lock:
                for t, o in snap.items():
                    if o > self._flushed_cursors.get(t, 0):
                        self._flushed_cursors[t] = o
                still: list[tuple[str, int, threading.Event]] = []
                for t, o, e in self._cfl_waiters:
                    if self._flushed_cursors.get(t, 0) >= o:
                        e.set()
                    else:
                        still.append((t, o, e))
                self._cfl_waiters = still

    def cursor(self, topic: str) -> int:
        """The shared consume cursor (last consumed offset; 0 = nothing
        consumed). The read-side half of the peek-then-commit consumer
        pattern (commit_cursor is the write side)."""
        return self._cursors.get(topic, 0)

    def commit_cursor(
        self, topic: str, offset: int, expect: int | None = None
    ) -> bool:
        """Advance the shared cursor to ``offset`` WITHOUT a read job —
        the delivery-commit half of a peek-then-commit consumer (the
        wire plane's read-ahead buffer peeks a batch statelessly, then
        commits one entry per delivered GET frame). Persistence follows
        the ReadConsistency policy exactly like a consuming read
        (should_persist, walrus_read.rs:347-366).

        ``expect``: optimistic-concurrency guard — the commit applies
        only if the current cursor still equals ``expect`` (i.e. no
        other consumer advanced it since the caller peeked). Returns
        False on mismatch so the caller can drop its stale buffer and
        re-peek; the check+advance is atomic under the per-topic
        consume lock. Rewinds are refused (replay is what stateless
        ``start_offset`` reads are for) and offsets past the high
        watermark are an error.

        Durability is GROUP-committed: the in-memory advance happens
        under the consume lock (cheap), but the sidecar flush a
        persist-now policy demands happens OUTSIDE it through
        _flush_cursors_covering — concurrent committers (the wire
        plane's multi-connection GET path) share one flush instead of
        queueing N durable writes on the lock, which bounded the whole
        plane at ~1/flush-latency (~140 GET/s) regardless of
        connection count. The method still returns only after the
        caller's own offset is durable — strictly-at-once unchanged."""
        ok, need_flush = self.commit_cursor_deferred(topic, offset, expect)
        if ok and need_flush:
            self.flush_cursor_covering(topic, offset)
        return ok

    def commit_cursor_deferred(
        self, topic: str, offset: int, expect: int | None = None
    ) -> tuple[bool, bool]:
        """The in-memory half of commit_cursor for CONCURRENT consumers
        holding their own serialization (the wire read-ahead buffer):
        validates + advances under the consume lock and returns
        (ok, needs_flush) WITHOUT flushing. When needs_flush is True
        the caller MUST call flush_cursor_covering(topic, offset)
        before acting on the delivery (e.g. before a reply frame
        leaves) — and should do so OUTSIDE its own lock so concurrent
        deliveries share one group flush."""
        with self._consume_lock(topic):
            cur = self._cursors.get(topic, 0)
            if expect is not None and cur != expect:
                return False, False
            if offset <= cur:
                return False, False
            hw = self._hw.get(topic, 0)
            if offset > hw:
                # The in-process _hw only tracks THIS instance's
                # appends + its recover(); a reader-side process (e.g.
                # a CLI `serve` whose writership was taken over) sees
                # new entries through the live manifest scan long
                # before its _hw does. Refresh from the meta sidecar —
                # the writer flushes it on every commit — before
                # declaring the offset out of range.
                hw = max(hw, self._sidecar_hw(topic))
            if offset > hw:
                raise ValueError(
                    f"commit_cursor past high watermark: {offset} > {hw} "
                    f"for topic {topic!r}"
                )
            self._cursors[topic] = offset
            pend = self._unpersisted_reads.get(topic, 0) + (offset - cur)
            need_flush = pend >= self.consistency.persist_every
            self._unpersisted_reads[topic] = 0 if need_flush else pend
            self._consumer_lag[topic] = hw - offset
        return True, need_flush

    def flush_cursor_covering(self, topic: str, offset: int) -> None:
        """Public face of the group flush (see _flush_cursors_covering):
        blocks until a durable cursor flush covers ``offset``."""
        self._flush_cursors_covering(topic, offset)

    def _sidecar_hw(self, topic: str) -> int:
        """Re-read the topic's high watermark as another process sees
        it: the meta sidecar (the writer flushes it right after its
        manifest rename), and the manifest index (authoritative — the
        same source a live peek read the entries from, closing the
        rename→flush window).
        Returns 0 when nothing is visible."""
        hw = 0
        try:
            with open(self._meta_path) as f:
                hw = int(json.load(f).get("hw", {}).get(topic, 0))
        except (OSError, json.JSONDecodeError, ValueError):
            pass
        try:
            lasts = self._manifest_index()[1].get(topic, ([], []))[0]
        except (OSError, json.JSONDecodeError):
            lasts = []
        if lasts:
            hw = max(hw, lasts[-1])
        return hw

    # ------------------------------------------------------------------
    # metadata ops (O9-O12, D4, high_watermark)
    # ------------------------------------------------------------------
    def high_watermark(self, topic: str) -> int:
        return self._hw.get(topic, 0)

    def topic_entry_count(self, topic: str) -> int:
        """Unconsumed entries (walrus.rs:129-135)."""
        return max(0, self._hw.get(topic, 0) - self._cursors.get(topic, 0))

    def topic_entry_counts(self) -> dict[str, int]:
        return {t: self.topic_entry_count(t) for t in sorted(self._hw)}

    def topic_size(self, topic: str, include_headers: bool = True) -> int:
        """Topic bytes = Σ payload + per-entry header analog
        (walrus.rs:144-178 counts block bytes incl 256 B headers)."""
        row = (
            self.topic_df(topic)
            .agg(
                F.coalesce(F.sum(F.length("value")), F.lit(0)).alias("b"),
                F.count("*").alias("n"),
            )
            .collect()[0]
        )
        return int(row["b"]) + (ENTRY_HEADER_BYTES * int(row["n"]) if include_headers else 0)

    def topics(self) -> list[str]:
        return sorted(self._hw)

    def ensure_topic(self, topic: str) -> None:
        """D1 REGISTER analog (controller ensure_topic): make the topic
        exist with zero entries. Topics are otherwise implicit-created
        on first append, like the core engine; this in-memory
        registration exists for the client protocol's REGISTER command
        — an unwritten registration does not survive restart (the
        reference persists it via Raft metadata, a §4 non-goal).
        Takes the meta lock: registration may race a concurrent
        commit's meta-sidecar serialization of the same dict."""
        with self._meta_lock:
            self._hw.setdefault(topic, 0)

    def has_topic(self, topic: str) -> bool:
        return topic in self._hw

    def state(self, topic: str) -> dict:
        """STATE analog (controller/mod.rs:189-195): the TopicState
        shape (metadata.rs:19-31) minus the cluster-only leader maps —
        current segment, sealed segments with their entry counts, and
        the last sealed offset, all derived from metadata (offsets are
        per-topic contiguous, so sealed segment s holds exactly
        [s·N+1, (s+1)·N] — no data scan)."""
        hw = self._hw.get(topic, 0)
        n = self.max_segment_entries
        cur_seg = max(0, (hw - 1)) // n
        return {
            "topic": topic,
            "high_watermark": hw,
            "current_segment": cur_seg,
            "sealed_segments": {str(s): n for s in range(cur_seg)},
            "last_sealed_entry_offset": cur_seg * n,
            "cursor": self._cursors.get(topic, 0),
            "unconsumed": self.topic_entry_count(topic),
            "dirty": self._dirty.get(topic, {}).get("dirty", False),
        }

    def metrics(self) -> dict:
        """D5 METRICS analog (distributed-walrus/src/controller/
        mod.rs:278-282 dumps Raft + topic counters over RPC; our §4
        mapping is one engine-state dict). Driver-side metadata only —
        nothing here scans data:

          n_topics / topics    — per-topic STATE (hw, segment, cursor,
                                 unconsumed, dirty) for every topic
          committed_batches    — manifest records = atomic commits
          fsync_count          — O7 background-worker sidecar fsyncs
          unpersisted_reads    — cursor advances not yet flushed (the
                                 AtLeastOnce replay exposure, per topic)
          verified_reads       — entries whose per-entry checksum was
                                 verified on delivery (per topic; the
                                 block.rs:43-77 corruption-check
                                 coverage counter)
          consumer_lag         — hw − last_delivered_offset per topic,
                                 snapshotted at delivery time (the GET
                                 reply's high_watermark, rpc.rs:17-20)
        """
        committed = len(self._manifest_index()[0])
        # snapshot under the meta lock: concurrent appends/registrations
        # mutate these dicts and iteration must not see a resize
        with self._meta_lock:
            return {
                "n_topics": len(self._hw),
                "committed_batches": committed,
                "fsync_count": self.fsync_count,
                "unpersisted_reads": dict(self._unpersisted_reads),
                "verified_reads": dict(self._verified_reads),
                "maintenance_sweeps": self.maintenance_sweeps,
                "maintenance_errors": self.maintenance_errors,
                "read_relists": self.read_relists,
                "ingest_pinned_retries": self.ingest_pinned_retries,
                "consumer_lag": dict(self._consumer_lag),
                "topics": {t: self.state(t) for t in self.topics()},
            }

    # dirty flags (O12, topic_clean.rs) — meta_lock is reentrant, so
    # the commit paths may call these while already holding it
    def mark_topic_dirty(self, topic: str, flush: bool = True) -> None:
        with self._meta_lock:
            rec = self._dirty.setdefault(topic, {"dirty": False, "gen": 0})
            rec["dirty"] = True
            rec["gen"] += 1
            if flush:
                self._flush_meta()

    def mark_topic_clean(self, topic: str) -> None:
        with self._meta_lock:
            rec = self._dirty.setdefault(topic, {"dirty": False, "gen": 0})
            rec["dirty"] = False
            rec["gen"] += 1
            self._flush_meta()

    def topic_is_clean(self, topic: str) -> bool:
        return not self._dirty.get(topic, {}).get("dirty", False)

    # ------------------------------------------------------------------
    # maintenance (O6 reclamation / D6 rollover analogs)
    # ------------------------------------------------------------------
    def vacuum(self) -> int:
        """Delete batch dirs fully below every consumer cursor — the
        file-reclamation analog (allocator.rs:188-200): a batch is
        removable when all its topics' last offsets are consumed.

        Runs EXCLUSIVE so reclamation can never race a commit's view
        of the manifest. Live streams that already listed a reclaimed
        batch have long since processed it (it was fully consumed); a
        NEW stream starts from the surviving tail — the standard
        log-retention contract."""
        with self._rw.exclusive(), self._fence():
            # reclamation deletes files — a fenced instance must not
            # destroy data the new writer is serving; the flock makes
            # the verify + deletions atomic against a takeover
            self._verify_writership()
            removed = 0
            for rec in self._manifest_records():
                if all(
                    int(rng["last"]) <= self._cursors.get(t, 0)
                    for t, rng in rec["topics"].items()
                ):
                    # deletion COMMIT POINT is the record removal: a
                    # crash after it leaves unreferenced dirs (orphans
                    # recover() collects after the grace period), never
                    # a live record pointing at deleted data — the same
                    # record-first ordering as compact's cleanup
                    os.remove(
                        os.path.join(self._manifest_dir, f"{rec['batch']}.json")
                    )
                    shutil.rmtree(rec["path"], ignore_errors=True)
                    shutil.rmtree(
                        os.path.join(self._stream_dir, rec["batch"]),
                        ignore_errors=True,
                    )
                    removed += 1
            return removed

    def compact(self, target_dir: str | None = None) -> None:
        """Rewrite committed batches into one partition-sorted layout —
        the segment-compaction analog of D6/OPTIMIZE. Produces one file
        set partitioned by (topic, segment), sorted by offset.

        Correctness properties (all load-bearing):
          * Runs under the write lock — a concurrent append can neither
            be missed by the snapshot nor swallowed by the `replaces`
            list (its commit strictly precedes or follows the whole
            compaction).
          * The manifest record list is captured ONCE; the snapshot
            read, the replaces list, and the cleanup all refer to that
            same set.
          * Output ranges come from the captured records' metadata —
            no re-scan of the compacted output.
          * Output lives under <root>/compacted/, outside both data/
            and the stream mirror, and its record carries stream=False:
            live streams already delivered these entries from the
            original batch dirs and must not see them again.
          * Committed txn ids are carried forward so idempotent ingest
            survives compaction + restart.
        Crash at any point is safe: before the record rename the old
        records serve reads; after it they are dead (`replaces`) and
        recover() finishes the cleanup.

        Runs EXCLUSIVE (the whole-log exclusion the old global write
        lock provided — a concurrent append can neither be missed by
        the snapshot nor swallowed by the `replaces` list); the fence
        wraps verify + record rename + cleanup, never the slow rewrite,
        so a takeover is delayed only by the metadata section."""
        with self._rw.exclusive():
            self._verify_writership()
            old = self._manifest_records()
            if not old:
                return
            out = target_dir or os.path.join(
                self._compact_dir, f"compact_{uuid.uuid4().hex[:8]}"
            )
            snapshot = self.spark.read.schema(LOG_SCHEMA).parquet(
                *[rec["path"] for rec in old]
            )
            (
                snapshot.repartition("topic", "segment")
                .sortWithinPartitions("topic", "offset")
                .write.mode("overwrite")
                .parquet(out)
            )
            ranges: dict[str, tuple[int, int]] = {}
            txns: set[str] = set()
            for rec in old:
                for t, rng in rec["topics"].items():
                    f0, l0 = ranges.get(t, (int(rng["first"]), int(rng["last"])))
                    ranges[t] = (
                        min(f0, int(rng["first"])),
                        max(l0, int(rng["last"])),
                    )
                if rec.get("txn"):
                    txns.add(rec["txn"])
                txns.update(rec.get("txns", []))
            batch_id = (
                f"{len(os.listdir(self._manifest_dir)):012d}_compact_"
                f"{uuid.uuid4().hex[:8]}"
            )
            # Commit point: after this rename the old records are dead
            # (filtered via `replaces`), so the cleanup below is pure
            # garbage collection — a crash anywhere leaves a correct
            # log. Fenced: the slow rewrite above is where a takeover
            # lands, and the flock makes this re-check + rename atomic
            # against it.
            with self._fence():
                self._verify_writership()
                _atomic_write_json(
                    os.path.join(self._manifest_dir, f"{batch_id}.json"),
                    {
                        "batch": batch_id,
                        "path": out,
                        "stream": False,
                        "topics": {
                            t: {"first": r[0], "last": r[1]}
                            for t, r in ranges.items()
                        },
                        "txns": sorted(txns),
                        "replaces": [rec["batch"] for rec in old],
                    },
                )
            for rec in old:
                p = os.path.join(self._manifest_dir, f"{rec['batch']}.json")
                if os.path.exists(p):
                    os.remove(p)
                shutil.rmtree(rec["path"], ignore_errors=True)
                # Streams started AFTER this point begin at the
                # compaction boundary (log-retention contract); a stream
                # that already listed these files has processed them —
                # one mid-catch-up would fail loudly, never duplicate.
                shutil.rmtree(
                    os.path.join(self._stream_dir, rec["batch"]),
                    ignore_errors=True,
                )


class WalrusLogBuilder:
    """Fluent WalrusLog construction with environment-variable
    fallbacks — the WalrusBuilder analog (src/wal/runtime/
    builder.rs:26-104 + paths.rs:11-36).

    Explicit setters BYPASS the environment entirely; that is the
    builder's reason to exist — the reference added it precisely to
    eliminate the set_var race when multiple threads construct
    instances concurrently (tests/env_var_race_condition.rs:27-90).
    Unset options fall back to env, then to defaults:

      WALRUS_DATA_DIR             root directory  (default "wal_files")
      WALRUS_INSTANCE_KEY         namespace key under the root
      WALRUS_MAX_SEGMENT_ENTRIES  segment rollover size
      WALRUS_FSYNC_SCHEDULE       "sync_each" | "no_fsync" | <int ms>
      WALRUS_READ_CONSISTENCY     "strictly_at_once" |
                                  "at_least_once:<N>"

    The first two are the reference's own env vars (src/lib.rs:215-218,
    config.rs:82-85, paths.rs:11-18); the last three follow the same
    convention for the knobs this engine exposes as constructor args.
    """

    def __init__(self, spark: SparkSession) -> None:
        self._spark = spark
        self._data_dir: str | None = None
        self._key: str | None = None
        self._consistency: ReadConsistency | None = None
        self._fsync: FsyncSchedule | None = None
        self._max_segment_entries: int | None = None

    def data_dir(self, d: str) -> "WalrusLogBuilder":
        self._data_dir = d
        return self

    def key(self, k: str) -> "WalrusLogBuilder":
        self._key = k
        return self

    def consistency(self, c: ReadConsistency) -> "WalrusLogBuilder":
        self._consistency = c
        return self

    def fsync_schedule(self, f: FsyncSchedule) -> "WalrusLogBuilder":
        self._fsync = f
        return self

    def max_segment_entries(self, n: int) -> "WalrusLogBuilder":
        self._max_segment_entries = n
        return self

    def build(self, **kwargs) -> WalrusLog:
        env = os.environ
        root = self._data_dir or env.get("WALRUS_DATA_DIR", "wal_files")
        key = self._key if self._key is not None else env.get(
            "WALRUS_INSTANCE_KEY"
        )
        if key is not None:
            root = os.path.join(root, _sanitize_namespace(key))
        mse = self._max_segment_entries
        if mse is None:
            mse = int(
                env.get(
                    "WALRUS_MAX_SEGMENT_ENTRIES", DEFAULT_MAX_SEGMENT_ENTRIES
                )
            )
        fsync = self._fsync
        if fsync is None and "WALRUS_FSYNC_SCHEDULE" in env:
            raw = env["WALRUS_FSYNC_SCHEDULE"].strip().lower()
            if raw == "sync_each":
                fsync = FsyncSchedule.sync_each()
            elif raw == "no_fsync":
                fsync = FsyncSchedule.no_fsync()
            else:
                fsync = FsyncSchedule(int(raw))
        consistency = self._consistency
        if consistency is None and "WALRUS_READ_CONSISTENCY" in env:
            raw = env["WALRUS_READ_CONSISTENCY"].strip().lower()
            if raw == "strictly_at_once":
                consistency = ReadConsistency.strictly_at_once()
            elif raw.startswith("at_least_once:"):
                consistency = ReadConsistency.at_least_once(
                    int(raw.split(":", 1)[1])
                )
            else:
                raise ValueError(
                    f"WALRUS_READ_CONSISTENCY={raw!r}: expected "
                    "'strictly_at_once' or 'at_least_once:<N>'"
                )
        return WalrusLog(
            self._spark,
            root,
            consistency=consistency,
            fsync=fsync,
            max_segment_entries=mse,
            **kwargs,
        )
