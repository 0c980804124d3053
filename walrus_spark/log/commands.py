"""The reference's client text protocol, end to end.

distributed-walrus serves five text commands over length-prefixed TCP
frames (client.rs:28-118): REGISTER / PUT / GET / STATE / METRICS —
that protocol IS the reference's entire user-facing query surface, so
a user switching engines needs it to exist here verbatim. The Raft /
lease / multi-node plumbing behind the reference's controller is a
declared non-goal (SURVEY §4); this module keeps the WIRE CONTRACT —
command grammar, reply strings, framing, error texts — and binds it to
a local WalrusLog:

  REGISTER <topic>      -> "OK"              (implicit-create engine:
                                              ensure_topic analog)
  PUT <topic> <payload> -> "OK" | "ERR unknown topic ..." (payload =
                                              remainder of the line,
                                              spaces kept — splitn(3)
                                              in client.rs; the
                                              cluster surface requires
                                              REGISTER first,
                                              cli_e2e.rs:30-34)
  GET <topic>           -> "OK <payload>" | "EMPTY" (consumes, shared
                                              cursor — GET semantics)
  STATE <topic>         -> topic-state JSON | "ERR unknown topic ..."
  METRICS               -> engine metrics JSON
  anything else         -> "ERR unknown command"

Framing (serve()/CommandClient): 4-byte little-endian length + UTF-8
frame, 64 KiB max, "ERR invalid frame length" / "ERR invalid utf-8"
replies mirroring client.rs:40-53. The server is a stdlib threaded
socketserver (thread per connection, like the reference's per-conn
tokio task); at scale the driver process hosting the WalrusLog would
host this listener too.

GET is served through a per-topic read-ahead buffer (_TopicReadAhead):
one stateless peek (WalrusLog.peek_range, a driver-side read of the
one or two committed batches the window overlaps, no Spark job) fills
up to READAHEAD_ENTRIES frames, and each frame commits the shared
cursor by exactly one entry (metadata-only, crash-safe, coherent with
library-API consumers via optimistic expect-commits). PUT goes through
natural group commit (_GroupCommitter): everything queued while the
previous commit ran lands as ONE atomic multi_append, and each frame
replies OK only after its own entry is durably committed. The wire
CONTRACT is unchanged — one entry per GET (consumed; "EMPTY" when
caught up), OK-after-commit per PUT. Besides the server's connection
threads, the group committer is the only thread the wire plane starts.
"""

from __future__ import annotations

import json
import socket
import socketserver
import threading
from collections import deque

MAX_FRAME_LEN = 64 * 1024

# GET read-ahead batch: one peek fills this many entries; each GET frame
# then pops one and commits the cursor with a metadata-only advance.
# A refill lists the manifest, reads a batch file and checksums every
# entry, so it is amortized over many frames rather than paid per
# frame. The buffered window is PEEKED, not consumed, so a larger
# buffer costs nothing in delivery semantics — a crash loses only
# un-replied frames.
READAHEAD_ENTRIES = 1024
# Byte budget for the peek — wire payloads are ≤64 KiB frames, so cap
# the buffered bytes rather than inheriting batch_read's 10 GiB limit.
READAHEAD_BYTES = 4 * 1024 * 1024


class _TopicReadAhead:
    """Per-topic server-side GET buffer: peek-then-commit.

    One stateless peek (WalrusLog.peek_range from the shared cursor)
    fills the buffer with up to READAHEAD_ENTRIES entries; each
    delivered frame advances the shared cursor by exactly one entry
    via WalrusLog.commit_cursor_deferred — a metadata-only operation.
    The buffer is refilled on the frame that finds it empty.

    Delivery semantics are unchanged from the unbuffered path:
    buffered entries are PEEKED, not consumed — the cursor only ever
    advances one delivered entry at a time, and the commit lands
    BEFORE the reply frame leaves (the reference's consume order:
    advance, persist per policy, then return — walrus_read.rs:124-188).
    A server crash therefore loses nothing buffered; a restart resumes
    from the last committed cursor.

    Coherence with other consumers: per-topic offsets are contiguous
    (InvSeqOrder), so the i-th peeked entry is at cursor+1+i. Every pop
    commits with ``expect=`` optimistic concurrency — if a library-API
    consumer advanced the shared cursor meanwhile, the commit refuses,
    the stale buffer drops, and the next frame re-peeks. No entry is
    ever double-delivered through this path.
    """

    def __init__(self, log, topic: str) -> None:
        self.log = log
        self.topic = topic
        self.lock = threading.Lock()
        self.base = 0  # cursor value when the buffer was filled
        self.delivered = 0  # entries popped since the fill
        self.buf: deque[bytes] = deque()
        self._closed = False

    def close(self) -> None:
        """Refuse every later GET on this buffer. Idempotent."""
        with self.lock:
            self._closed = True

    def get_next(self) -> bytes | None:
        # The in-memory pop+advance runs under the buffer lock; the
        # DURABILITY WAIT runs outside it, so N connections draining
        # one topic share one group cursor flush
        # (WalrusLog.flush_cursor_covering) instead of serializing N
        # sidecar writes behind this lock. The reply still cannot leave
        # before the delivered offset is durable: this method returns
        # only after the covering flush.
        need_cover = 0
        payload = None
        with self.lock:
            if self._closed:
                # a handler thread racing server shutdown must not
                # read a log the owner is about to close (same
                # contract as _group_committer)
                raise RuntimeError("server is shutting down")
            while True:
                cur = self.log.cursor(self.topic)
                if self.buf and self.base + self.delivered == cur:
                    ok, need_flush = self.log.commit_cursor_deferred(
                        self.topic, cur + 1, expect=cur
                    )
                    if ok:
                        payload = self.buf.popleft()
                        self.delivered += 1
                        if need_flush:
                            need_cover = cur + 1
                        break
                    # lost a race to another consumer — resync below
                self.buf.clear()
                self.delivered = 0
                self.base = self.log.cursor(self.topic)
                rows = self.log.peek_range(
                    self.topic,
                    self.base,
                    max_entries=READAHEAD_ENTRIES,
                    max_bytes=READAHEAD_BYTES,
                )
                if not rows:
                    return None
                self.buf.extend(rows)
        if need_cover:
            self.log.flush_cursor_covering(self.topic, need_cover)
        return payload


class _GroupCommitter:
    """Write-side twin of the read-ahead buffer: PUT group commit.

    One Spark commit per PUT frame caps the wire plane at single-digit
    PUT/s per connection and — worse — N concurrent connections queue N
    sequential commits on the per-topic lock. The reference's write
    plane batches at two levels (io_uring submits a whole batch in one
    syscall, writer.rs:343-528; the fsync worker group-commits
    durability, background.rs:22-154); the engine analog is NATURAL
    group commit: a single committer thread drains everything queued
    while the previous commit ran and lands it as ONE atomic
    multi_append (per-topic contiguous offsets preserved — offsets are
    assigned under the topic locks inside multi_append).

    Reply discipline is unchanged: a PUT frame replies OK only after
    ITS entry is durably committed (reply-after-commit, exactly like
    the unbatched path). A lone client therefore sees the same latency
    (its batch is just size 1), while N concurrent clients share one
    commit — throughput scales with concurrency instead of serializing.
    A commit failure (e.g. NotLeaderError after a takeover) propagates
    to every waiter whose entry rode that commit.
    """

    # cap a drained batch well under multi_append's 2000-entry/topic
    # limit so one drain can never trip it
    MAX_DRAIN = 1000
    # close() join bound; class attr so tests can wedge a commit and
    # exercise the timeout path in ms
    JOIN_TIMEOUT = 120.0

    def __init__(self, log) -> None:
        self.log = log
        self._lock = threading.Lock()
        self._pending: list[tuple[str, bytes, dict]] = []
        self._wake = threading.Event()
        self._stop = False
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def submit(self, topic: str, payload: bytes) -> None:
        """Enqueue one entry; returns after ITS commit lands (or
        raises what that commit raised)."""
        waiter = {"evt": threading.Event(), "err": None}
        with self._lock:
            self._pending.append((topic, payload, waiter))
        self._wake.set()
        if not waiter["evt"].wait(timeout=300):
            raise TimeoutError("group commit did not complete in 300 s")
        if waiter["err"] is not None:
            raise waiter["err"]

    def close(self) -> None:
        self._stop = True
        self._wake.set()
        # generous: a drain in flight must finish (waiters are blocked
        # on it) — returning early would let a commit land after the
        # caller thinks the plane is quiesced. A timed-out join is
        # REPORTED (r13 verdict #3): no cancel here — interrupting a
        # commit mid-manifest-write is worse than naming the survivor
        # (multi_append is atomic, but the waiters deserve the drain).
        self._thread.join(timeout=self.JOIN_TIMEOUT)
        if self._thread.is_alive():
            import warnings

            warnings.warn(
                f"_GroupCommitter.close(): drain thread "
                f"{self._thread.name} still alive after "
                f"{self.JOIN_TIMEOUT:g}s — a commit may land after "
                "quiesce; do not stop the Spark session or close the "
                "log until it exits",
                RuntimeWarning,
                stacklevel=2,
            )

    def _run(self) -> None:
        while True:
            self._wake.wait()
            with self._lock:
                batch = self._pending[: self.MAX_DRAIN]
                del self._pending[: self.MAX_DRAIN]
                if not self._pending:
                    self._wake.clear()
            if self._stop and not batch:
                return
            if not batch:
                continue
            batches: dict[str, list[bytes]] = {}
            for t, p, _w in batch:
                batches.setdefault(t, []).append(p)
            try:
                self.log.multi_append(batches)
                err = None
            except Exception as e:  # noqa: BLE001 — relayed per waiter
                err = e
            for _t, _p, w in batch:
                w["err"] = err
                w["evt"].set()


class CommandShell:
    """Execute one reference-protocol command line against a WalrusLog."""

    def __init__(self, log) -> None:
        self.log = log
        self._readahead: dict[str, _TopicReadAhead] = {}
        self._ra_guard = threading.Lock()
        self._committer: _GroupCommitter | None = None
        self._gc_guard = threading.Lock()
        self._closed = False

    def _group_committer(self) -> _GroupCommitter:
        with self._gc_guard:
            if self._closed:
                # a handler thread racing server shutdown must NOT
                # resurrect a committer that would append against a
                # log the owner is about to close
                raise RuntimeError("server is shutting down")
            if self._committer is None:
                self._committer = _GroupCommitter(self.log)
            return self._committer

    def close(self) -> None:
        """Quiesce the wire plane: the group committer drains
        (in-flight PUT waiters get their replies) and every topic's
        read-ahead refuses further GETs — after this returns, no
        thread spawned by the wire plane is alive and no read or
        commit can start through it."""
        with self._gc_guard:
            self._closed = True
            committer, self._committer = self._committer, None
        if committer is not None:
            committer.close()
        with self._ra_guard:
            ras = list(self._readahead.values())
        for ra in ras:
            ra.close()

    def _topic_readahead(self, topic: str) -> _TopicReadAhead:
        with self._ra_guard:
            if self._closed:
                # a fresh readahead created after close() would never
                # be quiesced — refuse, like the committer path
                raise RuntimeError("server is shutting down")
            ra = self._readahead.get(topic)
            if ra is None:
                ra = self._readahead[topic] = _TopicReadAhead(self.log, topic)
            return ra

    def execute(self, line: str) -> str:
        try:
            # Reference dispatches on text.trim_end() (client.rs:55) —
            # ALL trailing whitespace stripped, including a PUT payload's
            # trailing spaces/tabs — not just the \r\n line ending.
            return self._dispatch(line.rstrip())
        except Exception as e:  # noqa: BLE001 — "ERR <e>" contract
            return f"ERR {e}"

    def _dispatch(self, line: str) -> str:
        parts = line.split(" ", 2)
        op = parts[0] if parts else ""
        if not op:
            # client.rs:66's splitn always yields a first element, so an
            # empty line reaches the catch-all: "ERR unknown command".
            raise ValueError("unknown command")
        if op == "REGISTER":
            if len(parts) < 2:
                raise ValueError("REGISTER requires a topic")
            self.log.ensure_topic(parts[1])
            return "OK"
        if op == "PUT":
            if len(parts) < 2:
                raise ValueError("PUT requires a topic")
            if len(parts) < 3:
                raise ValueError("PUT requires a payload")
            self._known(parts[1])
            # group commit: reply lands only after THIS entry's commit
            self._group_committer().submit(parts[1], parts[2].encode("utf-8"))
            return "OK"
        if op == "GET":
            if len(parts) < 2:
                raise ValueError("GET requires a topic")
            self._known(parts[1])
            entry = self._topic_readahead(parts[1]).get_next()
            if entry is None:
                return "EMPTY"
            return "OK " + entry.decode("utf-8", errors="replace")
        if op == "STATE":
            if len(parts) < 2:
                raise ValueError("STATE requires a topic")
            self._known(parts[1])
            return json.dumps(self.log.state(parts[1]), sort_keys=True)
        if op == "METRICS":
            return json.dumps(self.log.metrics(), sort_keys=True, default=str)
        raise ValueError("unknown command")

    def _known(self, topic: str) -> None:
        """The DISTRIBUTED surface requires REGISTER before use (the
        controller resolves topics through cluster metadata and errors
        with 'unknown topic'; cli_e2e.rs:30-34) — unlike the embedded
        library API, which keeps the core engine's implicit creation."""
        if not self.log.has_topic(topic):
            raise ValueError(f"unknown topic {topic}")


class _Handler(socketserver.BaseRequestHandler):
    def handle(self) -> None:  # one connection, many frames
        shell: CommandShell = self.server.shell  # type: ignore[attr-defined]
        sock = self.request
        while True:
            hdr = _read_exact(sock, 4)
            if hdr is None:
                return
            frame_len = int.from_bytes(hdr, "little")
            if frame_len == 0:  # no body, nothing to desync
                _send(sock, "ERR invalid frame length")
                continue
            if frame_len > MAX_FRAME_LEN:
                # DRAIN the oversized body before replying, or the next
                # header read would land mid-payload and desync every
                # later frame on this connection. (The reference replies
                # without draining, client.rs:40-44 — a latent desync we
                # deliberately do not mirror; capped so a hostile length
                # cannot force an unbounded read.)
                if frame_len <= 16 * MAX_FRAME_LEN:
                    if _read_exact(sock, frame_len) is None:
                        return
                    _send(sock, "ERR invalid frame length")
                    continue
                _send(sock, "ERR invalid frame length")
                return  # absurd length: close rather than desync
            body = _read_exact(sock, frame_len)
            if body is None:
                return
            try:
                text = body.decode("utf-8")
            except UnicodeDecodeError:
                _send(sock, "ERR invalid utf-8")
                continue
            _send(sock, shell.execute(text))


def _read_exact(sock: socket.socket, n: int) -> bytes | None:
    buf = b""
    while len(buf) < n:
        chunk = sock.recv(n - len(buf))
        if not chunk:
            return None
        buf += chunk
    return buf


def _send(sock: socket.socket, message: str) -> None:
    data = message.encode("utf-8")
    sock.sendall(len(data).to_bytes(4, "little") + data)


class CommandServer(socketserver.ThreadingTCPServer):
    allow_reuse_address = True
    daemon_threads = True

    def __init__(self, log, host: str = "127.0.0.1", port: int = 0) -> None:
        super().__init__((host, port), _Handler)
        self.shell = CommandShell(log)

    def shutdown(self) -> None:  # drain the group committer too
        super().shutdown()
        self.shell.close()

    def start_background(self) -> tuple[str, int]:
        t = threading.Thread(target=self.serve_forever, daemon=True)
        t.start()
        return self.server_address[0], self.server_address[1]


class CommandClient:
    """Length-prefixed framing client (what the reference CLI speaks)."""

    def __init__(self, host: str, port: int) -> None:
        self.sock = socket.create_connection((host, port))

    def send(self, line: str) -> str:
        _send(self.sock, line)
        return self._recv_reply()

    def send_raw(self, frame: bytes) -> str:
        self.sock.sendall(len(frame).to_bytes(4, "little") + frame)
        return self._recv_reply()

    def _recv_reply(self) -> str:
        # Explicit checks, not asserts: under `python -O` asserts are
        # stripped and a closed socket would surface as an unrelated
        # TypeError from int.from_bytes(None, ...).
        hdr = _read_exact(self.sock, 4)
        if hdr is None:
            raise ConnectionError("server closed connection")
        body = _read_exact(self.sock, int.from_bytes(hdr, "little"))
        if body is None:
            raise ConnectionError("server closed mid-frame")
        return body.decode("utf-8")

    def close(self) -> None:
        self.sock.close()
