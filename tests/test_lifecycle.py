"""Background-thread ownership/close contract (r12 verdict #1/#3).

The engine runs four background thread families: the cursor flusher
and fsync worker and maintenance daemon (WalrusLog), and the group
committer (wire plane); the GET read-ahead runs on the connection
threads and starts none of its own. The reference owns
every worker inside a runtime it shuts down (client.rs:28-62;
src/wal/runtime/background.rs:22-199); the analog invariant here, now
pinned once for ALL families instead of per-instance fixes:

  after the owner's close(), the family's thread is dead, its handle
  is cleared, and no new Spark job can start through that plane.

Three separate races in this family were fixed piecemeal across r12
(flusher re-kick a8eb8df, flush-coverage-at-close 17b6132, and the
un-joined prefetch that clobbered the r12 driver bench capture) —
this file is the invariant those fixes were instances of.
"""

from __future__ import annotations

import json
import threading
import time

import pytest

from walrus_spark.log import CommandClient, CommandServer, WalrusLog


def _drain_threads(threads: list[threading.Thread], timeout: float = 10.0):
    dead = []
    for t in threads:
        t.join(timeout=timeout)
        dead.append(not t.is_alive())
    return dead


@pytest.mark.parametrize(
    "family",
    ["flusher", "fsync", "maintenance", "committer", "prefetch"],
)
def test_close_quiesces_thread_family(spark, tmp_path, family):
    """One contract, every family: provoke the worker into existence,
    capture its Thread, close the owner, assert the thread died and
    the plane refuses (or safely degrades) further work."""
    root = str(tmp_path / family)

    if family == "maintenance":
        log = WalrusLog(spark, root, auto_maintenance_seconds=0.05)
        log.append("t", b"x")
        t = log._maint_thread
        assert t is not None and t.is_alive()
        log.close()
        assert not t.is_alive()
        assert log._maint_thread is None
        return

    if family == "fsync":
        log = WalrusLog(spark, root)  # milliseconds(200) default
        log.append("t", b"x")  # sidecar write spawns the worker
        t = log._fsync_thread
        assert t is not None and t.is_alive()
        log.close()
        assert not t.is_alive()
        assert log._fsync_thread is None
        # a post-close sidecar write must NOT resurrect the worker —
        # it syncs inline instead (the straggler path)
        log._write_sidecar(log._cursor_path, {"t": 0})
        assert log._fsync_thread is None
        return

    if family == "flusher":
        log = WalrusLog(spark, root)  # strictly-at-once: every commit flushes
        log.multi_append({"t": [b"a", b"b", b"c"]})
        assert log.commit_cursor("t", 1)
        t = log._cfl_thread
        assert t is not None  # covering flush spawned the worker
        log.close()
        assert log._cfl_thread is None
        if t is not None:
            assert not t.is_alive()
        # a straggler commit racing close stays DURABLE via the direct
        # leader flush and must not resurrect the flusher
        assert log.commit_cursor("t", 2)
        assert log._cfl_thread is None
        with open(log._cursor_path) as f:
            assert json.load(f)["t"] == 2
        return

    # wire-plane families
    log = WalrusLog(spark, root)
    server = CommandServer(log)
    host, port = server.start_background()
    try:
        shell = server.shell
        shell.execute("REGISTER t")

        if family == "committer":
            assert shell.execute("PUT t hello") == "OK"
            t = shell._committer._thread
            assert t.is_alive()
            server.shutdown()
            assert not t.is_alive()
            assert shell._committer is None
            with pytest.raises(RuntimeError, match="shutting down"):
                shell._group_committer()
            return

        # prefetch: one GET on a small topic fills the read-ahead
        # buffer
        log.multi_append({"t": [f"e{i}".encode() for i in range(40)]})
        c = CommandClient(host, port)
        try:
            assert c.send("GET t") == "OK e0"
        finally:
            c.close()
        ra = shell._readahead["t"]
        server.shutdown()
        assert ra._closed
        # no read can start through the plane after close
        with pytest.raises(RuntimeError, match="shutting down"):
            ra.get_next()
        with pytest.raises(RuntimeError, match="shutting down"):
            shell._topic_readahead("t")
        # ...and the wire surface reports it as an ERR, not a hang
        assert shell.execute("GET t").startswith("ERR")
    finally:
        try:
            server.shutdown()
        except Exception:  # noqa: BLE001 — second shutdown is a no-op path
            pass
        log.close()


def test_sidecar_straggler_racing_close_syncs_inline(
    spark, tmp_path, monkeypatch
):
    """r13 advisor finding: a _write_sidecar caller that observed the
    stop flag UNSET could lose the registration race to close()'s
    final sweep — a respawned worker then sees stop set and exits
    without sweeping, leaving the sidecar rename-visible but never
    fsynced. The registration now re-checks stop under _fsync_lock and
    a loser syncs inline; no worker is ever resurrected post-close."""
    from walrus_spark.log import wal as walmod

    log = WalrusLog(spark, str(tmp_path / "race"))  # milliseconds(200)
    log.append("t", b"x")

    real = walmod._atomic_write_json
    fired = {"done": False}

    def hooked(path, obj, durable):
        real(path, obj, durable=durable)
        # close() lands exactly between rename-visibility and dirty
        # registration — the advisor's interleaving, made deterministic
        if not durable and not fired["done"]:
            fired["done"] = True
            log.close()

    monkeypatch.setattr(walmod, "_atomic_write_json", hooked)
    before = log.fsync_count
    log._write_sidecar(log._cursor_path, {"t": 7})
    assert fired["done"]
    assert log._fsync_thread is None  # no resurrected worker
    assert log.fsync_count > before  # the straggler synced INLINE
    assert not log._fsync_dirty  # nothing left rename-visible-unsynced


def test_close_reports_wedged_committer(spark, tmp_path):
    """Same contract for the write-side drain: a commit wedged past
    the join bound makes close() warn loudly instead of returning as
    if the plane were quiesced."""
    from walrus_spark.log.commands import _GroupCommitter

    log = WalrusLog(spark, str(tmp_path / "wedgec"))
    try:
        log.multi_append({"t": [b"seed"]})
        entered = threading.Event()
        release = threading.Event()
        real_multi = log.multi_append

        def slow_multi(batches):
            entered.set()
            release.wait(timeout=30)
            return real_multi(batches)

        log.multi_append = slow_multi
        gc = _GroupCommitter(log)
        try:
            gc.JOIN_TIMEOUT = 0.2
            sub = threading.Thread(
                target=lambda: gc.submit("t", b"x"), daemon=True
            )
            sub.start()
            assert entered.wait(timeout=10)
            with pytest.warns(RuntimeWarning, match="still alive"):
                gc.close()
        finally:
            release.set()
            log.multi_append = real_multi
        gc._thread.join(timeout=10)
        assert not gc._thread.is_alive()
        sub.join(timeout=10)
        # the waiter's entry still landed (drain finished after the
        # release): reply discipline held even through the wedge
        assert log.topic_entry_count("t") == 2
    finally:
        log.close()


def test_get_to_half_drain_then_shutdown_no_thread_survives(spark, tmp_path):
    """The r12 verdict-#1 'done' scenario verbatim: serve GETs to
    half-drain, shut the server down, and assert zero wire threads
    survive and no job starts after."""
    before = set(threading.enumerate())
    log = WalrusLog(spark, str(tmp_path / "halfdrain"))
    server = CommandServer(log)
    host, port = server.start_background()
    try:
        server.shell.execute("REGISTER g")
        log.multi_append({"g": [f"m{i}".encode() for i in range(64)]})
        c = CommandClient(host, port)
        try:
            for i in range(32):  # drain to half
                assert c.send("GET g") == f"OK m{i}"
        finally:
            c.close()
        ra = server.shell._readahead["g"]
        server.shutdown()
        assert ra._closed
        wire = [
            t
            for t in threading.enumerate()
            if t not in before and t not in (log._cfl_thread, log._fsync_thread)
        ]
        assert all(_drain_threads(wire)), wire
        # delivered entries stayed exactly-once and durable: the
        # committed cursor survives a fresh instance
        log2 = WalrusLog(spark, str(tmp_path / "halfdrain"))
        try:
            assert log2.cursor("g") == 32
        finally:
            log2.close()
    finally:
        log.close()


def test_flusher_stop_branch_is_durable(spark, tmp_path):
    """r12 advisor (medium): a flusher that observes _cfl_stop while a
    waiter is parked must produce a covering flush BEFORE releasing the
    waiter — close()'s own final flush is not ordered with the flag.
    Exercised directly: park a waiter for an un-flushed offset, set the
    stop flag, run the flusher; the waiter's offset must be durable in
    the sidecar by the time its event fires."""
    log = WalrusLog(spark, str(tmp_path / "stopdur"))
    try:
        log.multi_append({"t": [b"a", b"b"]})
        ok, need_flush = log.commit_cursor_deferred("t", 1)
        assert ok and need_flush  # in-memory advance, nothing durable yet
        evt = threading.Event()
        with log._cfl_lock:
            log._cfl_waiters.append(("t", 1, evt))
            log._cfl_stop = True
        worker = threading.Thread(target=log._cursor_flusher, daemon=True)
        worker.start()
        log._cfl_wake.set()
        assert evt.wait(timeout=10), "stop branch stranded the waiter"
        # the moment the waiter wakes, its offset must be on disk
        with open(log._cursor_path) as f:
            assert json.load(f).get("t", 0) >= 1
        worker.join(timeout=10)
        assert not worker.is_alive()
        with log._cfl_lock:  # let close() run its normal path
            log._cfl_stop = False
    finally:
        log.close()


def test_commit_after_close_durable_without_flusher(spark, tmp_path):
    """The waiter-side re-kick must never resurrect a flusher on a
    closed log (it used to reset _cfl_stop); a straggler commit takes
    the direct leader-flush path and is durable on return."""
    log = WalrusLog(spark, str(tmp_path / "straggler"))
    log.multi_append({"t": [b"a", b"b", b"c"]})
    assert log.commit_cursor("t", 1)
    log.close()
    before = {t.ident for t in threading.enumerate()}
    assert log.commit_cursor("t", 3)
    after = [
        t
        for t in threading.enumerate()
        if t.ident not in before and t.name.startswith("Thread-")
    ]
    # no flusher (or fsync worker) respawned for the straggler
    time.sleep(0.05)
    assert log._cfl_thread is None
    assert not [t for t in after if t.is_alive()], after
    with open(log._cursor_path) as f:
        assert json.load(f)["t"] == 3


def test_peek_range_falls_back_below_vacuum_horizon(spark, tmp_path):
    """r12 advisor: a historical peek whose closed window was vacuumed
    must deliver the surviving tail (batch_read equivalence), not [].
    The wire plane never pays the fallback (it peeks at the live
    cursor), but the documented general contract now holds."""
    log = WalrusLog(spark, str(tmp_path / "horizon"))
    try:
        log.multi_append({"t": [f"a{i}".encode() for i in range(1, 6)]})
        log.multi_append({"t": [f"b{i}".encode() for i in range(6, 11)]})
        # consume the whole first batch, then reclaim it
        assert log.batch_read("t", max_entries=5) == [
            f"a{i}".encode() for i in range(1, 6)
        ]
        assert log.vacuum() >= 1
        # closed window (0, 3] is entirely inside the reclaimed batch:
        # fallback returns the surviving tail, exactly as
        # batch_read(checkpoint=False, start_offset=0) would
        got = log.peek_range("t", 0, max_entries=3)
        assert got == [b"b6", b"b7", b"b8"]
        # live-cursor peek (the wire regime) unaffected
        assert log.peek_range("t", 5, max_entries=2) == [b"b6", b"b7"]
        # fully caught-up peek stays a no-fallback empty
        assert log.peek_range("t", 10, max_entries=3) == []
    finally:
        log.close()
