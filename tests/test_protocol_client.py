"""Mock-protocol tests for the replication client loop — the Python
mirror of the reference's client unit-test corpus
(``replication/client/client_test.go``, mocked-conn tests): keepalive
policy, rapid-heartbeat shutdown, duplicate-COMMIT accounting,
incomplete-transaction reconnect, receive-deadline handling, and
error-response skip-ahead, all against a scripted fake connection —
no server, no psycopg."""

from __future__ import annotations

import pytest

from pg_bifrost_spark.sources.protocol import (
    ErrorResponse,
    Keepalive,
    ReplicationClientLoop,
    ShutdownRequested,
    Timeout,
    XLogData,
)


class FakeConn:
    """Scripted connection: feed a list of messages / Timeout markers;
    records status updates and close() calls."""

    def __init__(self, script, server_lsn=0):
        self.script = list(script)
        self.status_updates = []
        self.closed = 0
        self.server_lsn = server_lsn

    def receive(self, timeout_s):
        if not self.script:
            raise StopIteration
        item = self.script.pop(0)
        if item is Timeout:
            raise Timeout()
        return item

    def send_status(self, lsn):
        self.status_updates.append(lsn)

    def close(self):
        self.closed += 1

    def current_server_lsn(self):
        return self.server_lsn


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def advance(self, dt):
        self.t += dt

    def __call__(self):
        return self.t


def drain(loop, n):
    out = []
    for _ in range(n):
        out.extend(loop.step())
    return out


# ------------------------------------------------------------ keepalives
def test_keepalive_without_reply_request_is_ignored():
    conn = FakeConn([Keepalive(server_wal_end=10, reply_requested=False)])
    loop = ReplicationClientLoop(conn=conn)
    assert loop.step() == []
    assert conn.status_updates == []


def test_keepalive_with_reply_request_sends_acked_lsn():
    conn = FakeConn([Keepalive(reply_requested=True)])
    loop = ReplicationClientLoop(conn=conn)
    loop.ack(1234)
    loop.step()
    assert conn.status_updates == [1234]


def test_server_wal_end_is_running_max_over_keepalives():
    """Every keepalive raises ``server_wal_end`` (the transport's
    caught-up proof), reply requested or not; it never moves back, and
    a reply-requested one is still answered."""
    conn = FakeConn(
        [
            Keepalive(server_wal_end=300, reply_requested=False),
            Keepalive(server_wal_end=100, reply_requested=True),
            Keepalive(server_wal_end=500, reply_requested=True),
            Keepalive(server_wal_end=400, reply_requested=False),
        ]
    )
    loop = ReplicationClientLoop(conn=conn)
    assert loop.server_wal_end == 0  # a fresh loop has no proof yet
    loop.ack(77)
    seen = []
    for _ in range(4):
        assert loop.step() == []
        seen.append(loop.server_wal_end)
    assert seen == [300, 300, 500, 500]
    assert conn.status_updates == [77, 77]


def test_rapid_heartbeats_trigger_shutdown():
    """>5 reply-requested heartbeats with <100 ms total spacing ==
    server wants us to go away (client.go:449-462)."""
    clock = FakeClock()
    conn = FakeConn([Keepalive(reply_requested=True) for _ in range(7)])
    loop = ReplicationClientLoop(conn=conn, now=clock)
    for _ in range(5):
        loop.step()
        clock.advance(0.001)
    with pytest.raises(ShutdownRequested):
        loop.step()


def test_slow_heartbeats_never_shutdown():
    clock = FakeClock()
    conn = FakeConn([Keepalive(reply_requested=True) for _ in range(20)])
    loop = ReplicationClientLoop(conn=conn, now=clock)
    for _ in range(20):
        loop.step()
        clock.advance(1.0)  # a heartbeat per second is healthy
    assert len(conn.status_updates) == 20


def test_heartbeat_counter_resets_after_window():
    """A rapid burst below the shutdown threshold followed by slow
    heartbeats must reset the counter, not accumulate into a shutdown
    (client.go:459-462): the 6th heartbeat arrives >100 ms after the
    burst, so count>5 with delta>=100ms resets both trackers."""
    clock = FakeClock()
    conn = FakeConn([Keepalive(reply_requested=True) for _ in range(12)])
    loop = ReplicationClientLoop(conn=conn, now=clock)
    for i in range(12):
        loop.step()
        clock.advance(0.001 if i < 4 else 0.5)
    assert len(conn.status_updates) == 12


# -------------------------------------------------- duplicate txn COMMITs
def test_duplicate_commit_is_counted_not_progressing():
    conn = FakeConn(
        [
            XLogData(100, "BEGIN 601"),
            XLogData(110, "table public.t: INSERT: id[integer]:1"),
            XLogData(120, "COMMIT 601"),
            # server re-sends the same transaction (wal_start did not
            # advance past highest seen COMMIT)
            XLogData(100, "BEGIN 601"),
            XLogData(110, "table public.t: INSERT: id[integer]:1"),
            XLogData(120, "COMMIT 601"),
            XLogData(200, "BEGIN 602"),
            XLogData(220, "COMMIT 602"),
        ]
    )
    loop = ReplicationClientLoop(conn=conn)
    drain(loop, 8)
    assert loop.stats["txns"] == 3
    assert loop.stats["txns_dup"] == 1
    assert loop.highest_wal_start == 220


def test_commit_wal_start_never_regresses():
    conn = FakeConn(
        [XLogData(500, "COMMIT 9"), XLogData(100, "COMMIT 10"), XLogData(600, "COMMIT 11")]
    )
    loop = ReplicationClientLoop(conn=conn)
    drain(loop, 3)
    assert loop.highest_wal_start == 600
    assert loop.stats["txns_dup"] == 1


# ------------------------------------------------- txn stamping semantics
def test_intermediate_rows_carry_begin_xid_and_time_key():
    conn = FakeConn(
        [
            XLogData(100, "BEGIN 700"),
            XLogData(110, "table public.t: INSERT: id[integer]:1"),
            XLogData(111, "table public.t: UPDATE: id[integer]:1"),
            XLogData(120, "COMMIT 700"),
        ]
    )
    loop = ReplicationClientLoop(conn=conn)
    msgs = drain(loop, 4)
    assert [m.xid for m in msgs] == ["700"] * 4
    # time_based_key distinguishes replays of the same xid by BEGIN lsn
    assert {m.time_based_key for m in msgs} == {"700-100"}


def test_same_xid_resent_gets_new_time_based_key():
    conn = FakeConn(
        [
            XLogData(100, "BEGIN 700"),
            XLogData(120, "COMMIT 700"),
            XLogData(300, "BEGIN 700"),
            XLogData(320, "COMMIT 700"),
        ]
    )
    loop = ReplicationClientLoop(conn=conn)
    msgs = drain(loop, 4)
    assert msgs[0].time_based_key == "700-100"
    assert msgs[2].time_based_key == "700-300"


# ------------------------------------------- incomplete-transaction guard
def test_begin_without_commit_reconnects():
    """A BEGIN while the previous txn is still open means we lost the
    COMMIT: close the conn so the server resends from the last ack
    (client.go:522-535)."""
    conn = FakeConn(
        [
            XLogData(100, "BEGIN 800"),
            XLogData(110, "table public.t: INSERT: id[integer]:1"),
            XLogData(200, "BEGIN 801"),  # no COMMIT 800 seen!
        ]
    )
    loop = ReplicationClientLoop(conn=conn)
    msgs = drain(loop, 3)
    assert conn.closed == 1
    assert loop.stats["incomplete_txn_reconnects"] == 1
    # the offending BEGIN is NOT emitted downstream; resume state reset
    assert [m.line.split()[0] for m in msgs] == ["BEGIN", "table"]
    assert loop.first_iteration is True


def test_first_begin_needs_no_prior_commit():
    conn = FakeConn([XLogData(100, "BEGIN 1"), XLogData(120, "COMMIT 1")])
    loop = ReplicationClientLoop(conn=conn)
    drain(loop, 2)
    assert conn.closed == 0


# ----------------------------------------------------- deadline handling
def test_receive_timeout_sends_progress_and_continues():
    conn = FakeConn([Timeout, Timeout, XLogData(100, "BEGIN 1")])
    loop = ReplicationClientLoop(conn=conn)
    loop.ack(42)
    msgs = drain(loop, 3)
    assert loop.stats["receive_timeouts"] == 2
    assert conn.status_updates == [42, 42]  # forced progress per timeout
    assert len(msgs) == 1  # loop kept reading afterwards


# ------------------------------------------------ error-response recovery
def test_error_response_emits_synthetic_commit_and_skips_ahead():
    conn = FakeConn(
        [
            XLogData(100, "BEGIN 900"),
            XLogData(110, "table public.t: INSERT: id[integer]:1"),
            ErrorResponse("corrupt wal"),
            XLogData(5000, "BEGIN 901"),
            XLogData(5020, "COMMIT 901"),
        ],
        server_lsn=4096,
    )
    loop = ReplicationClientLoop(conn=conn)
    msgs = drain(loop, 5)
    synth = [m for m in msgs if m.synthetic]
    assert len(synth) == 1 and synth[0].line == "COMMIT 900" and synth[0].xid == "900"
    assert loop.stats["skip_ahead"] == 1
    assert conn.closed == 1
    # resumed past the gap: next txn processed normally
    assert loop.highest_wal_start == 5020
    assert loop.stats["error_responses"] == 1


def test_error_response_without_open_txn_has_no_synthetic_commit():
    conn = FakeConn([ErrorResponse("boom")], server_lsn=10)
    loop = ReplicationClientLoop(conn=conn)
    msgs = loop.step()
    assert msgs == []
    assert loop.highest_wal_start == 10
