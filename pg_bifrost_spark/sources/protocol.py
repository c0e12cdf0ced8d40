"""Replication-protocol client loop — the deployment-path engine behind
``LiveTransport``, written against an INJECTABLE connection so every
protocol behavior is testable without a PostgreSQL server (the
reference's most-tested component is exactly this loop:
``replication/client/client.go:224-580``, ~33 unit tests on a mocked
conn).

Responsibilities (reference parity, file:line cited per method):

  * keepalive handling — reply-requested heartbeats are answered with a
    standby status update; >5 requests arriving with <100 ms total
    spacing mean the server wants us gone (client.go:426-468); every
    keepalive's ``server_wal_end`` is kept as a running max, the
    transport's proof that the stream has caught up;
  * duplicate-transaction accounting — COMMIT WalStart must advance;
    a non-advancing COMMIT is a server re-send and is counted, never
    re-emitted upstream wrongly (client.go:484-496);
  * incomplete-transaction defense — a BEGIN with no COMMIT since the
    previous BEGIN closes the connection so the server resends from
    the last ack (client.go:509-535);
  * receive-deadline handling — a read timeout forces a progress send
    and the loop continues; it is NOT an error (client.go:309-326);
  * error-response recovery — emit a synthetic COMMIT to close the
    open transaction, then skip ahead to the server's current LSN
    (client.go:381-424) — the S7 path.

The loop is deliberately synchronous and driver-side: in the Spark
architecture it feeds the ``pgcdc`` streaming source's transport
buffer; all heavy lifting (parse, filter, marshal) happens in
executors. One client per slot is the Postgres protocol's own
constraint, not a Spark bottleneck.
"""

from __future__ import annotations

import time
from collections import Counter
from dataclasses import dataclass, field

from . import assembly


class Timeout(Exception):
    """Receive deadline expired (pgconn.Timeout equivalent)."""


@dataclass
class Keepalive:
    """PrimaryKeepaliveMessage."""

    server_wal_end: int = 0
    reply_requested: bool = False


@dataclass
class XLogData:
    """XLogData frame carrying one test_decoding line.
    ``server_time_ms`` is the frame's send timestamp (unix ms) — the
    wire transport fills it; scripted test fakes may leave 0.
    ``raw`` carries the undecoded payload when the connection streams a
    BINARY plugin (pgoutput) — ``line`` is empty then and a
    ``PgOutputConnAdapter`` must sit between the conn and this loop."""

    wal_start: int
    line: str
    server_time_ms: int = 0
    raw: bytes | None = None


@dataclass
class ErrorResponse:
    """Server ErrorResponse (corrupt WAL, slot conflict, ...)."""

    message: str = ""


@dataclass
class WalMessage:
    """What the loop emits downstream (transport buffer row)."""

    wal_start: int
    line: str
    xid: str | None
    time_based_key: str | None
    synthetic: bool = False
    server_time_ms: int = 0


# heartbeat shutdown policy (client.go:449-462)
RAPID_HEARTBEAT_COUNT = 5
RAPID_HEARTBEAT_WINDOW_S = 0.100


class ShutdownRequested(Exception):
    """Server asked for heartbeats rapidly — treat as shutdown."""


@dataclass
class ReplicationClientLoop:
    """Protocol state machine. ``conn`` needs: ``receive(timeout_s)``
    returning Keepalive/XLogData/ErrorResponse or raising Timeout;
    ``send_status(lsn)``; ``close()``; ``current_server_lsn()``.
    ``now`` is injectable for deterministic tests."""

    conn: object
    now: callable = time.monotonic
    receive_timeout_s: float = 5.0

    acked_lsn: int = 0
    highest_wal_start: int = 0
    # highest keepalive ``server_wal_end`` on this connection: the
    # walsender's sentPtr, so every change committed before it has
    # already arrived (TCP order)
    server_wal_end: int = 0
    saw_commit: bool = False
    first_iteration: bool = True
    xid: str | None = None
    time_based_key: str | None = None
    stats: Counter = field(default_factory=Counter)

    _hb_count: int = 0
    _hb_delta: float = 0.0
    _last_hb_time: float | None = None

    # ---------------------------------------------------------------- ack
    def ack(self, lsn: int) -> None:
        """Downstream durably wrote through ``lsn`` (contiguous
        prefix); next status update reports it (W1)."""
        self.acked_lsn = max(self.acked_lsn, lsn)

    def send_progress(self) -> None:
        self.conn.send_status(self.acked_lsn)
        self.stats["progress_sent"] += 1

    # ---------------------------------------------------------- keepalive
    def handle_keepalive(self, msg: Keepalive) -> None:
        """client.go:426-468: answer only reply-requested heartbeats;
        rapid requests (>5 with <100 ms cumulative spacing) mean
        shutdown. Every keepalive raises ``server_wal_end``."""
        self.server_wal_end = max(self.server_wal_end, msg.server_wal_end)
        if not msg.reply_requested:
            return
        self.send_progress()
        t = self.now()
        if self._last_hb_time is not None:
            self._hb_delta += t - self._last_hb_time
        self._hb_count += 1
        if self._hb_delta < RAPID_HEARTBEAT_WINDOW_S and self._hb_count > RAPID_HEARTBEAT_COUNT:
            raise ShutdownRequested(
                "server asked for heartbeat rapidly, assuming request to shutdown"
            )
        if self._hb_count > RAPID_HEARTBEAT_COUNT:
            self._hb_count = 0
            self._hb_delta = 0.0
        self._last_hb_time = t

    # ----------------------------------------------------------- xlogdata
    def handle_xlogdata(self, msg: XLogData) -> list[WalMessage]:
        """client.go:469-545: duplicate-COMMIT accounting, BEGIN/COMMIT
        transaction stamping, incomplete-transaction reconnect."""
        op = msg.line.split(" ", 2)[0]

        if op == "COMMIT":
            self.stats["txns"] += 1
            if self.highest_wal_start < msg.wal_start:
                self.highest_wal_start = msg.wal_start
            else:
                # server re-sent a transaction we already saw
                self.stats["txns_dup"] += 1
            self.saw_commit = True

        if op == "BEGIN":
            if not self.saw_commit and not self.first_iteration:
                # previous txn never closed: drop the connection so the
                # server resends everything unacked (client.go:522-535)
                self.stats["incomplete_txn_reconnects"] += 1
                self.conn.close()
                self.saw_commit = False
                self.first_iteration = True
                return []
            # the BEGIN's LSN keys the txn, distinguishing replays of
            # the same xid (client.go:513-518)
            self.xid, self.time_based_key = assembly.step(
                msg.wal_start, msg.line, self.xid, self.time_based_key
            )
            self.saw_commit = False
            self.first_iteration = False

        self.stats["received"] += 1
        return [
            WalMessage(
                wal_start=msg.wal_start,
                line=msg.line,
                xid=self.xid,
                time_based_key=self.time_based_key,
                server_time_ms=msg.server_time_ms,
            )
        ]

    # ------------------------------------------------------ error recovery
    def recover_from_error(self) -> list[WalMessage]:
        """client.go:381-424: synthetic COMMIT closes the open txn (no
        ledger gap), then skip ahead to the server's current LSN —
        at-least-once with an explicit data gap (S7)."""
        out = []
        if self.xid is not None:
            out.append(
                WalMessage(
                    wal_start=self.highest_wal_start,
                    line=f"COMMIT {self.xid}",
                    xid=self.xid,
                    time_based_key=self.time_based_key,
                    synthetic=True,
                )
            )
        self.conn.close()
        server_lsn = self.conn.current_server_lsn()
        if server_lsn > self.highest_wal_start:
            self.stats["skip_ahead"] += 1
            self.highest_wal_start = server_lsn
        self.saw_commit = False
        self.first_iteration = True
        return out

    # ---------------------------------------------------------- main step
    def step(self) -> list[WalMessage]:
        """One receive-dispatch iteration (client.go:267-380). Returns
        messages to append to the transport buffer; raises
        ShutdownRequested / StopIteration per protocol."""
        try:
            msg = self.conn.receive(self.receive_timeout_s)
        except Timeout:
            # deadline is a liveness signal, not an error: report
            # progress so the slot doesn't bloat, keep reading
            # (client.go:318-326)
            self.stats["receive_timeouts"] += 1
            self.send_progress()
            return []
        if isinstance(msg, Keepalive):
            self.handle_keepalive(msg)
            return []
        if isinstance(msg, XLogData):
            return self.handle_xlogdata(msg)
        if isinstance(msg, ErrorResponse):
            self.stats["error_responses"] += 1
            return self.recover_from_error()
        raise RuntimeError(f"unexpected protocol message: {msg!r}")


class PgOutputConnAdapter:
    """Connection wrapper that canonicalizes a pgoutput (binary) stream
    into the test_decoding lines ``ReplicationClientLoop`` speaks — the
    loop, transaction assembly, duplicate accounting and every
    downstream stage stay plugin-agnostic (cdc/pgoutput.py module
    docstring for the design rationale).

    Frames that produce no event (Relation/Type/Origin/Message) are
    swallowed and the read continues within the caller's timeout
    budget; undecodable frames are counted and dropped — the
    reference's response to invalid messages (client.go:470-482), and
    the engine's own fuzz-pinned bomb-guard posture. The decoder's
    relation registry is per-connection state: a reconnect builds a
    fresh adapter, matching the server's re-send of Relation frames on
    a new session."""

    def __init__(self, conn, proto_version: int = 1, skip_origins=frozenset()):
        from collections import deque

        from ..cdc.pgoutput import PgOutputDecoder

        self.conn = conn
        self.decoder = PgOutputDecoder(
            proto_version=proto_version, skip_origins=frozenset(skip_origins)
        )
        self.stats: Counter = Counter()
        # a v2 Stream Commit replays a whole buffered transaction from
        # ONE frame; receive() hands lines out one at a time (they all
        # carry the commit frame's wal_start — the loop's equal-LSN run
        # index k disambiguates positions downstream)
        self._pending = deque()

    @property
    def mid_stream(self) -> bool:
        """True while a v2 streamed transaction is open (segment active
        or lines buffered awaiting Stream Commit). The transport uses
        this to tell 'stream idle' apart from 'caught up, or deadline
        expired, while a streamed transaction is still open' — the
        latter must flag truncation, not end a drain (code-review
        r10-late #4)."""
        d = self.decoder
        return d._stream_xid is not None or bool(d._stream_buf)

    def receive(self, timeout_s: float):
        from ..cdc.pgoutput import PgOutputError, PgOutputOverflow

        if self._pending:
            wal_start, server_time_ms, line = self._pending.popleft()
            return XLogData(
                wal_start=wal_start, line=line, server_time_ms=server_time_ms
            )
        deadline = time.monotonic() + timeout_s
        while True:
            remaining = deadline - time.monotonic()
            if remaining <= 0:
                # frames may be arriving back-to-back (a large streamed
                # transaction buffers for its whole duration) — without
                # this the caller's receive deadline, and with it the
                # transport's per-batch budget, would never fire
                # (code-review r10-late #4). Decoder state persists, so
                # the next receive continues buffering where we left
                # off; the transport checks ``mid_stream`` to avoid
                # mistaking this for an idle stream.
                raise Timeout()
            msg = self.conn.receive(remaining)
            if not (isinstance(msg, XLogData) and msg.raw is not None):
                return msg
            try:
                events = self.decoder.decode_events(msg.raw)
            except PgOutputOverflow:
                # NEVER drop-and-count: a capped streamed transaction
                # must fail the query loudly, not vanish while the ack
                # advances past its commit (code-review r10-late #3)
                raise
            except PgOutputError:
                self.stats["invalid_msgs"] += 1
                continue
            if not events:  # registry/metadata/stream-segment frame
                continue
            for line in events[1:]:
                self._pending.append((msg.wal_start, msg.server_time_ms, line))
            return XLogData(
                wal_start=msg.wal_start,
                line=events[0],
                server_time_ms=msg.server_time_ms,
            )

    # everything else (send_status/close/current_server_lsn/...) is the
    # wrapped connection's own surface
    def __getattr__(self, name):
        return getattr(self.conn, name)
