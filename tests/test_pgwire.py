"""The live path executed against REAL protocol bytes: a fake
walsender (threaded localhost socket) speaks the PostgreSQL v3 wire
protocol — startup, auth (trust/cleartext/md5/SCRAM-SHA-256 with the
real RFC 5802 server-side computation), IDENTIFY_SYSTEM,
CREATE_REPLICATION_SLOT, START_REPLICATION → CopyBoth frames — and
``sources/pgwire.WireConnection`` + ``protocol.ReplicationClientLoop``
+ ``pgcdc.LiveTransport`` must drive it end-to-end. Every byte the
client SENDS is parsed and asserted server-side (password hashes,
SCRAM proof, standby-status LSNs), so this is the wire-level twin of
the reference's mocked-conn client tests — one layer LOWER than
tests/test_protocol_client.py's scripted dataclasses.
"""

from __future__ import annotations

import base64
import hashlib
import hmac
import os
import socket
import struct
import threading
import time

import pytest

from pg_bifrost_spark.sources import pgwire
from pg_bifrost_spark.sources.pgwire import (
    WireConnection,
    int_to_lsn,
    lsn_to_int,
    parse_dsn,
)
from pg_bifrost_spark.sources.protocol import (
    ErrorResponse,
    Keepalive,
    ReplicationClientLoop,
    Timeout,
    XLogData,
)

USER, PASSWORD, DB = "repl_user", "s3cret", "appdb"
XLOGPOS = "0/16B3748"


# ---------------------------------------------------------------------------
# fake walsender
# ---------------------------------------------------------------------------
def _msg(mtype: bytes, body: bytes) -> bytes:
    return mtype + struct.pack(">I", len(body) + 4) + body


def _cstr(b: bytes) -> list[bytes]:
    return b.split(b"\x00")[:-1]


class FakeWalsender:
    """One-connection-at-a-time scripted server. ``auth`` picks the
    exchange; ``frames`` is the CopyBoth script (each item either
    ("xlog", lsn, line), ("keepalive", lsn, reply), ("error", msg),
    ("sleep", seconds), or ("expect_status", lsn) — the server BLOCKS
    reading a standby status update and asserts its three LSN
    fields). A ``frames_per_conn`` item may be a callable of the
    requested start LSN that returns the script.

    ``concurrent=True`` serves each connection on its own thread, and,
    as Postgres does, rejects a START_REPLICATION on a slot another
    open connection is streaming with SQLSTATE 55006 (recorded in
    ``rejected_starts``). A ``LiveTransport.fetch`` needs it: each
    fetch samples IDENTIFY_SYSTEM ``xlogpos`` on a second connection
    while its stream is open.

    PG 15 ends a caught-up backlog with a keepalive at ``xlogpos``
    (the walsender's sentPtr once it has sent everything flushed); a
    script models that by ending with ``("keepalive", <xlogpos>,
    False)``. Without it a fetch ends only on its receive timeout."""

    def __init__(
        self,
        auth: str = "trust",
        frames=None,
        xlogpos: str = XLOGPOS,
        tls: str = "refuse",  # "refuse" -> answer 'N'; "accept" -> real TLS
        certfile: str | None = None,
        keyfile: str | None = None,
        frames_per_conn=None,  # list of scripts, one per START_REPLICATION
        fail_start=None,  # SQLSTATEs to reject START_REPLICATION with, one per attempt
        concurrent: bool = False,
    ):
        self.auth = auth
        self.tls = tls
        self.certfile, self.keyfile = certfile, keyfile
        self.frames = list(frames or [])
        self.frames_per_conn = (
            [s if callable(s) else list(s) for s in frames_per_conn]
            if frames_per_conn is not None
            else None
        )
        self.fail_start = list(fail_start or [])
        self.xlogpos = xlogpos
        self.failures: list[str] = []
        self.received_status_lsns: list[int] = []
        self.start_lsns: list[int] = []  # LSN of each START_REPLICATION
        self.start_commands: list[str] = []  # full SQL incl. plugin options
        self.create_commands: list[str] = []  # full CREATE_REPLICATION_SLOT SQL
        self.saw_replication_param = False
        self.created_slots: list[str] = []
        self.slot_plugins: dict[str, str] = {}  # slot -> plugin it was created with
        self.slot_two_phase: dict[str, bool] = {}  # slot -> TWO_PHASE flag
        self.concurrent = concurrent
        self.rejected_starts: list[str] = []  # slots refused as active
        self._streaming: set[str] = set()  # slots an open connection streams
        self._lock = threading.Lock()
        self._srv = socket.socket()
        self._srv.bind(("127.0.0.1", 0))
        self._srv.listen(4)
        self.port = self._srv.getsockname()[1]
        self._thread = threading.Thread(target=self._serve, daemon=True)
        self._thread.start()

    # --- protocol plumbing (per-connection buffered reader: one recv
    # can deliver several messages, and struct.unpack needs EXACT sizes;
    # raw sockets are __slots__ classes, so a tiny wrapper carries the
    # buffered file alongside sendall)
    class _Conn:
        def __init__(self, sock):
            self.sock = sock
            self.rfile = sock.makefile("rb")
            self.sendall = sock.sendall

        def starttls(self, ctx):
            # the buffered reader must be re-created over the TLS socket
            self.rfile.close()
            self.sock = ctx.wrap_socket(self.sock, server_side=True)
            self.rfile = self.sock.makefile("rb")
            self.sendall = self.sock.sendall

        def close(self):
            try:
                self.rfile.close()
            finally:
                self.sock.close()

    def _read_exact(self, conn, n):
        buf = conn.rfile.read(n)
        if buf is None or len(buf) < n:
            raise ConnectionError("client closed")
        return buf

    def _read_startup(self, conn):
        ln = struct.unpack(">I", self._read_exact(conn, 4))[0]
        body = self._read_exact(conn, ln - 4)
        code = struct.unpack(">I", body[:4])[0]
        if code == 80877103:  # SSLRequest — answer, then expect startup
            if self.tls == "accept":
                import ssl

                conn.sendall(b"S")
                ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
                ctx.load_cert_chain(self.certfile, self.keyfile)
                conn.starttls(ctx)
                self.tls_established = True
            else:
                conn.sendall(b"N")
            return self._read_startup(conn)
        assert code == pgwire.PG_PROTO_VERSION
        kv = _cstr(body[4:])
        params = dict(zip(kv[::2], kv[1::2]))
        return {k.decode(): v.decode() for k, v in params.items()}

    def _read_typed(self, conn):
        head = self._read_exact(conn, 5)
        ln = struct.unpack(">I", head[1:])[0]
        return head[:1], self._read_exact(conn, ln - 4)

    # --- auth exchanges (server side, real computations)
    def _do_auth(self, conn):
        if self.auth == "trust":
            conn.sendall(_msg(b"R", struct.pack(">I", 0)))
            return True
        if self.auth == "cleartext":
            conn.sendall(_msg(b"R", struct.pack(">I", 3)))
            t, body = self._read_typed(conn)
            ok = t == b"p" and body == PASSWORD.encode() + b"\x00"
        elif self.auth == "md5":
            salt = b"\x01\x02\x03\x04"
            conn.sendall(_msg(b"R", struct.pack(">I", 5) + salt))
            t, body = self._read_typed(conn)
            inner = hashlib.md5(PASSWORD.encode() + USER.encode()).hexdigest()
            want = b"md5" + hashlib.md5(inner.encode() + salt).hexdigest().encode()
            ok = t == b"p" and body == want + b"\x00"
        elif self.auth == "scram":
            conn.sendall(
                _msg(b"R", struct.pack(">I", 10) + b"SCRAM-SHA-256\x00\x00")
            )
            t, body = self._read_typed(conn)
            mech, rest = body.split(b"\x00", 1)
            assert mech == b"SCRAM-SHA-256"
            ln = struct.unpack(">I", rest[:4])[0]
            client_first = rest[4 : 4 + ln].decode()
            assert client_first.startswith("n,,")
            bare = client_first[3:]
            cnonce = dict(kv.split("=", 1) for kv in bare.split(","))["r"]
            snonce = cnonce + "SRVNONCE"
            salt, iters = b"0123456789abcdef", 4096
            server_first = f"r={snonce},s={base64.b64encode(salt).decode()},i={iters}"
            conn.sendall(
                _msg(b"R", struct.pack(">I", 11) + server_first.encode())
            )
            t, body = self._read_typed(conn)
            final = body.decode()
            attrs = dict(kv.split("=", 1) for kv in final.split(","))
            without_proof = final[: final.rindex(",p=")]
            salted = hashlib.pbkdf2_hmac("sha256", PASSWORD.encode(), salt, iters)
            client_key = hmac.digest(salted, b"Client Key", "sha256")
            stored_key = hashlib.sha256(client_key).digest()
            auth_msg = f"{bare},{server_first},{without_proof}".encode()
            sig = hmac.digest(stored_key, auth_msg, "sha256")
            want_proof = bytes(a ^ b for a, b in zip(client_key, sig))
            ok = (
                attrs["r"] == snonce
                and base64.b64decode(attrs["p"]) == want_proof
            )
            if ok:
                server_key = hmac.digest(salted, b"Server Key", "sha256")
                server_sig = hmac.digest(server_key, auth_msg, "sha256")
                conn.sendall(
                    _msg(
                        b"R",
                        struct.pack(">I", 12)
                        + b"v="
                        + base64.b64encode(server_sig),
                    )
                )
        else:  # pragma: no cover
            raise AssertionError(self.auth)
        if not ok:
            self.failures.append(f"auth bytes wrong ({self.auth})")
            conn.sendall(
                _msg(b"E", b"SFATAL\x00C28P01\x00Mpassword authentication failed\x00\x00")
            )
            return False
        conn.sendall(_msg(b"R", struct.pack(">I", 0)))
        return True

    def _rfq(self, conn):
        conn.sendall(_msg(b"Z", b"I"))

    def _serve(self):
        try:
            while True:
                raw, _ = self._srv.accept()
                if self.concurrent:
                    threading.Thread(
                        target=self._serve_conn, args=(raw,), daemon=True
                    ).start()
                else:
                    self._serve_conn(raw)
        except OSError:
            pass  # listener closed

    def _serve_conn(self, raw):
        conn = self._Conn(raw)
        try:
            self._handle(conn)
        except (ConnectionError, OSError):
            pass
        finally:
            conn.close()

    def _handle(self, conn):
        params = self._read_startup(conn)
        if params.get("replication") == "database":
            self.saw_replication_param = True
        if not self._do_auth(conn):
            return
        conn.sendall(_msg(b"S", b"server_version\x0016.3\x00"))
        conn.sendall(_msg(b"K", struct.pack(">II", 1234, 5678)))
        self._rfq(conn)
        while True:
            t, body = self._read_typed(conn)
            if t == b"X":
                return
            if t != b"Q":
                self.failures.append(f"unexpected message {t!r}")
                return
            sql = body[:-1].decode()
            if sql == "IDENTIFY_SYSTEM":
                # RowDescription (4 cols) + DataRow + CommandComplete
                cols = [b"systemid", b"timeline", b"xlogpos", b"dbname"]
                rd = struct.pack(">H", len(cols))
                for c in cols:
                    rd += c + b"\x00" + struct.pack(">IHIHIH", 0, 0, 25, 65535, 0, 0)
                conn.sendall(_msg(b"T", rd))
                vals = [b"7000000000000000001", b"1", self.xlogpos.encode(), DB.encode()]
                dr = struct.pack(">H", len(vals))
                for v in vals:
                    dr += struct.pack(">i", len(v)) + v
                conn.sendall(_msg(b"D", dr))
                conn.sendall(_msg(b"C", b"IDENTIFY_SYSTEM\x00"))
                self._rfq(conn)
            elif sql.startswith("CREATE_REPLICATION_SLOT"):
                self.create_commands.append(sql)
                slot = sql.split()[1]
                if slot in self.created_slots:
                    conn.sendall(
                        _msg(b"E", b"SERROR\x00C42710\x00Mslot exists\x00\x00")
                    )
                else:
                    self.created_slots.append(slot)
                    self.slot_plugins[slot] = sql.split()[3]
                    self.slot_two_phase[slot] = "TWO_PHASE" in sql
                    conn.sendall(_msg(b"C", b"CREATE_REPLICATION_SLOT\x00"))
                self._rfq(conn)
            elif sql.startswith(
                ("SELECT plugin FROM pg_replication_slots",
                 "SELECT plugin, two_phase FROM pg_replication_slots")
            ):
                # catalog probe on the 42710 path (create_slot); the
                # two-column form models PG 15+, the one-column form
                # the pre-15 fallback
                two_col = sql.startswith("SELECT plugin, two_phase")
                want = sql.split("slot_name = '")[1].rstrip("'")
                ncols = 2 if two_col else 1
                rd = struct.pack(">H", ncols) + b"plugin\x00" + struct.pack(
                    ">IHIHIH", 0, 0, 25, 65535, 0, 0
                )
                if two_col:
                    rd += b"two_phase\x00" + struct.pack(">IHIHIH", 0, 0, 16, 1, 0, 0)
                conn.sendall(_msg(b"T", rd))
                if want in self.slot_plugins:
                    vals = [self.slot_plugins[want].encode()]
                    if two_col:
                        vals.append(
                            b"t" if self.slot_two_phase.get(want) else b"f"
                        )
                    dr = struct.pack(">H", len(vals))
                    for v in vals:
                        dr += struct.pack(">i", len(v)) + v
                    conn.sendall(_msg(b"D", dr))
                conn.sendall(_msg(b"C", b"SELECT 1\x00"))
                self._rfq(conn)
            elif sql.startswith("START_REPLICATION"):
                if self.fail_start:
                    state = self.fail_start.pop(0)
                    conn.sendall(
                        _msg(
                            b"E",
                            b"SERROR\x00C" + state.encode()
                            + b"\x00Mreplication slot is active for PID 7\x00\x00",
                        )
                    )
                    self._rfq(conn)
                    continue  # client will close and retry on a new conn
                slot = sql.split()[2]
                with self._lock:
                    active = self.concurrent and slot in self._streaming
                    if active:
                        self.rejected_starts.append(slot)
                    else:
                        self._streaming.add(slot)
                if active:
                    conn.sendall(
                        _msg(
                            b"E",
                            b"SERROR\x00C55006\x00Mreplication slot \""
                            + slot.encode()
                            + b"\" is active for PID 7\x00\x00",
                        )
                    )
                    self._rfq(conn)
                    continue
                try:
                    self._stream(conn, sql)
                finally:
                    with self._lock:
                        self._streaming.discard(slot)
                return
            else:
                self.failures.append(f"unexpected sql {sql!r}")
                return

    def _stream(self, conn, sql):
        self.start_commands.append(sql)
        # token 4 is the LSN: `START_REPLICATION SLOT <slot>
        # LOGICAL <lsn> [(options...)]` — [-1] would grab the
        # options clause when one is present (pgoutput)
        start_lsn = lsn_to_int(sql.split()[4])
        self.start_lsns.append(start_lsn)
        conn.sendall(_msg(b"W", struct.pack(">BH", 0, 0)))
        if self.frames_per_conn is not None:
            with self._lock:
                script = self.frames_per_conn.pop(0) if self.frames_per_conn else []
        else:
            script = self.frames
        self._run_copy_script(conn, script(start_lsn) if callable(script) else script)

    def _run_copy_script(self, conn, script):
        for item in script:
            kind = item[0]
            if kind == "abort":
                # abrupt transport death (no CopyDone, no ErrorResponse)
                # — the network-blip case the client must survive.
                # ``_serve_conn`` closes the socket AFTER the slot is
                # released, so a concurrent reconnect never sees 55006
                return
            if kind == "copydone":
                # end-of-stream handoff: CopyDone, then the post-copy
                # result frames a real walsender sends before going
                # back to command mode (timeline handoff shape)
                conn.sendall(_msg(b"c", b""))
                conn.sendall(_msg(b"C", b"COPY 0\x00"))
                self._rfq(conn)
                return
            if kind == "sleep":
                # a pause between frames, e.g. WAL not yet decoded
                time.sleep(item[1])
                continue
            if kind == "xlog":
                _, lsn, line = item
                body = b"w" + struct.pack(
                    ">qqq", lsn, lsn, pgwire.pg_now_us()
                ) + line.encode()
                conn.sendall(_msg(b"d", body))
            elif kind == "xlog_raw":
                # binary plugin payload (pgoutput) — bytes, not text
                _, lsn, payload = item
                body = b"w" + struct.pack(
                    ">qqq", lsn, lsn, pgwire.pg_now_us()
                ) + payload
                conn.sendall(_msg(b"d", body))
            elif kind == "keepalive":
                _, lsn, reply = item
                body = b"k" + struct.pack(">qq", lsn, pgwire.pg_now_us()) + (
                    b"\x01" if reply else b"\x00"
                )
                conn.sendall(_msg(b"d", body))
            elif kind == "expect_status":
                _, want = item
                t, body = self._read_typed(conn)
                if t != b"d" or body[:1] != b"r":
                    self.failures.append(f"expected status update, got {t!r}")
                    return
                written, flushed, applied, _ts = struct.unpack(">qqqq", body[1:33])
                self.received_status_lsns.append(flushed)
                if not (written == flushed == applied == want):
                    self.failures.append(
                        f"status lsn {written}/{flushed}/{applied} != {want}"
                    )
            elif kind == "error":
                conn.sendall(
                    _msg(b"E", b"SERROR\x00CXX000\x00M" + item[1].encode() + b"\x00\x00")
                )
            else:  # pragma: no cover
                raise AssertionError(kind)
        # hold the connection open (client decides when to stop),
        # recording any further standby status updates it sends
        try:
            while True:
                t, body = self._read_typed(conn)
                if t in (b"X", b"c"):
                    return
                if t == b"d" and body[:1] == b"r":
                    written, flushed, applied, _ts = struct.unpack(
                        ">qqqq", body[1:33]
                    )
                    if not (written == flushed == applied):
                        self.failures.append(
                            f"status fields differ: {written}/{flushed}/{applied}"
                        )
                    self.received_status_lsns.append(flushed)
        except (ConnectionError, OSError):
            return

    def close(self):
        self._srv.close()


def _client(srv: FakeWalsender, password: str | None = None) -> WireConnection:
    return WireConnection(
        host="127.0.0.1", port=srv.port, user=USER, dbname=DB, password=password
    )


# ---------------------------------------------------------------------------
# handshake + auth matrix
# ---------------------------------------------------------------------------
@pytest.mark.parametrize("auth", ["trust", "cleartext", "md5", "scram"])
def test_handshake_and_identify_system(auth):
    srv = FakeWalsender(auth=auth)
    try:
        c = _client(srv, password=None if auth == "trust" else PASSWORD).connect()
        info = c.identify_system()
        assert info["xlogpos"] == XLOGPOS
        assert lsn_to_int(info["xlogpos"]) == 0x16B3748
        assert c.server_params["server_version"] == "16.3"
        c.close()
        assert srv.saw_replication_param, "startup missing replication=database"
        assert srv.failures == [], srv.failures
    finally:
        srv.close()


def test_wrong_password_raises_server_error():
    srv = FakeWalsender(auth="cleartext")
    try:
        with pytest.raises(pgwire.ServerError, match="authentication failed"):
            _client(srv, password="wrong").connect()
        assert srv.failures  # the server really compared the bytes
    finally:
        srv.close()


def test_create_slot_idempotent_on_42710():
    srv = FakeWalsender()
    try:
        c = _client(srv).connect()
        assert c.create_slot("s1") is True
        assert c.create_slot("s1") is False  # 42710 → already exists
        c.close()
        assert srv.created_slots == ["s1"]
    finally:
        srv.close()


def test_slot_name_charset_validated_before_any_wire_traffic():
    """Slot names reach both replication-command text and (on the
    42710 path) a quoted SQL literal for the catalog probe — a quote
    or whitespace would break/inject that query (ADVICE r11). The
    guard must fire client-side, before bytes hit the wire."""
    srv = FakeWalsender()
    try:
        c = _client(srv).connect()
        for bad in ("s'; DROP TABLE x--", "s l o t", "", "s-dash", "s\x00"):
            with pytest.raises(pgwire.WireError, match="invalid replication slot"):
                c.create_slot(bad)
            with pytest.raises(pgwire.WireError, match="invalid replication slot"):
                c.drop_slot(bad)
        c.close()
        assert srv.created_slots == []  # nothing reached the server
    finally:
        srv.close()


def test_create_slot_plugin_mismatch_raises_clearly():
    """A stale test_decoding slot under --plugin pgoutput must fail
    HERE with a clear message, not later at START_REPLICATION with an
    opaque unknown-plugin-option error (advisor r10)."""
    srv = FakeWalsender()
    try:
        c = _client(srv).connect()
        assert c.create_slot("s1", plugin="test_decoding") is True
        with pytest.raises(pgwire.WireError, match="test_decoding.*pgoutput"):
            c.create_slot("s1", plugin="pgoutput")
        # same plugin stays idempotent
        assert c.create_slot("s1", plugin="test_decoding") is False
        c.close()
    finally:
        srv.close()


# ---------------------------------------------------------------------------
# CopyBoth streaming
# ---------------------------------------------------------------------------
def test_replication_frames_decode_and_status_bytes():
    frames = [
        ("xlog", 1000, "BEGIN 700"),
        ("xlog", 1008, "table public.t: INSERT: id[integer]:1"),
        ("xlog", 1016, "COMMIT 700"),
        ("keepalive", 1016, True),
        ("expect_status", 0),  # nothing acked yet
    ]
    srv = FakeWalsender(frames=frames)
    try:
        c = _client(srv).connect()
        c.start_replication("s1", 0)
        got = [c.receive(5.0) for _ in range(4)]
        assert [type(m) for m in got] == [XLogData, XLogData, XLogData, Keepalive]
        assert [m.wal_start for m in got[:3]] == [1000, 1008, 1016]
        assert got[0].line == "BEGIN 700"
        assert got[0].server_time_ms > 1_500_000_000_000  # real unix ms
        assert got[3].reply_requested
        c.send_status(0)
        # ack a real LSN; the server records + checks the exact bytes
        c.send_status(1016)
        import time as _t

        _t.sleep(0.2)
        c.close()
        assert srv.failures == [], srv.failures
        assert srv.received_status_lsns[-1] == 1016
    finally:
        srv.close()


def test_receive_timeout_maps_to_protocol_timeout():
    srv = FakeWalsender(frames=[])  # stream opens, then silence
    try:
        c = _client(srv).connect()
        c.start_replication("s1", 0)
        with pytest.raises(Timeout):
            c.receive(0.1)
        c.close()
    finally:
        srv.close()


def test_error_response_surfaces_as_protocol_error():
    srv = FakeWalsender(frames=[("error", "WAL decode failure")])
    try:
        c = _client(srv).connect()
        c.start_replication("s1", 0)
        msg = c.receive(5.0)
        assert isinstance(msg, ErrorResponse) and "decode failure" in msg.message
        c.close()
    finally:
        srv.close()


# ---------------------------------------------------------------------------
# the protocol state machine over the real wire
# ---------------------------------------------------------------------------
def test_client_loop_end_to_end_over_wire():
    frames = [
        ("xlog", 2000, "BEGIN 800"),
        ("xlog", 2008, "table public.t: INSERT: id[integer]:1"),
        ("xlog", 2016, "COMMIT 800"),
        ("keepalive", 2016, True),
        ("expect_status", 0),
    ]
    srv = FakeWalsender(frames=frames)
    try:
        c = _client(srv).connect()
        c.start_replication("s1", 0)
        loop = ReplicationClientLoop(c, receive_timeout_s=5.0)
        out = []
        while len(out) < 3:
            out.extend(loop.step())
        loop.step()  # the keepalive (answered with a status update)
        assert [m.wal_start for m in out] == [2000, 2008, 2016]
        assert out[1].xid == "800" and out[1].time_based_key == "800-2000"
        assert loop.stats["txns"] == 1 and loop.stats["progress_sent"] == 1
        c.close()
        assert srv.failures == [], srv.failures
    finally:
        srv.close()


# ---------------------------------------------------------------------------
# LiveTransport end-to-end (the pgcdc transport surface)
# ---------------------------------------------------------------------------
def test_live_transport_fetch_and_ack():
    frames = [
        ("xlog", 3000, "BEGIN 900"),
        ("xlog", 3008, "table public.t: INSERT: id[integer]:7"),
        ("xlog", 3016, "COMMIT 900"),
    ]
    srv = FakeWalsender(frames=frames, concurrent=True)
    try:
        from pg_bifrost_spark.sources.pgcdc import LiveTransport

        t = LiveTransport(
            f"postgres://{USER}@127.0.0.1:{srv.port}/{DB}",
            slot="s_live",
            receive_timeout_s=0.3,
        )
        rows = t.fetch(after_lsn=0, limit=10)
        assert [(r[0], r[2]) for r in rows] == [
            (3000, "BEGIN 900"),
            (3008, "table public.t: INSERT: id[integer]:7"),
            (3016, "COMMIT 900"),
        ]
        assert all(r[1] > 1_500_000_000_000 for r in rows)  # server_time_ms real
        t.ack(3016)
        assert t.acked() == 3016
        import time as _t

        _t.sleep(0.2)
        t.close()
        assert srv.failures == [], srv.failures
        assert srv.created_slots == ["s_live"]
        assert srv.received_status_lsns[-1] == 3016
    finally:
        srv.close()


def test_live_transport_current_end_probe():
    srv = FakeWalsender(xlogpos="2/ABCDEF00")
    try:
        from pg_bifrost_spark.sources.pgcdc import LiveTransport

        t = LiveTransport(
            f"postgres://{USER}@127.0.0.1:{srv.port}/{DB}", slot="s2"
        )
        assert t.current_end() == lsn_to_int("2/ABCDEF00")
    finally:
        srv.close()


# ---------------------------------------------------------------------------
# the caught-up exit: a keepalive at the fetch's sampled xlogpos ends it
# ---------------------------------------------------------------------------
CAUGHT_UP = lsn_to_int(XLOGPOS)
PRE_BACKLOG = CAUGHT_UP - 4096  # the slot's start: below every frame


def _backlog(first: int, n_txns: int) -> list:
    frames = []
    for i in range(n_txns):
        lsn = first + 24 * i
        frames += [
            ("xlog", lsn, f"BEGIN {700 + i}"),
            ("xlog", lsn + 8, f"table public.t: INSERT: id[integer]:{i}"),
            ("xlog", lsn + 16, f"COMMIT {700 + i}"),
        ]
    return frames


def _live(srv, slot):
    from pg_bifrost_spark.sources.pgcdc import LiveTransport

    return LiveTransport(
        f"postgres://{USER}@127.0.0.1:{srv.port}/{DB}",
        slot=slot,
        receive_timeout_s=5,
    )


def test_caught_up_keepalive_ends_fetch_without_receive_timeout():
    """Scripted like a PG 15 walsender draining a backlog: a keepalive
    at the pre-backlog position right after START_REPLICATION, the
    XLogData frames, then a keepalive at ``xlogpos`` once it has sent
    everything flushed, and the connection held open. The fetch must
    end on that keepalive with every frame, not sit out the receive
    timeout."""
    frames = _backlog(CAUGHT_UP - 2048, 3)
    script = [("keepalive", PRE_BACKLOG, False), *frames, ("keepalive", CAUGHT_UP, False)]
    srv = FakeWalsender(frames=script, concurrent=True)
    try:
        t = _live(srv, "s_caught_up")
        rows = t.fetch(after_lsn=0, limit=100)
        assert [(r[0], r[2]) for r in rows] == [(f[1], f[2]) for f in frames]
        assert t._loop.stats["receive_timeouts"] == 0
        assert t._loop.server_wal_end == CAUGHT_UP
        assert t.truncations == 0
        t.close()
        assert srv.failures == [], srv.failures
    finally:
        srv.close()


def test_pre_backlog_keepalive_never_ends_a_fetch():
    """The keepalive PG 15 sends right after START_REPLICATION carries
    the start position, before any data. Read as "at or below the
    received position" it would end the fetch empty; against the
    fetch's ``xlogpos`` target it never does, so data that follows a
    pause shorter than the receive timeout is all delivered."""
    frames = _backlog(CAUGHT_UP - 2048, 2)
    script = [
        ("keepalive", PRE_BACKLOG, False),
        ("sleep", 0.5),
        *frames,
        ("keepalive", CAUGHT_UP, False),
    ]
    srv = FakeWalsender(frames=script, concurrent=True)
    try:
        t = _live(srv, "s_pre_backlog")
        rows = t.fetch(after_lsn=PRE_BACKLOG, limit=100)
        assert srv.start_lsns == [PRE_BACKLOG]
        assert [r[0] for r in rows] == [f[1] for f in frames]
        assert t._loop.stats["receive_timeouts"] == 0
        assert t.truncations == 0
        t.close()
    finally:
        srv.close()


def test_cap_exit_then_next_fetch_exits_idle_on_unread_keepalive():
    """A cap exit leaves the caught-up keepalive unread on the socket.
    The next fetch reads it and exits idle, and a fetch on the
    caught-up stream after that returns at once, without a receive."""
    frames = _backlog(CAUGHT_UP - 2048, 2)
    script = [("keepalive", PRE_BACKLOG, False), *frames, ("keepalive", CAUGHT_UP, False)]
    srv = FakeWalsender(frames=script, concurrent=True)
    try:
        t = _live(srv, "s_cap_then_idle")
        first = t.fetch(after_lsn=0, limit=len(frames))
        assert [r[0] for r in first] == [f[1] for f in frames]
        assert t._loop.server_wal_end == PRE_BACKLOG  # keepalive still unread
        last, k = first[-1][0], first[-1][3]
        assert t.fetch(after_lsn=last, limit=100, after_seq=k + 1) == []
        assert t._loop.server_wal_end == CAUGHT_UP
        received = t._loop.stats["received"]
        assert t.fetch(after_lsn=last, limit=100, after_seq=k + 1) == []
        assert t._loop.stats["received"] == received
        assert t._loop.stats["receive_timeouts"] == 0
        assert t.truncations == 0
        t.close()
    finally:
        srv.close()


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------
def test_lsn_and_dsn_helpers():

    assert int_to_lsn(lsn_to_int("A1/22334455")) == "A1/22334455"
    assert lsn_to_int("0/0") == 0
    d = parse_dsn("postgres://alice:pw@db.internal.example:6432/warehouse")
    assert d == {
        "host": "db.internal.example",
        "port": 6432,
        "user": "alice",
        "password": "pw",
        "dbname": "warehouse",
    }
    assert parse_dsn("postgresql://h/x")["dbname"] == "x"
    with pytest.raises(ValueError):
        parse_dsn("mysql://nope")


def test_scram_rejects_tampered_server_signature():
    s = pgwire._Scram(PASSWORD, nonce="clientnonce")
    salt = base64.b64encode(b"saltsalt").decode()
    s.client_final(f"r=clientnonceSRV,s={salt},i=4096".encode())
    with pytest.raises(pgwire.WireError, match="signature"):
        s.verify_server_final(b"v=" + base64.b64encode(os.urandom(32)))


# ---------------------------------------------------------------------------
# TLS negotiation (SSLRequest) — real handshake against a generated cert
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def self_signed_cert(tmp_path_factory):
    import subprocess

    d = tmp_path_factory.mktemp("tls")
    cert, key = str(d / "srv.pem"), str(d / "srv.key")
    subprocess.run(
        ["openssl", "req", "-x509", "-newkey", "rsa:2048", "-nodes",
         "-keyout", key, "-out", cert, "-days", "2", "-subj", "/CN=127.0.0.1"],
        check=True, capture_output=True,
    )
    return cert, key


def test_tls_handshake_and_stream(self_signed_cert):
    """sslmode=require against a TLS-accepting server: real handshake
    (stdlib ssl both sides), then the normal protocol over the
    encrypted channel."""
    cert, key = self_signed_cert
    srv = FakeWalsender(tls="accept", certfile=cert, keyfile=key,
                        frames=[("xlog", 4000, "BEGIN 950"),
                                ("xlog", 4008, "COMMIT 950")])
    try:
        c = WireConnection(host="127.0.0.1", port=srv.port, user=USER,
                           dbname=DB, sslmode="require").connect()
        assert c.tls is True
        assert c.identify_system()["xlogpos"] == XLOGPOS
        c.start_replication("s1", 0)
        m = c.receive(5.0)
        assert isinstance(m, XLogData) and m.wal_start == 4000
        c.close()
        assert srv.failures == [], srv.failures
    finally:
        srv.close()


def test_tls_required_but_refused_fails_loudly():
    srv = FakeWalsender(tls="refuse")
    try:
        with pytest.raises(pgwire.WireError, match="refused TLS"):
            WireConnection(host="127.0.0.1", port=srv.port, user=USER,
                           dbname=DB, sslmode="require").connect()
        # prefer falls back to plaintext on the same server
        c = WireConnection(host="127.0.0.1", port=srv.port, user=USER,
                           dbname=DB, sslmode="prefer").connect()
        assert c.tls is False
        c.close()
    finally:
        srv.close()


def test_dsn_percent_decoding_and_options():
    d = parse_dsn("postgres://al%40ce:p%40ss%2Fword@h:5433/d%62?sslmode=require&connect_timeout=3")
    assert d["user"] == "al@ce" and d["password"] == "p@ss/word"
    assert d["dbname"] == "db" and d["sslmode"] == "require"
    assert d["connect_timeout_s"] == 3.0
    with pytest.raises(ValueError, match="sslmodee"):
        parse_dsn("postgres://u@h/d?sslmodee=require")


def test_split_frame_under_deadline_does_not_desync():
    """A frame split across sends slower than the receive deadline:
    the first receive() times out, the SECOND must still decode the
    frame intact (all-or-nothing buffering — code-review r8)."""
    body = b"w" + struct.pack(">qqq", 7000, 7000, pgwire.pg_now_us()) + b"BEGIN 970"
    frame = _msg(b"d", body)

    srv_sock = socket.socket()
    srv_sock.bind(("127.0.0.1", 0)); srv_sock.listen(1)
    port = srv_sock.getsockname()[1]
    got = {}

    def server():
        conn, _ = srv_sock.accept()
        rfile = conn.makefile("rb")
        ln = struct.unpack(">I", rfile.read(4))[0]
        rfile.read(ln - 4)  # startup (sslmode=disable skips SSLRequest)
        conn.sendall(_msg(b"R", struct.pack(">I", 0)))
        conn.sendall(_msg(b"Z", b"I"))
        t, = struct.unpack("c", rfile.read(1))
        ln = struct.unpack(">I", rfile.read(4))[0]
        rfile.read(ln - 4)  # START_REPLICATION
        conn.sendall(_msg(b"W", struct.pack(">BH", 0, 0)))
        conn.sendall(frame[:3])       # header fragment only
        threading.Event().wait(0.4)   # longer than the client deadline
        conn.sendall(frame[3:])
        got["done"] = True
        threading.Event().wait(0.5)
        conn.close()

    th = threading.Thread(target=server, daemon=True); th.start()
    c = WireConnection(host="127.0.0.1", port=port, user=USER, dbname=DB,
                       sslmode="disable").connect()
    c.start_replication("s1", 0)
    with pytest.raises(Timeout):
        c.receive(0.15)
    m = c.receive(5.0)  # the SAME frame, decoded intact
    assert isinstance(m, XLogData) and m.wal_start == 7000 and m.line == "BEGIN 970"
    c.close(); srv_sock.close()
    assert got.get("done")


def test_live_transport_error_recovery_mid_txn():
    """ErrorResponse mid-transaction on the LIVE path (the S7 wire
    twin): fetch must return the partial txn plus the synthetic
    closing COMMIT with a NON-REGRESSING LSN (it is clamped to the
    batch high-water mark — the raw loop stamps it with the last
    COMMIT LSN, 0 here), then end the batch cleanly instead of
    stepping a closed connection (code-review r8 findings)."""
    frames = [
        ("xlog", 5000, "BEGIN 990"),
        ("xlog", 5008, "table public.t: INSERT: id[integer]:1"),
        ("error", "WAL corrupt"),
    ]
    srv = FakeWalsender(frames=frames, xlogpos="0/2000", concurrent=True)
    try:
        from pg_bifrost_spark.sources.pgcdc import LiveTransport

        t = LiveTransport(
            f"postgres://{USER}@127.0.0.1:{srv.port}/{DB}",
            slot="s_err",
            receive_timeout_s=0.3,
        )
        rows = t.fetch(after_lsn=0, limit=100)
        assert [r[2].split(" ")[0] for r in rows] == ["BEGIN", "table", "COMMIT"]
        lsns = [r[0] for r in rows]
        assert lsns == sorted(lsns), f"end offset regressed: {lsns}"
        assert lsns[-1] == 5008  # synthetic COMMIT clamped to the hwm
        assert t._loop.stats["error_responses"] == 1
        assert t._loop.stats["skip_ahead"] == 1  # probe saw 0/2000 > hwm
        t.close()
        assert srv.failures == [], srv.failures
    finally:
        srv.close()


# ---------------------------------------------------------------------------
# framing property: decoding is invariant to TCP segmentation
# ---------------------------------------------------------------------------
from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=50, deadline=None)
@given(
    lines=st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FA0),
            max_size=120,
        ),
        min_size=1,
        max_size=8,
    ),
    data=st.data(),
)
def test_framing_invariant_under_arbitrary_segmentation(lines, data):
    """A CopyBoth byte stream chopped at ARBITRARY positions (the TCP
    reality) must decode to exactly the same frame sequence — the
    all-or-nothing buffering property, generalized from the one
    split-frame regression test."""
    stream = b""
    want = []
    for i, line in enumerate(lines):
        lsn = 1000 + i * 8
        body = b"w" + struct.pack(">qqq", lsn, lsn, 123_456) + line.encode()
        stream += _msg(b"d", body)
        want.append(("x", lsn, line))
        if data.draw(st.booleans()):
            kb = b"k" + struct.pack(">qq", lsn, 123_456) + b"\x00"
            stream += _msg(b"d", kb)
            want.append(("k", lsn, None))
    cuts = sorted(
        data.draw(
            st.lists(st.integers(0, len(stream)), max_size=12)
        )
    )
    segments = [
        stream[a:b] for a, b in zip([0] + cuts, cuts + [len(stream)]) if b > a
    ]

    class _SegSock:
        """Socket stand-in delivering the stream in the drawn segments."""

        def __init__(self, segs):
            self.segs = list(segs)

        def recv(self, _n):
            return self.segs.pop(0) if self.segs else b""

        def settimeout(self, _t):
            pass

    c = WireConnection(host="x", port=1, user=USER, dbname=DB)
    c._sock = _SegSock(segments)
    c._in_copy = True
    got = []
    for _ in range(len(want)):
        m = c.receive(1.0)
        if isinstance(m, XLogData):
            got.append(("x", m.wal_start, m.line))
        else:
            got.append(("k", m.server_wal_end, None))
    assert got == want


# ---------------------------------------------------------------------------
# transport resilience (ADVICE r8): frame-length cap, reconnect on
# transport-level errors, ack on a dead socket, per-batch replay budget
# ---------------------------------------------------------------------------
class _ScriptedSock:
    """recv() hands out the canned bytes, then EOF."""

    def __init__(self, data: bytes):
        self.data = data

    def recv(self, _n):
        d, self.data = self.data, b""
        return d

    def settimeout(self, _t):
        pass


def test_frame_length_cap_rejected_before_buffering():
    """A hostile/corrupt 4-byte length word must be rejected BEFORE
    _fill tries to buffer it (~4 GiB worst case), and a declared
    length below its own 4 bytes is malformed (ADVICE r8)."""
    for bad_len in (0xFFFFFFF0, pgwire.MAX_FRAME_LEN + 1, 3, 0):
        c = WireConnection(host="x", port=1, user=USER, dbname=DB)
        c._sock = _ScriptedSock(b"d" + struct.pack(">I", bad_len))
        c._in_copy = True
        with pytest.raises(pgwire.WireError, match="frame length"):
            c.receive(1.0)


def test_frame_at_exactly_max_len_is_not_rejected():
    """The cap is exclusive: a frame declaring exactly MAX_FRAME_LEN
    must pass validation (it fails later only for lack of bytes)."""
    c = WireConnection(host="x", port=1, user=USER, dbname=DB)
    c._sock = _ScriptedSock(b"d" + struct.pack(">I", pgwire.MAX_FRAME_LEN))
    c._in_copy = True
    with pytest.raises(pgwire.WireError, match="connection closed"):
        c.receive(1.0)  # EOF while buffering the body — NOT the cap error


def test_live_transport_reconnects_after_transport_blip():
    """Abrupt socket death mid-stream (no CopyDone, no ErrorResponse —
    the network-blip case): fetch returns what it has, and the NEXT
    fetch reconnects from the acked LSN (client.go:386-424 reconnects
    on ANY receive error, not just server-sent ones — ADVICE r8)."""
    scripts = [
        [
            ("xlog", 3000, "BEGIN 900"),
            ("xlog", 3008, "table public.t: INSERT: id[integer]:7"),
            ("xlog", 3016, "COMMIT 900"),
            ("abort",),
        ],
        [
            ("xlog", 3024, "BEGIN 901"),
            ("xlog", 3032, "COMMIT 901"),
        ],
    ]
    srv = FakeWalsender(frames_per_conn=scripts, concurrent=True)
    try:
        from pg_bifrost_spark.sources.pgcdc import LiveTransport

        t = LiveTransport(
            f"postgres://{USER}@127.0.0.1:{srv.port}/{DB}",
            slot="s_blip",
            receive_timeout_s=0.3,
            reconnect_backoff_s=0.01,
        )
        # ONE fetch spans the blip: reconnect mid-batch from the
        # emitted high-water mark, continue, end on stream-idle — so
        # an under-cap batch truly means "drained", preserving the
        # drain loop's admission contract (caught by the r9 e2e drive)
        rows = t.fetch(after_lsn=0, limit=100)
        assert [r[0] for r in rows] == [3000, 3008, 3016, 3024, 3032]
        assert [r[2] for r in rows][-2:] == ["BEGIN 901", "COMMIT 901"]
        assert t.stats["transport_errors"] == 1
        assert t.stats["connects"] == 2
        # the reconnect resumed from the high-water mark, byte-asserted
        assert srv.start_lsns == [0, 3016]
        t.ack(3032)
        import time as _time

        _time.sleep(0.2)
        t.close()
        assert srv.failures == [], srv.failures
        assert srv.received_status_lsns[-1] == 3032
    finally:
        srv.close()


def test_ack_on_dead_socket_degrades_to_local_record():
    """send_progress on a torn-down socket must not kill the pipeline:
    the ack stays durable locally and the connection is dropped so the
    next fetch reconnects (ADVICE r8)."""
    from pg_bifrost_spark.sources.pgcdc import LiveTransport

    t = LiveTransport("postgres://u@127.0.0.1:1/db", slot="s")

    class _Loop:
        def ack(self, lsn):
            pass

        def send_progress(self):
            raise OSError("broken pipe")

    class _Conn:
        _sock = object()

        def close(self):
            self._sock = None

    t._conn, t._loop = _Conn(), _Loop()
    t.ack(777)  # must not raise
    assert t.acked() == 777
    assert t._conn is None and t._loop is None
    assert t.stats["transport_errors"] == 1


def test_fetch_budget_bounds_replay_latency():
    """Replaying already-acked WAL yields nothing (every frame is
    filtered by after_lsn) and never hits a receive timeout, so
    without a wall-clock budget one micro-batch blocks for the whole
    replay window (ADVICE r8). The budget must close the batch."""
    import time as _time

    from pg_bifrost_spark.sources.pgcdc import LiveTransport
    from pg_bifrost_spark.sources.protocol import WalMessage

    t = LiveTransport("postgres://u@127.0.0.1:1/db", slot="s", fetch_budget_s=0.2)

    class _Loop:
        stats: dict = {}
        server_wal_end = 0  # no keepalive: the stream never catches up

        def step(self):
            # an endless stream of already-seen WAL, below after_lsn
            return [
                WalMessage(wal_start=5, line="BEGIN 1", xid="1", time_based_key="1-5")
            ]

    class _Conn:
        _sock = object()

        def current_server_lsn(self):
            return 200

    t._conn, t._loop = _Conn(), _Loop()
    t0 = _time.monotonic()
    rows = t.fetch(after_lsn=100, limit=10)
    assert rows == []
    assert _time.monotonic() - t0 < 2.0
    assert t.stats["fetch_budget_exhausted"] == 1


def test_connect_retry_exhaustion_raises_after_backoff():
    """A hard-down server IS fatal: bounded attempts, then the last
    error surfaces (matching the reference runner's crash-on-dead-db)."""
    from pg_bifrost_spark.sources.pgcdc import LiveTransport

    probe = socket.socket()
    probe.bind(("127.0.0.1", 0))
    dead_port = probe.getsockname()[1]
    probe.close()  # nothing listens there now
    t = LiveTransport(
        f"postgres://u@127.0.0.1:{dead_port}/db",
        slot="s",
        max_connect_attempts=3,
        reconnect_backoff_s=0.01,
    )
    with pytest.raises(OSError):
        t.fetch(after_lsn=0, limit=1)
    assert t.stats["transport_errors"] == 3
    assert t.stats["connects"] == 0


# ---------------------------------------------------------------------------
# wire-client conformance appendix (VERDICT r8 ask #7): behaviors a
# first real deploy exercises — CopyDone mid-stream, frames spanning
# the 64 KiB recv buffer exactly, keepalive reply-requested under TLS.
# Real-server-only residue (timeline switch CONTENT) is documented in
# PARITY.md next to the deploy rig.
# ---------------------------------------------------------------------------
def test_copydone_midstream_recovers_and_reconnects():
    """Server ends the copy stream mid-transaction (CopyDone + the
    post-copy result frames — the timeline-handoff shape): the client
    treats it as stream end, closes the open txn with a synthetic
    COMMIT, and the next fetch reconnects from the acked LSN."""
    scripts = [
        [
            ("xlog", 6000, "BEGIN 970"),
            ("xlog", 6008, "table public.t: INSERT: id[integer]:1"),
            ("copydone",),
        ],
        [
            ("xlog", 23803730, "BEGIN 971"),
            ("xlog", 23803738, "COMMIT 971"),
        ],
    ]
    srv = FakeWalsender(frames_per_conn=scripts, concurrent=True)
    try:
        from pg_bifrost_spark.sources.pgcdc import LiveTransport

        t = LiveTransport(
            f"postgres://{USER}@127.0.0.1:{srv.port}/{DB}",
            slot="s_cd",
            receive_timeout_s=0.3,
            reconnect_backoff_s=0.01,
        )
        rows = t.fetch(after_lsn=0, limit=100)
        assert [r[2].split(" ")[0] for r in rows] == ["BEGIN", "table", "COMMIT"]
        assert rows[-1][0] == 6008  # synthetic COMMIT clamped to batch hwm
        assert t._loop.stats["error_responses"] == 1
        assert not t._connected()
        t.ack(6008)
        rows2 = t.fetch(after_lsn=6008, limit=100)
        assert [r[0] for r in rows2] == [23803730, 23803738]
        assert srv.start_lsns == [0, 6008]
        t.close()
        assert srv.failures == [], srv.failures
    finally:
        srv.close()


def test_xlogdata_spanning_recv_buffer_boundary():
    """An XLogData frame larger than one recv() buffer, including the
    EXACT 64 KiB boundary (the _fill chunk size), must decode intact.
    The kernel never hands more than the buffer size per recv — the
    scripted socket reproduces that hard edge deterministically."""

    class _ChunkSock:
        def __init__(self, data: bytes, chunk: int = 65536):
            self.data, self.chunk = data, chunk

        def recv(self, n):
            take = min(len(self.data), n, self.chunk)
            d, self.data = self.data[:take], self.data[take:]
            return d

        def settimeout(self, _t):
            pass

    for total in (65536, 65537, 65541, 131072):
        pad = total - 5 - 25  # 5 header bytes, 25 = 'w' + 3 qwords
        line = "x" * pad
        body = b"w" + struct.pack(">qqq", 9000, 9000, 123_456) + line.encode()
        frame = _msg(b"d", body)
        assert len(frame) == total
        c = WireConnection(host="x", port=1, user=USER, dbname=DB)
        c._sock = _ChunkSock(frame)
        c._in_copy = True
        m = c.receive(1.0)
        assert isinstance(m, XLogData) and m.wal_start == 9000
        assert m.line == line, f"frame of {total} bytes corrupted"


def test_keepalive_reply_requested_under_tls(self_signed_cert):
    """Reply-requested keepalive over a REAL TLS channel: the standby
    status update must come back through the encrypted socket with the
    acked LSN (the deploy posture — sslmode=require + heartbeats)."""
    import time as _time

    cert, key = self_signed_cert
    srv = FakeWalsender(
        tls="accept",
        certfile=cert,
        keyfile=key,
        frames=[("keepalive", 4100, True), ("expect_status", 4096)],
    )
    try:
        c = WireConnection(
            host="127.0.0.1", port=srv.port, user=USER, dbname=DB, sslmode="require"
        ).connect()
        assert c.tls is True
        c.start_replication("s_tlska", 0)
        loop = ReplicationClientLoop(c, receive_timeout_s=2.0)
        loop.ack(4096)
        assert loop.step() == []  # keepalive consumed, status sent
        _time.sleep(0.2)
        c.close()
        assert srv.failures == [], srv.failures
        assert srv.received_status_lsns[-1] == 4096
    finally:
        srv.close()


# ---------------------------------------------------------------------------
# code-review r9 findings: equal-LSN admission, ServerError retry,
# deadline-capped backoff
# ---------------------------------------------------------------------------
def test_equal_lsn_begin_and_first_change_both_admitted():
    """A real walsender can stamp BEGIN and the transaction's first
    change with the SAME wal_start — the admission filter must never
    drop the equal-LSN successor (code-review r9: a `> hwm` filter
    silently lost the first DML of every transaction)."""
    frames = [
        ("xlog", 5000, "BEGIN 42"),
        ("xlog", 5000, "table public.t: INSERT: id[integer]:1"),
        ("xlog", 5008, "COMMIT 42"),
    ]
    srv = FakeWalsender(frames=frames, concurrent=True)
    try:
        from pg_bifrost_spark.sources.pgcdc import LiveTransport

        t = LiveTransport(
            f"postgres://{USER}@127.0.0.1:{srv.port}/{DB}",
            slot="s_eq",
            receive_timeout_s=0.3,
        )
        rows = t.fetch(after_lsn=0, limit=100)
        assert [r[2].split(" ")[0] for r in rows] == ["BEGIN", "table", "COMMIT"]
        assert [r[0] for r in rows] == [5000, 5000, 5008]
        # each frame carries its equal-LSN run index k (ADVICE r9); a
        # COMMIT that opens its run takes no index (assembly.run_head_k)
        assert [r[3] for r in rows] == [0, 1, -1]
        t.close()
    finally:
        srv.close()


def test_equal_lsn_batch_boundary_resumes_mid_run():
    """ADVICE r9 (medium): when the LIMIT cut lands BETWEEN two
    equal-LSN frames, the next batch's offset (lsn, seq) must resume
    mid-run instead of skipping the run tail — an LSN-only filter
    would silently drop the first DML of the transaction."""
    frames = [
        ("xlog", 5000, "BEGIN 42"),
        ("xlog", 5000, "table public.t: INSERT: id[integer]:1"),
        ("xlog", 5008, "COMMIT 42"),
    ]
    srv = FakeWalsender(frames=frames, concurrent=True)
    try:
        from pg_bifrost_spark.sources.pgcdc import LiveTransport

        dsn = f"postgres://{USER}@127.0.0.1:{srv.port}/{DB}"
        t = LiveTransport(dsn, slot="s_eqcut", receive_timeout_s=0.3)
        first = t.fetch(after_lsn=0, limit=1)  # the cut: BEGIN only
        assert [(r[0], r[3]) for r in first] == [(5000, 0)]
        t.close()

        # a FRESH transport (new connection, run counters realigned by
        # the server's resend) resuming from position (5000, seq=1):
        # the equal-LSN successor is delivered, nothing lost
        t2 = LiveTransport(dsn, slot="s_eqcut", receive_timeout_s=0.3)
        rest = t2.fetch(after_lsn=5000, limit=100, after_seq=1)
        assert [(r[0], r[2].split(" ")[0]) for r in rest] == [
            (5000, "table"),
            (5008, "COMMIT"),
        ]
        # legacy offset form (seq=None) keeps the old strictly-greater
        # admission for pre-seq checkpoints
        t2.close()
        t3 = LiveTransport(dsn, slot="s_eqcut", receive_timeout_s=0.3)
        legacy = t3.fetch(after_lsn=5000, limit=100)
        assert [r[0] for r in legacy] == [5008]
        t3.close()
        assert srv.failures == [], srv.failures
    finally:
        srv.close()


def test_resume_at_commit_admits_next_txn_begin():
    """A batch that ends on a COMMIT at LSN X leaves the offset at X.
    A walsender restarted at X does not resend that COMMIT, so the next
    transaction's BEGIN (stamped with the same X) is the first frame of
    the new connection's run. The resume position must still admit it:
    the reader, not the run index, decides what was consumed."""
    from pg_bifrost_spark.sources.pgcdc import PgCdcLiveReader
    from pg_bifrost_spark.sources.testing import read_batch

    scripts = [
        [
            ("xlog", 4992, "BEGIN 41"),
            ("xlog", 4992, "table public.t: INSERT: id[integer]:1"),
            ("xlog", 5000, "COMMIT 41"),
        ],
        [
            ("xlog", 5000, "BEGIN 42"),
            ("xlog", 5000, "table public.t: INSERT: id[integer]:2"),
            ("xlog", 5008, "COMMIT 42"),
        ],
    ]
    srv = FakeWalsender(frames_per_conn=scripts, concurrent=True)
    opts = {
        "dsn": f"postgres://{USER}@127.0.0.1:{srv.port}/{DB}",
        "slot": "s_resume_commit",
        "max_msgs_per_batch": "3",
    }
    try:
        r1 = PgCdcLiveReader(opts)
        rows, end = read_batch(r1, r1.initialOffset())
        assert [r[4] for r in rows][-1] == "COMMIT 41"
        r1.commit(end)
        r1.transport.close()

        r2 = PgCdcLiveReader(opts)  # a new query: a new connection
        rows, _ = read_batch(r2, end)
        r2.transport.close()
        assert [(r[0], r[4].split(" ")[0], r[5]) for r in rows] == [
            (5000, "BEGIN", "42"),
            (5000, "table", "42"),
            (5008, "COMMIT", "42"),
        ]
        assert srv.start_lsns == [0, 5000]
        assert srv.failures == [], srv.failures
    finally:
        srv.close()


def test_idle_live_slot_drains_through_spark(spark, tmp_path):
    """A drain that starts on an idle live slot must neither die nor
    open a second connection to the slot: the driver-side source
    process holds the one replication connection, executors read only
    the rows it fetched, and the reader's stop() releases the slot for
    the next query. The walsender refuses, as Postgres does, a
    START_REPLICATION on a slot another connection is streaming."""
    import json

    from pg_bifrost_spark.streaming.core import drain_cdc_query

    one_txn = [
        ("xlog", 6000, "BEGIN 60"),
        ("xlog", 6000, "table public.t: INSERT: id[integer]:1"),
        ("xlog", 6008, "COMMIT 60"),
    ]
    srv = FakeWalsender(frames_per_conn=[[], one_txn], concurrent=True)
    opts = {"dsn": f"postgres://{USER}@127.0.0.1:{srv.port}/{DB}", "slot": "s_idle"}
    ckpt = str(tmp_path / "ckpt")
    seen: list[tuple] = []

    def sink(df, epoch_id):
        seen.extend(
            (r.transaction, json.loads(r.json)["columns"]["id"]["new"]["v"])
            for r in df.collect()
            if r.json
        )

    try:
        drain_cdc_query(spark, sink, ckpt, source_options=opts)  # idle: sends nothing
        assert seen == []
        drain_cdc_query(spark, sink, ckpt, source_options=opts)
        assert seen == [("60", "1")]
        assert srv.rejected_starts == []  # stop() released the first connection
        assert srv.start_lsns == [0, 0]
        assert srv.failures == [], srv.failures
    finally:
        srv.close()


def test_zero_connect_attempts_rejected():
    """ADVICE r9 (low): max_connect_attempts=0 would make the retry
    loop body never run and ``raise last_exc`` raise None."""
    from pg_bifrost_spark.sources.pgcdc import LiveTransport

    with pytest.raises(ValueError, match="max_connect_attempts"):
        LiveTransport("postgres://u@127.0.0.1:5432/db", slot="s", max_connect_attempts=0)


def test_server_error_on_start_replication_is_retried():
    """Right after a blip the server-side walsender often still holds
    the slot (SQLSTATE 55006) — it arrives as an ErrorResponse, not a
    socket error, and must go through the same bounded backoff
    (code-review r9: ServerError bypassed the retry and killed the
    query on the exact error a blip produces)."""
    srv = FakeWalsender(
        frames=[("xlog", 7000, "BEGIN 1"), ("xlog", 7008, "COMMIT 1")],
        fail_start=["55006", "55006"],
        concurrent=True,
    )
    try:
        from pg_bifrost_spark.sources.pgcdc import LiveTransport

        t = LiveTransport(
            f"postgres://{USER}@127.0.0.1:{srv.port}/{DB}",
            slot="s_active",
            receive_timeout_s=0.3,
            reconnect_backoff_s=0.01,
        )
        rows = t.fetch(after_lsn=0, limit=10)
        assert [r[0] for r in rows] == [7000, 7008]
        assert t.stats["transport_errors"] == 2  # the two 55006 rejections
        assert t.stats["connects"] == 1
        t.close()
    finally:
        srv.close()


def test_reconnect_backoff_respects_fetch_budget():
    """The backoff schedule must not overshoot fetch_budget_s: with a
    10 s backoff and a 0.3 s budget against a dead port, fetch raises
    within the budget's magnitude, not the schedule's (code-review
    r9)."""
    import time as _time

    from pg_bifrost_spark.sources.pgcdc import LiveTransport

    probe = socket.socket()
    probe.bind(("127.0.0.1", 0))
    dead_port = probe.getsockname()[1]
    probe.close()
    t = LiveTransport(
        f"postgres://u@127.0.0.1:{dead_port}/db",
        slot="s",
        fetch_budget_s=0.3,
        reconnect_backoff_s=10.0,
        max_connect_attempts=5,
    )
    t0 = _time.monotonic()
    with pytest.raises(OSError):
        t.fetch(after_lsn=0, limit=1)
    assert _time.monotonic() - t0 < 3.0  # never the 10+20+40 s schedule


def test_create_slot_two_phase_mismatch_raises_clearly():
    """A pre-existing slot created WITHOUT two_phase must refuse a
    two_phase=True create at create time — PostgreSQL cannot alter a
    slot's two_phase after decoding starts, so deferring the failure
    to START_REPLICATION is an opaque reconnect loop (code-review
    r11-late #2)."""
    srv = FakeWalsender()
    try:
        c = _client(srv).connect()
        assert c.create_slot("s2", plugin="pgoutput") is True
        with pytest.raises(pgwire.WireError, match="two_phase=off"):
            c.create_slot("s2", plugin="pgoutput", two_phase=True)
        # matching flag stays idempotent, both ways
        assert c.create_slot("s2", plugin="pgoutput", two_phase=False) is False
        assert c.create_slot("s3", plugin="pgoutput", two_phase=True) is True
        assert c.create_slot("s3", plugin="pgoutput", two_phase=True) is False
        with pytest.raises(pgwire.WireError, match="two_phase=on"):
            c.create_slot("s3", plugin="pgoutput", two_phase=False)
        c.close()
    finally:
        srv.close()
