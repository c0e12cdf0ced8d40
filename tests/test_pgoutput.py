"""pgoutput binary-plugin support (cdc/pgoutput.py + the conn adapter).

Strategy mirrors the engine's other decoders: encoder/decoder round
trips per message type, declared-count bomb guards, a hypothesis fuzz
property ("arbitrary bytes never raise anything but PgOutputError"),
adapter semantics over a scripted conn, and the full wire path — a
FakeWalsender speaking real pgoutput bytes over a localhost socket
through LiveTransport(plugin="pgoutput").

Reference contrast: the reference consumes only test_decoding
(utils/utils.go:50); pgoutput is the in-core plugin real deployments
use, so this is an engine extension, canonicalized into the same
event form the reference's parser grammar defines.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pg_bifrost_spark.cdc.parser import parse_line
from pg_bifrost_spark.cdc.pgoutput import (
    PgOutputDecoder,
    PgOutputError,
    encode_begin,
    encode_commit,
    encode_delete,
    encode_insert,
    encode_logical_message,
    encode_origin,
    encode_relation,
    encode_truncate,
    encode_update,
    type_name,
)
from pg_bifrost_spark.sources.protocol import (
    Keepalive,
    PgOutputConnAdapter,
    ReplicationClientLoop,
    Timeout,
    XLogData,
)

REL = [("id", 23, -1), ("name", 1043, 259), ("note", 25, -1)]


def _decoder_with_rel(relid: int = 1, **kw) -> PgOutputDecoder:
    d = PgOutputDecoder(**kw)
    assert d.decode(encode_relation(relid, "public", "t", REL, key_cols={"id"})) is None
    return d


# ---------------------------------------------------------------------------
# type-OID rendering
# ---------------------------------------------------------------------------
def test_type_names_and_typmods():
    assert type_name(23) == "integer"
    assert type_name(20) == "bigint"
    assert type_name(1043, 259) == "character varying(255)"
    assert type_name(1042, 14) == "character(10)"
    # numeric(10,2): ((10 << 16) | 2) + 4
    assert type_name(1700, ((10 << 16) | 2) + 4) == "numeric(10,2)"
    assert type_name(1700) == "numeric"
    assert type_name(1184) == "timestamp with time zone"
    assert type_name(1007) == "integer[]"
    assert type_name(999999) == "oid:999999"  # honest about unknown OIDs


# ---------------------------------------------------------------------------
# per-message decode → canonical line → existing parser
# ---------------------------------------------------------------------------
def test_begin_commit_carry_xid():
    d = PgOutputDecoder()
    assert d.decode(encode_begin(707)) == "BEGIN 707"
    # pgoutput Commit has no xid — the decoder carries the BEGIN's
    assert d.decode(encode_commit()) == "COMMIT 707"


def test_insert_renders_quoting_null_and_escapes():
    d = _decoder_with_rel()
    line = d.decode(encode_insert(1, ["1", "it's", None]))
    assert line == (
        "table public.t: INSERT: id[integer]:1 "
        "name[character varying(255)]:'it''s' note[text]:null"
    )
    pm = parse_line(line)
    assert pm.error is None
    assert pm.columns["id"] == ("1", "integer", False)
    assert pm.columns["name"] == ("it's", "character varying(255)", True)
    assert pm.columns["note"] == ("null", "text", False)


def test_update_with_old_tuple_and_toast_sentinel():
    d = _decoder_with_rel()
    line = d.decode(encode_update(1, ["1", "x", Ellipsis], old=["1", "old", None]))
    pm = parse_line(line)
    assert pm.operation == "UPDATE" and pm.error is None
    assert pm.old_columns["name"] == ("old", "character varying(255)", True)
    # 'u' cell kind → the unquoted sentinel the marshaller substitutes
    # (marshaller.go:276-283)
    assert pm.columns["note"] == ("unchanged-toast-datum", "text", False)


def test_update_without_old_tuple():
    d = _decoder_with_rel()
    pm = parse_line(d.decode(encode_update(1, ["2", "y", "z"])))
    assert pm.operation == "UPDATE" and not pm.old_columns and pm.error is None


def test_delete_renders_key_cells():
    d = _decoder_with_rel()
    pm = parse_line(d.decode(encode_delete(1, ["9", None, None])))
    assert pm.operation == "DELETE" and pm.error is None
    assert pm.columns["id"] == ("9", "integer", False)


def test_truncate_flags_render_like_test_decoding():
    d = _decoder_with_rel()
    d.decode(encode_relation(2, "public", "u", REL))
    assert d.decode(encode_truncate([1])) == "table public.t: TRUNCATE: (no-flags)"
    assert (
        d.decode(encode_truncate([1, 2], cascade=True, restart_seqs=True))
        == "table public.t, public.u: TRUNCATE: restart_seqs cascade"
    )
    pm = parse_line(d.decode(encode_truncate([1], cascade=True)))
    assert pm.operation == "TRUNCATE" and pm.error is None


def test_metadata_frames_produce_no_event():
    d = _decoder_with_rel()
    assert d.decode(encode_origin()) is None
    assert d.decode(encode_logical_message("p", b"x")) is None
    assert d.stats["origins"] == 1 and d.stats["messages"] == 1
    assert d.last_origin == "origin"


def test_binary_cell_renders_bytea_hex():
    d = PgOutputDecoder()
    d.decode(encode_relation(1, "public", "b", [("id", 23, -1), ("payload", 17, -1)]))
    pm = parse_line(d.decode(encode_insert(1, ["1", b"\x00\xff"])))
    assert pm.columns["payload"] == ("\\x00ff", "bytea", False)


def test_binary_cell_on_non_bytea_column_raises():
    """'b' cells carry the type's BINARY wire format; hexing an int4's
    big-endian bytes would silently corrupt the canonical value, so
    any 'b' cell on a non-bytea column is refused (advisor r10)."""
    d = PgOutputDecoder()
    d.decode(encode_relation(1, "public", "b", [("id", 23, -1), ("payload", 17, -1)]))
    with pytest.raises(PgOutputError, match="non-bytea"):
        d.decode(encode_insert(1, [b"\x00\x00\x00\x01", b"ok"]))


def test_relation_resend_evolves_schema():
    """ALTER TABLE mid-stream: a re-sent Relation frame replaces the
    registry entry and subsequent tuples decode under the new shape —
    the pgoutput analog of cdc_schema_evolution."""
    d = _decoder_with_rel()
    d.decode(encode_relation(1, "public", "t", REL + [("extra", 20, -1)]))
    line = d.decode(encode_insert(1, ["1", "a", "b", "42"]))
    pm = parse_line(line)
    assert pm.columns["extra"] == ("42", "bigint", False)


# ---------------------------------------------------------------------------
# malformed frames: every declared count is capacity-checked up front
# ---------------------------------------------------------------------------
@pytest.mark.parametrize(
    "frame",
    [
        b"",  # empty
        b"Z",  # unknown tag
        b"B\x00\x00",  # truncated begin
        b"I" + b"\x00\x00\x00\x01" + b"N" + b"\xff\xff",  # 65535 cells declared
        b"R" + b"\x00\x00\x00\x01" + b"p\x00t\x00d" + b"\xff\xff",  # 65535 cols
        b"T" + b"\xff\xff\xff\xff" + b"\x00",  # 4 G truncated relations
        b"I" + b"\x00\x00\x00\x63" + b"N\x00\x00",  # unknown relation id
    ],
)
def test_malformed_frames_raise_pgoutput_error_fast(frame):
    d = _decoder_with_rel()
    with pytest.raises(PgOutputError):
        d.decode(frame)


def test_cell_count_must_match_relation():
    d = _decoder_with_rel()
    with pytest.raises(PgOutputError):
        d.decode(encode_insert(1, ["1", "2"]))  # relation declares 3


@settings(max_examples=300, deadline=None)
@given(st.binary(min_size=0, max_size=200))
def test_fuzz_decoder_never_raises_other_exceptions(data):
    """Arbitrary bytes → PgOutputError or a decoded result, never
    anything else (the MP4/JPEG decoder standard)."""
    d = _decoder_with_rel()
    try:
        d.decode(data)
    except PgOutputError:
        pass


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.just(Ellipsis),
            st.text(max_size=20),
            st.binary(max_size=20),
        ),
        min_size=0,
        max_size=6,
    )
)
def test_fuzz_encode_decode_roundtrip_parses(values):
    """Any encodable tuple decodes to a line the parser accepts.
    bytes values encode as 'b' cells, which only bytea columns accept."""
    cols = [
        (f"c{i}", 17 if isinstance(v, bytes) else 25, -1)
        for i, v in enumerate(values)
    ]
    d = PgOutputDecoder()
    d.decode(encode_relation(5, "public", "r", cols))
    line = d.decode(encode_insert(5, values))
    pm = parse_line(line)
    assert pm.error is None and pm.operation == "INSERT"
    assert len(pm.columns) == len(values)


# ---------------------------------------------------------------------------
# conn adapter
# ---------------------------------------------------------------------------
class _ScriptConn:
    def __init__(self, msgs):
        self.msgs = list(msgs)
        self.statuses: list[int] = []

    def receive(self, timeout_s):
        if not self.msgs:
            raise Timeout()
        return self.msgs.pop(0)

    def send_status(self, lsn):
        self.statuses.append(lsn)

    def close(self):
        pass

    def current_server_lsn(self):
        return 0


def _raw(lsn: int, payload: bytes) -> XLogData:
    return XLogData(wal_start=lsn, line="", raw=payload)


def test_adapter_swallows_metadata_and_canonicalizes():
    conn = _ScriptConn(
        [
            _raw(10, encode_relation(1, "public", "t", REL)),
            _raw(10, encode_begin(5)),
            _raw(11, encode_insert(1, ["1", "a", None])),
            Keepalive(server_wal_end=12),
            _raw(12, encode_commit()),
        ]
    )
    ad = PgOutputConnAdapter(conn)
    m1 = ad.receive(1.0)  # relation swallowed, begin surfaces
    assert isinstance(m1, XLogData) and m1.line == "BEGIN 5" and m1.raw is None
    m2 = ad.receive(1.0)
    assert m2.line.startswith("table public.t: INSERT:")
    assert isinstance(ad.receive(1.0), Keepalive)  # passthrough
    assert ad.receive(1.0).line == "COMMIT 5"
    with pytest.raises(Timeout):
        ad.receive(0.01)


def test_adapter_drops_invalid_frames_and_counts():
    conn = _ScriptConn(
        [
            _raw(10, b"\x99garbage"),
            _raw(10, encode_begin(5)),
        ]
    )
    ad = PgOutputConnAdapter(conn)
    assert ad.receive(1.0).line == "BEGIN 5"
    assert ad.stats["invalid_msgs"] == 1


def test_adapter_feeds_client_loop_end_to_end():
    """The loop's transaction stamping works unchanged over
    canonicalized pgoutput frames — time_based_key, xid, dup
    accounting all plugin-agnostic."""
    conn = _ScriptConn(
        [
            _raw(100, encode_relation(1, "public", "t", REL)),
            _raw(100, encode_begin(42)),
            _raw(101, encode_insert(1, ["7", "n", None])),
            _raw(102, encode_commit()),
        ]
    )
    loop = ReplicationClientLoop(PgOutputConnAdapter(conn), receive_timeout_s=0.1)
    msgs = []
    for _ in range(3):
        msgs.extend(loop.step())
    assert [m.line.split(" ")[0] for m in msgs] == ["BEGIN", "table", "COMMIT"]
    assert all(m.xid == "42" for m in msgs)
    assert all(m.time_based_key == "42-100" for m in msgs)
    assert loop.stats["txns"] == 1 and loop.stats["txns_dup"] == 0


# ---------------------------------------------------------------------------
# full wire path: FakeWalsender speaking pgoutput bytes → LiveTransport
# ---------------------------------------------------------------------------
def test_live_transport_pgoutput_end_to_end():
    from pg_bifrost_spark.sources.pgcdc import LiveTransport
    from tests.test_pgwire import DB, USER, FakeWalsender

    frames = [
        ("xlog_raw", 100, encode_relation(1, "public", "t", REL, key_cols={"id"})),
        ("xlog_raw", 100, encode_begin(9)),
        ("xlog_raw", 108, encode_insert(1, ["1", "alpha", None])),
        ("xlog_raw", 116, encode_update(1, ["1", "beta", Ellipsis], old=["1", "alpha", None])),
        ("xlog_raw", 124, encode_commit()),
    ]
    srv = FakeWalsender(frames=frames, concurrent=True)
    try:
        t = LiveTransport(
            f"postgresql://{USER}@127.0.0.1:{srv.port}/{DB}",
            "s1",
            plugin="pgoutput",
            publication_names="mypub",
            receive_timeout_s=0.3,
            max_connect_attempts=1,
        )
        rows = t.fetch(0, 10)
        lines = [r[2] for r in rows]
        assert lines[0] == "BEGIN 9"
        assert lines[1].startswith("table public.t: INSERT:")
        assert "old-key:" in lines[2] and "unchanged-toast-datum" in lines[2]
        assert lines[3] == "COMMIT 9"
        assert [r[0] for r in rows] == [100, 108, 116, 124]
        # the START_REPLICATION command carried the pgoutput options
        cmd = srv.start_commands[0]
        assert '"proto_version" \'1\'' in cmd
        assert '"publication_names" \'mypub\'' in cmd
        # and the slot was created with the pgoutput plugin
        assert any("LOGICAL pgoutput" in c for c in srv.create_commands)
        t.close()
    finally:
        srv.close()


# ---------------------------------------------------------------------------
# protocol v2: streamed in-progress transactions
# ---------------------------------------------------------------------------
from pg_bifrost_spark.cdc.pgoutput import (  # noqa: E402
    encode_stream_abort,
    encode_stream_commit,
    encode_stream_start,
    encode_stream_stop,
    encode_streamed,
)


def _v2_decoder() -> PgOutputDecoder:
    d = PgOutputDecoder(proto_version=2)
    assert d.decode_events(encode_relation(1, "public", "t", REL)) == []
    return d


def _ins(d, xid, val):
    return d.decode_events(
        encode_streamed(encode_insert(1, [str(val), "x", None]), xid)
    )


def test_stream_commit_replays_whole_txn_in_order():
    d = _v2_decoder()
    assert d.decode_events(encode_stream_start(700)) == []
    assert _ins(d, 700, 1) == []
    assert _ins(d, 700, 2) == []
    assert d.decode_events(encode_stream_stop()) == []
    # second segment of the same txn
    assert d.decode_events(encode_stream_start(700, first_segment=False)) == []
    assert _ins(d, 700, 3) == []
    assert d.decode_events(encode_stream_stop()) == []
    events = d.decode_events(encode_stream_commit(700))
    assert events[0] == "BEGIN 700" and events[-1] == "COMMIT 700"
    assert [parse_line(e).columns["id"][0] for e in events[1:-1]] == ["1", "2", "3"]
    assert d.stats["stream_commits"] == 1


def test_interleaved_streams_commit_independently():
    """Two large transactions stream segment-interleaved (the reason
    the feature exists); each commit replays only its own lines."""
    d = _v2_decoder()
    d.decode_events(encode_stream_start(10))
    _ins(d, 10, 100)
    d.decode_events(encode_stream_stop())
    d.decode_events(encode_stream_start(20))
    _ins(d, 20, 200)
    d.decode_events(encode_stream_stop())
    d.decode_events(encode_stream_start(10, first_segment=False))
    _ins(d, 10, 101)
    d.decode_events(encode_stream_stop())
    # commit order reversed vs start order
    e20 = d.decode_events(encode_stream_commit(20))
    assert [parse_line(x).columns["id"][0] for x in e20[1:-1]] == ["200"]
    e10 = d.decode_events(encode_stream_commit(10))
    assert [parse_line(x).columns["id"][0] for x in e10[1:-1]] == ["100", "101"]


def test_stream_abort_toplevel_drops_everything():
    d = _v2_decoder()
    d.decode_events(encode_stream_start(30))
    _ins(d, 30, 1)
    d.decode_events(encode_stream_stop())
    assert d.decode_events(encode_stream_abort(30)) == []
    # a later commit of the same xid replays an EMPTY transaction
    events = d.decode_events(encode_stream_commit(30))
    assert events == ["BEGIN 30", "COMMIT 30"]


def test_stream_abort_subxact_filters_only_its_lines():
    d = _v2_decoder()
    d.decode_events(encode_stream_start(40))
    _ins(d, 40, 1)      # toplevel's own line
    _ins(d, 41, 2)      # subtransaction 41
    _ins(d, 40, 3)
    d.decode_events(encode_stream_stop())
    assert d.decode_events(encode_stream_abort(40, sub_xid=41)) == []
    events = d.decode_events(encode_stream_commit(40))
    assert [parse_line(x).columns["id"][0] for x in events[1:-1]] == ["1", "3"]
    assert d.stats["stream_aborts"] == 1


def test_stream_relation_inside_segment_updates_registry():
    d = _v2_decoder()
    d.decode_events(encode_stream_start(50))
    new_rel = encode_relation(2, "public", "u", [("k", 20, -1)])
    assert d.decode_events(encode_streamed(new_rel, 50)) == []
    assert (
        d.decode_events(encode_streamed(encode_insert(2, ["7"]), 50)) == []
    )
    d.decode_events(encode_stream_stop())
    events = d.decode_events(encode_stream_commit(50))
    assert parse_line(events[1]).relation == "public.u"


def test_stream_overflow_raises_loudly_at_commit():
    """Exceeding the buffer cap must NEVER emit a silently truncated
    transaction — the commit raises and the frame is counted/dropped
    by the adapter (at-least-once, the reconnect replays)."""
    d = _v2_decoder()
    d.max_streamed_lines = 3
    d.decode_events(encode_stream_start(60))
    for i in range(5):
        _ins(d, 60, i)
    d.decode_events(encode_stream_stop())
    assert d.stats["stream_overflow"] == 1
    with pytest.raises(PgOutputError, match="exceeded max_streamed_lines"):
        d.decode_events(encode_stream_commit(60))


def test_stream_abort_drops_buffered_transactional_messages():
    """A transactional 'M' inside a streamed txn is durable only at
    Stream Commit — after Stream Abort, drain_messages() must yield
    nothing (advisor r10 medium: aborted outbox/fence markers were
    leaking)."""
    d = _v2_decoder()
    d.decode_events(encode_stream_start(99))
    d.decode_events(
        encode_streamed(
            encode_logical_message("fence", b"aborted", transactional=True), 99
        )
    )
    d.decode_events(encode_stream_stop())
    d.decode_events(encode_stream_abort(99))
    assert d.drain_messages() == []
    # a later commit of the same xid replays empty — still no message
    d.decode_events(encode_stream_commit(99))
    assert d.drain_messages() == []


def test_stream_commit_publishes_transactional_messages():
    d = _v2_decoder()
    d.decode_events(encode_stream_start(77))
    d.decode_events(
        encode_streamed(
            encode_logical_message("outbox", b"kept", transactional=True), 77
        )
    )
    d.decode_events(encode_stream_stop())
    assert d.drain_messages() == []  # not durable before commit
    d.decode_events(encode_stream_commit(77))
    msgs = d.drain_messages()
    assert [m.content for m in msgs] == [b"kept"]
    assert msgs[0].xid == 77 and msgs[0].transactional


def test_stream_subabort_drops_only_subxact_messages():
    d = _v2_decoder()
    d.decode_events(encode_stream_start(80))
    d.decode_events(
        encode_streamed(
            encode_logical_message("p", b"top", transactional=True), 80
        )
    )
    d.decode_events(
        encode_streamed(
            encode_logical_message("p", b"sub", transactional=True), 81
        )
    )
    d.decode_events(encode_stream_stop())
    d.decode_events(encode_stream_abort(80, sub_xid=81))
    d.decode_events(encode_stream_commit(80))
    assert [m.content for m in d.drain_messages()] == [b"top"]


def test_stream_nontransactional_message_surfaces_immediately():
    """flags&1 == 0 messages are WAL-side-channel, not txn payload —
    they surface at decode time even mid-stream (and survive abort)."""
    d = _v2_decoder()
    d.decode_events(encode_stream_start(90))
    d.decode_events(
        encode_streamed(
            encode_logical_message("marker", b"now", transactional=False), 90
        )
    )
    assert [m.content for m in d.drain_messages()] == [b"now"]
    d.decode_events(encode_stream_stop())
    d.decode_events(encode_stream_abort(90))
    assert d.drain_messages() == []  # already drained; abort adds nothing


def test_stream_messages_rejected_on_v1():
    d = _decoder_with_rel()
    with pytest.raises(PgOutputError, match="proto_version"):
        d.decode_events(encode_stream_start(1))


def test_decode_wrapper_refuses_multi_event_frames():
    d = _v2_decoder()
    d.decode_events(encode_stream_start(70))
    _ins(d, 70, 1)
    d.decode_events(encode_stream_stop())
    with pytest.raises(PgOutputError, match="decode_events"):
        d.decode(encode_stream_commit(70))


@settings(max_examples=200, deadline=None)
@given(st.binary(min_size=0, max_size=200))
def test_fuzz_v2_decoder_never_raises_other_exceptions(data):
    d = PgOutputDecoder(proto_version=2)
    d.decode_events(encode_relation(1, "public", "t", REL))
    d.decode_events(encode_stream_start(9))  # fuzz WITH stream state open
    try:
        d.decode_events(data)
    except PgOutputError:
        pass


def test_adapter_hands_out_streamed_replay_one_line_at_a_time():
    conn = _ScriptConn(
        [
            _raw(10, encode_relation(1, "public", "t", REL)),
            _raw(10, encode_stream_start(80)),
            _raw(11, encode_streamed(encode_insert(1, ["1", "a", None]), 80)),
            _raw(12, encode_streamed(encode_insert(1, ["2", "b", None]), 80)),
            _raw(13, encode_stream_stop()),
            _raw(20, encode_stream_commit(80)),
            Keepalive(server_wal_end=21),
        ]
    )
    ad = PgOutputConnAdapter(conn, proto_version=2)
    lines = [ad.receive(1.0).line for _ in range(4)]
    assert lines == [
        "BEGIN 80",
        "table public.t: INSERT: id[integer]:1 name[character varying(255)]:'a' note[text]:null",
        "table public.t: INSERT: id[integer]:2 name[character varying(255)]:'b' note[text]:null",
        "COMMIT 80",
    ]
    # all four carry the commit frame's LSN (k disambiguates downstream)
    assert isinstance(ad.receive(1.0), Keepalive)


def test_live_transport_pgoutput_v2_streamed_end_to_end():
    from pg_bifrost_spark.sources.pgcdc import LiveTransport
    from tests.test_pgwire import DB, USER, FakeWalsender

    frames = [
        ("xlog_raw", 100, encode_relation(1, "public", "t", REL)),
        ("xlog_raw", 100, encode_stream_start(91)),
        ("xlog_raw", 108, encode_streamed(encode_insert(1, ["1", "a", None]), 91)),
        ("xlog_raw", 116, encode_stream_stop()),
        ("xlog_raw", 124, encode_stream_start(91, first_segment=False)),
        ("xlog_raw", 132, encode_streamed(encode_insert(1, ["2", "b", None]), 91)),
        ("xlog_raw", 140, encode_stream_stop()),
        ("xlog_raw", 148, encode_stream_commit(91)),
    ]
    srv = FakeWalsender(frames=frames, concurrent=True)
    try:
        t = LiveTransport(
            f"postgresql://{USER}@127.0.0.1:{srv.port}/{DB}",
            "s2",
            plugin="pgoutput",
            pgoutput_proto_version=2,
            receive_timeout_s=0.3,
            max_connect_attempts=1,
        )
        rows = t.fetch(0, 10)
        lines = [r[2] for r in rows]
        assert lines[0] == "BEGIN 91" and lines[-1] == "COMMIT 91"
        assert len(lines) == 4
        # replayed lines share the commit LSN; per-frame k indexes them
        assert [r[0] for r in rows] == [148, 148, 148, 148]
        assert [r[3] for r in rows] == [0, 1, 2, 3]
        cmd = srv.start_commands[0]
        assert '"proto_version" \'2\'' in cmd and '"streaming" \'on\'' in cmd
        t.close()
    finally:
        srv.close()


def test_caught_up_keepalive_mid_stream_flags_truncation_not_idle():
    """A walsender can report it has caught up while a v2 streamed
    transaction is still open: its changes are buffered, its commit not
    yet decoded. That fetch is busy, not idle, so it flags truncation
    (without waiting out the receive timeout); the next fetch, sampled
    after the commit, delivers the transaction."""
    from pg_bifrost_spark.sources.pgcdc import LiveTransport
    from pg_bifrost_spark.sources.pgwire import int_to_lsn, lsn_to_int
    from tests.test_pgwire import DB, USER, XLOGPOS, FakeWalsender

    caught_up = lsn_to_int(XLOGPOS)
    frames = [
        ("xlog_raw", caught_up - 64, encode_relation(1, "public", "t", REL)),
        ("xlog_raw", caught_up - 64, encode_stream_start(93)),
        ("xlog_raw", caught_up - 56, encode_streamed(encode_insert(1, ["1", "a", None]), 93)),
        ("xlog_raw", caught_up - 48, encode_stream_stop()),
        ("keepalive", caught_up, False),
        ("xlog_raw", caught_up + 8, encode_stream_commit(93)),
        ("keepalive", caught_up + 16, False),
    ]
    srv = FakeWalsender(frames=frames, concurrent=True)
    try:
        t = LiveTransport(
            f"postgresql://{USER}@127.0.0.1:{srv.port}/{DB}",
            "s_mid",
            plugin="pgoutput",
            pgoutput_proto_version=2,
            receive_timeout_s=5,
            max_connect_attempts=1,
        )
        assert t.fetch(0, 10) == []
        assert t._loop.conn.mid_stream
        assert t.truncations == 1
        srv.xlogpos = int_to_lsn(caught_up + 16)  # the commit is flushed
        rows = t.fetch(0, 10)
        assert [r[2].split(" ")[0] for r in rows] == ["BEGIN", "table", "COMMIT"]
        assert t.truncations == 1
        assert t._loop.stats["receive_timeouts"] == 0
        t.close()
        assert srv.failures == [], srv.failures
    finally:
        srv.close()


# ---------------------------------------------------------------------------
# two-phase commit (protocol two_phase option): b / P / K / r / p
# ---------------------------------------------------------------------------
from pg_bifrost_spark.cdc.pgoutput import (  # noqa: E402
    encode_begin_prepare,
    encode_commit_prepared,
    encode_prepare,
    encode_rollback_prepared,
    encode_stream_prepare,
)


def test_prepared_txn_replays_at_commit_prepared():
    """Data between Begin Prepare and Prepare is held; Commit Prepared
    replays the whole transaction as BEGIN/COMMIT — visibility matches
    the publisher's durability point, downstream stays 2PC-agnostic."""
    d = _decoder_with_rel(proto_version=3)
    assert d.decode_events(encode_begin_prepare(500, "gid-1")) == []
    assert d.decode_events(encode_insert(1, ["1", "a", None])) == []
    assert d.decode_events(encode_insert(1, ["2", "b", None])) == []
    assert d.decode_events(encode_prepare(500, "gid-1")) == []
    events = d.decode_events(encode_commit_prepared(500, "gid-1"))
    assert events[0] == "BEGIN 500" and events[-1] == "COMMIT 500"
    assert [parse_line(e).columns["id"][0] for e in events[1:-1]] == ["1", "2"]
    assert d.stats["commit_prepareds"] == 1


def test_rollback_prepared_drops_everything():
    d = _decoder_with_rel(proto_version=3)
    d.decode_events(encode_begin_prepare(501, "gid-2"))
    d.decode_events(encode_insert(1, ["9", "x", None]))
    d.decode_events(
        encode_logical_message("fence", b"gone", transactional=True)
    )
    d.decode_events(encode_prepare(501, "gid-2"))
    assert d.decode_events(encode_rollback_prepared(501, "gid-2")) == []
    assert d.drain_messages() == []
    # a later Commit Prepared for the rolled-back gid is unknown —
    # empty replay + loud counter, never fabricated data
    events = d.decode_events(encode_commit_prepared(501, "gid-2"))
    assert events == ["BEGIN 501", "COMMIT 501"]
    assert d.stats["commit_prepared_unknown_gid"] == 1


def test_two_independent_prepared_txns_interleave_by_gid():
    d = _decoder_with_rel(proto_version=3)
    d.decode_events(encode_begin_prepare(510, "g-a"))
    d.decode_events(encode_insert(1, ["10", "a", None]))
    d.decode_events(encode_prepare(510, "g-a"))
    d.decode_events(encode_begin_prepare(511, "g-b"))
    d.decode_events(encode_insert(1, ["11", "b", None]))
    d.decode_events(encode_prepare(511, "g-b"))
    # commit order reversed vs prepare order
    eb = d.decode_events(encode_commit_prepared(511, "g-b"))
    assert [parse_line(x).columns["id"][0] for x in eb[1:-1]] == ["11"]
    ea = d.decode_events(encode_commit_prepared(510, "g-a"))
    assert [parse_line(x).columns["id"][0] for x in ea[1:-1]] == ["10"]


def test_prepared_transactional_messages_durable_at_commit_prepared():
    d = _decoder_with_rel(proto_version=3)
    d.decode_events(encode_begin_prepare(520, "g-m"))
    d.decode_events(
        encode_logical_message("outbox", b"kept", transactional=True)
    )
    d.decode_events(encode_prepare(520, "g-m"))
    assert d.drain_messages() == []  # not durable yet
    d.decode_events(encode_commit_prepared(520, "g-m"))
    assert [m.content for m in d.drain_messages()] == [b"kept"]


def test_stream_prepare_bridges_streamed_txn_to_two_phase():
    """A large prepared transaction streams its segments first, then
    Stream Prepare ('p') parks the buffer under the GID; Commit
    Prepared replays it."""
    d = PgOutputDecoder(proto_version=3)
    d.decode_events(encode_relation(1, "public", "t", REL))
    d.decode_events(encode_stream_start(530))
    d.decode_events(encode_streamed(encode_insert(1, ["30", "s", None]), 530))
    d.decode_events(encode_stream_stop())
    assert d.decode_events(encode_stream_prepare(530, "g-s")) == []
    events = d.decode_events(encode_commit_prepared(530, "g-s"))
    assert events[0] == "BEGIN 530" and events[-1] == "COMMIT 530"
    assert parse_line(events[1]).columns["id"][0] == "30"
    assert d.stats["stream_prepares"] == 1


def test_two_phase_frames_refused_below_proto_v3():
    """Refuse-rather-than-mis-decode (ADVICE r11): an un-negotiated
    or corrupt stream whose first byte collides with a 2PC tag must
    raise, not be silently consumed as prepared-transaction state —
    the same posture _stream_control takes for v1."""
    for ver in (1, 2):
        d = _decoder_with_rel(proto_version=ver)
        for frame in (
            encode_begin_prepare(1, "g"),
            encode_prepare(1, "g"),
            encode_commit_prepared(1, "g"),
            encode_rollback_prepared(1, "g"),
            encode_stream_prepare(1, "g"),
        ):
            with pytest.raises(PgOutputError, match="two-phase message"):
                d.decode_events(frame)
        assert d.stats["begin_prepares"] == 0


def test_prepared_origin_skip_drops_whole_txn():
    d = PgOutputDecoder(proto_version=3, skip_origins=frozenset({"upstream"}))
    d.decode_events(encode_relation(1, "public", "t", REL))
    d.decode_events(encode_begin_prepare(540, "g-o"))
    d.decode_events(encode_origin(name="upstream"))
    d.decode_events(encode_insert(1, ["40", "m", None]))
    d.decode_events(encode_prepare(540, "g-o"))
    assert d.decode_events(encode_commit_prepared(540, "g-o")) == []
    assert d.stats["origin_txns_skipped"] == 1


def test_prepared_overflow_raises_loudly_at_commit_prepared():
    d = _decoder_with_rel(proto_version=3)
    d.max_streamed_lines = 2
    d.decode_events(encode_begin_prepare(550, "g-big"))
    for i in range(4):
        d.decode_events(encode_insert(1, [str(i), "x", None]))
    d.decode_events(encode_prepare(550, "g-big"))
    with pytest.raises(PgOutputError, match="max_streamed_lines"):
        d.decode_events(encode_commit_prepared(550, "g-big"))


def test_live_transport_two_phase_end_to_end():
    """2PC over the real wire path: prepare → commit prepared replays
    the transaction at the Commit Prepared frame's LSN."""
    from pg_bifrost_spark.sources.pgcdc import LiveTransport
    from tests.test_pgwire import DB, USER, FakeWalsender

    frames = [
        ("xlog_raw", 100, encode_relation(1, "public", "t", REL)),
        ("xlog_raw", 104, encode_begin_prepare(560, "wire-gid")),
        ("xlog_raw", 108, encode_insert(1, ["7", "tp", None])),
        ("xlog_raw", 112, encode_prepare(560, "wire-gid")),
        ("xlog_raw", 150, encode_commit_prepared(560, "wire-gid")),
    ]
    srv = FakeWalsender(frames=frames, concurrent=True)
    try:
        t = LiveTransport(
            f"postgresql://{USER}@127.0.0.1:{srv.port}/{DB}",
            "s_2pc",
            plugin="pgoutput",
            pgoutput_proto_version=3,
            two_phase=True,
            receive_timeout_s=0.3,
            max_connect_attempts=1,
        )
        rows = t.fetch(0, 10)
        lines = [r[2] for r in rows]
        assert lines[0] == "BEGIN 560" and lines[-1] == "COMMIT 560"
        assert "id[integer]:7" in lines[1]
        assert [r[0] for r in rows] == [150, 150, 150]
        assert [r[3] for r in rows] == [0, 1, 2]
        t.close()
    finally:
        srv.close()


def test_live_transport_v2_interleaved_streams_commit_independently():
    """VERDICT r10 ask #4: segment-INTERLEAVED streamed transactions
    over the real wire path (FakeWalsender → LiveTransport). Commits
    arrive in reverse start order; each replay must carry only its own
    transaction's lines, stamped with its own commit LSN."""
    from pg_bifrost_spark.sources.pgcdc import LiveTransport
    from tests.test_pgwire import DB, USER, FakeWalsender

    frames = [
        ("xlog_raw", 100, encode_relation(1, "public", "t", REL)),
        ("xlog_raw", 100, encode_stream_start(10)),
        ("xlog_raw", 104, encode_streamed(encode_insert(1, ["100", "a", None]), 10)),
        ("xlog_raw", 108, encode_stream_stop()),
        ("xlog_raw", 112, encode_stream_start(20)),
        ("xlog_raw", 116, encode_streamed(encode_insert(1, ["200", "b", None]), 20)),
        ("xlog_raw", 120, encode_stream_stop()),
        ("xlog_raw", 124, encode_stream_start(10, first_segment=False)),
        ("xlog_raw", 128, encode_streamed(encode_insert(1, ["101", "c", None]), 10)),
        ("xlog_raw", 132, encode_stream_stop()),
        ("xlog_raw", 140, encode_stream_commit(20)),
        ("xlog_raw", 160, encode_stream_commit(10)),
    ]
    srv = FakeWalsender(frames=frames, concurrent=True)
    try:
        t = LiveTransport(
            f"postgresql://{USER}@127.0.0.1:{srv.port}/{DB}",
            "s_ilv",
            plugin="pgoutput",
            pgoutput_proto_version=2,
            receive_timeout_s=0.3,
            max_connect_attempts=1,
        )
        rows = t.fetch(0, 20)
        lines = [r[2] for r in rows]
        # txn 20 commits FIRST (1 line), then txn 10 (2 lines)
        assert lines[0] == "BEGIN 20" and lines[2] == "COMMIT 20"
        assert "id[integer]:200" in lines[1]
        assert lines[3] == "BEGIN 10" and lines[6] == "COMMIT 10"
        assert "id[integer]:100" in lines[4] and "id[integer]:101" in lines[5]
        # each replay rides its own commit LSN; k indexes equal-LSN runs
        assert [r[0] for r in rows] == [140, 140, 140, 160, 160, 160, 160]
        assert [r[3] for r in rows] == [0, 1, 2, 0, 1, 2, 3]
        t.close()
    finally:
        srv.close()


def test_live_transport_pgoutput_origin_filtering_on_wire_path():
    """Origin-based loop prevention over the real wire path: a
    transaction stamped with a skipped origin vanishes wholesale
    (including its streamed form); local transactions pass."""
    from pg_bifrost_spark.sources.pgcdc import LiveTransport
    from tests.test_pgwire import DB, USER, FakeWalsender

    frames = [
        ("xlog_raw", 100, encode_relation(1, "public", "t", REL)),
        # plain txn from the skipped origin: fully dropped
        ("xlog_raw", 104, encode_begin(5)),
        ("xlog_raw", 104, encode_origin(name="upstream")),
        ("xlog_raw", 108, encode_insert(1, ["1", "mirror", None])),
        ("xlog_raw", 112, encode_commit()),
        # local txn: passes (deferred BEGIN emission under skip mode)
        ("xlog_raw", 116, encode_begin(6)),
        ("xlog_raw", 120, encode_insert(1, ["2", "local", None])),
        ("xlog_raw", 124, encode_commit()),
        # streamed txn from the skipped origin: dropped at commit
        ("xlog_raw", 128, encode_stream_start(7)),
        ("xlog_raw", 128, encode_origin(name="upstream")),
        ("xlog_raw", 132, encode_streamed(encode_insert(1, ["3", "mirror2", None]), 7)),
        ("xlog_raw", 136, encode_stream_stop()),
        ("xlog_raw", 140, encode_stream_commit(7)),
    ]
    srv = FakeWalsender(frames=frames, concurrent=True)
    try:
        t = LiveTransport(
            f"postgresql://{USER}@127.0.0.1:{srv.port}/{DB}",
            "s_org",
            plugin="pgoutput",
            pgoutput_proto_version=2,
            skip_origins="upstream",
            receive_timeout_s=0.3,
            max_connect_attempts=1,
        )
        rows = t.fetch(0, 20)
        lines = [r[2] for r in rows]
        assert lines == [
            "BEGIN 6",
            "table public.t: INSERT: id[integer]:2 "
            "name[character varying(255)]:'local' note[text]:null",
            "COMMIT 6",
        ]
        t.close()
    finally:
        srv.close()


# ---------------------------------------------------------------------------
# code-review r10-late regressions
# ---------------------------------------------------------------------------
def test_space_bearing_types_are_quoted_and_survive_the_parser():
    """bpchar is space-padded, interval renders '1 day', jsonb embeds
    arbitrary text: unquoted they corrupt the canonical line and the
    parser DROPS the row (reproduced in review) — the decoder must
    quote every non-numeric type defensively."""
    d = PgOutputDecoder()
    cols = [("id", 23, -1), ("code", 1042, 14), ("dur", 1186, -1), ("meta", 3802, -1)]
    d.decode(encode_relation(1, "public", "s", cols))
    line = d.decode(
        encode_insert(1, ["7", "ab        ", "1 day", '{"k": "v v"}'])
    )
    pm = parse_line(line)
    assert pm.error is None
    assert pm.columns["code"] == ("ab        ", "character(10)", True)
    assert pm.columns["dur"] == ("1 day", "interval", True)
    assert pm.columns["meta"] == ('{"k": "v v"}', "jsonb", True)
    assert pm.columns["id"] == ("7", "integer", False)  # numerics stay bare


def test_array_values_are_quoted():
    d = PgOutputDecoder()
    d.decode(encode_relation(1, "public", "a", [("xs", 1009, -1)]))
    pm = parse_line(d.decode(encode_insert(1, ['{"a b","c"}'])))
    assert pm.error is None
    assert pm.columns["xs"] == ('{"a b","c"}', "text[]", True)


def test_adapter_propagates_stream_overflow_loudly():
    """A capped streamed transaction must FAIL the query, not become a
    silent invalid_msgs bump while the ack advances past its commit."""
    from pg_bifrost_spark.cdc.pgoutput import PgOutputOverflow

    conn = _ScriptConn(
        [
            _raw(10, encode_relation(1, "public", "t", REL)),
            _raw(10, encode_stream_start(95)),
            _raw(11, encode_streamed(encode_insert(1, ["1", "a", None]), 95)),
            _raw(12, encode_streamed(encode_insert(1, ["2", "b", None]), 95)),
            _raw(13, encode_stream_stop()),
            _raw(20, encode_stream_commit(95)),
        ]
    )
    ad = PgOutputConnAdapter(conn, proto_version=2)
    ad.decoder.max_streamed_lines = 1
    with pytest.raises(PgOutputOverflow, match="exceeded max_streamed_lines"):
        ad.receive(1.0)
    assert ad.stats["invalid_msgs"] == 0  # not laundered into a counter


def test_adapter_deadline_fires_while_stream_is_busy():
    """Back-to-back no-event frames must not let one receive() call
    outlive its timeout (the transport's per-batch budget depends on
    it); mid_stream distinguishes this from a genuinely idle stream."""

    class _FirehoseConn:
        """Always has another in-segment frame ready instantly."""

        def __init__(self):
            self.d_rel = encode_relation(1, "public", "t", REL)
            self.frames = [self.d_rel, encode_stream_start(99)]
            self.n = 0

        def receive(self, timeout_s):
            if self.frames:
                return _raw(10, self.frames.pop(0))
            self.n += 1
            return _raw(
                10 + self.n,
                encode_streamed(encode_insert(1, [str(self.n), "x", None]), 99),
            )

    ad = PgOutputConnAdapter(_FirehoseConn(), proto_version=2)
    import time as _t

    t0 = _t.monotonic()
    with pytest.raises(Timeout):
        ad.receive(0.2)
    assert _t.monotonic() - t0 < 5.0  # bounded, not a spin-forever
    assert ad.mid_stream  # busy, NOT idle — fetch flags truncation


def test_unknown_oid_values_are_quoted():
    """'oid:<n>' types carry arbitrary values — they must quote (only
    the exact 'oid' type is numeric-safe); a space-bearing value of an
    unmapped type must survive the parser."""
    d = PgOutputDecoder()
    d.decode(encode_relation(1, "public", "x", [("v", 600, -1)]))  # point type
    pm = parse_line(d.decode(encode_insert(1, ["(1.5, 2.5)"])))
    assert pm.error is None
    assert pm.columns["v"] == ("(1.5, 2.5)", "oid:600", True)


# ---------------------------------------------------------------------------
# r10-late protocol depth: Type registry, logical messages, origin filter
# ---------------------------------------------------------------------------
from pg_bifrost_spark.cdc.pgoutput import (  # noqa: E402
    encode_type,
)


def test_type_message_names_custom_oids_and_stays_quoted():
    """'Y' declares a non-builtin type's name; values of that type are
    rendered with the declared (namespace-qualified) name and ALWAYS
    quoted — a custom type named like a numeric builtin must not slip
    through the unquoted whitelist."""
    d = PgOutputDecoder()
    assert d.decode(encode_type(60000, "public", "citext")) is None
    assert d.decode(encode_type(60001, "ext", "integer")) is None  # adversarial name
    d.decode(encode_relation(1, "public", "x",
                             [("a", 60000, -1), ("b", 60001, -1)]))
    pm = parse_line(d.decode(encode_insert(1, ["Hello World", "1 2"])))
    assert pm.error is None
    assert pm.columns["a"] == ("Hello World", "public.citext", True)
    assert pm.columns["b"] == ("1 2", "ext.integer", True)


def test_logical_messages_buffered_and_drained():
    d = _decoder_with_rel()
    d.decode(encode_logical_message("outbox", b"non-txn payload"))
    d.decode(encode_begin(9, 500))
    d.decode(encode_logical_message("fence", b"migration-7", lsn=600,
                                    transactional=True))
    msgs = d.drain_messages()
    assert [(m.prefix, m.content, m.transactional, m.xid) for m in msgs] == [
        ("outbox", b"non-txn payload", False, None),
        ("fence", b"migration-7", True, 9),
    ]
    assert msgs[1].lsn == 600
    assert d.drain_messages() == []  # drained


def test_logical_message_buffer_bounded_drop_newest():
    d = PgOutputDecoder(max_buffered_messages=2)
    for i in range(4):
        d.decode(encode_logical_message("p", bytes([i])))
    msgs = d.drain_messages()
    assert [m.content for m in msgs] == [b"\x00", b"\x01"]  # oldest kept
    assert d.stats["messages_dropped"] == 2


def test_logical_message_declared_length_bounded():
    frame = encode_logical_message("p", b"abc")
    bomb = frame.replace(b"\x00\x00\x00\x03", b"\x7f\xff\xff\xff")
    with pytest.raises(PgOutputError, match="message content bytes"):
        PgOutputDecoder().decode(bomb)


def test_origin_filter_drops_foreign_txn_wholesale():
    d = PgOutputDecoder(skip_origins=frozenset({"upstream_b"}))
    d.decode(encode_relation(1, "public", "t", REL, key_cols={"id"}))
    # foreign transaction: BEGIN deferred, origin matches, all dropped
    assert d.decode_events(encode_begin(7, 100)) == []
    assert d.decode_events(encode_origin(90, "upstream_b")) == []
    assert d.decode_events(encode_insert(1, ["1", "x", None])) == []
    assert d.decode_events(encode_commit(110)) == []
    assert d.stats["origin_txns_skipped"] == 1
    assert d.stats["origin_lines_filtered"] == 1
    # local transaction right after: emitted with deferred BEGIN intact
    assert d.decode_events(encode_begin(8, 200)) == []
    ev = d.decode_events(encode_insert(1, ["2", "y", None]))
    assert len(ev) == 2 and ev[0] == "BEGIN 8" and "INSERT" in ev[1]
    assert d.decode_events(encode_commit(210)) == ["COMMIT 8"]


def test_origin_filter_nonmatching_origin_passes():
    d = PgOutputDecoder(skip_origins=frozenset({"upstream_b"}))
    d.decode(encode_relation(1, "public", "t", REL, key_cols={"id"}))
    assert d.decode_events(encode_begin(7, 100)) == []
    assert d.decode_events(encode_origin(90, "upstream_a")) == []
    ev = d.decode_events(encode_insert(1, ["1", "x", None]))
    assert ev[0] == "BEGIN 7"
    assert d.last_origin == "upstream_a"


def test_origin_filter_empty_local_txn_emits_pair():
    d = PgOutputDecoder(skip_origins=frozenset({"b"}))
    assert d.decode_events(encode_begin(5, 100)) == []
    assert d.decode_events(encode_commit(110)) == ["BEGIN 5", "COMMIT 5"]


def test_custom_type_prefix_collision_stays_quoted():
    """code-review r10-late-2 #1: a schema named like a numeric
    builtin prefix ('realtime' vs 'real') must not defeat quoting —
    the decision rides the OID's builtin-ness, not the rendered
    name."""
    d = PgOutputDecoder()
    d.decode(encode_type(60010, "realtime", "citext"))
    d.decode(encode_type(60011, "integers", "pair"))
    d.decode(encode_relation(1, "public", "x",
                             [("a", 60010, -1), ("b", 60011, -1)]))
    pm = parse_line(d.decode(encode_insert(1, ["Hello World", "1 2"])))
    assert pm.error is None
    assert pm.columns["a"] == ("Hello World", "realtime.citext", True)
    assert pm.columns["b"] == ("1 2", "integers.pair", True)


def test_origin_filter_applies_to_streamed_txns():
    """code-review r10-late-2 #2: a PROTO-V2 streamed foreign
    transaction (the bulk-write case loop prevention exists for) must
    be dropped wholesale at Stream Commit, not replayed."""
    from pg_bifrost_spark.cdc.pgoutput import (
        encode_stream_commit, encode_stream_start, encode_stream_stop,
        encode_streamed,
    )

    d = PgOutputDecoder(proto_version=2, skip_origins=frozenset({"peer_b"}))
    d.decode(encode_relation(1, "public", "t", REL, key_cols={"id"}))
    assert d.decode_events(encode_stream_start(77)) == []
    assert d.decode_events(encode_origin(90, "peer_b")) == []
    assert d.decode_events(encode_streamed(encode_insert(1, ["1", "x", None]), 77)) == []
    assert d.decode_events(encode_stream_stop()) == []
    assert d.decode_events(encode_stream_commit(77)) == []
    assert d.stats["origin_txns_skipped"] == 1
    assert d.stats["origin_lines_filtered"] == 1
    assert not d._stream_buf and not d._stream_skip
    # a local streamed txn right after replays normally
    assert d.decode_events(encode_stream_start(78)) == []
    d.decode_events(encode_streamed(encode_insert(1, ["2", "y", None]), 78))
    d.decode_events(encode_stream_stop())
    ev = d.decode_events(encode_stream_commit(78))
    assert ev[0] == "BEGIN 78" and ev[-1] == "COMMIT 78" and len(ev) == 3


def test_transactional_message_in_skipped_txn_not_surfaced():
    """code-review r10-late-2 #5: foreign outbox/fence messages must
    not leak through the side-channel."""
    d = PgOutputDecoder(skip_origins=frozenset({"peer_b"}))
    d.decode_events(encode_begin(7, 100))
    d.decode_events(encode_origin(90, "peer_b"))
    d.decode_events(encode_logical_message("outbox", b"evt", transactional=True))
    d.decode_events(encode_commit(110))
    assert d.drain_messages() == []
    assert d.stats["origin_messages_filtered"] == 1
    # non-transactional messages are connection-level, not txn-scoped:
    # they still surface (flags bit 0 unset)
    d.decode_events(encode_logical_message("heartbeat", b"hb"))
    assert [m.prefix for m in d.drain_messages()] == ["heartbeat"]


def test_live_transport_drains_messages_per_batch():
    """code-review r10-late-2 #6: the live path must DRAIN the
    decoder's 'M' buffer each fetch into the transport-level surface —
    before this fix nothing ever drained it, so a long-lived
    connection pinned 10k payloads then dropped forever."""
    from pg_bifrost_spark.sources.pgcdc import LiveTransport
    from tests.test_pgwire import DB, USER, FakeWalsender

    frames = [
        ("xlog_raw", 100, encode_relation(1, "public", "t", REL, key_cols={"id"})),
        ("xlog_raw", 100, encode_begin(9)),
        ("xlog_raw", 104, encode_logical_message("fence", b"m-7", transactional=True)),
        ("xlog_raw", 108, encode_insert(1, ["1", "alpha", None])),
        ("xlog_raw", 124, encode_commit()),
    ]
    srv = FakeWalsender(frames=frames, concurrent=True)
    try:
        t = LiveTransport(
            f"postgresql://{USER}@127.0.0.1:{srv.port}/{DB}",
            "s1",
            plugin="pgoutput",
            receive_timeout_s=0.3,
            max_connect_attempts=1,
        )
        rows = t.fetch(0, 10)
        assert len(rows) == 3  # BEGIN/INSERT/COMMIT; M is side-channel
        msgs = t.drain_messages()
        assert [(m.prefix, m.content, m.xid) for m in msgs] == [("fence", b"m-7", 9)]
        assert t.drain_messages() == []
        # and the decoder's own buffer was emptied by the per-batch drain
        assert t._loop.conn.decoder.messages == []
        t.close()
    finally:
        srv.close()


@settings(max_examples=300, deadline=None)
@given(st.binary(min_size=0, max_size=200))
def test_fuzz_v2_origin_decoder_never_raises_other_exceptions(data):
    """The v1 fuzz property, repeated for the maximal-state decoder
    (proto v2 + origin filtering): arbitrary bytes still yield only
    PgOutputError."""
    d = PgOutputDecoder(proto_version=2, skip_origins=frozenset({"x"}))
    d.decode(encode_relation(1, "public", "t", REL, key_cols={"id"}))
    try:
        d.decode_events(data)
    except PgOutputError:
        pass


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.sampled_from(
            ["begin", "commit", "origin_skip", "origin_pass", "insert",
             "msg_txn", "sstart", "sstop", "sins", "scommit", "sabort"]
        ),
        min_size=0,
        max_size=25,
    )
)
def test_fuzz_frame_order_state_machine(ops):
    """Valid frames in ARBITRARY order (walsenders never interleave
    like this, but the decoder's state machine must stay total):
    never raises outside PgOutputError, and every emitted line is
    parseable canonical form with BEGIN/COMMIT alternation preserved
    per emission batch."""
    from pg_bifrost_spark.cdc.pgoutput import (
        encode_stream_abort, encode_stream_commit, encode_stream_start,
        encode_stream_stop, encode_streamed,
    )

    d = PgOutputDecoder(proto_version=2, skip_origins=frozenset({"skipme"}))
    d.decode(encode_relation(1, "public", "t", REL, key_cols={"id"}))
    frame = {
        "begin": lambda: encode_begin(7, 10),
        "commit": lambda: encode_commit(20),
        "origin_skip": lambda: encode_origin(1, "skipme"),
        "origin_pass": lambda: encode_origin(1, "other"),
        "insert": lambda: encode_insert(1, ["1", "x", None]),
        "msg_txn": lambda: encode_logical_message("p", b"c", transactional=True),
        "sstart": lambda: encode_stream_start(9),
        "sstop": lambda: encode_stream_stop(),
        "sins": lambda: encode_streamed(encode_insert(1, ["2", "y", None]), 9),
        "scommit": lambda: encode_stream_commit(9),
        "sabort": lambda: encode_stream_abort(9),
    }
    for op in ops:
        try:
            events = d.decode_events(frame[op]())
        except PgOutputError:
            continue
        for line in events:
            pm = parse_line(line)
            assert pm.error is None, (op, line, pm.error)
    # terminal state invariants: no unbounded growth markers left over
    assert len(d._stream_buf) <= 1 and len(d._stream_skip) <= 1


def test_stream_overflow_drops_buffered_messages_too():
    """A refused (overflowed) streamed transaction must not leak its
    transactional messages through drain_messages() — side channels
    stay in sync with the (never-emitted) data stream (code-review
    r11 #3)."""
    d = _v2_decoder()
    d.max_streamed_lines = 2
    d.decode_events(encode_stream_start(61))
    d.decode_events(
        encode_streamed(encode_logical_message("p", b"x", transactional=True), 61)
    )
    for i in range(4):
        _ins(d, 61, i)
    d.decode_events(encode_stream_stop())
    with pytest.raises(PgOutputError, match="max_streamed_lines"):
        d.decode_events(encode_stream_commit(61))
    assert d.drain_messages() == []


def test_two_phase_negotiation_on_the_wire():
    """two_phase=True must create a TWO_PHASE slot and send the
    pgoutput ``two_phase`` start option (PG 15+, proto v3); the
    decoder itself is version-independent for b/P/K/r frames."""
    from pg_bifrost_spark.sources.pgcdc import LiveTransport
    from tests.test_pgwire import DB, USER, FakeWalsender

    frames = [
        ("xlog_raw", 100, encode_relation(1, "public", "t", REL)),
        ("xlog_raw", 104, encode_begin_prepare(42, "neg")),
        ("xlog_raw", 108, encode_insert(1, ["5", "x", None])),
        ("xlog_raw", 112, encode_prepare(42, "neg")),
        ("xlog_raw", 130, encode_commit_prepared(42, "neg")),
    ]
    srv = FakeWalsender(frames=frames, concurrent=True)
    try:
        t = LiveTransport(
            f"postgresql://{USER}@127.0.0.1:{srv.port}/{DB}",
            "s_neg",
            plugin="pgoutput",
            pgoutput_proto_version=3,
            two_phase=True,
            receive_timeout_s=0.3,
            max_connect_attempts=1,
        )
        rows = t.fetch(0, 10)
        assert [r[2] for r in rows][0] == "BEGIN 42"
        assert any("LOGICAL pgoutput (TWO_PHASE)" in c for c in srv.create_commands)
        cmd = srv.start_commands[0]
        assert '"proto_version" \'3\'' in cmd
        assert '"two_phase" \'on\'' in cmd and '"streaming" \'on\'' in cmd
        t.close()
    finally:
        srv.close()


def test_two_phase_requires_pgoutput_v3():
    from pg_bifrost_spark.sources.pgcdc import LiveTransport

    with pytest.raises(ValueError, match="two_phase requires"):
        LiveTransport(
            "postgres://u@h/db", "s", plugin="pgoutput",
            pgoutput_proto_version=2, two_phase=True,
        )
    with pytest.raises(ValueError, match="two_phase requires"):
        LiveTransport("postgres://u@h/db", "s", two_phase=True)


def test_with_txn_stamping_matches_window(spark):
    """``decode_pgoutput_frames(with_txn=True)`` (r12) must stamp the
    exact txn_id / time_based_key the window-based
    ``assemble_transactions`` derives from the same line stream — for
    BOTH the plain and the two-phase (replayed) generators, rollback
    gaps included."""
    from pg_bifrost_spark.cdc.pipeline import assemble_transactions, parse_raw
    from pg_bifrost_spark.plans.pgoutput_bridge import (
        decode_pgoutput_frames,
        pgoutput_frames_from_orders,
        two_phase_frames_from_orders,
    )

    orders = spark.createDataFrame(
        [(i, "S", float(i) + 0.25) for i in range(40)],
        "o_orderkey long, o_orderstatus string, o_totalprice double",
    )
    for frames, proto in (
        (pgoutput_frames_from_orders(orders, n_streams=4), 1),
        (two_phase_frames_from_orders(orders, n_streams=4), 3),
    ):
        frames = frames.cache()
        stamped = {
            (r.stream_id, r.wal_start): (r.txn_id, r.time_based_key)
            for r in decode_pgoutput_frames(
                frames, proto_version=proto, with_txn=True
            ).collect()
        }
        windowed = {
            (r.stream_id, r.wal_start): (r.txn_id, r.time_based_key)
            for r in assemble_transactions(
                parse_raw(decode_pgoutput_frames(frames, proto_version=proto))
            ).collect()
        }
        frames.unpersist()
        assert stamped == windowed
        assert len(stamped) > 0
