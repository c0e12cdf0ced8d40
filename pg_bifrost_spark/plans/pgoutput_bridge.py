"""pgoutput bridge query: replay a parquet table as BINARY pgoutput
frames, decode them distributed (per-stream sequential, streams
parallel), and push the canonical lines through the FULL existing
pipeline — proving the binary plugin path end-to-end against a plain
SQL oracle, the same gate shape as ``cdc_lineitem_roundtrip``.

Scale posture: both the encoder and the decoder are Arrow
``mapInPandas`` kernels (no per-row Python UDFs); the decode's only
exchange is the per-stream repartition that transaction assembly needs
anyway — the relation registry is per-stream state, exactly as it is
per-connection state on the live path (cdc/pgoutput.py docstring), so
streams decode independently on every core at any corpus size.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import register, table
from ..cdc.pipeline import PipelineConfig, data_messages, run_pipeline
from .cdc_bridge import _cached_lines, _env_once

N_STREAMS = 64
# Minimum LSN gap between consecutive frames in a generated stream.
# decode_pgoutput_frames stamps a replay frame's line i at lsn+i and
# ASSERTS replay length < this stride — keep generators and decoder
# agreeing through this one constant.
FRAME_LSN_STRIDE = 8
RELID = 4711
# (name, type oid, typmod): o_orderkey bigint, o_orderstatus text,
# o_totalprice double precision
ORDERS_COLS = [("o_orderkey", 20, -1), ("o_orderstatus", 25, -1), ("o_totalprice", 701, -1)]


def _frames_from_orders(
    orders: DataFrame,
    row_frames,
    n_streams: int = N_STREAMS,
) -> DataFrame:
    """Shared bridge scaffolding (code-review r11 #5): shard source
    rows into ``n_streams`` independent streams, emit each row's
    frames from ``row_frames(seq, status, price) -> [(lsn, frame)]``,
    and prepend the per-stream Relation frame at wal_start 0 — the
    registry prefix a real session always receives before a
    relation's first tuple. The plain and two-phase generators differ
    ONLY in their per-row frame list."""
    import pandas as pd

    from ..cdc.pgoutput import encode_relation

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = {"stream_id": [], "wal_start": [], "frame": []}
            for key, status, price in zip(
                pdf["o_orderkey"], pdf["o_orderstatus"], pdf["o_totalprice"]
            ):
                seq = int(key)
                sid = seq % n_streams
                for lsn, frame in row_frames(seq, str(status), float(price)):
                    out["stream_id"].append(sid)
                    out["wal_start"].append(lsn)
                    out["frame"].append(frame)
            yield pd.DataFrame(out)

    n_par = orders.sparkSession.sparkContext.defaultParallelism
    frames = orders.select("o_orderkey", "o_orderstatus", "o_totalprice").repartition(
        n_par
    ).mapInPandas(gen, "stream_id int, wal_start long, frame binary")

    relation_frame = encode_relation(
        RELID, "public", "orders", ORDERS_COLS, key_cols={"o_orderkey"}
    )
    heads = orders.sparkSession.range(n_streams).select(
        F.col("id").cast("int").alias("stream_id"),
        F.lit(0).cast("long").alias("wal_start"),
        F.lit(relation_frame).alias("frame"),
    )
    return heads.unionByName(frames)


def _plain_row_frames(seq: int, status: str, price: float) -> list:
    """BEGIN + INSERT + COMMIT at lsn0 = 1000 + seq*24 (+0/+8/+16).

    The xid is ``seq`` truncated to 32 bits — PostgreSQL xids ARE
    uint32, and at 100x data the replicated orderkeys exceed 2^32
    (struct.error in the encode kernel, caught at the r11 sf10 run).
    Payload values carry the FULL key, so truncation cannot alias the
    gate output; time_based_key disambiguates any xid reuse exactly
    as it does for real wraparound."""
    from ..cdc.pgoutput import encode_begin, encode_commit, encode_insert

    lsn0 = 1000 + seq * (3 * FRAME_LSN_STRIDE)
    return [
        (lsn0, encode_begin(seq & 0xFFFFFFFF)),
        (lsn0 + FRAME_LSN_STRIDE, encode_insert(RELID, [str(seq), status, f"{price:.2f}"])),
        (lsn0 + 2 * FRAME_LSN_STRIDE, encode_commit()),
    ]


def pgoutput_frames_from_orders(orders: DataFrame, n_streams: int = N_STREAMS) -> DataFrame:
    """Each source row → BEGIN + INSERT + COMMIT binary pgoutput
    frames with deterministic LSN arithmetic (see _plain_row_frames)."""
    return _frames_from_orders(orders, _plain_row_frames, n_streams)


def decode_pgoutput_frames(
    frames: DataFrame,
    max_streamed_lines: int | None = None,
    proto_version: int = 1,
    with_txn: bool = False,
) -> DataFrame:
    """Binary frames → RAW_LINE_SCHEMA canonical lines. Streams are
    co-located (repartition on stream_id) and decoded in wal_start
    order with one PgOutputDecoder per stream — Relation frames feed
    the registry and emit nothing, every other frame renders its
    test_decoding line. Malformed frames are dropped and counted,
    matching the live adapter (client.go:470-482 analog).

    ``max_streamed_lines`` is the per-decoder streamed/prepared-txn
    buffer cap (a deployment sizes it to executor memory — see
    PgOutputDecoder); exceeding it raises PgOutputOverflow through the
    job, never a silently truncated transaction.

    ``with_txn=True`` (r12, guide §2.4): additionally stamp txn_id /
    time_based_key per line. The decode is already strictly sequential
    per stream — the exact contract the streaming pgcdc reader and the
    test_decoding generators satisfy — so it can carry the current
    transaction along instead of downstream re-deriving it with a
    window (one Exchange + per-stream Sort over every line). Stamping
    reproduces ``assemble_transactions`` exactly: BEGIN/COMMIT lines
    carry their OWN xid, data lines the last BEGIN's; time_based_key
    is ``"<xid>-<last BEGIN's wal_start>"`` with the same NULL
    coalescing (concat_ws skips a missing xid; a missing BEGIN wal is
    0). Equality of the two paths is pinned by
    tests/test_pgoutput.py::test_with_txn_stamping_matches_window."""
    import pandas as pd

    from ..cdc.pgoutput import PgOutputDecoder, PgOutputError

    def decode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        from ..cdc.pgoutput import PgOutputOverflow

        decoders: dict[int, PgOutputDecoder] = {}
        # per-stream (last BEGIN xid, last BEGIN wal_start) — state
        # lives beside the decoders so it spans batches
        cur_txn: dict[int, tuple[str | None, int | None]] = {}
        for pdf in batches:
            out = {"wal_start": [], "server_wal_end": [], "server_time_ms": [], "stream_id": [], "line": []}
            if with_txn:
                out["txn_id"] = []
                out["time_based_key"] = []
            for sid, lsn, frame in zip(pdf["stream_id"], pdf["wal_start"], pdf["frame"]):
                d = decoders.get(sid)
                if d is None:
                    d = decoders[sid] = PgOutputDecoder(
                        proto_version=proto_version
                    )
                    if max_streamed_lines is not None:
                        d.max_streamed_lines = max_streamed_lines
                try:
                    events = d.decode_events(bytes(frame))
                except PgOutputOverflow:
                    # overflow is NOT a malformed frame: dropping it
                    # here would silently lose a whole transaction —
                    # the exact data-loss class the overflow contract
                    # forbids (cdc/pgoutput.py PgOutputOverflow). The
                    # live adapter re-raises too (sources/protocol.py).
                    raise
                except PgOutputError:
                    d.stats["invalid_msgs"] += 1
                    continue
                # a replay frame (Commit Prepared / Stream Commit)
                # yields a whole transaction: stamp line i at lsn+i so
                # downstream ordering stays strict within the stream.
                # The invariant this leans on — replay length stays
                # below the generators' minimum inter-frame LSN gap
                # (FRAME_LSN_STRIDE) — must fail LOUDLY if a reuse of
                # this helper replays a larger transaction, or the
                # per-line LSNs would interleave across transactions
                # and break strict per-stream ordering (ADVICE r11)
                if len(events) > FRAME_LSN_STRIDE:
                    # lines occupy lsn..lsn+len-1, so len == STRIDE is
                    # still strictly below the next frame at lsn+STRIDE
                    raise AssertionError(
                        f"replay of {len(events)} lines at lsn {lsn} "
                        f"> inter-frame LSN stride {FRAME_LSN_STRIDE}"
                        " — widen the generators' frame spacing"
                    )
                for i, line in enumerate(events):
                    out["wal_start"].append(int(lsn) + i)
                    out["server_wal_end"].append(int(lsn) + i + FRAME_LSN_STRIDE)
                    out["server_time_ms"].append(0)
                    out["stream_id"].append(int(sid))
                    out["line"].append(line)
                    if with_txn:
                        if line.startswith("BEGIN "):
                            cur_txn[sid] = (line[6:], int(lsn) + i)
                        bx, bw = cur_txn.get(sid, (None, None))
                        # control lines carry their own xid (the
                        # window path's coalesce(txn_xid, last_begin))
                        x = (
                            line.split(" ", 1)[1]
                            if line.startswith(("BEGIN ", "COMMIT "))
                            else bx
                        )
                        w = bw if bw is not None else 0
                        out["txn_id"].append(x)
                        out["time_based_key"].append(
                            f"{x}-{w}" if x is not None else str(w)
                        )
            yield pd.DataFrame(out)

    n_par = frames.sparkSession.sparkContext.defaultParallelism
    schema = (
        "wal_start long, server_wal_end long, server_time_ms long, "
        "stream_id int, line string"
    )
    if with_txn:
        schema += ", txn_id string, time_based_key string"
    return (
        frames.repartition(n_par, "stream_id")
        .sortWithinPartitions("stream_id", "wal_start")
        .mapInPandas(decode, schema)
    )


@register(
    "cdc_pgoutput_roundtrip",
    oracle="""
    SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS totalprice
    FROM orders
    ORDER BY o_orderkey
    """,
)
def cdc_pgoutput_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every orders row → binary pgoutput frames → distributed decode →
    canonical lines → the SAME parse/filter/partition/marshal pipeline
    as the test_decoding path → envelope values cast back. Hash-match
    against the source table proves the binary plugin path end to end:
    encoder, registry handling, tuple decode, canonical rendering, and
    the shared pipeline — one gate, zero plugin-specific downstream
    code. The live-wire variant of the same path is pinned by
    tests/test_pgoutput.py::test_live_transport_pgoutput_end_to_end."""
    orders = table(spark, sf_dir, "orders")
    frames = pgoutput_frames_from_orders(orders)
    # cache the decoded lines with their fast-path eligibility bit
    # (_cached_lines): the parse stage's fast/slow split references
    # its input twice, and without this the encode+decode Arrow
    # kernels execute TWICE (no exchange reuse across the two filter
    # branches — measured 24.3 s vs 9.5 s at sf0.1, r11). The cache is
    # line-sized (not frame-sized) and released by release_caches(); a
    # 100 TB deployment spills via MEMORY_AND_DISK or checkpoints the
    # decode output the same way.
    # r12: the decoder stamps txn identity itself (with_txn=True — it
    # is sequential per stream, the same contract the generators and
    # the streaming reader provide), so run_pipeline sees txn_id and
    # runs with NO window exchange+sort over the line stream; stamping
    # equality vs assemble_transactions is pinned by
    # test_pgoutput.py::test_with_txn_stamping_matches_window, and the
    # window path keeps gate coverage via cdc_whitelist_filter.
    raw = _cached_lines(decode_pgoutput_frames(frames, with_txn=True))
    out = data_messages(run_pipeline(raw, PipelineConfig()))
    env = _env_once(out)
    cols = F.col("env.columns")

    def v(name: str) -> F.Column:
        return F.element_at(F.element_at(cols, name), "new")["v"]

    return env.select(
        v("o_orderkey").cast("bigint").alias("o_orderkey"),
        v("o_orderstatus").alias("o_orderstatus"),
        F.round(v("o_totalprice").cast("double"), 2).alias("totalprice"),
    )
    # no global sort: the correctness compare is order-insensitive and
    # a total order over the full table is a pure shuffle+sort tax
    # (r12, guide §2.4 — same posture as cdc_lineitem_roundtrip)


# ---------------------------------------------------------------------------
# two-phase commit bridge (r11): PREPARE TRANSACTION flows through the
# same distributed decoder and pipeline
# ---------------------------------------------------------------------------
ROLLBACK_MOD = 10
ROLLBACK_REMAINDER = 7


def _two_phase_row_frames(seq: int, status: str, price: float) -> list:
    """Begin Prepare + INSERT + Prepare, then Commit Prepared — or,
    for ``seq % 10 == 7``, Rollback Prepared (the row must vanish).
    LSN layout: lsn0 = 1000 + seq*48, frames at +0/+8/+16/+24; the
    Commit Prepared replay's 3 lines land at +24/+25/+26 (strictly
    ordered, no collision with the next transaction at +48)."""
    from ..cdc.pgoutput import (
        encode_begin_prepare,
        encode_commit_prepared,
        encode_insert,
        encode_prepare,
        encode_rollback_prepared,
    )

    gid = f"gid-{seq}"  # the gid carries the untruncated identity
    xid = seq & 0xFFFFFFFF  # uint32, same wraparound note as above
    lsn0 = 1000 + seq * (6 * FRAME_LSN_STRIDE)
    last = (
        encode_rollback_prepared(xid, gid)
        if seq % ROLLBACK_MOD == ROLLBACK_REMAINDER
        else encode_commit_prepared(xid, gid)
    )
    return [
        (lsn0, encode_begin_prepare(xid, gid)),
        (lsn0 + FRAME_LSN_STRIDE, encode_insert(RELID, [str(seq), status, f"{price:.2f}"])),
        (lsn0 + 2 * FRAME_LSN_STRIDE, encode_prepare(xid, gid)),
        (lsn0 + 3 * FRAME_LSN_STRIDE, last),
    ]


def two_phase_frames_from_orders(
    orders: DataFrame, n_streams: int = N_STREAMS
) -> DataFrame:
    """Each source row → a PREPARED transaction (see
    _two_phase_row_frames)."""
    return _frames_from_orders(orders, _two_phase_row_frames, n_streams)


@register(
    "cdc_two_phase_roundtrip",
    oracle="""
    SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS totalprice
    FROM orders
    WHERE o_orderkey % 10 <> 7
    ORDER BY o_orderkey
    """,
)
def cdc_two_phase_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PREPARE TRANSACTION parity gate: every orders row rides a
    two-phase transaction (b/INSERT/P, then K or — for keys ending in
    7 — r), through the distributed pgoutput decoder and the full
    shared pipeline. The oracle excludes the rolled-back keys, so a
    decoder that leaked rolled-back prepares (or dropped committed
    ones) hash-mismatches. The reference has no 2PC support at all
    (test_decoding-only, utils/utils.go:50); this is engine surface
    for native logical replication with ``two_phase = on`` slots."""
    orders = table(spark, sf_dir, "orders")
    frames = two_phase_frames_from_orders(orders)
    # same double-execution guard as cdc_pgoutput_roundtrip above;
    # proto v3 — the decoder refuses 2PC frames below it (ADVICE r11).
    # with_txn=True: decoder-side txn stamping, no window assembly
    # (r12 — see cdc_pgoutput_roundtrip; the 2PC replay's BEGIN lines
    # drive the same per-stream stamping state)
    raw = _cached_lines(decode_pgoutput_frames(frames, proto_version=3, with_txn=True))
    out = data_messages(run_pipeline(raw, PipelineConfig()))
    env = _env_once(out)
    cols = F.col("env.columns")

    def v(name: str) -> F.Column:
        return F.element_at(F.element_at(cols, name), "new")["v"]

    return env.select(
        v("o_orderkey").cast("bigint").alias("o_orderkey"),
        v("o_orderstatus").alias("o_orderstatus"),
        F.round(v("o_totalprice").cast("double"), 2).alias("totalprice"),
    )
    # no global sort: the correctness compare is order-insensitive and
    # a total order over the full table is a pure shuffle+sort tax
    # (r12, guide §2.4 — same posture as cdc_lineitem_roundtrip)
