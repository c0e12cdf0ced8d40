"""``pgcdc`` — a PySpark Python data source for PostgreSQL
logical-decoding CDC (the Spark-native replacement for the reference's
replication client, ``replication/client/client.go``).

Architecture (SURVEY.md §7 M3): both readers are plain
``DataSourceStreamReader``s over one offset planner (``_PgCdcReader``);
Spark's checkpoint offset/commit log supplies the progress-ledger
semantics (X12):

  * offset = ``{"lsn": N, "xid": ..., "tbk": ...}`` — the WAL position
    PLUS the in-flight transaction-assembly state (W3), so a restart
    resumes mid-transaction byte-identically;
  * ``latestOffset`` fetches the next admission-capped batch on the
    driver-side source process — for a live slot that process holds
    the ONE replication connection, exactly like the reference's single
    replication goroutine; executors never open the slot;
  * ``commit(offset)`` fires after a micro-batch is durably written —
    the transport acks the LSN upstream (StandbyStatusUpdate, W1),
    which is the contiguous-prefix guarantee the reference builds its
    ledger for: Spark only commits batch N after batch N's sinks
    succeeded and batches < N committed;
  * re-delivery after an uncommitted crash replays the logged range
    from its start offset — at-least-once (W5), duplicates carry the
    same ``time_based_key`` for downstream idempotence (W4).

``PgCdcParallelReader`` (replay, ``wal_dir``) plans corpus spans that
executors parse; ``PgCdcLiveReader`` (``dsn``) hands executors the
rows it fetched while planning.

Transaction assembly (BEGIN adopts the xid, the ``time_based_key``,
the synthetic COMMIT at an error marker) and the equal-LSN run index
live in ``sources/assembly.py``; both readers here call it.

Transports:
  * ``ReplayTransport`` — WAL-text files on disk (deterministic tests,
    and the bridge to the itest corpus);
  * ``LiveTransport`` — a real replication connection over the
    pure-stdlib wire client (``sources/pgwire.py``; no DB driver —
    psycopg3 has no replication support), driven by the tested
    protocol state machine, with slot create/drop helpers mirroring
    ``utils/utils.go:38-77``. Exercised in-suite against a fake
    walsender speaking real protocol bytes (``tests/test_pgwire.py``).
"""

from __future__ import annotations

import bisect
import dataclasses
import json
import os
from dataclasses import dataclass
from itertools import islice

from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition
from pyspark.sql.types import StructType

from . import assembly
from .assembly import PGCDC_SCHEMA


class ReplayTransport:
    """Reads WAL messages from ``<dir>/*.jsonl`` files (sorted), each
    line ``{"wal_start": N, "server_time_ms": M, "line": "..."}``.
    Acked LSNs are recorded in ``<dir>/.ack`` — the test-visible stand-in
    for StandbyStatusUpdate.

    The corpus is parsed ONCE per on-disk state (file name/size/mtime
    signature) and fetches are a bisect + slice: the naive
    re-read-everything-per-fetch version made a K-micro-batch drain
    O(corpus × K) of driver-side JSON parsing — at the bench corpus
    (hundreds of thousands of messages, dozens of batches) the
    transport dwarfed the pipeline it feeds. Appending/rewriting WAL
    files between fetches still works: the signature changes and the
    corpus reloads."""

    def __init__(self, wal_dir: str):
        self.wal_dir = wal_dir
        self._sig: tuple | None = None
        self._msgs: list[tuple[int, int, str | None]] = []
        self._locs: list[tuple[str, int]] = []  # (file, raw line no) per msg
        self._lsns: list[int] = []

    # process-wide parsed-corpus cache keyed by directory: a drain loop
    # (drain_cdc_query) starts one query PER micro-batch, and every
    # query builds a fresh reader+transport — without this, each round
    # re-parses the full corpus on the driver (measured ~3 s per round
    # at the sf0.1 bench corpus). The signature check below still
    # invalidates on any on-disk change, so instance reuse semantics
    # are unchanged.
    _CORPUS_CACHE: dict = {}

    def _load(self) -> list[tuple[int, int, str | None]]:
        names = sorted(n for n in os.listdir(self.wal_dir) if n.endswith(".jsonl"))
        stats = []
        for n in names:
            st = os.stat(os.path.join(self.wal_dir, n))
            stats.append((n, st.st_size, st.st_mtime_ns))
        sig = tuple(stats)
        if sig != self._sig:
            cached = ReplayTransport._CORPUS_CACHE.get(self.wal_dir)
            if cached and cached[0] == sig:
                self._sig, self._msgs, self._locs, self._lsns = cached
                return self._msgs
            # each entry carries its (file, raw-line-number) location so
            # the parallel reader can hand executors seekable spans
            entries: list[tuple[int, int, str | None, str, int]] = []
            for name in names:
                with open(os.path.join(self.wal_dir, name)) as f:
                    for lineno, raw in enumerate(f):
                        if not raw.strip():
                            continue
                        msg = json.loads(raw)
                        entries.append(
                            (
                                msg["wal_start"],
                                msg.get("server_time_ms", 0),
                                None if "error" in msg else msg["line"],
                                name,
                                lineno,
                            )
                        )
            entries.sort(key=lambda t: (t[0], t[1]))  # stable → deterministic
            self._msgs = [(e[0], e[1], e[2]) for e in entries]
            self._locs = [(e[3], e[4]) for e in entries]
            self._lsns = [m[0] for m in self._msgs]
            self._sig = sig
            ReplayTransport._CORPUS_CACHE.clear()  # one corpus resident
            ReplayTransport._CORPUS_CACHE[self.wal_dir] = (
                sig, self._msgs, self._locs, self._lsns,
            )
        return self._msgs

    # replay never truncates a batch (the corpus is local); the
    # attribute exists so the reader can read one field off any
    # transport when stamping the offset's truncation count
    truncations = 0

    def index(self, lsn: int, seq: int | None) -> int:
        """Corpus index of the first message NOT consumed at position
        ``(lsn, seq)``: ``seq`` messages into the equal-LSN run at
        ``lsn``, counted by ``assembly.run_head_k``; ``None`` is the
        legacy whole-run form. Call after ``_load``."""
        lsns = self._lsns
        if seq is None:
            return bisect.bisect_right(lsns, lsn)
        i = bisect.bisect_left(lsns, lsn)
        if i < len(lsns) and lsns[i] == lsn:
            i -= assembly.run_head_k(self._msgs[i][2])
        return min(i + seq, len(lsns))

    def fetch(
        self, after_lsn: int, limit: int, after_seq: int | None = None
    ) -> list[tuple[int, int, str | None, int]]:
        """Messages strictly after position ``(after_lsn, after_seq)``.

        Returns ``(lsn, time_ms, line, k)`` where ``k`` is the
        message's index within its equal-LSN run — a real walsender
        stamps BEGIN and the transaction's first change with the SAME
        wal_start (ADVICE r9), so an LSN alone cannot address a batch
        boundary: a limit cut between them would make the next fetch's
        ``> after_lsn`` filter silently drop the first DML of that
        transaction. ``after_seq = S`` means "the first S messages at
        ``after_lsn`` are consumed"; ``None`` is the legacy offset form
        (pre-seq checkpoints): everything at ``after_lsn`` consumed.
        ``k`` follows ``assembly.run_head_k``, the same rule the live
        transport applies, so either transport resumes from the other's
        offset.

        A file line ``{"wal_start": N, "error": "..."}`` models a
        protocol ErrorResponse at that position (line=None) — the
        replay analog of a decoding fault."""
        msgs = self._load()
        i = self.index(after_lsn, after_seq)
        out: list[tuple[int, int, str | None, int]] = []
        run_lsn, base = None, 0
        for idx in range(i, min(i + limit, len(msgs))):
            lsn, tms, line = msgs[idx]
            if lsn != run_lsn:
                run_lsn = lsn
                head = bisect.bisect_left(self._lsns, lsn)
                base = head - assembly.run_head_k(msgs[head][2])
            out.append((lsn, tms, line, idx - base))
        return out

    def current_end(self) -> int:
        """Highest LSN available — the 'server WAL end' the reference
        skips to on error recovery (client.go:386-424)."""
        msgs = self._load()
        return msgs[-1][0] if msgs else 0

    def ack(self, lsn: int, seq: int | None = None) -> None:
        """Record the durable position. ``seq`` (count of messages
        consumed at exactly ``lsn``) makes a restart resume exact when
        a batch boundary landed inside an equal-LSN run (ADVICE r9);
        omitted = legacy whole-run form."""
        with open(os.path.join(self.wal_dir, ".ack"), "w") as f:
            f.write(str(lsn) if seq is None else f"{lsn} {seq}")

    def acked(self) -> int:
        return self.acked_pos()[0]

    def acked_pos(self) -> tuple[int, int | None]:
        try:
            with open(os.path.join(self.wal_dir, ".ack")) as f:
                parts = f.read().split()
        except FileNotFoundError:
            return 0, None
        if not parts:
            return 0, None
        return int(parts[0]), (int(parts[1]) if len(parts) > 1 else None)

    def close(self) -> None:
        """Nothing to release: the corpus is local files."""


class LiveTransport:
    """Live replication transport over the pure-stdlib wire client
    (``sources/pgwire.py``) driven by the fully-tested protocol state
    machine (``sources/protocol.py::ReplicationClientLoop``) — NO
    database driver dependency (psycopg3 does not implement the
    replication sub-protocol, so the wire client IS the deploy path).

    Since r8 this path executes in-suite: ``tests/test_pgwire.py``
    runs it against a fake walsender speaking real protocol bytes over
    a localhost socket, so only the final postgres-server integration
    (the compose rig, itests/) remains deploy-time.

    The fetch contract matches ReplayTransport: ``fetch(after_lsn,
    limit)`` drains ``loop.step()`` into (wal_start, server_time_ms,
    line) rows until ``limit`` messages are buffered or the stream is
    idle: a keepalive shows the server has sent everything committed
    when the fetch started, or (the liveness fallback) a receive
    deadline passes. One bounded micro-batch — the admission cap
    applies above. ``ack`` advances the loop's
    durable LSN and sends a Standby Status Update immediately (W1).
    Reconnects (incomplete-txn defense, error recovery) restart the
    stream from the acked LSN — at-least-once, duplicates filtered by
    the ``after_lsn`` bound and downstream idempotence (W4/W5)."""

    def __init__(
        self,
        dsn: str,
        slot: str,
        create_slot: bool = True,
        receive_timeout_s: float = 1.0,
        fetch_budget_s: float = 30.0,
        max_connect_attempts: int = 5,
        reconnect_backoff_s: float = 0.5,
        plugin: str = "test_decoding",
        publication_names: str = "pgbifrost",
        pgoutput_proto_version: int = 1,
        skip_origins: str = "",
        two_phase: bool = False,
    ):
        from .pgwire import parse_dsn

        if plugin not in ("test_decoding", "pgoutput"):
            raise ValueError(f"unsupported logical-decoding plugin {plugin!r}")
        if pgoutput_proto_version not in (1, 2, 3):
            # v2 adds streamed in-progress transactions, v3 two-phase
            # commit (PG 15); v4 (parallel streamed apply, PG 16) only
            # changes apply-worker parallelism hints this sequential
            # reader does not need — refuse rather than mis-decode
            raise ValueError(
                f"unsupported pgoutput proto_version {pgoutput_proto_version}"
            )
        # two-phase decode: PREPARE TRANSACTION flows as b/P/K/r(/p)
        # frames (cdc/pgoutput.py::_two_phase). Requires a TWO_PHASE
        # slot and protocol v3 per the PG docs.
        self.two_phase = two_phase
        if two_phase and (plugin != "pgoutput" or pgoutput_proto_version < 3):
            raise ValueError(
                "two_phase requires the pgoutput plugin and proto_version >= 3"
            )
        self._kwargs = parse_dsn(dsn)
        self.slot = slot
        self._create_slot = create_slot
        # pgoutput (the in-core plugin behind native logical
        # replication) streams BINARY frames; a PgOutputConnAdapter
        # canonicalizes them to test_decoding lines so the loop and
        # every downstream stage stay plugin-agnostic (cdc/pgoutput.py)
        self.plugin = plugin
        self.publication_names = publication_names
        self.pgoutput_proto_version = pgoutput_proto_version
        # comma-separated replication-origin names whose transactions
        # the decoder drops wholesale (bidirectional-replication loop
        # prevention; pgoutput only)
        self.skip_origins = frozenset(
            o.strip() for o in skip_origins.split(",") if o.strip()
        )
        if self.skip_origins and plugin != "pgoutput":
            raise ValueError("skip_origins requires the pgoutput plugin")
        self.receive_timeout_s = receive_timeout_s
        # per-batch wall-clock bound (ADVICE r8): during a long replay
        # of already-acked WAL every frame is filtered by after_lsn —
        # no yield, no receive timeout — so without a budget one
        # micro-batch can block for the whole replay window
        self.fetch_budget_s = fetch_budget_s
        if max_connect_attempts < 1:
            # ADVICE r9: with 0 attempts the retry loop body never runs
            # and ``raise last_exc`` would raise None (TypeError)
            raise ValueError(
                f"max_connect_attempts must be >= 1, got {max_connect_attempts}"
            )
        self.max_connect_attempts = max_connect_attempts
        self.reconnect_backoff_s = reconnect_backoff_s
        # transport-level 'M' message buffer (drained from the decoder
        # each batch; bounded drop-newest like the decoder's own)
        self.messages: list = []
        self.max_buffered_messages = 10_000
        self._conn = None
        self._loop = None
        self._acked = 0
        # truncated-fetch count for THIS transport instance — the
        # reader folds the per-fetch delta into the offset's ``trunc``
        # field (the only channel that crosses the data-source worker
        # process boundary, ADVICE r9)
        self.truncations = 0
        # per-connection equal-LSN run tracker: k = index of a frame
        # within its wal_start run since (re)connect, by
        # ``assembly.run_head_k``. START_REPLICATION resends the
        # requested LSN's run from its first frame (except a COMMIT that
        # ended at that LSN, which takes no index), so a frame's k is
        # stable across reconnects and can address batch boundaries.
        self._run_lsn: int | None = None
        self._run_k = 0
        self.stats: dict[str, int] = {"transport_errors": 0, "connects": 0}

    # -------------------------------------------------------- connection
    def _connected(self) -> bool:
        return self._conn is not None and self._conn._sock is not None

    def _disconnect(self) -> None:
        """Drop the connection state so the next ``_ensure_stream``
        reconnects from the acked LSN — the reference's response to ANY
        receive error, not just server-sent ones (client.go:386-424)."""
        if self._conn is not None:
            try:
                self._conn.close()
            except OSError:
                pass  # already dead — that's why we're here
        self._conn = None
        self._loop = None

    def _ensure_stream(self, start_lsn: int, deadline: float | None = None) -> None:
        """Connect with bounded retry/backoff (ADVICE r8): a routine
        network blip must resume the pipeline, not kill the streaming
        query. Exhausting the attempts re-raises the last error — a
        hard-down server IS fatal, matching the reference's runner.

        ``ServerError`` is retried too (code-review r9): right after a
        blip the server-side walsender often still holds the slot
        (SQLSTATE 55006 'replication slot is active'), which arrives
        as an ErrorResponse, not a socket error — the backoff is
        exactly the wait that releases it. A PERMANENT server error
        (bad credentials, missing slot with create disabled) costs the
        bounded schedule once, then surfaces. Backoff sleeps respect
        the caller's ``deadline`` so a reconnect can never blow the
        per-batch budget; the FIRST attempt always runs."""
        import time as _time

        from .pgwire import ServerError, WireConnection, WireError
        from .protocol import ReplicationClientLoop

        if self._connected():
            return
        last_exc: Exception | None = None
        for attempt in range(self.max_connect_attempts):
            if attempt:
                delay = self.reconnect_backoff_s * (2 ** (attempt - 1))
                if deadline is not None:
                    remaining = deadline - _time.monotonic()
                    if remaining <= 0:
                        break  # budget spent — surface the last error
                    delay = min(delay, remaining)
                _time.sleep(delay)
            conn = None
            try:
                conn = WireConnection(**self._kwargs).connect()
                if self._create_slot:
                    conn.create_slot(  # idempotent on 42710
                        self.slot, plugin=self.plugin, two_phase=self.two_phase
                    )
                if self.plugin == "pgoutput":
                    options = {
                        "proto_version": str(self.pgoutput_proto_version),
                        "publication_names": self.publication_names,
                    }
                    if self.pgoutput_proto_version >= 2:
                        options["streaming"] = "on"
                    if self.two_phase:
                        options["two_phase"] = "on"
                    conn.start_replication(
                        self.slot,
                        start_lsn,
                        options=options,
                        binary_payload=True,
                    )
                else:
                    conn.start_replication(self.slot, start_lsn)
            except (WireError, ServerError, OSError) as exc:
                last_exc = exc
                self.stats["transport_errors"] += 1
                if conn is not None:
                    conn.close()  # never leak a half-set-up walsender backend
                continue
            self._conn = conn
            loop_conn = conn
            if self.plugin == "pgoutput":
                # fresh adapter per connection: the relation registry is
                # session state (the server re-sends Relation frames on
                # a new session before each relation's first use)
                from .protocol import PgOutputConnAdapter

                loop_conn = PgOutputConnAdapter(
                    conn,
                    proto_version=self.pgoutput_proto_version,
                    skip_origins=self.skip_origins,
                )
            self._loop = ReplicationClientLoop(
                loop_conn, receive_timeout_s=self.receive_timeout_s
            )
            self._loop.ack(self._acked)
            self.stats["connects"] += 1
            # fresh stream ⇒ the server resends the start LSN's run
            # from its first frame: reset the equal-LSN run tracker so
            # k values realign with the original delivery
            self._run_lsn, self._run_k = None, 0
            return
        raise last_exc  # type: ignore[misc]

    # ------------------------------------------------------------- fetch
    def fetch(
        self, after_lsn: int, limit: int, after_seq: int | None = None
    ) -> list[tuple[int, int, str | None, int]]:
        """One bounded micro-batch. Exits: ``limit`` messages buffered;
        idle, when the stream has caught up; or the per-batch
        wall-clock budget.

        Idle means the server has sent everything committed when the
        fetch started. The fetch samples the server's flushed WAL
        position (``current_end``, IDENTIFY_SYSTEM ``xlogpos``) as its
        ``target`` once its stream is up, and ends as soon as a
        keepalive on that connection reports ``server_wal_end >=
        target`` — checked before every blocking receive, so a stream
        that is already caught up does not block. The walsender stamps
        a keepalive with ``sentPtr``, and it writes a transaction's
        changes while decoding its commit record, so by TCP order every
        change committed before ``target`` arrives ahead of that
        keepalive: the rule can cut a batch early, never skip data. A
        receive timeout still counts as idle, as the liveness fallback
        for a server that sends no such keepalive (or a failed sample).
        Either idle exit flags truncation instead while a pgoutput v2
        streamed transaction is open (``mid_stream``).

        A transport-level failure mid-batch
        (socket death, corrupt frame, TLS teardown) RECONNECTS and
        CONTINUES the same batch from the emitted high-water mark —
        the reference reconnects on ANY receive error
        (client.go:386-424), and for the drain contract an under-cap
        batch must mean "stream idle", never "a blip truncated us"
        (ADVICE r8 + the r9 end-to-end drive that caught exactly
        that). Only reconnect exhaustion with an EMPTY batch raises;
        with rows in hand the partial batch commits its progress and
        the next fetch surfaces the error if the server is still
        down (the drain loop re-runs on truncation, which the reader
        carries in the offset's ``trunc`` field).

        Admission filter: position ``(wal_start, k) > (after_lsn,
        after_seq-1)`` where ``k`` is the frame's index within its
        equal-LSN run since (re)connect (or synthetic) — NEVER the
        emitted high-water mark (code-review r9): a real walsender can
        stamp BEGIN and the transaction's first change with the SAME
        wal_start, so filtering past the last emitted LSN would
        silently drop the first DML of every transaction; and the
        sub-LSN ``k`` (ADVICE r9) keeps that true even when the LIMIT
        cut itself lands between two equal-LSN frames — the next batch
        resumes mid-run instead of skipping its tail. ``after_seq =
        None`` (legacy/pre-seq offsets) degrades to ``wal_start >
        after_lsn``. After a mid-batch reconnect the server resends
        from the high-water-mark LSN, so frames in (after, hwm] can be
        re-delivered as intra-batch duplicates — at-least-once, the
        reference's own behavior on resume-from-ack, deduped
        downstream by time_based_key (W4)."""
        import time as _time

        from .pgwire import ServerError, WireError

        after = _Offset(lsn=after_lsn, seq=after_seq)
        out: list[tuple[int, int, str | None, int]] = []
        # high-water mark of emitted POSITIONS: (a) a synthetic COMMIT
        # (error recovery) carries the last COMMIT's LSN, possibly
        # BELOW rows already emitted this batch — clamping keeps the
        # reader's end offset monotone (code-review r8); (b) after a
        # mid-batch reconnect its LSN is the RESUME position (never
        # the admission filter — see docstring)
        hwm, hwm_k = after_lsn, (after_seq - 1) if after_seq else -1
        truncated = False
        target: int | None = None
        deadline = _time.monotonic() + self.fetch_budget_s
        while len(out) < limit and _time.monotonic() < deadline:
            try:
                self._ensure_stream(max(hwm, self._acked), deadline=deadline)
            except (WireError, ServerError, OSError):
                if out:
                    # commit the partial batch (progress is durable);
                    # flag truncation so a drain loop runs another
                    # round, where this re-raises if still down
                    truncated = True
                    break
                raise
            if target is None:
                try:
                    target = self.current_end()
                except (WireError, ServerError, OSError):
                    pass  # no caught-up exit; the receive timeout still ends it
            # snapshot, not the raw counter: the loop's stats
            # accumulate over the CONNECTION's lifetime, so "a timeout
            # happened before this batch" must not end it
            timeouts_at_start = self._loop.stats.get("receive_timeouts", 0)
            budget_spent = False
            while len(out) < limit:
                # caught up: every change committed before ``target``
                # arrived ahead of the keepalive that reported it
                idle = target is not None and self._loop.server_wal_end >= target
                if not idle:
                    try:
                        msgs = self._loop.step()
                    except (WireError, ServerError, OSError):
                        self.stats["transport_errors"] += 1
                        self._disconnect()
                        break  # outer loop reconnects and continues the batch
                    for m in msgs:
                        if m.synthetic:
                            # error-recovery COMMIT: clamp to the batch
                            # high-water position; does not advance the
                            # equal-LSN run (it is not a WAL frame)
                            hwm = max(hwm, m.wal_start)
                            out.append((hwm, m.server_time_ms, m.line, hwm_k))
                            continue
                        if m.wal_start == self._run_lsn:
                            self._run_k += 1
                        else:
                            self._run_lsn = m.wal_start
                            self._run_k = assembly.run_head_k(m.line)
                        k = self._run_k
                        if not after.consumed(m.wal_start, k):
                            if (m.wal_start, k) > (hwm, hwm_k):
                                hwm, hwm_k = m.wal_start, k
                            out.append((m.wal_start, m.server_time_ms, m.line, k))
                    # liveness fallback: a server that sends no caught-up
                    # keepalive still ends the batch on a receive timeout
                    idle = (
                        self._loop.stats.get("receive_timeouts", 0)
                        > timeouts_at_start
                    )
                if idle:
                    if getattr(self._loop.conn, "mid_stream", False):
                        # a v2 streamed transaction is still open on the
                        # pgoutput adapter — the stream is BUSY, not
                        # idle: an under-cap batch here proves nothing
                        # about the backlog, so it must flag truncation
                        # like every other non-idle exit (code-review
                        # r10-late #4)
                        truncated = budget_spent = True
                        break
                    # stream idle — micro-batch done (drain here too:
                    # this early return must not skip the 'M' sweep)
                    self._drain_decoder_messages()
                    return out[:limit]
                if not self._connected():
                    # the LOOP closed the conn deliberately
                    # (incomplete-txn defense / error recovery): end
                    # the batch so the reader can act on it — but an
                    # under-cap batch here proves NOTHING about the
                    # backlog (the reconnect resumes WAL from the
                    # ack), so it must flag truncation like every
                    # other non-idle exit (code-review r10)
                    truncated = budget_spent = True
                    break
                if _time.monotonic() >= deadline:
                    # replaying already-acked WAL yields nothing and
                    # never times out — bound per-batch latency; the
                    # next batch resumes where this one left off
                    self.stats["fetch_budget_exhausted"] = (
                        self.stats.get("fetch_budget_exhausted", 0) + 1
                    )
                    truncated = budget_spent = True
                    break
            if budget_spent:
                break
        # flag ANY under-cap exit that does not prove the stream idle:
        # partial-batch reconnect exhaustion, the loop-closed-conn
        # exit, the inner budget branch, and the outer-loop deadline
        # exit after a mid-batch error (ADVICE r9 + code-review r10 —
        # the last two previously returned unflagged)
        if truncated or len(out) < limit:
            self.truncations += 1
        self._drain_decoder_messages()
        return out[:limit]

    # -------------------------------------------- logical messages (M)
    def _drain_decoder_messages(self) -> None:
        """Move the pgoutput decoder's buffered 'M' messages into the
        transport-level buffer after every batch, so the per-connection
        decoder never accumulates across batches (code-review
        r10-late-2 #6: nothing drained the decoder on the live path —
        the buffer grew to its cap and then dropped forever)."""
        loop = self._loop
        decoder = getattr(getattr(loop, "conn", None), "decoder", None)
        if decoder is None:
            return
        for m in decoder.drain_messages():
            if len(self.messages) >= self.max_buffered_messages:
                self.stats["messages_dropped"] = (
                    self.stats.get("messages_dropped", 0) + 1
                )
            else:
                self.messages.append(m)

    def drain_messages(self) -> list:
        """Return and clear the buffered ``LogicalMessage``s
        (``pg_logical_emit_message`` side-channel — outbox events,
        migration fences). In-process consumers (replay drains, the
        CLI --once path, tests) read these directly; across the
        PySpark data-source worker boundary only the stats counters
        travel: the reader runs in that worker's process, and only the
        offset dict comes back to the driver."""
        out = self.messages
        self.messages = []
        return out

    def current_end(self) -> int:
        """The server's flushed WAL position (IDENTIFY_SYSTEM
        ``xlogpos``) over a short-lived probe connection; ``fetch``
        samples it as its caught-up target."""
        from .pgwire import probe_xlogpos

        if self._connected():
            return self._conn.current_server_lsn()
        return probe_xlogpos(**self._kwargs)

    # --------------------------------------------------------------- ack
    def ack(self, lsn: int, seq: int | None = None) -> None:
        """``seq`` is accepted for transport-interface parity and
        ignored: StandbyStatusUpdate positions are LSN-granular (the
        walsender protocol has no sub-LSN cursor), so a reconnect may
        re-deliver an equal-LSN run head — at-least-once, deduped
        downstream by time_based_key (W4)."""
        from .pgwire import WireError

        self._acked = max(self._acked, lsn)
        if self._loop is not None and self._connected():
            self._loop.ack(self._acked)
            try:
                self._loop.send_progress()
            except (WireError, OSError):
                # the ack is durable locally (_acked); a dead socket
                # just means the next reconnect re-reports it in the
                # first standby status update (ADVICE r8)
                self.stats["transport_errors"] += 1
                self._disconnect()

    def acked(self) -> int:
        return self._acked

    def close(self) -> None:
        """Release the slot; a later fetch reconnects from its own
        ``after_lsn`` (or the acked LSN, whichever is further)."""
        self._disconnect()

    # ---------------------------------------------------- slot DDL (CLI)
    @staticmethod
    def create_slot_ddl(
        dsn: str,
        slot: str,
        plugin: str = "test_decoding",
        two_phase: bool = False,
    ) -> bool:
        """CREATE_REPLICATION_SLOT <slot> LOGICAL <plugin> over the
        wire (idempotent on SQLSTATE 42710) — utils/utils.go:38-56; the
        reference hardcodes test_decoding (utils.go:50), this engine
        also creates pgoutput slots."""
        from .pgwire import WireConnection, parse_dsn

        conn = WireConnection(**parse_dsn(dsn)).connect()
        try:
            return conn.create_slot(slot, plugin=plugin, two_phase=two_phase)
        finally:
            conn.close()

    @staticmethod
    def drop_slot_ddl(dsn: str, slot: str) -> None:
        """DROP_REPLICATION_SLOT <slot> WAIT — utils/utils.go:59-77."""
        from .pgwire import WireConnection, parse_dsn

        conn = WireConnection(**parse_dsn(dsn)).connect()
        try:
            conn.drop_slot(slot)
        finally:
            conn.close()


@dataclass
class _Offset:
    lsn: int = 0
    xid: str | None = None  # last-seen BEGIN xid (W3 carry-over)
    tbk: str | None = None  # its time_based_key
    # sub-LSN position: COUNT of messages consumed at exactly ``lsn``,
    # i.e. the last consumed message's run index k + 1
    # (``assembly.run_head_k``; ADVICE r9 — BEGIN and the txn's first
    # change share a wal_start, so an LSN alone cannot address a batch
    # boundary that lands inside an equal-LSN run). ``None`` =
    # legacy/pre-seq checkpoint semantics: everything at ``lsn``
    # consumed.
    seq: int | None = None
    # cumulative count of TRUNCATED fetches along this offset lineage
    # (budget exhaustion / partial batch on reconnect exhaustion).
    # This is the signal's only channel across the data-source worker
    # process boundary (ADVICE r9): drain_cdc_query reads the
    # start→end delta from lastProgress to decide whether an under-cap
    # batch proves the backlog empty.
    trunc: int = 0

    def to_dict(self) -> dict:
        return {
            "lsn": self.lsn,
            "xid": self.xid,
            "tbk": self.tbk,
            "seq": self.seq,
            "trunc": self.trunc,
        }

    @classmethod
    def from_dict(cls, d: dict) -> "_Offset":
        return cls(
            lsn=d.get("lsn", 0),
            xid=d.get("xid"),
            tbk=d.get("tbk"),
            seq=d.get("seq"),
            trunc=d.get("trunc") or 0,
        )

    def consumed(self, lsn: int, k: int) -> bool:
        """Whether the message at run position ``(lsn, k)`` lies at or
        before this offset: the one position order for transport
        admission, end-offset advance and checkpointed-range replay."""
        if lsn != self.lsn:
            return lsn < self.lsn
        return self.seq is None or k < self.seq

    def next_batch(self, transport, cap: int, rows: list | None = None):
        """Fetch the batch after this offset and fold it through
        ``assembly.fold`` (appending to ``rows`` when given). Returns
        ``(msgs, end)``. The end offset carries the txn state after the
        batch and the furthest position consumed: a live reconnect may
        re-deliver earlier frames, and they never move it back. An
        error marker jumps it past everything the server holds now
        (client.go:386-424), a documented at-least-once gap. ``trunc``
        adds the transport's truncated fetches."""
        truncs = transport.truncations
        msgs = transport.fetch(self.lsn, cap, self.seq)
        end = dataclasses.replace(self)
        end.xid, end.tbk, n = assembly.fold(msgs, self.xid, self.tbk, rows)
        if n:
            lsn, k = max((m[0], m[3]) for m in islice(msgs, n))
            if not end.consumed(lsn, k):
                end.lsn, end.seq = lsn, k + 1
        if n < len(msgs):
            end.lsn, end.seq = max(msgs[n][0], transport.current_end()), None
        end.trunc += transport.truncations - truncs
        return msgs, end


class _PgCdcReader(DataSourceStreamReader):
    """The offset planner both single-slot readers share. It runs in
    Spark's driver-side source process: ``latestOffset`` advances one
    admission-capped batch from the last planned or replayed end (or,
    before either, from ``_resume_state``); ``partitions`` anchors that
    advance at the range Spark plans — a restarted query replays its
    logged batch, or ``(last_end, last_end)``, before its first
    ``latestOffset`` — and delegates the chunking to ``_chunks``;
    ``commit`` acks the range end upstream (X12/W1)."""

    def __init__(self, options: dict, transport):
        self.transport = transport
        # backpressure bound — reference client buffer (main.go:647-652)
        self.max_msgs = PgCdcDataSource.admission_cap(options)
        self.msgs_per_partition = int(options.get("msgs_per_partition", "20000"))
        self._last: _Offset | None = None  # end offset of the last planned batch

    def initialOffset(self) -> dict:
        return _Offset().to_dict()

    def _resume_state(self) -> _Offset:
        """Offset to advance FROM when this reader has planned no batch
        yet and Spark replayed none: a fresh query starts at the
        initial offset."""
        return _Offset()

    def _advance(self, start: _Offset) -> _Offset:
        return start.next_batch(self.transport, self.max_msgs)[1]

    def latestOffset(self) -> dict:
        start = self._last if self._last is not None else self._resume_state()
        self._last = self._advance(start)
        return self._last.to_dict()

    def partitions(self, start: dict, end: dict):
        s, e = _Offset.from_dict(start), _Offset.from_dict(end)
        self._last = e  # replay of a logged batch also anchors advance
        return self._chunks(s, e)

    def commit(self, end: dict) -> None:
        """Micro-batch durably committed → ack the contiguous prefix
        upstream (StandbyStatusUpdate, W1/X12). The sub-LSN seq rides
        along: a replay resume via ``acked_pos`` must not skip the
        tail of an equal-LSN run when the batch cap cut inside one
        (ADVICE r9); the live transport accepts and ignores it — the
        wire ack is LSN-granular by protocol."""
        off = _Offset.from_dict(end)
        self.transport.ack(off.lsn, off.seq)


@dataclass
class _RowChunk(InputPartition):
    """Assembled rows the driver fetched, as one ``PGCDC_SCHEMA`` Arrow
    batch: an executor reads the partition, never the slot."""

    batch: object


class PgCdcLiveReader(_PgCdcReader):
    """Single-connection reader: a live slot (``dsn``), or a replay
    directory (``wal_dir``) driven the same way.

    ``latestOffset`` fetches and assembles the batch and keeps its rows;
    ``partitions`` hands them to executors in ``msgs_per_partition``-row
    chunks. A range that is not the kept batch — a logged, uncommitted
    batch replanned after a restart — is fetched again from its start
    and cut at its end with ``_Offset.consumed`` (deterministic replay,
    X13); the connection is then dropped, because it has read past the
    range end and the next fetch must restart there."""

    def __init__(self, options: dict):
        wal_dir = options.get("wal_dir")
        if not wal_dir:
            dsn, slot = options.get("dsn"), options.get("slot", "pg_bifrost_spark")
            if not dsn:
                raise ValueError("pgcdc requires option wal_dir=<replay dir> or dsn=<postgres dsn>")
            transport = LiveTransport(
                dsn,
                slot,
                plugin=options.get("plugin", "test_decoding"),
                publication_names=options.get("publication_names", "pgbifrost"),
                pgoutput_proto_version=int(
                    options.get("pgoutput_proto_version", "1")
                ),
                skip_origins=options.get("skip_origins", ""),
                two_phase=options.get("two_phase", "").lower()
                in ("on", "true", "1"),
            )
        else:
            transport = ReplayTransport(wal_dir)
        super().__init__(options, transport)
        self._kept: tuple | None = None  # (start, end, rows) of the planned batch

    def _advance(self, start: _Offset) -> _Offset:
        rows: list = []
        _msgs, end = start.next_batch(self.transport, self.max_msgs, rows)
        self._kept = (start, end, rows)
        return end

    def _chunks(self, s: _Offset, e: _Offset) -> list:
        if self._kept is not None and self._kept[:2] == (s, e):
            rows = self._kept[2]
        elif (s.lsn, s.seq) == (e.lsn, e.seq):
            rows = []  # nothing in range: leave the transport alone
        else:
            rows = []
            msgs, _ = s.next_batch(self.transport, self.max_msgs, rows)
            rows = [r for r, m in zip(rows, msgs) if e.consumed(m[0], m[3])]
            self.transport.close()
        n = self.msgs_per_partition
        return [
            _RowChunk(assembly.arrow_batch(rows[i : i + n]))
            for i in range(0, max(len(rows), 1), n)
        ]

    def read(self, partition: _RowChunk):
        yield partition.batch

    def stop(self) -> None:
        self.transport.close()


# ---------------------------------------------------------------------------
# partition-parallel replay reader
# ---------------------------------------------------------------------------
@dataclass
class _WalChunk(InputPartition):
    """A contiguous slice of the sorted corpus addressed as seekable
    file spans — ``spans[k] = (file, raw_line_start, raw_line_end)``,
    half-open, in corpus order — plus the transaction-assembly state
    active at the slice's first message (computed by the driver so
    executors never need cross-chunk context). A task reads ONLY its
    span lines: per-task I/O and parse cost is proportional to the
    chunk, never to the corpus."""

    wal_dir: str
    spans: list
    base_xid: str | None
    base_tbk: str | None


def _read_span_msgs(wal_dir: str, spans: list):
    """Parse exactly the span lines into (lsn, time_ms, line|None), in
    span-list order.

    ONE sequential pass per distinct file regardless of span count: a
    WAL corpus whose control and DML records land in different files
    interleaves in LSN order, shattering a chunk into thousands of
    tiny spans — the naive open-per-span loop is O(spans × file) line
    iteration (measured 24 s for a 20 k-message chunk; this pass form
    is 0.2 s)."""
    by_file: dict[str, list] = {}
    for name, a, b in spans:
        by_file.setdefault(name, []).append((a, b))
    parsed: dict[tuple[str, int], tuple] = {}
    for name, ranges in by_file.items():
        ranges = sorted(ranges)
        ri, n_ranges = 0, len(ranges)
        last_line = ranges[-1][1]
        with open(os.path.join(wal_dir, name)) as f:
            for lineno, raw in enumerate(f):
                if lineno >= last_line:
                    break
                while ri < n_ranges and lineno >= ranges[ri][1]:
                    ri += 1
                if ri >= n_ranges or lineno < ranges[ri][0] or not raw.strip():
                    continue
                msg = json.loads(raw)
                parsed[(name, lineno)] = (
                    msg["wal_start"],
                    msg.get("server_time_ms", 0),
                    None if "error" in msg else msg["line"],
                )
    out = []
    for name, a, b in spans:
        for lineno in range(a, b):
            hit = parsed.get((name, lineno))
            if hit is not None:
                out.append(hit)
    return out


class PgCdcParallelReader(_PgCdcReader):
    """Replay-transport reader with executor-parallel Arrow reads.

    The driver does exactly what the reference's replication goroutine
    does — track the WAL position, assemble transaction identity,
    bound the client buffer (W6), skip ahead on decode errors (S7) —
    but ONLY over offsets: no row ever materializes driver-side. Data
    movement is per-partition on executors: each task parses its LSN
    slice of the corpus and yields one Arrow RecordBatch, so the
    Python→JVM hop is a columnar buffer, not 600 k pickled tuples.
    Offsets are the live reader's (``{"lsn", "xid", "tbk", "seq",
    "trunc"}`` — the sub-LSN resume position and the truncated-fetch
    count, ADVICE r9), so checkpoints carry the in-flight transaction
    state (W3) either way.

    Scale posture: a 1000-executor cluster reads a WAL replay corpus
    at aggregate disk bandwidth; per-batch admission is still bounded
    (max_msgs_per_batch), and commit() acks the contiguous prefix
    upstream (X12/W1)."""

    def __init__(self, options: dict):
        self.wal_dir = options["wal_dir"]
        super().__init__(options, ReplayTransport(self.wal_dir))

    # -- driver-side offset planning ------------------------------------
    def _resume_state(self) -> _Offset:
        """The acked position is the last durably committed batch end
        (commit() wrote it, with its sub-LSN seq — an LSN-only ack
        would skip the equal-LSN run tail after a mid-run batch
        boundary, ADVICE r9). The in-flight txn state there comes from
        ``assembly.enclosing_txn`` — O(txn) work, once per query
        start."""
        lsn, seq = self.transport.acked_pos()
        msgs = self.transport._load()
        _, xid, tbk = assembly.enclosing_txn(msgs, self.transport.index(lsn, seq))
        return _Offset(lsn=lsn, xid=xid, tbk=tbk, seq=seq)

    def _spans(self, a: int, b: int) -> list:
        """Compress sorted-corpus indices [a, b) into (file, line_lo,
        line_hi) spans. Consecutive sorted messages on consecutive
        lines of one file merge into one span (the WAL writer emits
        LSN-ordered files, so spans are typically chunk-sized); an
        out-of-order corpus degrades to shorter spans, never to
        wrong data."""
        locs = self.transport._locs
        spans: list = []
        for i in range(a, b):
            name, line = locs[i]
            if spans and spans[-1][0] == name and spans[-1][2] == line:
                spans[-1][2] = line + 1
            else:
                spans.append([name, line, line + 1])
        return [tuple(s) for s in spans]

    def _chunks(self, s: _Offset, e: _Offset) -> list:
        """Chunks of the corpus slice for offset range (s, e], each
        with the txn state at its first message. An error marker ends
        the slice just past itself (skip-ahead leaves a documented
        gap)."""
        msgs = self.transport._load()
        a, i1 = self.transport.index(s.lsn, s.seq), self.transport.index(e.lsn, e.seq)
        chunks: list[_WalChunk] = []
        xid, tbk = s.xid, s.tbk
        while a < i1:
            b = min(a + self.msgs_per_partition, i1)
            next_xid, next_tbk, n = assembly.fold(msgs[a:b], xid, tbk)
            if a + n < b:
                b = i1 = a + n + 1
            chunks.append(_WalChunk(self.wal_dir, self._spans(a, b), xid, tbk))
            xid, tbk, a = next_xid, next_tbk, b
        return chunks or [_WalChunk(self.wal_dir, [], s.xid, s.tbk)]

    # -- executor-side data path ----------------------------------------
    def read(self, partition: _WalChunk):
        rows: list = []
        msgs = _read_span_msgs(partition.wal_dir, partition.spans)
        assembly.fold(msgs, partition.base_xid, partition.base_tbk, rows)
        yield assembly.arrow_batch(rows)


class PgCdcDataSource(DataSource):
    """spark.readStream.format("pgcdc").option("wal_dir", dir).load()"""

    # Admission contract (W6): both readers admit by MESSAGE COUNT —
    # each micro-batch is exactly min(backlog, admission_cap(options))
    # messages. ``drain_cdc_query`` asserts this declaration at
    # runtime before using an under-cap batch as its stop signal; a
    # source admitting by bytes/files must declare its own semantics
    # and will be rejected there instead of silently under-draining.
    ADMISSION_SEMANTICS = "messages"

    @staticmethod
    def admission_cap(options: dict) -> int:
        """The per-batch message cap the readers actually apply —
        single source of truth shared with ``drain_cdc_query`` so the
        drain loop's stop condition can never drift from the readers'
        parsing (same key, same default)."""
        return int(options.get("max_msgs_per_batch", "10000"))

    @classmethod
    def name(cls) -> str:
        return "pgcdc"

    def schema(self) -> StructType:
        return PGCDC_SCHEMA

    def streamReader(self, schema: StructType) -> _PgCdcReader:
        """The partition-parallel replay reader for ``wal_dir`` (the
        driver plans LSN ranges, EXECUTORS parse WAL lines into Arrow
        batches), the live reader for ``dsn`` (one replication
        connection, held by the driver-side source process)."""
        if self.options.get("wal_dir"):
            return PgCdcParallelReader(self.options)
        return PgCdcLiveReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(PgCdcDataSource)
