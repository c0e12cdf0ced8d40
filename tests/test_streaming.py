"""End-to-end streaming tests: pgcdc source → pipeline → foreachBatch,
with checkpoint/commit (ack) verification — the Spark rendition of the
reference's itest invariants (confirmed_flush_lsn ≥ max output LSN;
SURVEY.md §5.2 checks 5&6)."""

from __future__ import annotations

import json
import os

from pg_bifrost_spark.cdc.fixtures import dml_line, ops_to_raw_lines, txn
from pg_bifrost_spark.cdc.pipeline import PipelineConfig
from pg_bifrost_spark.sources.pgcdc import PgCdcLiveReader, ReplayTransport
from pg_bifrost_spark.sources.testing import read_batch
from pg_bifrost_spark.streaming.core import start_cdc_query
from pg_bifrost_spark.sinks.writers import kinesis_writer
from pg_bifrost_spark.streaming.stats import aggregate_stats


def write_replay_dir(tmp_path, ops) -> str:
    wal_dir = str(tmp_path / "wal")
    os.makedirs(wal_dir, exist_ok=True)
    rows = ops_to_raw_lines(ops)
    with open(os.path.join(wal_dir, "000.jsonl"), "w") as f:
        for wal_start, _, time_ms, _, line in rows:
            f.write(json.dumps({"wal_start": wal_start, "server_time_ms": time_ms, "line": line}) + "\n")
    return wal_dir


BASIC_OPS = [
    *txn(100, dml_line("public.users", "INSERT", [("id", "integer", 1), ("name", "text", "a")])),
    *txn(101, dml_line("public.users", "INSERT", [("id", "integer", 2), ("name", "text", "b")])),
    *txn(102, dml_line("public.secrets", "INSERT", [("id", "integer", 9)])),
]


def test_stream_end_to_end_with_ack(spark, tmp_path):
    wal_dir = write_replay_dir(tmp_path, BASIC_OPS)
    collected: list[dict] = []

    def sink(df, epoch_id):
        collected.extend(r.asDict() for r in df.collect())

    q = start_cdc_query(
        spark,
        sink,
        checkpoint_dir=str(tmp_path / "ckpt"),
        cfg=PipelineConfig(blacklist=["public.secrets"], partition_method="tablename"),
        source_options={"wal_dir": wal_dir},
    )
    q.awaitTermination(120)

    payloads = [r for r in collected if r["json"] is not None]
    assert len(payloads) == 2
    envs = [json.loads(r["json"]) for r in payloads]
    assert {e["table"] for e in envs} == {"public.users"}
    assert all(r["partition_key"] == "public.users" for r in payloads)
    # txn assembly happened in the source reader
    assert sorted(r["transaction"] for r in payloads) == ["100", "101"]


def test_stream_resume_from_checkpoint(spark, tmp_path):
    """New data after a restart is picked up from the committed offset
    (X13 resume-at-LSN), without reprocessing old messages."""
    wal_dir = write_replay_dir(tmp_path, BASIC_OPS)
    seen: list[str] = []

    def sink(df, epoch_id):
        seen.extend(r.json for r in df.collect() if r.json)

    ckpt = str(tmp_path / "ckpt")

    q = start_cdc_query(spark, sink, ckpt, source_options={"wal_dir": wal_dir})
    q.awaitTermination(120)
    n_first = len(seen)
    assert n_first == 3

    # append a new transaction to the WAL dir
    more = txn(200, dml_line("public.users", "INSERT", [("id", "integer", 3)]))
    rows = ops_to_raw_lines(more, start_lsn=100_000)
    with open(os.path.join(wal_dir, "001.jsonl"), "w") as f:
        for wal_start, _, time_ms, _, line in rows:
            f.write(json.dumps({"wal_start": wal_start, "server_time_ms": time_ms, "line": line}) + "\n")

    q2 = start_cdc_query(spark, sink, ckpt, source_options={"wal_dir": wal_dir})
    q2.awaitTermination(120)
    new = seen[n_first:]
    assert len(new) == 1  # only the new INSERT, no replay of old rows
    assert json.loads(new[0])["columns"]["id"]["new"]["v"] == "3"

    # batch N's source commit fires when batch N+1 is constructed
    # (lazy ack, like the Kafka source): after the second query, the
    # first batch's LSN must be acked upstream — the reference's
    # confirmed_flush_lsn invariant (itests/common.bash:150-167)
    assert ReplayTransport(wal_dir).acked() >= 1064


def test_source_reader_carries_txn_state_across_batches(tmp_path):
    """A transaction split across micro-batches keeps its xid (W3):
    the assembly state rides inside the offset."""
    wal_dir = write_replay_dir(
        tmp_path,
        txn(
            300,
            dml_line("public.t", "INSERT", [("id", "integer", 1)]),
            dml_line("public.t", "INSERT", [("id", "integer", 2)]),
        ),
    )
    reader = PgCdcLiveReader({"wal_dir": wal_dir, "max_msgs_per_batch": "2"})
    rows1, off1 = read_batch(reader, reader.initialOffset())
    rows1 = list(rows1)
    rows2, off2 = read_batch(reader, off1)
    rows2 = list(rows2)
    assert [r[4].split()[0] for r in rows1] == ["BEGIN", "table"]
    assert [r[4].split()[0] for r in rows2] == ["table", "COMMIT"]
    # all four messages carry the BEGIN's xid and time_based_key
    assert {r[5] for r in rows1 + rows2} == {"300"}
    assert len({r[6] for r in rows1 + rows2}) == 1


def test_kinesis_writer_with_fake_transport(spark, tmp_path):
    """foreachBatch kinesis writer: chunking + partial retry against an
    injected transport (first attempt fails half the records)."""
    wal_dir = write_replay_dir(tmp_path, BASIC_OPS)
    import tempfile

    log_dir = tempfile.mkdtemp()

    def flaky_transport(batch):
        # executor-side: append sends to a file per attempt
        with open(os.path.join(log_dir, f"attempt_{len(os.listdir(log_dir))}"), "w") as f:
            f.write("\n".join(d.decode() for d, _ in batch))
        if len(os.listdir(log_dir)) == 1:
            return batch[1:]  # fail all but the first record once
        return []

    def sink(df, epoch_id):
        kinesis_writer("test-stream", transport=flaky_transport)(df.coalesce(1), epoch_id)

    q = start_cdc_query(spark, sink, str(tmp_path / "ck"), source_options={"wal_dir": wal_dir})
    q.awaitTermination(120)
    attempts = sorted(os.listdir(log_dir))
    assert len(attempts) >= 2  # initial + at least one partial retry


def test_kinesis_partition_key_methods(spark, tmp_path):
    """K3: spread keys = per-record WalStart; sticky keys = the batch
    partition_key (kinesis/utils/kinesis.go:19-24)."""
    import tempfile

    wal_dir = write_replay_dir(tmp_path, BASIC_OPS)
    log = tempfile.mkdtemp()

    def capture(batch):
        with open(os.path.join(log, f"b{len(os.listdir(log))}"), "w") as f:
            for _, pk in batch:
                f.write(pk + "\n")
        return []

    def run(spread, ck):
        def sink(df, epoch):
            kinesis_writer("s", spread_keys=spread, transport=capture)(df.coalesce(1), epoch)

        q = start_cdc_query(
            spark,
            sink,
            str(tmp_path / ck),
            cfg=PipelineConfig(partition_method="tablename"),
            source_options={"wal_dir": wal_dir},
        )
        q.awaitTermination(120)
        keys = []
        for f in sorted(os.listdir(log)):
            keys += open(os.path.join(log, f)).read().split()
            os.remove(os.path.join(log, f))
        return keys

    spread_keys = run(True, "ck_spread")
    assert all(k.isdigit() for k in spread_keys)  # WalStart per record
    assert len(set(spread_keys)) == len(spread_keys)
    sticky_keys = run(False, "ck_sticky")
    assert set(sticky_keys) == {"public.users", "public.secrets"}


def test_stats_aggregation_batch_twin(spark):
    import datetime as dt

    rows = [
        ("filter", "passed", "count", 1.0, dt.datetime(2024, 1, 1, 0, 0, 5)),
        ("filter", "passed", "count", 2.0, dt.datetime(2024, 1, 1, 0, 0, 50)),
        ("filter", "passed", "count", 5.0, dt.datetime(2024, 1, 1, 0, 1, 10)),
    ]
    df = spark.createDataFrame(rows, "component string, name string, unit string, value double, ts timestamp")
    out = {(r.bucket_start.minute, r.n, r.total) for r in aggregate_stats(df).collect()}
    assert out == {(0, 2, 3.0), (1, 1, 5.0)}


def test_backpressure_many_microbatches(spark, tmp_path):
    """W6: a tiny client buffer (max_msgs_per_batch=2, the reference's
    CLIENT_BUFFER_SIZE=1 itest analog) forces many micro-batches; all
    data still arrives exactly once in WAL order per stream."""
    wal_dir = write_replay_dir(tmp_path, BASIC_OPS)
    batches: list[int] = []
    rows: list = []

    def sink(df, epoch):
        got = df.collect()
        batches.append(len(got))
        rows.extend(got)

    from pg_bifrost_spark.streaming.core import drain_cdc_query

    drain_cdc_query(
        spark,
        sink,
        str(tmp_path / "ck"),
        workers=1,  # strict-order routing: the mode that guarantees order
        source_options={"wal_dir": wal_dir, "max_msgs_per_batch": "2"},
    )
    assert len(rows) == 9  # 3 txns x 3 messages
    assert len([b for b in batches if b > 0]) >= 4  # actually split up
    lsns = [r.wal_start for r in rows]
    assert lsns == sorted(lsns)  # order preserved across micro-batches


def test_drain_rejects_non_message_admission(spark, tmp_path):
    """W6 contract enforcement (VERDICT r6 ask #7): drain's under-cap
    early exit is only sound for message-count admission. A source
    declaring byte semantics must be rejected BEFORE any query starts
    (a byte-admitting source can return an under-cap batch while
    backlog remains → silent under-drain)."""
    import pytest

    from pg_bifrost_spark.sources.pgcdc import PgCdcDataSource
    from pg_bifrost_spark.streaming.core import drain_cdc_query

    class ByteAdmittingSource(PgCdcDataSource):
        ADMISSION_SEMANTICS = "bytes"

        @staticmethod
        def admission_cap(options):
            return int(options.get("max_bytes_per_batch", "65536"))

    with pytest.raises(RuntimeError, match="ADMISSION_SEMANTICS='bytes'"):
        drain_cdc_query(
            spark,
            lambda df, epoch: None,
            str(tmp_path / "ck"),
            source_options={"wal_dir": str(tmp_path)},
            source=ByteAdmittingSource,
        )

    class UndeclaredSource(PgCdcDataSource):
        ADMISSION_SEMANTICS = None

    with pytest.raises(RuntimeError, match="ADMISSION_SEMANTICS=None"):
        drain_cdc_query(
            spark,
            lambda df, epoch: None,
            str(tmp_path / "ck"),
            source_options={"wal_dir": str(tmp_path)},
            source=UndeclaredSource,
        )


UNCOMMITTED_OPS = [
    op
    for i in range(8)
    for op in txn(300 + i, dml_line("public.t", "INSERT", [("id", "integer", i)]))
]  # 24 messages


def _drain_after_failed_batch(spark, ckpt, opts):
    """Drain with a sink that fails its first batch, then drain again
    from the same checkpoint. Returns the failed batch's ids and the
    ids of every delivered batch."""
    import pytest as _pytest

    from pg_bifrost_spark.streaming.core import drain_cdc_query

    failed: list[str] = []
    batches: list[list[str]] = []
    fail_once = {"armed": True}

    def flaky_sink(df, epoch_id):
        ids = [
            json.loads(r.json)["columns"]["id"]["new"]["v"]
            for r in df.collect()
            if r.json
        ]
        if fail_once["armed"]:
            fail_once["armed"] = False
            failed.extend(ids)
            raise RuntimeError("sink outage: batch must stay uncommitted")
        batches.append(ids)

    with _pytest.raises(Exception, match="sink outage"):
        drain_cdc_query(spark, flaky_sink, ckpt, source_options=opts)
    assert batches == []  # nothing delivered, offsets/0 written, commits/0 absent
    assert os.path.exists(os.path.join(ckpt, "offsets", "0"))
    assert not os.path.exists(os.path.join(ckpt, "commits", "0"))

    rounds = drain_cdc_query(spark, flaky_sink, ckpt, source_options=opts)
    assert rounds >= 2  # the re-run batch, then the rest of the backlog
    return failed, batches


def test_drain_recovers_uncommitted_batch(spark, tmp_path):
    """Pin the AvailableNow-fallback edge (VERDICT r8 ask #6): the
    Python source falls back to single-batch runs, and Spark warns it
    "may not guarantee processing new data if there is an uncommitted
    batch". The drain path's contract: a run whose SINK fails leaves
    offsets/N without commits/N; the next drain from the same
    checkpoint must re-run that exact batch (the reader replans the
    logged range deterministically) and then keep draining the
    backlog — no loss, the failed batch re-delivered, nothing
    skipped."""
    wal_dir = write_replay_dir(tmp_path, UNCOMMITTED_OPS)
    opts = {"wal_dir": wal_dir, "max_msgs_per_batch": "10"}
    failed, batches = _drain_after_failed_batch(spark, str(tmp_path / "ckpt"), opts)
    assert batches[0] == failed
    got = sorted(i for b in batches for i in b)
    assert got == sorted(str(i) for i in range(8)), got


def test_drain_recovers_uncommitted_live_batch(spark, tmp_path):
    """The same contract on a live slot, against a walsender that
    resends from the requested LSN. The next drain replans the logged
    batch on the source process's own connection — fetched again from
    its start offset, cut at its end — and then reconnects at the batch
    end, so the frames the replan read past it are streamed again
    instead of being lost."""
    import sys

    sys.path.insert(0, os.path.dirname(__file__))
    from test_pgwire import DB, USER, FakeWalsender

    from pg_bifrost_spark.sources.assembly import is_commit

    frames = [("xlog", ws, line) for ws, _, _, _, line in ops_to_raw_lines(UNCOMMITTED_OPS)]

    def resend_from(lsn):
        # a walsender started at lsn resends that LSN's run, except a
        # COMMIT that ended there
        return [f for f in frames if f[1] > lsn or (f[1] == lsn and not is_commit(f[2]))]

    srv = FakeWalsender(frames_per_conn=[resend_from] * 8, concurrent=True)
    opts = {
        "dsn": f"postgres://{USER}@127.0.0.1:{srv.port}/{DB}",
        "slot": "s_replan",
        "max_msgs_per_batch": "10",
    }
    try:
        failed, batches = _drain_after_failed_batch(spark, str(tmp_path / "ckpt"), opts)
        assert batches[0] == failed  # exactly the logged batch
        got = sorted(i for b in batches for i in b)
        assert got == sorted(str(i) for i in range(8)), got
        # drain 1, the replan from the initial offset, then the
        # reconnect at the replanned batch's end (its 10th message)
        assert srv.start_lsns[:3] == [0, 0, frames[9][1]], srv.start_lsns
        assert srv.rejected_starts == []
        assert srv.failures == [], srv.failures
    finally:
        srv.close()


def test_drain_sees_truncation_across_process_boundary(spark, tmp_path):
    """ADVICE r9 (high): the reader runs inside PySpark's data-source
    worker process, so a module counter bumped by the transport there
    is INVISIBLE to the drain loop in the driver process. The signal
    must ride the offset (``trunc`` field → lastProgress). This twin
    truncates its first fetch in whatever process the reader runs in —
    the drain recovers the cut-off backlog only if the offset channel
    works."""
    from pg_bifrost_spark.sources.testing import TruncatingReplaySource
    from pg_bifrost_spark.streaming.core import drain_cdc_query

    ops = []
    for i in range(2):
        ops.extend(
            txn(500 + i, dml_line("public.t", "INSERT", [("id", "integer", i)]))
        )
    wal_dir = write_replay_dir(tmp_path, ops)  # 6 messages, cap 10
    seen: list[str] = []

    def sink(df, epoch_id):
        seen.extend(r.json for r in df.collect() if r.json)

    rounds = drain_cdc_query(
        spark,
        sink,
        str(tmp_path / "ckpt"),
        source_options={"wal_dir": wal_dir},
        source=TruncatingReplaySource,
    )
    # round 1 delivered 2 of 6 (truncated, under cap); without the
    # offset channel the drain would stop there with backlog remaining
    assert rounds >= 2
    got = sorted(json.loads(j)["columns"]["id"]["new"]["v"] for j in seen)
    assert got == ["0", "1"], got


def test_equal_lsn_batch_boundary_replay_reader(tmp_path):
    """ADVICE r9 (medium), replay side: BEGIN and the transaction's
    first change share a wal_start; with the admission cap cutting
    between them, the offset's sub-LSN seq must resume mid-run — an
    LSN-only offset would drop the first DML."""
    wal_dir = str(tmp_path / "wal")
    os.makedirs(wal_dir)
    lines = [
        (1000, "BEGIN 800"),
        (1000, "table public.t: INSERT: id[integer]:1"),
        (1008, "COMMIT 800"),
    ]
    with open(os.path.join(wal_dir, "000.jsonl"), "w") as f:
        for lsn, line in lines:
            f.write(json.dumps({"wal_start": lsn, "server_time_ms": 1, "line": line}) + "\n")

    reader = PgCdcLiveReader({"wal_dir": wal_dir, "max_msgs_per_batch": "1"})
    out, off = [], reader.initialOffset()
    for _ in range(3):
        rows, off = read_batch(reader, off)
        out.extend(rows)
    assert [r[4].split(" ")[0] for r in out] == ["BEGIN", "table", "COMMIT"]
    assert [r[0] for r in out] == [1000, 1000, 1008]
    # the mid-run offset addressed the boundary: (lsn=1000, seq=1)
    assert off["lsn"] == 1008
    # replay of a checkpointed mid-run range honors the sub-LSN bound
    off1 = PgCdcLiveReader(
        {"wal_dir": wal_dir, "max_msgs_per_batch": "1"}
    ).latestOffset()
    replayed = [
        r
        for p in reader.partitions(reader.initialOffset(), off1)
        for b in reader.read(p)
        for r in zip(*[c.to_pylist() for c in b.columns])
    ]
    assert [r[4].split(" ")[0] for r in replayed] == ["BEGIN"]


def test_replay_transport_position_fetch(tmp_path):
    """ReplayTransport position contract: k = index within the
    equal-LSN run; after_seq resumes mid-run; seq=None is the legacy
    whole-run form; the ack record round-trips the position."""
    wal_dir = str(tmp_path / "wal")
    os.makedirs(wal_dir)
    with open(os.path.join(wal_dir, "000.jsonl"), "w") as f:
        for lsn, line in [(100, "BEGIN 1"), (100, "table t: INSERT"), (100, "COMMIT 1"), (108, "BEGIN 2")]:
            f.write(json.dumps({"wal_start": lsn, "server_time_ms": 0, "line": line}) + "\n")
    t = ReplayTransport(wal_dir)
    first = t.fetch(0, 2)
    assert [(m[0], m[3]) for m in first] == [(100, 0), (100, 1)]
    rest = t.fetch(100, 10, after_seq=2)
    assert [(m[0], m[3]) for m in rest] == [(100, 2), (108, 0)]
    legacy = t.fetch(100, 10)  # seq=None: everything at 100 consumed
    assert [(m[0], m[3]) for m in legacy] == [(108, 0)]
    t.ack(100, 2)
    assert t.acked() == 100
    assert t.acked_pos() == (100, 2)
    t.ack(108)  # legacy form still round-trips
    assert t.acked_pos() == (108, None)


def test_simple_reader_commit_acks_sub_lsn_seq(tmp_path):
    """Code-review r10: commit() must ack the sub-LSN seq, not just
    the LSN — a replay resume via acked_pos() after a batch boundary
    inside an equal-LSN run would otherwise skip the run's tail (the
    transaction's first DML), the exact class the parallel reader's
    commit was fixed for."""
    wal_dir = str(tmp_path / "wal")
    os.makedirs(wal_dir)
    with open(os.path.join(wal_dir, "000.jsonl"), "w") as f:
        for lsn, line in [
            (1000, "BEGIN 900"),
            (1000, "table public.t: INSERT: id[integer]:7"),
            (1008, "COMMIT 900"),
        ]:
            f.write(json.dumps({"wal_start": lsn, "server_time_ms": 1, "line": line}) + "\n")

    reader = PgCdcLiveReader({"wal_dir": wal_dir, "max_msgs_per_batch": "1"})
    rows, off = read_batch(reader, reader.initialOffset())
    assert [r[4].split(" ")[0] for r in rows] == ["BEGIN"]
    reader.commit(off)  # batch boundary landed inside the lsn=1000 run
    assert reader.transport.acked_pos() == (1000, 1)
    # a fresh transport resuming from the ack record sees the DML
    t = ReplayTransport(wal_dir)
    lsn0, seq0 = t.acked_pos()
    resumed = t.fetch(lsn0, 10, after_seq=seq0)
    assert [m[2].split(" ")[0] for m in resumed] == ["table", "COMMIT"]
