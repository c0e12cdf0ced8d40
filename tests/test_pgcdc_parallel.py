"""The partition-parallel replay reader must be row-identical to the
sequential live reader (driven over replay) on the same corpus — same txn stamping, same
error skip-ahead, same offsets — while reading spans on executors.

Reference behaviors mirrored: transaction assembly (client.go:487-545),
error-recovery skip-ahead (client.go:386-424), resume-at-LSN.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pytest

from pg_bifrost_spark.sources.pgcdc import (
    PgCdcLiveReader,
    PgCdcParallelReader,
    _Offset,
    _read_span_msgs,
)
from pg_bifrost_spark.sources.testing import read_batch


def _write(path: str, msgs: list[dict]) -> None:
    with open(path, "w") as f:
        for m in msgs:
            f.write(json.dumps(m) + "\n")


def _corpus(tmp_path, n_txns: int = 10, interleave: bool = True):
    """BEGIN/INSERT×2/COMMIT txns; control and DML lines land in
    DIFFERENT files when interleave=True (the file-shattered layout a
    multi-partition WAL writer produces — every span degenerates to a
    few lines, the worst case for the span reader)."""
    wal_dir = str(tmp_path / "wal")
    os.makedirs(wal_dir, exist_ok=True)
    control, dml = [], []
    lsn = 1  # offsets are "after LSN": 0 is the pre-stream position
    for t in range(n_txns):
        xid = 700 + t
        control.append({"wal_start": lsn, "server_time_ms": lsn, "line": f"BEGIN {xid}"})
        lsn += 1
        for i in range(2):
            dml.append(
                {
                    "wal_start": lsn,
                    "server_time_ms": lsn,
                    "line": f"table public.t: INSERT: id[integer]:{t * 2 + i}",
                }
            )
            lsn += 1
        control.append({"wal_start": lsn, "server_time_ms": lsn, "line": f"COMMIT {xid}"})
        lsn += 1
    if interleave:
        _write(os.path.join(wal_dir, "a.jsonl"), control)
        _write(os.path.join(wal_dir, "b.jsonl"), dml)
    else:
        _write(os.path.join(wal_dir, "a.jsonl"), sorted(control + dml, key=lambda m: m["wal_start"]))
    return wal_dir


def _drain_parallel(wal_dir: str, max_msgs: int, msgs_per_partition: int = 3):
    """Drive the reader exactly as Spark does: latestOffset →
    partitions → read per partition → commit."""
    r = PgCdcParallelReader(
        {
            "wal_dir": wal_dir,
            "max_msgs_per_batch": str(max_msgs),
            "msgs_per_partition": str(msgs_per_partition),
        }
    )
    rows, start = [], r.initialOffset()
    for _ in range(100):
        end = r.latestOffset()
        if end["lsn"] == start["lsn"]:
            break
        for part in r.partitions(start, end):
            for batch in r.read(part):
                assert isinstance(batch, pa.RecordBatch)
                rows.extend(zip(*[c.to_pylist() for c in batch.columns]))
        r.commit(end)
        start = end
    return rows


def _drain_simple(wal_dir: str, max_msgs: int):
    r = PgCdcLiveReader({"wal_dir": wal_dir, "max_msgs_per_batch": str(max_msgs)})
    rows, start = [], r.initialOffset()
    for _ in range(100):
        out, end = read_batch(r, start)
        out = list(out)
        if not out:
            break
        rows.extend(out)
        start = end
    return rows


@pytest.mark.parametrize("interleave", [True, False])
@pytest.mark.parametrize("max_msgs", [4, 7, 1000])
def test_parallel_matches_simple(tmp_path, interleave, max_msgs):
    wal_dir = _corpus(tmp_path, interleave=interleave)
    par = _drain_parallel(wal_dir, max_msgs)
    simple = _drain_simple(wal_dir, max_msgs)
    assert [tuple(r) for r in par] == [tuple(r) for r in simple]
    # txn stamping survived chunking: every row carries its BEGIN's xid
    assert all(r[5] is not None for r in par)


def test_parallel_chunks_are_txn_consistent(tmp_path):
    """Chunk boundaries mid-transaction: base_xid carries the state."""
    wal_dir = _corpus(tmp_path, n_txns=5)
    rows = _drain_parallel(wal_dir, max_msgs=1000, msgs_per_partition=2)
    by_xid: dict = {}
    for r in rows:
        by_xid.setdefault(r[5], []).append(r[4])
    for xid, lines in by_xid.items():
        assert lines[0] == f"BEGIN {xid}"
        assert lines[-1] == f"COMMIT {xid}"
        assert len(lines) == 4


def test_error_marker_synthetic_commit_and_skip(tmp_path):
    wal_dir = str(tmp_path / "wal")
    os.makedirs(wal_dir)
    _write(
        os.path.join(wal_dir, "a.jsonl"),
        [
            {"wal_start": 1, "server_time_ms": 1, "line": "BEGIN 9"},
            {"wal_start": 2, "server_time_ms": 2, "line": "table public.t: INSERT: id[integer]:1"},
            {"wal_start": 3, "server_time_ms": 3, "error": "decode fault"},
            {"wal_start": 4, "server_time_ms": 4, "line": "BEGIN 10"},
            {"wal_start": 5, "server_time_ms": 5, "line": "COMMIT 10"},
        ],
    )
    rows = _drain_parallel(wal_dir, max_msgs=1000)
    lines = [r[4] for r in rows]
    # synthetic COMMIT closes txn 9; everything to the server WAL end
    # is skipped (documented at-least-once gap), so txn 10 never shows
    assert lines == ["BEGIN 9", "table public.t: INSERT: id[integer]:1", "COMMIT 9"]


def test_resume_recovers_midtxn_state(tmp_path):
    """A restart whose acked LSN lands mid-transaction must stamp the
    remaining rows with the open txn's xid (W3 via _resume_state)."""
    wal_dir = _corpus(tmp_path, n_txns=3, interleave=False)
    # drain the first 2 messages (BEGIN 700 + one INSERT), ack
    r1 = PgCdcParallelReader({"wal_dir": wal_dir, "max_msgs_per_batch": "2"})
    end1 = r1.latestOffset()
    r1.commit(end1)
    assert end1["xid"] == "700"
    # fresh reader object (new query) — no in-memory state
    r2 = PgCdcParallelReader({"wal_dir": wal_dir, "max_msgs_per_batch": "1000"})
    end2 = r2.latestOffset()
    parts = r2.partitions(end1, end2)
    rows = [t for p in parts for b in r2.read(p) for t in zip(*[c.to_pylist() for c in b.columns])]
    # first resumed row is the txn-700 INSERT, still stamped 700
    assert rows[0][4].startswith("table public.t: INSERT")
    assert rows[0][5] == "700"


def test_span_reader_orders_fragmented_spans(tmp_path):
    """_read_span_msgs returns span-list order even when the span list
    jumps between files (the interleaved-corpus shape)."""
    wal_dir = str(tmp_path / "wal")
    os.makedirs(wal_dir)
    _write(os.path.join(wal_dir, "a.jsonl"), [{"wal_start": i, "server_time_ms": 0, "line": f"A{i}"} for i in (0, 2, 4)])
    _write(os.path.join(wal_dir, "b.jsonl"), [{"wal_start": i, "server_time_ms": 0, "line": f"B{i}"} for i in (1, 3, 5)])
    spans = [("a.jsonl", 0, 1), ("b.jsonl", 0, 1), ("a.jsonl", 1, 2), ("b.jsonl", 1, 3), ("a.jsonl", 2, 3)]
    out = _read_span_msgs(wal_dir, spans)
    assert [m[2] for m in out] == ["A0", "B1", "A2", "B3", "B5", "A4"]


def test_read_is_deterministic_under_task_retry(tmp_path):
    """Spark retries a failed task by calling read() again with the
    same partition — the result must be byte-identical (read is a pure
    function of the on-disk corpus + partition)."""
    wal_dir = _corpus(tmp_path, interleave=True)
    r = PgCdcParallelReader(
        {"wal_dir": wal_dir, "max_msgs_per_batch": "1000", "msgs_per_partition": "3"}
    )
    end = r.latestOffset()
    for part in r.partitions(r.initialOffset(), end):
        first = [b.to_pydict() for b in r.read(part)]
        again = [b.to_pydict() for b in r.read(part)]
        assert first == again
