"""S7 error-recovery skip-ahead: a protocol error mid-stream closes the
open transaction with a synthetic COMMIT and jumps past the available
WAL — at-least-once with an explicit gap (client.go:386-424)."""

from __future__ import annotations

import json
import os

from pg_bifrost_spark.cdc.fixtures import dml_line, ops_to_raw_lines, txn
from pg_bifrost_spark.sources.pgcdc import PgCdcLiveReader
from pg_bifrost_spark.sources.testing import read_batch


def test_error_recovery_synthetic_commit_and_gap(tmp_path):
    wal_dir = str(tmp_path)
    ops = [
        ("BEGIN", 50),
        dml_line("public.t", "INSERT", [("id", "integer", 1)]),
        # ERROR lands here, before the COMMIT: rows 3.. are the gap
        dml_line("public.t", "INSERT", [("id", "integer", 2)]),
        ("COMMIT", 50),
        *txn(51, dml_line("public.t", "INSERT", [("id", "integer", 3)])),
    ]
    rows = ops_to_raw_lines(ops)
    with open(os.path.join(wal_dir, "0.jsonl"), "w") as f:
        for i, (ws, _, tm, _, line) in enumerate(rows):
            f.write(json.dumps({"wal_start": ws, "server_time_ms": tm, "line": line}) + "\n")
            if i == 1:  # inject the error response after the first INSERT
                f.write(json.dumps({"wal_start": ws + 4, "error": "decode failure"}) + "\n")

    reader = PgCdcLiveReader({"wal_dir": wal_dir})
    batch1, off1 = read_batch(reader, reader.initialOffset())
    batch1 = list(batch1)
    # BEGIN, INSERT, then the synthetic COMMIT closing txn 50
    assert [r[4].split()[0] for r in batch1] == ["BEGIN", "table", "COMMIT"]
    assert batch1[-1][4] == "COMMIT 50"
    # offset jumped past the whole currently-available WAL (the gap)
    assert off1["lsn"] >= rows[-1][0]

    # new data after recovery flows normally
    more = txn(52, dml_line("public.t", "INSERT", [("id", "integer", 9)]))
    with open(os.path.join(wal_dir, "1.jsonl"), "w") as f:
        for ws, _, tm, _, line in ops_to_raw_lines(more, start_lsn=500_000):
            f.write(json.dumps({"wal_start": ws, "server_time_ms": tm, "line": line}) + "\n")
    batch2, off2 = read_batch(reader, off1)
    batch2 = list(batch2)
    assert [r[5] for r in batch2] == ["52", "52", "52"]
