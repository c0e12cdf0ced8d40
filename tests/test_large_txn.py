"""A5 large-transaction semantics: one transaction far larger than the
reader's batch bound must keep a single identity across every
micro-batch (the scenario the reference's ledger accounting exists
for — itests/tests/base/test_large_txn)."""

from __future__ import annotations

import json
import os

from pg_bifrost_spark.sources.pgcdc import PgCdcLiveReader, ReplayTransport
from pg_bifrost_spark.sources.testing import read_batch


def test_one_txn_spans_many_batches(tmp_path):
    wal_dir = str(tmp_path)
    n = 5000
    with open(os.path.join(wal_dir, "0.jsonl"), "w") as f:
        lsn = 1000
        f.write(json.dumps({"wal_start": lsn, "line": "BEGIN 777"}) + "\n")
        for i in range(n):
            lsn += 8
            f.write(
                json.dumps(
                    {
                        "wal_start": lsn,
                        "line": f"table public.big: INSERT: id[integer]:{i} v[text]:'row {i}'",
                    }
                )
                + "\n"
            )
        lsn += 8
        f.write(json.dumps({"wal_start": lsn, "line": "COMMIT 777"}) + "\n")

    reader = PgCdcLiveReader({"wal_dir": wal_dir, "max_msgs_per_batch": "1000"})
    off = reader.initialOffset()
    batches, total = 0, []
    while True:
        rows, off = read_batch(reader, off)
        rows = list(rows)
        if not rows:
            break
        batches += 1
        total.extend(rows)
        assert batches < 20
    assert batches >= 6  # 5002 messages / 1000 per batch
    assert len(total) == n + 2
    assert {r[5] for r in total} == {"777"}  # one xid everywhere
    assert len({r[6] for r in total}) == 1  # one time_based_key
    reader.commit(off)
    assert ReplayTransport(wal_dir).acked() == total[-1][0]


def test_replay_transport_cache_sees_new_files(tmp_path):
    """The parse-once corpus cache must reload when the on-disk WAL
    state changes (new file, or an existing file appended to) — the
    live-tailing pattern error-recovery tests rely on."""
    wal_dir = str(tmp_path)
    p0 = os.path.join(wal_dir, "0.jsonl")
    with open(p0, "w") as f:
        f.write(json.dumps({"wal_start": 8, "line": "BEGIN 1"}) + "\n")
    t = ReplayTransport(wal_dir)
    assert [m[0] for m in t.fetch(0, 10)] == [8]
    # append to the same file
    with open(p0, "a") as f:
        f.write(json.dumps({"wal_start": 16, "line": "COMMIT 1"}) + "\n")
    assert [m[0] for m in t.fetch(0, 10)] == [8, 16]
    # new file
    with open(os.path.join(wal_dir, "1.jsonl"), "w") as f:
        f.write(json.dumps({"wal_start": 24, "line": "BEGIN 2"}) + "\n")
    assert [m[0] for m in t.fetch(16, 10)] == [24]
    assert t.current_end() == 24
