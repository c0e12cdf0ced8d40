"""The three CDC readers share one transaction-assembly rule
(``sources/assembly.py``), so on one well-formed corpus they must emit
the same ``(wal_start, line, txn_id, time_based_key)`` sequence:

* ``PgCdcLiveReader`` (over replay) drained at random admission caps;
* ``PgCdcParallelReader`` drained at random caps and partition sizes,
  with a fresh reader per batch (the restart path through the ack
  record, as ``drain_cdc_query`` runs it);
* ``PgCdcMultiStreamReader`` over a single slot, read in random LSN
  ranges.

The corpus has the LSN shape of a real walsender: BEGIN and the first
change share a wal_start, and a COMMIT shares its wal_start with the
next transaction's BEGIN. Caps therefore cut inside equal-LSN runs,
including right after a COMMIT that opens its run.
"""

from __future__ import annotations

import json
import os
import random

from pg_bifrost_spark.sources.pgcdc import PgCdcLiveReader, PgCdcParallelReader
from pg_bifrost_spark.sources.pgcdc_multi import PgCdcMultiStreamReader
from pg_bifrost_spark.sources.testing import read_batch

SLOT = "slot_a"


def _corpus(rng: random.Random, slot_dir: str) -> list[tuple[int, str]]:
    """Whole transactions over 3 LSN-ordered files; returns the messages."""
    os.makedirs(slot_dir)
    msgs: list[tuple[int, str]] = []
    lsn = 100
    for t in range(rng.randint(6, 14)):
        xid = 500 + t
        msgs.append((lsn, f"BEGIN {xid}"))
        for r in range(rng.randint(1, 4)):
            if r:
                lsn += 8
            msgs.append((lsn, f"table public.t: INSERT: id[integer]:{t * 10 + r}"))
        lsn += rng.choice([8, 16])
        msgs.append((lsn, f"COMMIT {xid}"))
        if rng.random() < 0.3:
            lsn += 8  # a gap: the next BEGIN opens its own run
    cuts = sorted(rng.sample(range(1, len(msgs)), 2))
    for name, (a, b) in zip(("000", "001", "002"), zip([0, *cuts], [*cuts, len(msgs)])):
        with open(os.path.join(slot_dir, f"{name}.jsonl"), "w") as f:
            for i in range(a, b):
                ws, line = msgs[i]
                f.write(json.dumps({"wal_start": ws, "server_time_ms": i, "line": line}) + "\n")
    return msgs


def _key(row) -> tuple:
    return (row[0], row[4], row[5], row[6])


MAX_BATCHES = 500  # a drain that does not end is a failure, not a hang


def _drain_simple(wal_dir: str, cap: int) -> list[list[tuple]]:
    reader = PgCdcLiveReader({"wal_dir": wal_dir, "max_msgs_per_batch": str(cap)})
    batches, off = [], reader.initialOffset()
    for _ in range(MAX_BATCHES):
        rows, off = read_batch(reader, off)
        rows = [_key(r) for r in rows]
        if not rows:
            return batches
        batches.append(rows)
    raise AssertionError("simple drain did not end")


def _drain_parallel(wal_dir: str, cap: int, per_part: int) -> list[tuple]:
    opts = {
        "wal_dir": wal_dir,
        "max_msgs_per_batch": str(cap),
        "msgs_per_partition": str(per_part),
    }
    ack = os.path.join(wal_dir, ".ack")
    if os.path.exists(ack):
        os.remove(ack)
    out, start = [], PgCdcParallelReader(opts).initialOffset()
    for _ in range(MAX_BATCHES):
        reader = PgCdcParallelReader(opts)
        end = reader.latestOffset()
        if end == start:
            return out
        for part in reader.partitions(start, end):
            for batch in reader.read(part):
                out.extend(_key(r) for r in zip(*[c.to_pylist() for c in batch.columns]))
        reader.commit(end)
        start = end
    raise AssertionError("parallel drain did not end")


def _read_multi(base: str, bounds: list[int]) -> list[tuple]:
    reader = PgCdcMultiStreamReader({"wal_dir": base})
    out = []
    for a, b in zip(bounds, bounds[1:]):
        for part in reader.partitions({SLOT: a}, {SLOT: b}):
            for batch in reader.read(part):
                out.extend(_key(r) for r in zip(*[c.to_pylist() for c in batch.columns]))
    return out


def test_simple_parallel_and_multi_readers_agree(tmp_path):
    rng = random.Random(0xB1F0)
    cut_after_commit = cut_inside_run = 0
    for case in range(6):
        base = str(tmp_path / f"wal{case}")
        wal_dir = os.path.join(base, SLOT)
        msgs = _corpus(rng, wal_dir)
        last_lsn = msgs[-1][0]

        caps = [1, *rng.sample(range(2, 12), 3), 10_000]
        want = None
        for cap in caps:
            batches = _drain_simple(wal_dir, cap)
            simple = [r for b in batches for r in b]
            for prev, nxt in zip(batches, batches[1:]):
                if prev[-1][0] == nxt[0][0]:
                    cut_inside_run += 1
                    cut_after_commit += prev[-1][1].startswith("COMMIT")
            parallel = _drain_parallel(wal_dir, cap, rng.randint(1, 5))
            assert parallel == simple, (case, cap)
            if want is None:
                want = simple
            assert simple == want, (case, cap)

        assert len(want) == len(msgs)
        assert [(w, line) for w, line, _, _ in want] == msgs
        for _ in range(3):
            inner = sorted(rng.sample(range(1, last_lsn), rng.randint(1, 6)))
            bounds = [0, *inner, last_lsn]
            assert _read_multi(base, bounds) == want, (case, bounds)
    assert cut_inside_run and cut_after_commit
