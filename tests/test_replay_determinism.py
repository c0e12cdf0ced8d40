"""Failure-recovery determinism: replanning a logged range must reproduce a
checkpointed batch byte-identically (the property Spark relies on when
re-running an uncommitted batch after a crash), and the stdout sink's
output format."""

from __future__ import annotations

import json
import os

from pg_bifrost_spark.cdc.fixtures import dml_line, ops_to_raw_lines, txn
from pg_bifrost_spark.sources.pgcdc import PgCdcLiveReader
from pg_bifrost_spark.sources.testing import read_batch


def test_read_between_offsets_replays_identically(tmp_path):
    wal_dir = str(tmp_path)
    ops = [
        *txn(1, dml_line("public.t", "INSERT", [("id", "integer", 1)])),
        *txn(2, dml_line("public.t", "INSERT", [("id", "integer", 2)])),
        *txn(3, dml_line("public.t", "INSERT", [("id", "integer", 3)])),
    ]
    with open(os.path.join(wal_dir, "0.jsonl"), "w") as f:
        for ws, _, tm, _, line in ops_to_raw_lines(ops):
            f.write(json.dumps({"wal_start": ws, "server_time_ms": tm, "line": line}) + "\n")

    reader = PgCdcLiveReader({"wal_dir": wal_dir, "max_msgs_per_batch": "4"})
    start = reader.initialOffset()
    rows1, end1 = read_batch(reader, start)
    rows1 = list(rows1)

    # crash-recovery path: a fresh reader instance replays the same range
    reader2 = PgCdcLiveReader({"wal_dir": wal_dir, "max_msgs_per_batch": "4"})
    replay = [
        r
        for p in reader2.partitions(start, end1)
        for b in reader2.read(p)
        for r in zip(*[c.to_pylist() for c in b.columns])
    ]
    assert replay == rows1

    # and subsequent ranges continue where the first left off: no
    # overlap, no loss, across however many batches it takes
    seen = list(rows1)
    off = end1
    while True:
        rows, off = read_batch(reader, off)
        rows = list(rows)
        if not rows:
            break
        assert {r[0] for r in seen}.isdisjoint({r[0] for r in rows})
        seen.extend(rows)
    assert len(seen) == len(ops)


def test_stdout_writer_format(spark, tmp_path):
    from pg_bifrost_spark.cdc.fixtures import raw_lines_df
    from pg_bifrost_spark.cdc.pipeline import PipelineConfig, run_pipeline
    from pg_bifrost_spark.sinks.writers import stdout_writer

    df = raw_lines_df(
        spark,
        ops_to_raw_lines(txn(9, dml_line("public.t", "INSERT", [("id", "integer", 1)]))),
    ).coalesce(1)
    out = run_pipeline(df, PipelineConfig())
    # emit runs in the executor's Python worker (a separate process):
    # collect through a file, not driver stdout
    sink_file = str(tmp_path / "out.txt")

    def emit(line: str) -> None:
        with open(sink_file, "a") as f:
            f.write(line + "\n")

    stdout_writer(emit)(out, 0)
    lines = [l for l in open(sink_file).read().splitlines() if l.strip()]
    assert len(lines) == 1  # control rows carry no payload
    prefix, payload = lines[0].split(": ", 1)
    assert prefix.isdigit()
    assert json.loads(payload)["operation"] == "INSERT"
