"""CLI surface (python -m pg_bifrost_spark) — the reference binary's
command shape (main.go:557-763): `replicate <sink> --once` over a
replay corpus must drain end-to-end and leave real sink output."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from pg_bifrost_spark.__main__ import main
from pg_bifrost_spark.cdc.fixtures import dml_line, ops_to_raw_lines, raw_lines_df, txn


def _wal_corpus(spark, tmp_path, n_txns: int = 5) -> str:
    wal_dir = str(tmp_path / "wal")
    os.makedirs(wal_dir)
    ops = []
    for t in range(n_txns):
        ops.extend(
            txn(500 + t, dml_line("public.orders", "INSERT", [("id", "integer", t)]))
        )
    raw_lines_df(spark, ops_to_raw_lines(ops)).select(
        F.to_json(F.struct("wal_start", "server_time_ms", "line")).alias("value")
    ).coalesce(1).write.mode("overwrite").text(wal_dir)
    for n in os.listdir(wal_dir):
        if n.startswith("part-"):
            os.rename(os.path.join(wal_dir, n), os.path.join(wal_dir, n + ".jsonl"))
    return wal_dir


def test_replicate_once_exactly_once_file_sink(spark, tmp_path):
    wal_dir = _wal_corpus(spark, tmp_path)
    out = str(tmp_path / "out")
    rc = main(
        [
            "replicate",
            "file-exactly-once",
            "--wal-dir", wal_dir,
            "--checkpoint", str(tmp_path / "ckpt"),
            "--out", out,
            "--once",
        ]
    )
    assert rc == 0
    rows = [r.value for r in spark.read.text(os.path.join(out, "epoch=*")).collect()]
    assert len(rows) == 5  # one INSERT envelope per txn
    assert all('"table":"public.orders"' in v for v in rows)
    # re-running the SAME checkpoint is a no-op (exactly-once)
    assert main(
        [
            "replicate",
            "file-exactly-once",
            "--wal-dir", wal_dir,
            "--checkpoint", str(tmp_path / "ckpt"),
            "--out", out,
            "--once",
        ]
    ) == 0
    again = [r.value for r in spark.read.text(os.path.join(out, "epoch=*")).collect()]
    assert sorted(again) == sorted(rows)


def test_replicate_once_whitelist_filters(spark, tmp_path):
    wal_dir = str(tmp_path / "wal2")
    os.makedirs(wal_dir)
    ops = []
    ops.extend(txn(600, dml_line("public.keep", "INSERT", [("id", "integer", 1)])))
    ops.extend(txn(601, dml_line("public.drop", "INSERT", [("id", "integer", 2)])))
    raw_lines_df(spark, ops_to_raw_lines(ops)).select(
        F.to_json(F.struct("wal_start", "server_time_ms", "line")).alias("value")
    ).coalesce(1).write.mode("overwrite").text(wal_dir)
    for n in os.listdir(wal_dir):
        if n.startswith("part-"):
            os.rename(os.path.join(wal_dir, n), os.path.join(wal_dir, n + ".jsonl"))
    out = str(tmp_path / "out2")
    main(
        [
            "replicate",
            "file-exactly-once",
            "--wal-dir", wal_dir,
            "--checkpoint", str(tmp_path / "ck2"),
            "--out", out,
            "--once",
            "--whitelist", "public.keep",
        ]
    )
    rows = [r.value for r in spark.read.text(os.path.join(out, "epoch=*")).collect()]
    assert len(rows) == 1 and '"table":"public.keep"' in rows[0]


def test_replicate_once_malformed_wal_skip_ahead_and_resume(spark, tmp_path):
    """S7 through the CLI: an error marker mid-corpus closes the open
    txn with a synthetic COMMIT and skips the remaining WAL (an
    explicit at-least-once gap); a LATER run with the same checkpoint
    picks up post-recovery data exactly once."""
    import json

    wal_dir = str(tmp_path / "wal3")
    os.makedirs(wal_dir)
    ops = [
        ("BEGIN", 700),
        dml_line("public.orders", "INSERT", [("id", "integer", 1)]),
        # error lands here: the second INSERT and txn 701 are the gap
        dml_line("public.orders", "INSERT", [("id", "integer", 2)]),
        ("COMMIT", 700),
        *txn(701, dml_line("public.orders", "INSERT", [("id", "integer", 3)])),
    ]
    rows = ops_to_raw_lines(ops)
    with open(os.path.join(wal_dir, "0.jsonl"), "w") as f:
        for i, (ws, _, tm, _, line) in enumerate(rows):
            f.write(json.dumps({"wal_start": ws, "server_time_ms": tm, "line": line}) + "\n")
            if i == 1:
                f.write(json.dumps({"wal_start": ws + 4, "error": "decode failure"}) + "\n")
    out = str(tmp_path / "out3")
    ck = str(tmp_path / "ck3")
    argv = [
        "replicate", "file-exactly-once",
        "--wal-dir", wal_dir, "--checkpoint", ck, "--out", out, "--once",
    ]
    assert main(argv) == 0
    got = [r.value for r in spark.read.text(os.path.join(out, "epoch=*")).collect()]
    # only the pre-error INSERT made it; the gap is explicit, not a dup
    assert len(got) == 1 and '"v":"1"' in got[0]
    # post-recovery data added later flows normally through the SAME
    # checkpoint, exactly once
    more = txn(702, dml_line("public.orders", "INSERT", [("id", "integer", 9)]))
    with open(os.path.join(wal_dir, "1.jsonl"), "w") as f:
        for ws, _, tm, _, line in ops_to_raw_lines(more, start_lsn=500_000):
            f.write(json.dumps({"wal_start": ws, "server_time_ms": tm, "line": line}) + "\n")
    assert main(argv) == 0
    got2 = [r.value for r in spark.read.text(os.path.join(out, "epoch=*")).collect()]
    assert len(got2) == 2
    assert sum('"txn":"702-' in v for v in got2) == 1


def test_cli_kill_resume_no_duplicates_no_loss(spark, tmp_path):
    """W5/W8 through the CLI: SIGKILL a live `python -m pg_bifrost_spark
    replicate file-exactly-once` mid-stream, resume with --once on the
    same checkpoint — every transaction's envelope lands EXACTLY once
    (the epoch-manifest sink absorbs the replayed micro-batch)."""
    import signal
    import subprocess
    import sys as _sys
    import time

    n_txns = 40
    wal_dir = _wal_corpus(spark, tmp_path, n_txns=n_txns)
    out = str(tmp_path / "out4")
    ck = str(tmp_path / "ck4")
    env = dict(os.environ)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env["PYTHONPATH"] = repo + os.pathsep + env.get("PYTHONPATH", "")
    env["SPARK_GRAFT_CPUS"] = "4"  # light second JVM
    proc = subprocess.Popen(
        [
            _sys.executable, "-m", "pg_bifrost_spark",
            "replicate", "file-exactly-once",
            "--wal-dir", wal_dir, "--checkpoint", ck, "--out", out,
            # 1 txn (3 msgs) per micro-batch -> many small epochs to
            # land the kill between/inside batches
            "--client-buffer-size", "3",
        ],
        env=env,
        cwd=repo,
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
    )
    try:
        deadline = time.time() + 180
        while time.time() < deadline:
            done = [
                d for d in (os.listdir(out) if os.path.isdir(out) else [])
                if d.startswith("epoch=")
                and os.path.exists(os.path.join(out, d, "_SUCCESS"))
            ]
            if len(done) >= 2:
                break
            if proc.poll() is not None:
                break  # finished everything before we could kill — still valid
            time.sleep(0.2)
        else:
            raise AssertionError("subprocess CLI never produced two epochs")
    finally:
        if proc.poll() is None:
            proc.send_signal(signal.SIGKILL)
        proc.wait(timeout=60)
    # resume in-process on the same checkpoint and drain the rest
    assert main(
        [
            "replicate", "file-exactly-once",
            "--wal-dir", wal_dir, "--checkpoint", ck, "--out", out, "--once",
        ]
    ) == 0
    got = [r.value for r in spark.read.text(os.path.join(out, "epoch=*")).collect()]
    assert len(got) == n_txns, f"expected {n_txns} envelopes, got {len(got)}"
    for t in range(n_txns):
        hits = sum(f'"txn":"{500 + t}-' in v for v in got)
        assert hits == 1, f"txn {500 + t} appeared {hits} times"


def test_cli_live_dsn_end_to_end(spark, tmp_path):
    """The EXACT deploy command sequence (itests/docker-compose.yml):
    `create --dsn` then `replicate file-exactly-once --dsn --once` —
    over the stdlib wire client against a fake walsender speaking real
    protocol bytes. Slot DDL must be idempotent across the two
    commands (42710), the drain must deliver the stream's transactions
    to the sink, and progress must be acked upstream."""
    import json
    import sys
    import time

    sys.path.insert(0, os.path.dirname(__file__))
    from test_pgwire import DB, USER, FakeWalsender

    scripts = [
        [
            ("xlog", 9000, "BEGIN 800"),
            ("xlog", 9008, "table public.orders: INSERT: id[integer]:41"),
            ("xlog", 9016, "COMMIT 800"),
            ("xlog", 9024, "BEGIN 801"),
            ("xlog", 9032, "table public.orders: INSERT: id[integer]:42"),
            ("xlog", 9040, "COMMIT 801"),
        ],
        [  # WAL that arrives between the two --once invocations
            ("xlog", 9048, "BEGIN 802"),
            ("xlog", 9056, "table public.orders: INSERT: id[integer]:43"),
            ("xlog", 9064, "COMMIT 802"),
        ],
    ]
    srv = FakeWalsender(frames_per_conn=scripts, concurrent=True)
    try:
        dsn = f"postgres://{USER}@127.0.0.1:{srv.port}/{DB}"
        out_dir = str(tmp_path / "out")
        assert main(["create", "--dsn", dsn, "--slot", "itest"]) == 0
        assert srv.created_slots == ["itest"]
        rc = main([
            "replicate", "file-exactly-once",
            "--dsn", dsn, "--slot", "itest",
            "--checkpoint", str(tmp_path / "ckpt"),
            "--out", out_dir,
            "--once",
        ])
        assert rc == 0
        vals = [
            json.loads(r.value)
            for r in spark.read.text(os.path.join(out_dir, "epoch=*")).collect()
        ]
        ids = sorted(v["columns"]["id"]["new"]["v"] for v in vals)
        assert ids == ["41", "42"], vals
        # the slot create inside replicate hit the idempotent 42710 path
        assert srv.created_slots == ["itest"]
        # a second --once run over NEW WAL: resumes from the checkpoint
        # (old rows not re-delivered — exactly-once sink state intact),
        # and constructing batch 1 fires batch 0's lazy source commit,
        # so the upstream ack (W1) rides this connection
        assert main([
            "replicate", "file-exactly-once",
            "--dsn", dsn, "--slot", "itest",
            "--checkpoint", str(tmp_path / "ckpt"),
            "--out", out_dir,
            "--once",
        ]) == 0
        again = [
            json.loads(r.value)
            for r in spark.read.text(os.path.join(out_dir, "epoch=*")).collect()
        ]
        assert sorted(v["columns"]["id"]["new"]["v"] for v in again) == ["41", "42", "43"]
        time.sleep(0.3)
        # progress acked upstream through the wire (W1): at least the
        # first invocation's final offset
        assert srv.received_status_lsns and max(srv.received_status_lsns) >= 9040
    finally:
        srv.close()


def test_cli_live_two_phase_negotiation_and_delivery(spark, tmp_path):
    """`replicate ... --plugin pgoutput --pgoutput-proto-version 3
    --two-phase` must FORWARD the flag into the source (code-review
    r11-late #1: it parsed but never reached source_options — the
    negotiation was a silent no-op) and deliver a prepared
    transaction's rows committed via Commit Prepared."""
    import json
    import sys

    sys.path.insert(0, os.path.dirname(__file__))
    from test_pgwire import DB, USER, FakeWalsender

    from pg_bifrost_spark.cdc.pgoutput import (
        encode_begin_prepare,
        encode_commit_prepared,
        encode_insert,
        encode_prepare,
        encode_relation,
    )

    REL = [("id", 23, -1)]
    frames = [
        ("xlog_raw", 100, encode_relation(1, "public", "orders", REL)),
        ("xlog_raw", 104, encode_begin_prepare(900, "cli-gid")),
        ("xlog_raw", 108, encode_insert(1, ["77"])),
        ("xlog_raw", 112, encode_prepare(900, "cli-gid")),
        ("xlog_raw", 150, encode_commit_prepared(900, "cli-gid")),
    ]
    srv = FakeWalsender(frames=frames, concurrent=True)
    try:
        dsn = f"postgres://{USER}@127.0.0.1:{srv.port}/{DB}"
        out_dir = str(tmp_path / "out")
        rc = main([
            "replicate", "file-exactly-once",
            "--dsn", dsn, "--slot", "s2pc",
            "--plugin", "pgoutput",
            "--pgoutput-proto-version", "3",
            "--two-phase",
            "--checkpoint", str(tmp_path / "ckpt"),
            "--out", out_dir,
            "--once",
        ])
        assert rc == 0
        # negotiation really happened on the wire
        assert any("LOGICAL pgoutput (TWO_PHASE)" in c for c in srv.create_commands)
        cmd = srv.start_commands[0]
        assert '"two_phase" \'on\'' in cmd and '"proto_version" \'3\'' in cmd
        # and the prepared txn's row landed in the sink
        vals = [
            json.loads(r.value)
            for r in spark.read.text(os.path.join(out_dir, "epoch=*")).collect()
        ]
        assert [v["columns"]["id"]["new"]["v"] for v in vals] == ["77"]
    finally:
        srv.close()
