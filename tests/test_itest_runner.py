"""Fake-transport smoke of the integration harness's VERIFY stage
(VERDICT r6 ask #3): the committed WAL fixture — the deterministic
replay twin of ``itests/tests/base/test_basic/input.sql`` — runs
through the real pipeline + exactly-once file sink, and
``itests/runner.verify`` must pass it against the committed goldens
(and fail it when the output is tampered with). The orchestration
layer (docker compose) executes at deploy; here it is lint-checked."""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import sys

import pytest

ITESTS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "itests")
TEST_DIR = os.path.join(ITESTS, "tests", "base", "test_basic")

spec = importlib.util.spec_from_file_location("itest_runner", os.path.join(ITESTS, "runner.py"))
runner = importlib.util.module_from_spec(spec)
spec.loader.exec_module(runner)


ALL_TESTS = sorted(
    f"{family}/{d}"
    for family in ("base", "kafka", "kinesis")
    if os.path.isdir(os.path.join(ITESTS, "tests", family))
    for d in os.listdir(os.path.join(ITESTS, "tests", family))
    if os.path.isdir(os.path.join(ITESTS, "tests", family, d))
)


def _stamp_shard(df, routed):
    """Splice the routed shard/partition number into each JSON payload
    (control rows with null json pass through) — the single source of
    truth for the '{"shard":N,...}' verify format shared by the kafka
    and kinesis drain paths."""
    from pyspark.sql import functions as F

    return df.withColumn(
        "json",
        F.when(
            F.col("json").isNotNull(),
            F.concat(
                F.lit('{"shard":'),
                routed.cast("string"),
                F.lit(","),
                F.expr("substring(json, 2)"),
            ),
        ),
    )


def _drain(spark, test_dir, base):
    """Replay the committed WAL through pipeline + exactly-once sink,
    honoring the test's config.json pipeline kwargs (the in-sandbox
    twin of the deploy runner's EXTRA_FLAGS).

    ``replay.late_wal`` (test_repl_error): files in that directory
    model WAL that arrives AFTER the first drain — at deploy the
    input.sql pg_sleep produces the same timing against the live
    transport. The replay twin needs it explicit because error-marker
    skip-ahead jumps past everything currently available (the pinned
    S7 semantics, tests/test_error_recovery.py): a second drain from
    the same checkpoint then delivers the late data."""
    import shutil

    from pg_bifrost_spark.cdc.pipeline import PipelineConfig
    from pg_bifrost_spark.sinks.writers import exactly_once_ndjson
    from pg_bifrost_spark.streaming.core import drain_cdc_query

    from pyspark.sql import functions as F

    from pg_bifrost_spark.sinks.writers import kinesis_shard_expr

    out_dir, ck_dir = str(base / "output"), str(base / "ck")
    conf = runner.test_config(test_dir)
    cfg = conf.get("pipeline", {})
    late = conf.get("replay", {}).get("late_wal")
    shards = conf.get("kinesis_shards")
    kafka_parts = conf.get("kafka_partitions")
    kafka_key_method = conf.get("kafka_key_method", "transaction")
    kafka_max_bytes = conf.get("kafka_max_message_bytes")
    error_pct = conf.get("kinesis_error_probability")
    workers = conf.get("workers")
    wal_src = os.path.join(test_dir, "wal")
    if late:
        wal_dir = str(base / "wal")
        shutil.copytree(wal_src, wal_dir)
    else:
        wal_dir = wal_src

    def sink(df, epoch):
        # deliver in WAL order: slow-grammar lines (TRUNCATE) parse on
        # the mapInPandas branch and the fast∪slow union concatenates
        # partitions, which would reorder a txn's rows relative to the
        # WAL — a consumer applying the stream in delivered order must
        # see TRUNCATE 911 BEFORE INSERT 912. The reference's sinks
        # deliver in stream order; the twin restores it per batch.
        df = df.orderBy("wal_start")
        if kafka_max_bytes:
            # kafka/test_big_record semantics (batch.go Add): records
            # whose serialized payload exceeds MaxMessageBytes are
            # DROPPED but still advance the progress ledger — control
            # rows (json null) pass through untouched. The committed
            # fixture scales the reference's 1 MiB payloads to 8 KiB
            # against a 4 KiB cap: same drop pattern, tiny fixture.
            df = df.filter(
                F.col("json").isNull() | (F.length("json") <= kafka_max_bytes)
            )
        if kafka_parts:
            # kafka/test_txn_partition: stamp sarama's hash-partitioner
            # assignment (bit-exact FNV-1a model) so the per-partition
            # goldens verify KAFKA_PARTITION_METHOD routing — all rows
            # of one txn must land on one partition
            from pg_bifrost_spark.sinks.writers import (
                kafka_key_expr,
                kafka_partition_expr,
            )

            df = _stamp_shard(
                df, kafka_partition_expr(kafka_key_expr(kafka_key_method), kafka_parts)
            )
        if shards:
            # the per-shard view the reference's kinesis pollers diff:
            # splice the hash-ring shard into each payload
            df = _stamp_shard(df, kinesis_shard_expr(F.col("partition_key"), shards))
        return exactly_once_ndjson(df, epoch, out_dir)

    if error_pct is not None:
        # kinesis error/multi-worker twins (test_high_kinesis_errors,
        # test_multi_worker_{high,no}_kinesis_errors): the batch goes
        # through the REAL kinesis sink machinery — chunking caps +
        # partial retry + backoff — against a deterministic flaky
        # capture transport (the poller's view IS the output verified;
        # sinks/capture.py). Exactly-once file layout doesn't apply
        # (the reference pollers capture a stream); the ledger check
        # still runs on the checkpoint.
        from pg_bifrost_spark.sinks.capture import FlakyFileTransport
        from pg_bifrost_spark.sinks.retry import BackoffPolicy
        from pg_bifrost_spark.sinks.writers import kinesis_writer

        deliver = kinesis_writer(
            "itest-capture",
            transport=FlakyFileTransport(out_dir, int(round(error_pct * 100))),
            policy=BackoffPolicy(**conf.get("backoff", {})),
        )

        def sink(df, epoch):  # noqa: F811 — kinesis twins replace the file sink
            deliver(df, epoch)

    # per-test reader options (test_small_queue: CLIENT_BUFFER_SIZE
    # parity — a tiny max_msgs_per_batch forces many micro-batches
    # through the same checkpoint, exercising the drain loop + the
    # exactly-once epoch layout at itest level)
    src_opts = {"wal_dir": wal_dir, **conf.get("source_options", {})}
    if workers and "msgs_per_partition" not in src_opts:
        # WORKERS=N parity: spread the batch over N sink partitions so
        # N retry/backoff schedules run in parallel (the reference's N
        # worker goroutines each own a transport — same shape as the
        # bench degraded multi leg)
        n_lines = sum(
            1
            for name in os.listdir(wal_dir)
            if name.endswith(".jsonl")
            for _ in open(os.path.join(wal_dir, name))
        )
        src_opts["msgs_per_partition"] = str(max(1, -(-n_lines // workers)))

    def drain():
        drain_cdc_query(
            spark,
            sink,
            ck_dir,
            cfg=PipelineConfig(**cfg),
            source_options=src_opts,
        )

    drain()
    if late:
        for f in sorted(os.listdir(os.path.join(test_dir, late))):
            shutil.copy(os.path.join(test_dir, late, f), os.path.join(wal_dir, f))
        drain()
    return out_dir, ck_dir


@pytest.fixture(scope="module")
def drained(spark, tmp_path_factory):
    return _drain(spark, TEST_DIR, tmp_path_factory.mktemp("itest_smoke"))


@pytest.mark.parametrize("name", ALL_TESTS)
def test_every_committed_itest_passes_verify(spark, tmp_path, name):
    """Each committed harness test (basic CRUD, blacklist, TOAST,
    300-row single transaction) replays through the real pipeline with
    its own config and must clear the full verify stage. The blacklist
    case is additionally meaningful through the unexpected-table check
    (a leaked audit_log row fails even though no golden names it)."""
    test_dir = os.path.join(ITESTS, "tests", name)
    out_dir, ck_dir = _drain(spark, test_dir, tmp_path)
    problems = runner.verify(test_dir, out_dir, ck_dir)
    assert problems == [], problems


def test_blacklist_leak_is_caught(spark, tmp_path):
    """Re-run the blacklist test WITHOUT the blacklist: the audit_log
    rows reach the sink and verify must fail on the unexpected table —
    proving the check isn't vacuous."""
    import shutil

    test_dir = os.path.join(ITESTS, "tests", "base", "test_blacklist")
    stripped = tmp_path / "stripped"
    shutil.copytree(test_dir, stripped)
    (stripped / "config.json").unlink()
    out_dir, ck_dir = _drain(spark, str(stripped), tmp_path)
    problems = runner.verify(str(stripped), out_dir, ck_dir)
    assert any("unexpected table" in p and "audit_log" in p for p in problems), problems


def test_verify_stage_passes_on_real_pipeline_output(drained):
    out_dir, ck_dir = drained
    problems = runner.verify(TEST_DIR, out_dir, ck_dir)
    assert problems == [], problems


def test_verify_stage_catches_tampering(drained, tmp_path):
    out_dir, ck_dir = drained
    bad = tmp_path / "bad_out"
    shutil.copytree(out_dir, bad)
    part = next(
        p
        for p in sorted((bad / d / f) for d in os.listdir(bad) for f in os.listdir(bad / d))
        if p.name.startswith("part-") and not p.name.endswith(".crc")
    )
    lines = [ln for ln in part.read_text().splitlines() if ln.strip()]
    d = json.loads(lines[0])
    d["operation"] = "TAMPERED"
    part.write_text("\n".join([json.dumps(d)] + lines[1:]) + "\n")
    problems = runner.verify(TEST_DIR, str(bad), ck_dir)
    assert any("TAMPERED" in p or "row count" in p for p in problems), problems


def test_verify_stage_catches_missing_rows(drained, tmp_path):
    out_dir, ck_dir = drained
    bad = tmp_path / "empty_out"
    bad.mkdir()
    problems = runner.verify(TEST_DIR, str(bad), ck_dir)
    assert any("row count" in p for p in problems)


def test_verify_orders_epochs_numerically(tmp_path):
    """12 epochs: a lexicographic dir sort would read epoch=10/11
    before epoch=2, scrambling WAL order in the golden diff. The
    golden lists rows in true epoch order; verify must pass clean."""
    td = tmp_path / "t"
    (td / "golden").mkdir(parents=True)
    out = tmp_path / "out"
    gold = []
    for ep in range(12):
        d = out / f"epoch={ep}"
        d.mkdir(parents=True)
        (d / "_SUCCESS").touch()
        ln = json.dumps({"table": "public.t", "id": ep}) + "\n"
        (d / "part-00000").write_text(ln)
        gold.append(ln)
    (td / "golden" / "t.golden").write_text("".join(gold))
    ck = tmp_path / "ck"
    ck.mkdir()
    assert runner.verify(str(td), str(out), str(ck)) == []


def test_lsn_check_semantics():
    assert runner.check_lsn("0/2000", ["0/1000", "0/1FF8"])
    assert not runner.check_lsn("0/1000", ["0/1FF8"])
    assert runner.check_lsn("A/0", ["9/FFFFFFF8"])  # hi word compares first
    assert runner.check_lsn("0/0", [])  # no output → trivially acked


def test_ledger_check_catches_inflight_batch_and_partial_epoch(tmp_path):
    ck = tmp_path / "ck"
    (ck / "offsets").mkdir(parents=True)
    (ck / "commits").mkdir(parents=True)
    out = tmp_path / "out"
    (out / "epoch=0").mkdir(parents=True)
    (out / "epoch=0" / "_SUCCESS").touch()
    (ck / "offsets" / "0").touch()
    (ck / "commits" / "0").touch()
    assert runner.check_ledger(str(ck), str(out)) == []
    # in-flight batch: offset 1 written, commit 1 missing
    (ck / "offsets" / "1").touch()
    assert any("in-flight" in p for p in runner.check_ledger(str(ck), str(out)))
    (ck / "commits" / "1").touch()
    # crashed partial epoch: data dir without _SUCCESS
    (out / "epoch=1").mkdir()
    assert any("uncommitted epoch" in p for p in runner.check_ledger(str(ck), str(out)))


def test_harness_files_lint():
    """Compose parses as YAML; runner compiles; init script is sh."""
    import py_compile

    py_compile.compile(os.path.join(ITESTS, "runner.py"), doraise=True)
    try:
        import yaml
    except ImportError:
        pytest.skip("pyyaml not available")
    with open(os.path.join(ITESTS, "docker-compose.yml")) as f:
        cfg = yaml.safe_load(f)
    assert {"postgres", "engine", "localstack", "poller"} <= set(cfg["services"])
    assert "wal_level=logical" in " ".join(
        cfg["services"]["postgres"]["command"].split()
    )


def test_misrouted_partitioning_is_caught(spark, tmp_path):
    """Re-run the kinesis partitioning test with PARTITION_METHOD=none:
    every record routes by the same empty key to ONE shard, and the
    per-shard golden diff must fail — the routing check isn't vacuous."""
    import shutil

    test_dir = os.path.join(ITESTS, "tests", "kinesis", "test_table_partitioning")
    broken = tmp_path / "broken"
    shutil.copytree(test_dir, broken)
    cfgp = broken / "config.json"
    cfg = json.loads(cfgp.read_text())
    cfg["pipeline"]["partition_method"] = "none"
    cfgp.write_text(json.dumps(cfg))
    out_dir, ck_dir = _drain(spark, str(broken), tmp_path)
    problems = runner.verify(str(broken), out_dir, ck_dir)
    assert problems != []


def test_kafka_txn_misrouting_is_caught(spark, tmp_path):
    """Re-run the kafka txn-partition test with the time-based-key
    method: the composite key hashes txns to different partitions than
    the transaction-constant goldens expect, and the per-partition
    golden diff must fail — the kafka routing check isn't vacuous."""
    import shutil

    test_dir = os.path.join(ITESTS, "tests", "kafka", "test_txn_partition")
    broken = tmp_path / "broken"
    shutil.copytree(test_dir, broken)
    cfgp = broken / "config.json"
    cfg = json.loads(cfgp.read_text())
    cfg["kafka_key_method"] = "time-based-key"
    cfgp.write_text(json.dumps(cfg))
    out_dir, ck_dir = _drain(spark, str(broken), tmp_path)
    problems = runner.verify(str(broken), out_dir, ck_dir)
    assert problems != [], "time-based-key routing matched txn-constant goldens"


def test_kafka_partition_expr_matches_sarama_fnv1a(spark):
    """The Catalyst partition model must be BIT-EXACT sarama: FNV-1a 32
    over the key bytes, then abs(int32(h) % n) with Go's truncated
    modulo — pinned against an independent pure-Python implementation
    over txn-id, table-name, composite, empty, and long keys."""
    import math

    from pyspark.sql import functions as F

    from pg_bifrost_spark.sinks.writers import kafka_partition_expr

    def sarama(key: str, n: int) -> int:
        h = 2166136261
        for x in key.encode():
            h = ((h ^ x) * 16777619) & 0xFFFFFFFF
        s = h - 2**32 if h >= 2**31 else h
        return abs(int(math.fmod(s, n)))

    keys = ["", "0", "950", "951", "12345", "public.customers",
            "950-1712345678", "abcXYZ", "a" * 50]
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    for n in (1, 2, 3, 8):
        got = [r.p for r in df.select(
            kafka_partition_expr(F.col("k"), n).alias("p")).collect()]
        assert got == [sarama(k, n) for k in keys], f"n={n}"


def test_strict_order_violation_is_caught(spark, tmp_path):
    """Swap two adjacent records inside one shard's output: the
    non-sort golden diff must fail — per-shard STRICT order (the
    reference's strict_order_shared invariant) is really checked."""
    test_dir = os.path.join(ITESTS, "tests", "kinesis", "test_strict_order_shared")
    out_dir, ck_dir = _drain(spark, test_dir, tmp_path)
    assert runner.verify(test_dir, out_dir, ck_dir) == []
    # find a part file with >= 2 records and swap the first two
    for root, _, files in os.walk(out_dir):
        for fn in sorted(files):
            if not fn.startswith("part-") or fn.endswith(".crc"):
                continue
            p = os.path.join(root, fn)
            lines = [l for l in open(p).read().splitlines() if l.strip()]
            if len(lines) >= 2:
                with open(p, "w") as f:
                    f.write("\n".join([lines[1], lines[0]] + lines[2:]) + "\n")
                problems = runner.verify(test_dir, out_dir, ck_dir)
                assert problems != [], "reordered shard output passed verify"
                return
    pytest.fail("no multi-record part file found")


def test_timeout_golden_matches_reference_envelope():
    """The committed test_timeout golden must be normalize-identical to
    the reference's own published golden (vendored at
    tests/golden/timeout.ndjson from itests/tests/base/test_timeout/
    golden/test.0) — same envelope-parity pin as basic.ndjson."""
    ours = [
        runner.normalize(x)
        for x in open(
            os.path.join(ITESTS, "tests", "base", "test_timeout", "golden", "customers.golden")
        )
        if x.strip()
    ]
    ref = [
        runner.normalize(x)
        for x in open(os.path.join(os.path.dirname(__file__), "golden", "timeout.ndjson"))
        if x.strip()
    ]
    assert ours == ref


def test_expected_count_shortfall_is_caught(spark, tmp_path):
    """Count-only verification (test_large_sleep) is not vacuous: bump
    expected_count and verify must fail."""
    test_dir = os.path.join(ITESTS, "tests", "base", "test_large_sleep")
    out_dir, ck_dir = _drain(spark, test_dir, tmp_path)
    assert runner.verify(test_dir, out_dir, ck_dir) == []
    broken = tmp_path / "broken"
    shutil.copytree(test_dir, broken)
    cfgp = broken / "config.json"
    cfg = json.loads(cfgp.read_text())
    cfg["expected_count"] += 1
    cfgp.write_text(json.dumps(cfg))
    problems = runner.verify(str(broken), out_dir, ck_dir)
    assert any("expected_count" in p for p in problems), problems


def test_kinesis_error_twin_drops_records_without_retry(spark, tmp_path):
    """The error injection is not vacuous: replay the high-error twin
    with a give-up-immediately backoff budget wide enough for exactly
    one attempt — records failed on attempt 1 must be missing and the
    golden diff must fail. (The committed config's budget lets the
    partial retry drain everything; this pins that the retry is what
    makes it pass.)"""
    test_dir = os.path.join(ITESTS, "tests", "kinesis", "test_high_kinesis_errors")
    broken = tmp_path / "one_attempt"
    shutil.copytree(test_dir, broken)
    cfgp = broken / "config.json"
    cfg = json.loads(cfgp.read_text())
    cfg["backoff"] = {"initial_s": 0.01, "max_elapsed_s": 0.0}
    cfgp.write_text(json.dumps(cfg))
    with pytest.raises(Exception, match="retry budget exhausted|StreamingQueryException|SparkException"):
        _drain(spark, str(broken), tmp_path)


def test_basic_golden_passes_verify_via_live_wire_transport(spark, tmp_path):
    """The reference-golden parity check THROUGH the deploy transport:
    test_basic's committed WAL twin is served as real XLogData frames
    by the fake walsender, drained over the stdlib wire client
    (dsn source — the exact compose-rig path), and the output must
    clear the SAME full verify stage (golden diff + confirmed-LSN +
    ledger-empty) the replay twin clears. Ties golden parity to the
    live path instead of only the wal_dir replay."""
    import sys

    sys.path.insert(0, os.path.dirname(__file__))
    from test_pgwire import DB, USER, FakeWalsender

    from pg_bifrost_spark.cdc.pipeline import PipelineConfig
    from pg_bifrost_spark.sinks.writers import exactly_once_ndjson
    from pg_bifrost_spark.streaming.core import drain_cdc_query

    test_dir = os.path.join(ITESTS, "tests", "base", "test_basic")
    frames = []
    wal_dir = os.path.join(test_dir, "wal")
    for name in sorted(n for n in os.listdir(wal_dir) if n.endswith(".jsonl")):
        with open(os.path.join(wal_dir, name)) as f:
            for ln in f:
                if ln.strip():
                    m = json.loads(ln)
                    frames.append(("xlog", m["wal_start"], m["line"]))
    srv = FakeWalsender(frames=frames, concurrent=True)
    try:
        out_dir, ck_dir = str(tmp_path / "out"), str(tmp_path / "ck")

        def sink(df, epoch):
            return exactly_once_ndjson(df.orderBy("wal_start"), epoch, out_dir)

        drain_cdc_query(
            spark,
            sink,
            ck_dir,
            cfg=PipelineConfig(),
            source_options={
                "dsn": f"postgres://{USER}@127.0.0.1:{srv.port}/{DB}",
                "slot": "itest_live",
            },
        )
        problems = runner.verify(test_dir, out_dir, ck_dir)
        assert problems == [], problems
        assert srv.failures == [], srv.failures
    finally:
        srv.close()


def test_basic_golden_passes_verify_via_pgoutput_wire_transport(spark, tmp_path):
    """The SAME reference-golden parity check, but through the BINARY
    plugin path: test_basic's committed text WAL is converted to real
    pgoutput frames (frames_with_lsns — Relation frames emitted on
    first use, key/full old-tuple markers reconstructed), served as
    binary XLogData by the fake walsender, decoded by the conn adapter
    behind LiveTransport(plugin='pgoutput'), and the output must clear
    the full verify stage (golden diff + confirmed-LSN + ledger-empty).
    Proves a pgoutput deployment produces byte-identical envelopes to
    the test_decoding deployment on the reference's own fixture."""
    import sys

    sys.path.insert(0, os.path.dirname(__file__))
    from test_pgwire import DB, USER, FakeWalsender

    from pg_bifrost_spark.cdc.pgoutput import frames_with_lsns
    from pg_bifrost_spark.cdc.pipeline import PipelineConfig
    from pg_bifrost_spark.sinks.writers import exactly_once_ndjson
    from pg_bifrost_spark.streaming.core import drain_cdc_query

    test_dir = os.path.join(ITESTS, "tests", "base", "test_basic")
    lines = []
    wal_dir = os.path.join(test_dir, "wal")
    for name in sorted(n for n in os.listdir(wal_dir) if n.endswith(".jsonl")):
        with open(os.path.join(wal_dir, name)) as f:
            for ln in f:
                if ln.strip():
                    m = json.loads(ln)
                    if "error" not in m:
                        lines.append((m["wal_start"], m["line"]))
    frames = [("xlog_raw", lsn, fr) for lsn, fr in frames_with_lsns(lines)]
    srv = FakeWalsender(frames=frames, concurrent=True)
    try:
        out_dir, ck_dir = str(tmp_path / "out"), str(tmp_path / "ck")

        def sink(df, epoch):
            return exactly_once_ndjson(df.orderBy("wal_start"), epoch, out_dir)

        drain_cdc_query(
            spark,
            sink,
            ck_dir,
            cfg=PipelineConfig(),
            source_options={
                "dsn": f"postgres://{USER}@127.0.0.1:{srv.port}/{DB}",
                "slot": "itest_pgoutput",
                "plugin": "pgoutput",
            },
        )
        problems = runner.verify(test_dir, out_dir, ck_dir)
        assert problems == [], problems
        assert srv.failures == [], srv.failures
    finally:
        srv.close()
