"""Per-layer measurements of the traced run (``--trace 1``).

Each function times calls into one layer's public functions from the
benchmark's side and returns ``{metric: (value, unit)}``. A metric a
workload does not exercise keeps the 0 from ``defaults()``.
"""

from __future__ import annotations

import glob
import os
import statistics
import threading
import time

from cdcbench import verify
from cdcbench.pg import MIX_MSGS, lsn_int
from cdcbench.trace import TRIGGER_PHASES, progress_start, read_attempts

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TRACE_DIR = os.path.join(ROOT, ".bench_out")

# name -> (unit, which direction is better)
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "session.first_batch_s": ("s", "lower"),
    "drain.rounds": ("count", "lower"),
    "drain.restart_s": ("s", "lower"),
    "drain.first_delivery_s": ("s", "lower"),
    **{f"trigger.{p}_ms": ("ms", "lower") for p in TRIGGER_PHASES},
    "sink.s": ("s", "lower"),
    "sink.records": ("count", "higher"),
    "sink.bytes": ("bytes", "lower"),
    "sink.chunks": ("count", "lower"),
    "sink.attempts": ("count", "lower"),
    "sink.useful_ratio": ("ratio", "higher"),
    "sink.oversize_dropped": ("count", "lower"),
    "source.msgs": ("count", "higher"),
    "source.fetch_s": ("s", "lower"),
    "source.busy_s_per_kmsg": ("s", "lower"),
    "source.wait_s": ("s", "lower"),
    "source.exit_cap": ("count", "higher"),
    "source.exit_idle": ("count", "lower"),
    "source.exit_budget": ("count", "lower"),
    "source.reconnects": ("count", "lower"),
    "source.truncations": ("count", "lower"),
    "source.replay_plan_s": ("s", "lower"),
    "source.replay_read_msgs_per_s": ("1/s", "higher"),
    "parse.s": ("s", "lower"),
    "parse.jvm_fraction": ("ratio", "higher"),
    "parse.python_lines_per_s": ("1/s", "higher"),
    "parse.invalid": ("count", "lower"),
    "filter.in": ("count", "higher"),
    "filter.out": ("count", "higher"),
    "partition.max_over_mean": ("ratio", "lower"),
    "marshal.s": ("s", "lower"),
    "marshal.json_bytes": ("bytes", "lower"),
    "ack.lag_bytes": ("bytes", "lower"),
    "ack.advances": ("count", "higher"),
    "ack.unacked_after_drain_bytes": ("bytes", "lower"),
    "probe.idle_start_attempted": ("count", "higher"),
    "probe.idle_start_failed": ("count", "lower"),
    "probe.resume_attempted": ("count", "higher"),
    "probe.resume_failed": ("count", "lower"),
    "trace.attributed_share": ("ratio", "higher"),
    "trace.overhead_s": ("s", "lower"),
    "pss.peak_mb": ("MB", "lower"),
    "verify.txns": ("count", "higher"),
}


def defaults() -> dict:
    return {name: (0, unit) for name, (unit, _better) in PER_LAYER.items()}


def values(**named) -> dict:
    """Keyword names use '__' for '.'; units come from PER_LAYER."""
    out = {}
    for k, v in named.items():
        name = k.replace("__", ".")
        out[name] = (v, PER_LAYER[name][0])
    return out


def session(start_s: float, first_batch_s: float) -> dict:
    return values(session__start_s=start_s, session__first_batch_s=first_batch_s)


def overhead(untraced: list, traced) -> dict:
    """Traced minus untraced wall time of drains of the same size: the
    faster of the untraced drains made just before and just after the
    traced one."""
    if not untraced:
        return {}
    return values(trace__overhead_s=traced.wall - min(d.wall for d in untraced))


def drains(spans, collector, drains_: list, sink_layer: str) -> dict:
    """Spans for each traced drain: the drain, its triggers (from
    StreamingQueryProgress), each trigger's phases laid end to end, and
    the sink call inside addBatch. The drain's self time is what no
    trigger covers: starting and stopping one query per round."""
    phase_ms: dict[str, list[float]] = {p: [] for p in TRIGGER_PHASES}
    rounds, wall, sink_s = [], 0.0, 0.0
    progress = collector.progress
    for i, d in enumerate(drains_):
        op = f"drain-{i}"
        root = spans.add("drain", d.start, d.end, None, op)
        batches = [p for p in progress if d.start - 1 <= progress_start(p) <= d.end]
        for p in batches:
            t = progress_start(p)
            dur = p["durationMs"]
            trig = spans.add("trigger", t, t + dur.get("triggerExecution", 0) / 1000, root, op)
            for phase in TRIGGER_PHASES:
                ms = dur.get(phase, 0)
                phase_ms[phase].append(ms)
                sid = spans.add(f"trigger.{phase}", t, t + ms / 1000, trig, op)
                if phase == "addBatch":
                    for _e, s0, s1 in d.sink_calls:
                        if t - 0.5 <= s0 <= t + ms / 1000 + 0.5:
                            spans.add(f"sink.{sink_layer}", s0, s1, sid, op)
                t += ms / 1000
        rounds.append(d.rounds)
        wall += d.wall
        sink_s += sum(s1 - s0 for _e, s0, s1 in d.sink_calls)
    selfs = spans.self_times()
    unattributed = selfs.get("drain", 0.0)
    out = values(
        drain__rounds=statistics.median(rounds),
        drain__restart_s=unattributed / max(sum(rounds), 1),
        sink__s=sink_s,
        trace__attributed_share=1 - unattributed / wall if wall else 0,
    )
    for phase, vals in phase_ms.items():
        if vals:
            out[f"trigger.{phase}_ms"] = (statistics.median(vals), "ms")
    return out


# ---------------------------------------------------------------------------
# sources
def replay_source(wal_dir: str, cap: int) -> tuple[dict, list]:
    """Plan one batch over the whole corpus with the replay reader, then
    read every planned partition in this process. Returns the metrics
    and the Arrow batches the reader produced."""
    from pg_bifrost_spark.sources.pgcdc import PgCdcParallelReader

    ack = os.path.join(wal_dir, ".ack")
    if os.path.exists(ack):
        os.remove(ack)
    reader = PgCdcParallelReader({"wal_dir": wal_dir, "max_msgs_per_batch": str(cap)})
    t0 = time.perf_counter()
    start = reader.initialOffset()
    parts = reader.partitions(start, reader.latestOffset())
    t1 = time.perf_counter()
    batches = [b for p in parts for b in reader.read(p)]
    t2 = time.perf_counter()
    n = sum(b.num_rows for b in batches)
    return values(source__replay_plan_s=t1 - t0,
                  source__replay_read_msgs_per_s=n / (t2 - t1)), batches


class _ReceiveWaits:
    """Times every ``ReplicationClientLoop.step`` that ends in a receive
    timeout, i.e. the time the loop sat waiting on an idle stream."""

    def __init__(self):
        self.total_s = 0.0

    def __enter__(self):
        from pg_bifrost_spark.sources.protocol import ReplicationClientLoop

        self._cls, self._step = ReplicationClientLoop, ReplicationClientLoop.step
        step = self._step

        def timed(loop):
            before = loop.stats.get("receive_timeouts", 0)
            t0 = time.perf_counter()
            try:
                return step(loop)
            finally:
                if loop.stats.get("receive_timeouts", 0) > before:
                    self.total_s += time.perf_counter() - t0

        self._cls.step = timed
        return self

    def __exit__(self, *exc):
        self._cls.step = self._step


def live_source(cluster, txns: int, seed: int, cap: int) -> dict:
    """Commit a backlog to a fresh slot and drain it with
    ``LiveTransport.fetch`` directly, classifying how each fetch ended:
    at the cap, idle (a receive timeout ended it), or on the fetch
    budget (the transport's own ``fetch_budget_exhausted`` count). Any
    other early end shows only in ``source.truncations``."""
    from pg_bifrost_spark.sources.pgcdc import LiveTransport

    slot = "cdcbench_fetch"
    cluster.create_slot(slot)
    cluster.commit_mix(txns, seed)
    transport = LiveTransport(cluster.dsn, slot, create_slot=False)
    exits = {"cap": 0, "idle": 0, "budget": 0}
    msgs = 0
    fetch_s = 0.0
    after, seq = 0, None
    try:
        with _ReceiveWaits() as waits:
            while True:
                truncs = transport.truncations
                budget = transport.stats.get("fetch_budget_exhausted", 0)
                t0 = time.perf_counter()
                batch = transport.fetch(after, cap, seq)
                fetch_s += time.perf_counter() - t0
                if len(batch) >= cap:
                    exits["cap"] += 1
                elif transport.stats.get("fetch_budget_exhausted", 0) > budget:
                    exits["budget"] += 1
                elif transport.truncations == truncs:
                    exits["idle"] += 1
                if not batch:
                    break
                msgs += len(batch)
                after, _t, _line, k = batch[-1]
                seq = k + 1
                transport.ack(after)
        stats = dict(transport.stats)
    finally:
        transport.close()
    cluster.drop_slot(slot)
    wait_s = waits.total_s
    return values(
        source__msgs=msgs,
        source__fetch_s=fetch_s,
        source__wait_s=wait_s,
        source__busy_s_per_kmsg=(fetch_s - wait_s) / msgs * 1000 if msgs else 0,
        source__exit_cap=exits["cap"],
        source__exit_idle=exits["idle"],
        source__exit_budget=exits["budget"],
        source__reconnects=max(stats.get("connects", 1) - 1, 0),
        source__truncations=transport.truncations,
    )


# ---------------------------------------------------------------------------
# parse → filter/partition → marshal, as cumulative prefixes
def prefixes(spark, batches: list, cfg) -> tuple[dict, list[str]]:
    """Time parse, +filter/partition, +marshal over one persisted batch:
    the Arrow batches ``PgCdcParallelReader.read`` returned. Returns the
    metrics and any mismatch between the composed prefix and
    ``run_pipeline_assembled`` (row count and content hash)."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    from pg_bifrost_spark.cdc.fastparse import jvm_parse, jvm_parseable
    from pg_bifrost_spark.cdc.marshaller import marshal
    from pg_bifrost_spark.cdc.parser import PARSED_ASSEMBLED_SCHEMA_DDL, parse_lines_to_pandas
    from pg_bifrost_spark.cdc.pipeline import filter_partition, run_pipeline_assembled
    from pg_bifrost_spark.sources.pgcdc import PGCDC_SCHEMA

    raw = spark.createDataFrame(pa.Table.from_batches(batches), PGCDC_SCHEMA).persist()
    total = raw.count()

    def timed(fn):
        t0 = time.perf_counter()
        v = fn()
        return v, time.perf_counter() - t0

    able = jvm_parseable(F.col("line"))
    fast = jvm_parse(raw.filter(able), passthrough=["txn_id", "time_based_key"]).drop("txn_xid")
    slow = raw.filter(~able).mapInPandas(
        parse_lines_to_pandas, schema=PARSED_ASSEMBLED_SCHEMA_DDL
    ).drop("txn_xid")
    parsed_all = fast.unionByName(slow)
    parsed = parsed_all.filter(F.col("parse_error").isNull())
    n_slow, slow_s = timed(lambda: slow.count())
    (n_parsed, n_invalid), parse_s = timed(lambda: tuple(parsed_all.agg(
        F.count(F.when(F.col("parse_error").isNull(), 1)),
        F.count(F.col("parse_error"))).first()))
    filtered = filter_partition(parsed, cfg)
    n_filtered, filter_s = timed(lambda: filtered.count())
    marshalled = marshal(filtered, cfg.no_marshal_old_value)
    digest = [F.count(F.lit(1)), F.sum(F.length("json")), F.sum(F.xxhash64("json").cast("decimal(38,0)"))]
    (n_out, json_bytes, h_prefix), marshal_s = timed(lambda: tuple(marshalled.agg(*digest).first()))
    part_sizes = [r[0] for r in marshalled.groupBy(F.spark_partition_id()).count()
                  .select("count").collect()]
    n_ref, _, h_ref = run_pipeline_assembled(raw, cfg).agg(*digest).first()
    raw.unpersist()
    problems = []
    if (n_out, h_prefix) != (n_ref, h_ref):
        problems.append(f"prefix composition gives {n_out} rows / hash {h_prefix}, "
                        f"run_pipeline_assembled {n_ref} / {h_ref}")
    mean = sum(part_sizes) / len(part_sizes) if part_sizes else 0
    return values(
        parse__s=parse_s,
        parse__jvm_fraction=(total - n_slow) / total if total else 0,
        parse__python_lines_per_s=n_slow / slow_s if slow_s else 0,
        parse__invalid=n_invalid,
        filter__in=n_parsed,
        filter__out=n_filtered,
        partition__max_over_mean=max(part_sizes) / mean if mean else 0,
        marshal__s=max(marshal_s - filter_s, 0.0),
        marshal__json_bytes=json_bytes or 0,
    ), problems


# ---------------------------------------------------------------------------
# sinks
def kinesis_sink(stats_dir: str, missing: int) -> dict:
    """Attempt counts written by ``CountingFlakyTransport``."""
    rows = read_attempts(stats_dir)
    offered = sum(r["offered"] for r in rows)
    delivered = offered - sum(r["failed"] for r in rows)
    return values(
        sink__records=delivered,
        sink__bytes=sum(r["bytes"] for r in rows),
        sink__chunks=sum(1 for r in rows if r["first"]),
        sink__attempts=len(rows),
        sink__useful_ratio=delivered / offered if offered else 0,
        sink__oversize_dropped=missing,
    )


def file_sink(out_dir: str, sink_calls: int, missing: int) -> dict:
    """What ``exactly_once_ndjson`` left on disk."""
    parts = glob.glob(os.path.join(out_dir, "epoch=*", "part-*"))
    records = 0
    for p in parts:
        with open(p, "rb") as f:
            records += sum(1 for _ in f)
    return values(
        sink__records=records,
        sink__bytes=sum(os.path.getsize(p) for p in parts),
        sink__chunks=sum(1 for p in parts if os.path.getsize(p)),
        sink__attempts=sink_calls,
        sink__useful_ratio=1.0 if records else 0,
        sink__oversize_dropped=missing,
    )


# ---------------------------------------------------------------------------
# ack
ACK_PERIOD_S = 0.25


class AckSampler:
    """Samples ``pg_current_wal_lsn() - confirmed_flush_lsn`` of one slot
    every ACK_PERIOD_S while a drain runs."""

    def __init__(self, cluster, slot: str):
        self.cluster, self.slot = cluster, slot
        self.lags: list[int] = []
        self.confirmed: list[int] = []
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self):
        q = ("SELECT pg_current_wal_lsn() - confirmed_flush_lsn, confirmed_flush_lsn "
             f"FROM pg_replication_slots WHERE slot_name = '{self.slot}'")
        while not self._stop.is_set():
            rows = self.cluster.sql(q)
            if rows and rows[0][0]:
                self.lags.append(int(float(rows[0][0])))
                self.confirmed.append(lsn_int(rows[0][1]))
            self._stop.wait(ACK_PERIOD_S)

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def metrics(self, unacked_after_drain: int) -> dict:
        return values(
            ack__lag_bytes=statistics.median(self.lags) if self.lags else 0,
            ack__advances=max(len(set(self.confirmed)) - 1, 0),
            ack__unacked_after_drain_bytes=unacked_after_drain,
        )


# ---------------------------------------------------------------------------
# idle-start probe
# how long the streaming attempt may take to deliver after the commit
IDLE_DELIVERY_WAIT_S = 20.0


def idle_start(spark, cluster, work: str, conf) -> tuple[dict, list[str]]:
    """Start ``drain_cdc_query`` and ``start_cdc_query(trigger_seconds=1)``
    on a slot with nothing to read, each with its own slot and
    checkpoint. An attempt passes when the query survives the idle start
    and then delivers transactions committed after it started."""
    from pg_bifrost_spark.streaming.core import drain_cdc_query, start_cdc_query

    failures = []
    delivered: list[int] = []

    def sink(df, epoch_id):
        delivered.append(df.filter(df.json.isNotNull()).count())

    for i, mode in enumerate(("drain", "stream")):
        slot = f"cdcbench_idle_{i}"
        cluster.create_slot(slot)
        opts = {"dsn": cluster.dsn, "slot": slot,
                "max_msgs_per_batch": str(conf.client_buffer_size)}
        ck = os.path.join(work, f"ck-{mode}")
        delivered.clear()
        try:
            if mode == "drain":
                drain_cdc_query(spark, sink, ck, cfg=conf.pipeline, source_options=opts)
                cluster.commit_mix(5, 1)
                drain_cdc_query(spark, sink, ck, cfg=conf.pipeline, source_options=opts)
            else:
                q = start_cdc_query(spark, sink, ck, cfg=conf.pipeline, trigger_seconds=1,
                                    source_options=opts)
                try:
                    time.sleep(3)
                    cluster.commit_mix(5, 1)
                    end = time.monotonic() + IDLE_DELIVERY_WAIT_S
                    while q.isActive and not sum(delivered) and time.monotonic() < end:
                        time.sleep(0.2)
                    if q.exception() is not None:
                        raise RuntimeError(str(q.exception()))
                finally:
                    q.stop()
            if not sum(delivered):
                raise RuntimeError("nothing delivered after the idle start")
        except Exception as exc:  # the probe reports the failure; the run goes on
            failures.append(f"idle-start {mode}: {type(exc).__name__}: {str(exc)[:300]}")
        finally:
            try:
                cluster.drop_slot(slot)
            except Exception:  # still held by a dying walsender
                pass
    return values(probe__idle_start_attempted=2, probe__idle_start_failed=len(failures)), failures


# ---------------------------------------------------------------------------
# resume probe
# small transactions drained five to a micro-batch, so every round ends
# on a COMMIT
RESUME_TXNS = 20
RESUME_CAP = 5 * MIX_MSGS


def resume(spark, cluster, work: str, conf, seed: int) -> tuple[dict, list[str]]:
    """Drain a backlog of small transactions with ``drain_cdc_query`` at
    a client buffer that ends every round on a COMMIT, so each later
    round resumes the slot at a commit's end LSN, which is also the next
    transaction's BEGIN LSN. Verify the output against a capture slot
    of its own; the transactions verified and failed are the counts."""
    from pg_bifrost_spark.streaming.core import drain_cdc_query

    slot, capture = "cdcbench_resume", "cdcbench_resume_capture"
    cluster.create_slot(slot)
    cluster.create_slot(capture)
    cluster.pgbench("mix.sql", RESUME_TXNS, seed)
    expected = verify.expected_keys(cluster.take_changes(capture))
    txns = {k[0] for k in expected}
    lines: list[str] = []

    def sink(df, epoch_id):
        lines.extend(r.json for r in df.select("json").collect() if r.json is not None)

    opts = {"dsn": cluster.dsn, "slot": slot, "max_msgs_per_batch": str(RESUME_CAP)}
    try:
        drain_cdc_query(spark, sink, os.path.join(work, "ck"), cfg=conf.pipeline,
                        source_options=opts)
        bad, problems, _missing = verify.check(lines, expected)
    except Exception as exc:  # the probe reports the failure; the run goes on
        bad, problems = txns, [f"drain failed: {type(exc).__name__}: {str(exc)[:300]}"]
    finally:
        for s in (slot, capture):
            try:
                cluster.drop_slot(s)
            except Exception:  # still held by a dying walsender
                pass
    return (values(probe__resume_attempted=len(txns), probe__resume_failed=len(bad)),
            [f"resume: {p}" for p in problems])
