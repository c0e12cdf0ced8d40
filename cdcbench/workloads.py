"""The benchmark's workloads.

replay_bulk   closed loop. A seeded transaction mix is committed to a
              throwaway Postgres, captured over SQL from a logical slot
              and written as a replay corpus. Each operation drains the
              whole corpus with ``drain_cdc_query(wal_dir=...)`` and a
              1 M client buffer into ``exactly_once_ndjson``.
live_backlog  closed loop. Each operation commits the same mix to
              Postgres, then drains it over the live replication slot
              (``LiveTransport``) with the CLI's default client buffer
              into ``kinesis_writer`` over a file transport that fails
              a share of every send, so the partial-retry path runs.
              Each backlog has its own fresh slot and checkpoint.
              Untraced backlogs fit one round; the traced run's take two.

Both report the same end-to-end metrics; the traced run (``--trace 1``)
adds the per-layer probes in ``layers.py``.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

from pg_bifrost_spark.config import resolve
from pg_bifrost_spark.sinks.capture import FlakyFileTransport
from pg_bifrost_spark.sinks.retry import BackoffPolicy
from pg_bifrost_spark.sinks.writers import exactly_once_ndjson, kinesis_writer
from pg_bifrost_spark.streaming.core import drain_cdc_query

from cdcbench import layers, verify
from cdcbench.pg import WHITELIST, backlog_msgs
from cdcbench.trace import (
    CountingFlakyTransport,
    ProgressCollector,
    MemSampler,
    Spans,
)

REPLAY_TXNS = 5000
REPLAY_BUFFER = 1_000_000
# nominal length of one measured operation (commit, if any, plus
# drain) of either workload on a 4-core host; it sizes the measured phase
NOMINAL_DRAIN_S = 6.5
# 6 902 messages: one round at the CLI's 10 000-message buffer, so
# several drains fit in a run
LIVE_TXNS = 600
# 10 202 messages: two rounds, so the traced run's drains restart the
# query between rounds and cut a transaction at the cap (message 10 000
# is the seventh of a small transaction)
LIVE_ROUNDS_TXNS = 900
LIVE_WARM_TXNS = 100
SINK_ERROR_PCT = 20
# short waits so retries cost attempts, not sleep
RETRY = BackoffPolicy(initial_s=0.001, multiplier=1.5, max_interval_s=0.01, max_elapsed_s=120)
MAIN_SLOT, CAPTURE_SLOT = "cdcbench_main", "cdcbench_capture"


def pipeline_config():
    """The CLI's configuration with the benchmark's table whitelist."""
    return resolve(cli={"WHITELIST": ",".join(WHITELIST)}, env={}, config_file=None)


class Drain:
    """One ``drain_cdc_query`` call with its sink calls timed."""

    def __init__(self, spark, sink, checkpoint: str, cfg, source_options: dict):
        self.sink_calls: list[tuple[int, float, float]] = []  # (epoch, start, end)
        t0 = time.time()
        self.rounds = drain_cdc_query(
            spark, self._timed(sink), checkpoint, cfg=cfg, source_options=source_options
        )
        self.start, self.end = t0, time.time()
        if not self.sink_calls:
            raise RuntimeError("the drain made no sink call")
        _log(f"drain: {self.wall:.2f} s, {self.rounds} rounds, "
             f"first delivery {self.first_delivery:.2f} s")

    def _timed(self, sink):
        def wrapped(df, epoch_id):
            t0 = time.time()
            sink(df, epoch_id)
            self.sink_calls.append((epoch_id, t0, time.time()))
        return wrapped

    @property
    def wall(self) -> float:
        return self.end - self.start

    @property
    def first_delivery(self) -> float:
        return min(end for _e, _s, end in self.sink_calls) - self.start


def _drain_count(seconds: float) -> int:
    """Measured drains per run: as many nominal-length drains as fit in
    ``seconds``, at least one. The count depends only on ``seconds``, so
    every run, and both commits of a comparison, do the same work."""
    return max(1, round(seconds / NOMINAL_DRAIN_S))


def _write_corpus(changes, wal_dir: str) -> None:
    os.makedirs(wal_dir)
    with open(os.path.join(wal_dir, "000.jsonl"), "w") as f:
        for lsn, _xid, commit_ms, line in changes:
            f.write(json.dumps({"wal_start": lsn, "server_time_ms": commit_ms, "line": line}))
            f.write("\n")


def _log(msg: str) -> None:
    print(f"cdcbench: {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def _reset(*dirs: str) -> None:
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)


class Outcome:
    """Operations attempted and failed, and the problems behind them."""

    def __init__(self):
        self.attempted = self.failed = 0
        self.problems: list[str] = []

    def drain(self, fn):
        """Run one drain; a raised error counts as a failed operation."""
        self.attempted += 1
        try:
            return fn()
        except Exception as exc:  # a failed drain is a result, not a crash
            self.failed += 1
            self.problems.append(f"drain failed: {type(exc).__name__}: {exc}"[:500])
            return None

    def verified(self, txns: int, bad: set, problems: list[str]) -> None:
        self.attempted += txns
        self.failed += len(bad)
        self.problems.extend(problems)


def _result(outcome: Outcome, metrics: dict[str, tuple[float, str]]) -> dict:
    for p in outcome.problems:
        print(f"cdcbench: {p}", file=sys.stderr)
    return {
        "correct": not outcome.problems,
        "attempted": max(outcome.attempted, 1),
        "failed": outcome.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


class Measured:
    """Set-up times, the measured drains, and in a traced run the
    progress collector and the untraced drains around the traced one."""

    def __init__(self):
        self.session_s = self.setup_s = 0.0
        self.drains: list[Drain] = []
        self.untraced: list[Drain] = []
        self.collector: ProgressCollector | None = None
        self.peak_mb = 0.0
        self.spark = None


def _measure(run, outcome: Outcome, drain, check) -> Measured:
    """Start the session, run the warm-up drain, then the measured ones.

    ``drain(spark, warm, traced)`` runs one operation and returns its
    Drain; ``check()`` verifies the drain's output. Set-up ends
    when the warm-up drain returns. A traced run makes three drains:
    untraced, traced (progress listener on), untraced; the difference
    is the tracing overhead."""
    m = Measured()
    with MemSampler() as mem:
        t0 = time.perf_counter()
        spark = m.spark = run.session()
        m.session_s = time.perf_counter() - t0
        warm = outcome.drain(lambda: drain(spark, True, False))
        m.setup_s = time.perf_counter() - t0
        if warm is not None:
            check()
        if run.trace:
            m.collector = ProgressCollector()
            for traced in (False, True, False):
                if traced:
                    spark.streams.addListener(m.collector)
                d = outcome.drain(lambda: drain(spark, False, traced))
                if traced:
                    if d is not None:
                        # one progress per round; the last may still be
                        # queued on the listener bus
                        m.collector.wait_for(d.rounds)
                    spark.streams.removeListener(m.collector)
                if d is None:
                    break
                (m.drains if traced else m.untraced).append(d)
                check()
        else:
            for _ in range(_drain_count(run.seconds)):
                d = outcome.drain(lambda: drain(spark, False, False))
                if d is None:
                    break
                m.drains.append(d)
                check()
    m.peak_mb = mem.peak_mb
    return m


def _e2e(m: Measured, msgs_per_drain: int) -> dict:
    return {
        "setup_s": (m.setup_s, "s"),
        "msgs_per_s": (statistics.median(msgs_per_drain / d.wall for d in m.drains), "1/s"),
        "peak_pss_mb": (m.peak_mb, "MB"),
    }


def _layer_metrics(run, m: Measured, sink_layer: str, txns: int) -> tuple[dict, Spans]:
    """Per-layer metrics every traced run reports."""
    spans = Spans()
    metrics = layers.defaults()
    metrics.update(layers.session(m.session_s, m.setup_s - m.session_s))
    metrics.update(layers.drains(spans, m.collector, m.drains, sink_layer))
    metrics.update(layers.overhead(m.untraced, m.drains[0]))
    metrics.update(layers.values(pss__peak_mb=m.peak_mb, verify__txns=txns,
                                 drain__first_delivery_s=m.drains[0].first_delivery))
    return metrics, spans


def _finish(run, outcome: Outcome, metrics: dict, spans: Spans) -> dict:
    spans.write(os.path.join(layers.TRACE_DIR, f"{run.workload}-{run.seed}.jsonl"))
    return _result(outcome, metrics)


def _check(outcome: Outcome, lines: list[str], expected: set) -> int:
    """Verify ``lines``; returns the expected messages not delivered."""
    bad, problems, missing = verify.check(lines, expected)
    outcome.verified(len({k[0] for k in expected}), bad, problems)
    return missing


# ---------------------------------------------------------------------------
def replay_bulk(run) -> dict:
    cluster = run.postgres()
    cluster.create_slot(CAPTURE_SLOT)
    cluster.commit_mix(REPLAY_TXNS, run.seed)
    changes = cluster.take_changes(CAPTURE_SLOT)
    cluster.stop()
    wal_dir = run.path("wal")
    _write_corpus(changes, wal_dir)
    expected = verify.expected_keys(changes)
    _log(f"replay corpus of {len(changes)} messages ready")

    cfg = pipeline_config().pipeline
    outcome = Outcome()
    ck, out = run.path("ck"), run.path("out")
    missing: list[int] = []

    def drain(spark, warm: bool, traced: bool) -> Drain:
        # every drain reads the whole corpus from a fresh checkpoint
        _reset(ck, out, os.path.join(wal_dir, ".ack"))
        sink = lambda df, e: exactly_once_ndjson(df, e, out)  # noqa: E731
        return Drain(spark, sink, ck, cfg,
                     {"wal_dir": wal_dir, "max_msgs_per_batch": str(REPLAY_BUFFER)})

    def check() -> None:
        missing.append(_check(outcome, verify.epoch_output(out), expected))

    m = _measure(run, outcome, drain, check)
    if not m.drains:
        return _result(outcome, {})
    if not run.trace:
        return _result(outcome, _e2e(m, backlog_msgs(REPLAY_TXNS)[1]))

    metrics, spans = _layer_metrics(run, m, "file", len({k[0] for k in expected}))
    # the output directory holds the last (untraced) drain, same input
    metrics.update(layers.file_sink(out, len(m.drains[0].sink_calls), missing[-1]))
    source_metrics, batches = layers.replay_source(wal_dir, REPLAY_BUFFER)
    metrics.update(source_metrics)
    prefix_metrics, problems = layers.prefixes(m.spark, batches, cfg)
    metrics.update(prefix_metrics)
    outcome.problems.extend(problems)
    return _finish(run, outcome, metrics, spans)


# ---------------------------------------------------------------------------
def live_backlog(run) -> dict:
    cluster = run.postgres()
    cluster.create_slot(CAPTURE_SLOT)

    conf = pipeline_config()
    outcome = Outcome()
    cap, stats = run.path("capture"), run.path("sink-stats")
    seeds = iter(range(run.seed * 1000, run.seed * 1000 + 1000, 2))
    slots = iter(range(1000))
    ack = None

    def backlog(txns: int) -> str:
        """A fresh slot with ``txns`` of the mix committed behind it."""
        slot = f"{MAIN_SLOT}_{next(slots)}"
        cluster.create_slot(slot)
        cluster.commit_mix(txns, next(seeds))
        return slot

    # every operation drains its own backlog from its own slot and
    # checkpoint, as a first `replicate --once` would; resuming a slot
    # is the resume probe's business (layers.resume)
    warm_slot = backlog(LIVE_WARM_TXNS)
    drained: list[str] = []

    def drain(spark, warm: bool, traced: bool) -> Drain:
        nonlocal ack
        slot = warm_slot if warm else backlog(LIVE_ROUNDS_TXNS if run.trace else LIVE_TXNS)
        drained.append(slot)
        options = {"dsn": cluster.dsn, "slot": slot,
                   "max_msgs_per_batch": str(conf.client_buffer_size)}
        ck = run.path("ck", slot)
        if not traced:
            sink = kinesis_writer("cdcbench", transport=FlakyFileTransport(cap, SINK_ERROR_PCT),
                                  policy=RETRY)
            return Drain(spark, sink, ck, conf.pipeline, options)
        transport = CountingFlakyTransport(cap, stats, SINK_ERROR_PCT)
        ack = layers.AckSampler(cluster, slot)
        with ack:
            sink = kinesis_writer("cdcbench", transport=transport, policy=RETRY)
            return Drain(spark, sink, ck, conf.pipeline, options)

    # every backlog is in the capture slot, so the whole run is verified
    # once, at the end
    m = _measure(run, outcome, drain, lambda: None)
    expected = verify.expected_keys(cluster.take_changes(CAPTURE_SLOT))
    lines = verify.read_lines(os.path.join(cap, "*.jsonl"))
    missing = _check(outcome, lines, expected)
    # the last backlog is the newest WAL, and only its slot delivered it
    unacked = max(0, verify.newest_lsn(lines) - cluster.confirmed_flush(drained[-1]))
    if unacked:
        # known defect: drain_cdc_query returns before the source acks
        # its last micro-batch, so the slot stays behind the newest
        # delivered LSN
        _log(f"known defect: slot confirmed_flush_lsn is {unacked} bytes behind the "
             "newest delivered LSN after the drain")
    if not m.drains:
        return _result(outcome, {})
    if not run.trace:
        return _result(outcome, _e2e(m, backlog_msgs(LIVE_TXNS)[1]))

    metrics, spans = _layer_metrics(run, m, "kinesis", len({k[0] for k in expected}))
    metrics.update(layers.kinesis_sink(stats, missing))
    metrics.update(ack.metrics(unacked))
    metrics.update(layers.live_source(cluster, LIVE_ROUNDS_TXNS, next(seeds),
                                      conf.client_buffer_size))
    _log("fetch probe done")
    known = []
    probe_metrics, failures = layers.idle_start(m.spark, cluster, run.path("idle"), conf)
    metrics.update(probe_metrics)
    known += failures
    _log("idle-start probe done")
    probe_metrics, failures = layers.resume(m.spark, cluster, run.path("resume"), conf,
                                            next(seeds))
    metrics.update(probe_metrics)
    known += failures
    _log("resume probe done")
    for f in known:
        _log(f"known defect: {f}")
    return _finish(run, outcome, metrics, spans)


WORKLOADS = {"replay_bulk": replay_bulk, "live_backlog": live_backlog}
