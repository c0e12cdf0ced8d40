"""End-to-end CDC pipeline: raw WAL text → parsed events → filter →
partition key → JSON envelopes.

This one declarative DataFrame graph replaces the reference's whole
channel-wired app (``app/runner.go:269-301``):

    Replication Client → Filter → Partitioner → Marshaller → Batcher →
    Transporter, with the Progress Tracker closing the ack loop

There is one parse stage (``parse_raw``) and one entry point
(``run_pipeline``) for batch replay, the bridge plans and the
streaming sink alike; whether transactions still need assembling is
read off the input's columns (an assembling source stamps
``txn_id``/``time_based_key`` itself).

Catalyst gives us the reference's hand-built physical tricks for free
(filter-before-serialize ordering, column pruning, pipelining —
SURVEY.md §4 X1-X8); Structured Streaming's offset/commit log plays the
progress-ledger role (X12) when the same graph runs under readStream.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.barrier import opt_barrier
from .fastparse import jvm_parse, jvm_parseable
from .filtering import table_filter_predicate
from .marshaller import marshal
from .parser import PARSED_ASSEMBLED_SCHEMA_DDL, PARSED_SCHEMA_DDL, parse_lines_to_pandas
from .partitioner import partition_key_expr


@dataclass
class PipelineConfig:
    """Mirrors the reference's replicate CLI config surface
    (``main/main.go:390-554``)."""

    whitelist: list[str] = field(default_factory=list)
    blacklist: list[str] = field(default_factory=list)
    whitelist_regex: bool = False
    blacklist_regex: bool = False
    partition_method: str = "none"  # none|tablename|transaction|transaction-bucket
    partition_buckets: int = 1
    no_marshal_old_value: bool = False


def _parse_eligibility(df_lines: DataFrame) -> F.Column:
    """Fast/slow split predicate: a caller that materializes its lines
    (the bridge plans cache them) may precompute ``jvm_parseable`` as a
    ``_able`` column so the split's two branches filter on the stored
    boolean instead of each re-running the eligibility regex over
    every line. Without the column, behavior is unchanged."""
    if "_able" in df_lines.columns:
        return F.col("_able")
    return jvm_parseable(F.col("line"))


def parse_raw(df_lines: DataFrame, barrier: bool = True) -> DataFrame:
    """Raw (wal_start, server_wal_end, server_time_ms, line) → parsed
    messages. Malformed lines are dropped and counted via an observable
    metric (reference counts+drops at ``client.go:470-482``).

    Input that already carries ``txn_id``/``time_based_key`` (the
    streaming pgcdc reader, the WAL generators and the pgoutput decoder
    stamp them) keeps both columns through the parse, and the control
    lines' ``txn_xid`` is dropped: assembly already happened.

    Two-branch split: control lines and fast-path-eligible DML parse
    entirely JVM-side inside whole-stage codegen (``fastparse.py``);
    only lines outside the fast grammar pay the Python (Arrow) hop —
    on a typical CDC stream that is ~zero rows.

    Both branches re-execute their common input subtree (two filters
    over one source — Catalyst shares no work across them), so a
    caller whose lines are EXPENSIVE to produce should materialize
    them first (the bridge plans cache rendered/decoded lines, the
    streaming sink persists each micro-batch) and may precompute the
    eligibility bit as a ``_able`` column — the split then filters on
    the stored boolean instead of running the eligibility regex once
    per branch (r12, guide §2.4: the regex was the largest re-executed
    expression left after the caches).

    ``barrier=False`` is for consumers that reference the parsed
    column maps AT MOST ONCE downstream (or not at all): the barrier
    exists solely to stop CollapseProject inlining the interpreted
    map-build into multiple extraction sites, and it also blocks
    column pruning (the documented trade-off in functions/barrier.py)
    — a consumer that never reads ``columns``/``old_columns`` (e.g.
    the partition-key bounds check) should let Catalyst prune the
    whole tokenize+map build out of its plan instead (guide §2.3
    don't-compute-what-you-throw-away)."""
    import uuid

    txn_cols = [c for c in ("txn_id", "time_based_key") if c in df_lines.columns]
    if len(txn_cols) == 1:
        raise ValueError(
            f"assembled input needs both txn_id and time_based_key, got only {txn_cols[0]}"
        )
    able = _parse_eligibility(df_lines)
    fast = jvm_parse(df_lines.filter(able).drop("_able"), passthrough=txn_cols)
    schema = PARSED_ASSEMBLED_SCHEMA_DDL if txn_cols else PARSED_SCHEMA_DDL
    slow = df_lines.filter(~able).drop("_able").mapInPandas(parse_lines_to_pandas, schema=schema)
    parsed = fast.unionByName(slow)
    if txn_cols:
        parsed = parsed.drop("txn_xid")
    if barrier:
        # the fast branch's token fold must evaluate ONCE per row.
        # Without it, CollapseProject inlines the fold into every
        # downstream reference (columns / old_columns / envelope JSON)
        # — measured 3× the work on the roundtrip bench (see
        # functions/barrier.py).
        parsed = opt_barrier(parsed)
    # unique observation name: two pipeline instances may meet in one
    # plan (e.g. snapshot apply), and observation names must not collide
    return parsed.observe(
        f"cdc_parse_{uuid.uuid4().hex[:8]}",
        F.count(F.col("parse_error")).alias("invalid_msgs"),
    ).filter(F.col("parse_error").isNull())


def assemble_transactions(parsed: DataFrame, stream_id_col: str | None = "stream_id") -> DataFrame:
    """Stamp every message with its surrounding transaction.

    The xid only appears on BEGIN/COMMIT (``client.go:487-545`` carries
    it across messages sequentially). Declaratively, that is a running
    ``last(ignorenulls)`` over WAL order. ``time_based_key`` — the
    replay-disambiguating identity ``"<xid>-<BEGIN receipt ns>"``
    (``client.go:509-518``) — is synthesized deterministically from the
    BEGIN's wal_start so fixtures replay byte-identically.

    Ordering (and hence assembly) is only defined within one
    replication stream, so the window partitions by ``stream_id_col``
    — one stream is one task, many streams scale out. The real
    streaming source instead assembles transactions inside its
    (inherently sequential) reader.
    """
    w = (
        Window.partitionBy(stream_id_col).orderBy("wal_start")
        if stream_id_col
        else Window.orderBy("wal_start")
    )
    running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    begin_xid = F.when(F.col("operation") == "BEGIN", F.col("txn_xid"))
    begin_wal = F.when(F.col("operation") == "BEGIN", F.col("wal_start"))
    df = (
        parsed.withColumn("_last_begin_xid", F.last(begin_xid, ignorenulls=True).over(running))
        .withColumn("_last_begin_wal", F.last(begin_wal, ignorenulls=True).over(running))
        .withColumn("txn_id", F.coalesce(F.col("txn_xid"), F.col("_last_begin_xid")))
        .withColumn(
            "time_based_key",
            F.concat_ws(
                "-",
                F.coalesce(F.col("txn_xid"), F.col("_last_begin_xid")),
                F.coalesce(F.col("_last_begin_wal"), F.lit(0)).cast("string"),
            ),
        )
        .drop("_last_begin_xid", "_last_begin_wal", "txn_xid")
    )
    return df


def filter_partition(events: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Filter → partition-key stages (stateless, per-row)."""
    events = events.filter(
        table_filter_predicate(
            whitelist=cfg.whitelist or None,
            blacklist=cfg.blacklist or None,
            whitelist_regex=cfg.whitelist_regex,
            blacklist_regex=cfg.blacklist_regex,
        )
    )
    return events.withColumn(
        "partition_key", partition_key_expr(cfg.partition_method, cfg.partition_buckets)
    )


def run_pipeline(df_lines: DataFrame, cfg: PipelineConfig | None = None) -> DataFrame:
    """The pipeline's one entry point, batch and streaming alike: raw
    WAL lines → parse → (assembly) → filter → partition key →
    envelope. Returns MarshalledMessage rows (json is null for
    BEGIN/COMMIT control rows, which sinks exclude from payloads —
    ``transport/batch/generic_batch.go:33-36``).

    Window assembly runs only when the input has no ``txn_id``: the
    streaming pgcdc source assembles transactions inside its
    sequential reader (exactly where the reference does it,
    ``client.go:487-545``), so the window is a batch/replay
    convenience for raw lines. Every other stage is per-row, so
    Structured Streaming runs the same plan per micro-batch with no
    state."""
    cfg = cfg or PipelineConfig()
    events = parse_raw(df_lines)
    if "txn_id" not in df_lines.columns:
        events = assemble_transactions(events)
    return marshal(filter_partition(events, cfg), cfg.no_marshal_old_value)


# cdcbench/ imports this name and may not be edited: keep it as an alias
run_pipeline_assembled = run_pipeline


def data_messages(marshalled: DataFrame) -> DataFrame:
    """Only rows that reach sink payloads (BEGIN/COMMIT excluded)."""
    return marshalled.filter(F.col("json").isNotNull())
