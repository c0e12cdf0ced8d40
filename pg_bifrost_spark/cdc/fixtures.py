"""Synthesize ``test_decoding`` WAL text fixtures.

Two generators:
  * ``wal_lines_from_ops`` — hand-written op sequences replaying the
    reference's integration-test SQL cases (FIXTURES.md §A).
  * ``wal_lines_from_table`` — the C bridge fixture: replay a parquet
    table as one INSERT per row, one BEGIN/COMMIT per group, so the
    whole pipeline can be verified against a SQL oracle over the same
    parquet (FIXTURES.md §C).

Formatting follows the test_decoding wire format exactly
(grammar: ``parselogical/parselogical.go:103-290``): quoted values use
``''`` escaping, non-quoted types (ints/bools/numerics) are bare, SQL
NULL is the bare token ``null``.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schema import RAW_LINE_SCHEMA

_QUOTED_PG_TYPES = ("text", "character varying", "varchar", "name", "date", "timestamp")


def fmt_value(value, pg_type: str) -> str:
    if value is None:
        return "null"
    s = str(value)
    if any(pg_type.startswith(t) for t in _QUOTED_PG_TYPES):
        return "'" + s.replace("'", "''") + "'"
    return s


def dml_line(
    relation: str,
    operation: str,
    columns: list[tuple[str, str, object]],
    old_columns: list[tuple[str, str, object]] | None = None,
) -> str:
    """columns: [(name, pg_type, python_value)] — value None → NULL."""
    parts = [f"table {relation}: {operation}:"]
    if old_columns:
        parts.append("old-key:")
        parts.extend(f"{n}[{t}]:{fmt_value(v, t)}" for n, t, v in old_columns)
        parts.append("new-tuple:")
    parts.extend(f"{n}[{t}]:{fmt_value(v, t)}" for n, t, v in columns)
    return " ".join(parts)


def ops_to_raw_lines(ops: Iterable[str | tuple[str, int]], start_lsn: int = 1000) -> list[tuple]:
    """Wrap op lines in BEGIN/COMMIT txns. ``ops`` items are either DML
    line strings or ('BEGIN'|'COMMIT', xid) markers; returns rows for
    RAW_LINE_SCHEMA (single stream 0) with monotonically increasing LSNs."""
    rows = []
    lsn = start_lsn
    for op in ops:
        if isinstance(op, tuple):
            kind, xid = op
            line = f"{kind} {xid}"
        else:
            line = op
        rows.append((lsn, lsn + 8, 0, 0, line))
        lsn += 8
    return rows


def txn(xid: int, *dml: str) -> list:
    return [("BEGIN", xid), *dml, ("COMMIT", xid)]


def raw_lines_df(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    return spark.createDataFrame(rows, RAW_LINE_SCHEMA)


# ---------------------------------------------------------------------------
# Bridge fixture: parquet table → WAL text, fully distributed (no collect).
# ---------------------------------------------------------------------------

def wal_lines_from_table(
    df: DataFrame,
    relation: str,
    pg_types: dict[str, str],
    seq_expr,
    n_streams: int = 64,
    operation: str = "INSERT",
    with_txn: bool = False,
    parallelize: bool = True,
) -> DataFrame:
    """Render each row of ``df`` as a test_decoding INSERT inside its own
    transaction (BEGIN/INSERT/COMMIT). Built entirely from Column
    expressions — at 100 TB this renders in parallel on executors.

    ``seq_expr``: a Column (or name) yielding a UNIQUE integer per row —
    derived from the data (e.g. ``l_orderkey*8+l_linenumber``), NOT a
    global row_number (a partitionless window would serialize the whole
    table through one task). It becomes the txn xid and the LSN base.

    The replay is sharded into ``n_streams`` independent streams
    (txn-contiguous), the parallelism unit for downstream transaction
    assembly — the multi-slot analog of the reference's single ordered
    connection.

    Returns RAW_LINE_SCHEMA rows.
    """
    quoted = {c for c, t in pg_types.items() if any(t.startswith(p) for p in _QUOTED_PG_TYPES)}

    def cell(c: str) -> F.Column:
        t = pg_types[c]
        raw = F.col(c).cast("string")
        if c in quoted:
            val = F.when(
                F.col(c).isNull(), F.lit("null")
            ).otherwise(F.concat(F.lit("'"), F.regexp_replace(raw, "'", "''"), F.lit("'")))
        else:
            val = F.coalesce(raw, F.lit("null"))
        return F.concat(F.lit(f"{c}[{t}]:"), val)

    insert_line = F.concat_ws(
        " ",
        F.lit(f"table {relation}: {operation}:"),
        *[cell(c) for c in pg_types],
    )
    seq = F.col(seq_expr) if isinstance(seq_expr, str) else seq_expr
    # parallelize BEFORE rendering: the source is often one parquet
    # split, and this shuffle moves narrow source rows (cheap) so that
    # render/explode/parse downstream run on every core with no
    # further exchange. ``parallelize=False`` (r13) keeps the input
    # partitioning for DIMENSION-sized replays (the nation chain:
    # 25 rows) — repartitioning those to core count produced
    # 32 near-empty partitions PER ARM (96 tasks per stage after the
    # three-arm union) and one extra exchange+AQE job per arm, pure
    # scheduling latency on a fixed-size stream.
    n_par = df.sparkSession.sparkContext.defaultParallelism
    base = df.repartition(n_par) if parallelize else df
    base = base.select(insert_line.alias("_dml"), seq.cast("long").alias("_seq"))
    lsn0 = F.lit(1000) + F.col("_seq") * 24
    lines = base.select(
        F.pmod(F.col("_seq"), F.lit(n_streams)).cast("int").alias("stream_id"),
        F.col("_seq").cast("string").alias("_xid"),
        F.concat_ws("-", F.col("_seq"), lsn0).alias("_tbk"),
        F.array(
            F.struct(lsn0.alias("wal_start"), F.concat(F.lit("BEGIN "), F.col("_seq")).alias("line")),
            F.struct((lsn0 + 8).alias("wal_start"), F.col("_dml").alias("line")),
            F.struct(
                (lsn0 + 16).alias("wal_start"),
                F.concat(F.lit("COMMIT "), F.col("_seq")).alias("line"),
            ),
        ).alias("msgs"),
    ).select("stream_id", "_xid", "_tbk", F.explode("msgs").alias("m"))
    out = lines.select(
        F.col("m.wal_start").alias("wal_start"),
        (F.col("m.wal_start") + 8).alias("server_wal_end"),
        F.lit(0).cast("long").alias("server_time_ms"),
        F.col("stream_id"),
        F.col("m.line").alias("line"),
        F.col("_xid").alias("txn_id"),
        F.col("_tbk").alias("time_based_key"),
    )
    if with_txn:
        # the generator IS an assembling source (each txn rendered
        # whole), so it can stamp txn identity directly — run_pipeline
        # then skips window assembly: no post-render shuffle, no
        # window sort. This is the same contract the streaming pgcdc
        # reader provides.
        return out
    return out.drop("txn_id", "time_based_key").repartition(n_par, "stream_id")
