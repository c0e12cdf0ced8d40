"""JSON envelope construction — reference ``marshaller/marshaller.go``.

Envelope (``marshaller.go:118-126``):

    {"time": RFC3339, "time_ms": <epoch ms>, "txn": "<xid>-<nanos>",
     "lsn": "X/X", "table": "<schema>.<table>", "operation": OP,
     "columns": {"<col>": {"new": {"v","t","q"}, "old": {...}}}}

Per-column old/new pairing rules (``marshaller.go:259-299``), in the
reference's exact branch order:

  1. DELETE            → {"old": cell}            (test_decoding puts the
                          old tuple in the main column section on DELETE)
  2. old present and new.v != old.v:
       new.v == 'unchanged-toast-datum'  (TOAST not resent)
         → {"new": old} (+ {"old": old} unless no_marshal_old_value)
       else
         → {"new": new} (+ {"old": old} unless no_marshal_old_value)
  3. UPDATE, old absent, new is not SQL NULL, and old values are kept
         → {"new": new, "old": null-cell}   (NULL→value transition is
            synthesized so consumers see it as a regular change)
  4. otherwise          → {"new": new}

Keys present only in ``old_columns`` are ignored (the reference
iterates ``Columns`` only). BEGIN/COMMIT rows carry no payload
(``marshaller.go:187-190``); they exist for progress accounting.

Everything here is built-in Column expressions (map_entries/transform/
map_from_entries/when) — the whole envelope stays inside whole-stage
codegen; no Python executes per row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TOAST_SENTINEL = "unchanged-toast-datum"
EPOCH_RFC3339 = "1970-01-01T00:00:00Z"  # marshaller.go:42


def _cell(src: Column) -> Column:
    """ColumnValue struct → output cell with stringified 'q'
    (the reference emits q/t/v all as JSON strings)."""
    return F.struct(
        F.when(src["q"], "true").otherwise("false").alias("q"),
        src["t"].alias("t"),
        src["v"].alias("v"),
    )


def _null_cell(ctype: Column) -> Column:
    return F.struct(
        F.lit("false").alias("q"),
        ctype.alias("t"),
        F.lit("null").alias("v"),
    )


def columns_envelope_expr(
    operation: Column,
    columns: Column,
    old_columns: Column,
    no_marshal_old_value: bool = False,
) -> Column:
    """map<col, ColumnValue> × map<col, ColumnValue> →
    map<col, map<'new'|'old', cell>>."""

    def pair_for(entry: Column) -> Column:
        # `entry` is a bound lambda variable over a MATERIALIZED struct
        # (built by the inner transform below), so entry["old"] is one
        # field access — NOT a re-evaluated element_at per branch
        # (higher-order functions are interpreted; captured expressions
        # re-run per reference).
        key, new, old = entry["key"], entry["new"], entry["old"]
        new_is_null = (new["v"] == "null") & ~new["q"]

        changed = old.isNotNull() & (new["v"] != old["v"])
        toast = new["v"] == F.lit(TOAST_SENTINEL)

        if no_marshal_old_value:
            on_changed = F.when(toast, F.create_map(F.lit("new"), _cell(old))).otherwise(
                F.create_map(F.lit("new"), _cell(new))
            )
            null_transition = F.lit(False)
        else:
            on_changed = F.when(
                toast,
                F.create_map(F.lit("new"), _cell(old), F.lit("old"), _cell(old)),
            ).otherwise(F.create_map(F.lit("new"), _cell(new), F.lit("old"), _cell(old)))
            null_transition = old.isNull() & ~new_is_null & (operation == "UPDATE")

        pair = (
            F.when(operation == "DELETE", F.create_map(F.lit("old"), _cell(new)))
            .when(changed, on_changed)
            .when(
                null_transition,
                F.create_map(F.lit("new"), _cell(new), F.lit("old"), _null_cell(new["t"])),
            )
            .otherwise(F.create_map(F.lit("new"), _cell(new)))
        )
        return F.struct(key.alias("key"), pair.alias("value"))

    enriched = F.transform(
        F.map_entries(columns),
        lambda e: F.struct(
            e["key"].alias("key"),
            e["value"].alias("new"),
            F.element_at(old_columns, e["key"]).alias("old"),
        ),
    )
    return F.map_from_entries(F.transform(enriched, pair_for))


def lsn_hex_expr(wal_start: Column) -> Column:
    """uint64 LSN → Postgres "X/X" text form (marshaller.go:312-317)."""
    hi = F.conv(F.shiftrightunsigned(wal_start, 32).cast("string"), 10, 16)
    lo = F.conv((wal_start.bitwiseAND(F.lit(0xFFFFFFFF))).cast("string"), 10, 16)
    return F.concat(F.upper(hi), F.lit("/"), F.upper(lo))


def time_rfc3339_expr(server_time_ms: Column) -> Column:
    """epoch-ms → RFC3339; 0 → literal epoch (pg ≤11 sends no time,
    marshaller.go:304-310). Session TZ must be UTC."""
    return F.when(server_time_ms == 0, F.lit(EPOCH_RFC3339)).otherwise(
        F.date_format(F.timestamp_millis(server_time_ms), "yyyy-MM-dd'T'HH:mm:ss'Z'")
    )


def envelope_struct_expr(no_marshal_old_value: bool = False) -> Column:
    """Full envelope as a STRUCT (the value to_json serializes)."""
    return F.struct(
        time_rfc3339_expr(F.col("server_time_ms")).alias("time"),
        F.col("server_time_ms").alias("time_ms"),
        F.col("time_based_key").alias("txn"),
        lsn_hex_expr(F.col("wal_start")).alias("lsn"),
        F.col("relation").alias("table"),
        F.col("operation").alias("operation"),
        columns_envelope_expr(
            F.col("operation"),
            F.col("columns"),
            F.col("old_columns"),
            no_marshal_old_value,
        ).alias("columns"),
    )


def envelope_json_expr(no_marshal_old_value: bool = False) -> Column:
    """Full envelope → JSON string; null for BEGIN/COMMIT rows."""
    return F.when(
        F.col("operation").isin("BEGIN", "COMMIT"), F.lit(None).cast("string")
    ).otherwise(F.to_json(envelope_struct_expr(no_marshal_old_value)))


def _select_marshalled(df: DataFrame, payload: Column) -> DataFrame:
    """The MarshalledMessage column list around one payload column
    (``marshaller/marshalled_message.go:21-29``)."""
    return df.select(
        "operation",
        F.col("relation").alias("table"),
        payload,
        "time_based_key",
        "wal_start",
        F.col("txn_id").alias("transaction"),
        "partition_key",
        # not part of the reference's MarshalledMessage, but the S3
        # time-partitioned layout keys off it (K5)
        "server_time_ms",
    )


def marshal(df: DataFrame, no_marshal_old_value: bool = False) -> DataFrame:
    """Event DataFrame → + ``json`` payload column (MarshalledMessage,
    ``marshaller/marshalled_message.go:21-29``)."""
    return _select_marshalled(df, envelope_json_expr(no_marshal_old_value).alias("json"))


def marshal_structs(df: DataFrame, no_marshal_old_value: bool = False) -> DataFrame:
    """Like :func:`marshal` but keeps the envelope as a STRUCT column
    ``env`` (null for BEGIN/COMMIT control rows) instead of a JSON
    string.

    For high-volume in-plan consumers (the batch replay/roundtrip
    queries): serializing 600 k envelopes to JSON and re-parsing them
    in the same plan costs ~8 s at sf0.1 and proves nothing the struct
    doesn't — ``to_json`` is a pure function of this struct, and the
    JSON byte layer is separately end-to-end-proven (golden byte tests
    + the envelope-consuming gate queries that keep the full
    to_json→from_json path). Sinks always use :func:`marshal`."""
    env = F.when(
        F.col("operation").isin("BEGIN", "COMMIT"), F.lit(None)
    ).otherwise(envelope_struct_expr(no_marshal_old_value))
    return _select_marshalled(df, env.alias("env"))
