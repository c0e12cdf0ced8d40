"""JVM fast path for ``test_decoding`` DML lines.

The Python scanner (``parser.py``) is the semantic reference — it
handles every corner of the grammar (quoted relations, ``""`` escapes
in identifiers, arbitrary junk) and reports malformed lines instead of
raising. But it walks every character in Python, and on the hot CDC
path that is the single largest cost in the whole engine.

This module parses the COMMON case — unquoted relation, simple column
names, types like ``bigint`` / ``double precision`` /
``character varying(255)`` / ``integer[]``, quoted-or-bare values —
entirely with Spark SQL expressions, inside whole-stage codegen:

    eligibility:  one anchored regex full-match over the line
    tokenize:     ``regexp_extract_all`` — yields column tokens AND the
                  ``old-key:`` / ``new-tuple:`` section markers in
                  left-to-right order (a quoted value containing the
                  marker text is consumed INSIDE its token, so it can
                  never be mistaken for a real marker)
    split+build:  the eligibility grammar pins the only marker shapes
                  test_decoding emits (no markers, or exactly
                  ``old-key: <cols> new-tuple: <cols>``), so the
                  old/new split is two ``slice`` calls around the
                  ``new-tuple:`` position and each map is ONE
                  ``map_from_entries`` over the parsed slice

Split+build replaced a per-token ``map_concat`` fold (O(n²) per row): ~1.2× on the sf0.1 cdc_lineitem roundtrip.

Lines that fail the eligibility regex (quoted identifiers, TRUNCATE,
malformed input) fall through to the Python scanner, which remains the
arbiter of the full grammar. Equivalence of the two paths on eligible
lines is pinned by ``tests/test_fastparse.py`` over an adversarial
corpus (quoted values with spaces, ``''`` escapes, ``]:`` inside
values, marker text inside values, NULL and TOAST sentinels).

All repeated quantifiers in the regexes are possessive (Java regex) —
every alternation is first-character-disjoint, so possessive matching
is both safe and linear-time: no backtracking blowup on adversarial
input, eligible or not.

Requires ``spark.sql.mapKeyDedupPolicy=LAST_WIN`` (set by the session
helpers) so a duplicate column name keeps the scanner's last-wins dict
semantics instead of raising mid-job.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["fast_eligible", "jvm_parseable", "jvm_parse", "ELIGIBLE_RE", "TOKEN_RE"]

# Grammar fragments (Java regex, possessive quantifiers).
_NAME = r"[A-Za-z_][A-Za-z0-9_$]*+"
# bigint | double precision | character varying(255) | numeric(10, 2) | integer[]
_TYPE = r"[A-Za-z_][A-Za-z0-9_ ]*+(?:\([0-9, ]++\))?+(?:\[\])?+"
# quoted value with '' escapes, or a bare token (null, 42, -3.14, the
# TOAST sentinel). Bare tokens never contain quotes on the fast path —
# a mid-token quote makes the line ineligible and routes it to Python.
_VAL = r"(?:'(?:[^']++|'')*+'|[^ ']++)"
_COL = rf"{_NAME}\[{_TYPE}\]:{_VAL}"

# One column-or-marker token, scanned left to right over the body.
TOKEN_RE = rf"old-key:|new-tuple:|{_COL}"

# Anchored full-line eligibility: if this matches, the tokenizer above
# consumes the body exactly — nothing can be silently skipped — AND the
# marker arrangement is one of the two shapes test_decoding actually
# emits: no markers at all, or exactly `old-key: <cols> new-tuple:
# <cols>` (an UPDATE/DELETE with replica identity). That pinned shape
# is what lets the parser split old/new by slicing at the single
# `new-tuple:` position instead of folding over every token; any other
# marker arrangement routes to the Python scanner.
_COLS = rf"{_COL}(?: {_COL})*+"
_BODY = rf"(?:\(no-tuple-data\)|(?:old-key: {_COLS} new-tuple: )?+{_COLS})"
ELIGIBLE_RE = rf"^table ({_NAME}(?:\.{_NAME})*+): (INSERT|UPDATE|DELETE): {_BODY}$"

_COLMAP_T = "map<string,struct<v:string,t:string,q:boolean>>"


def fast_eligible(line: Column) -> Column:
    """True when ``line`` is parseable by the JVM fast path."""
    return line.rlike(ELIGIBLE_RE)


def _entry(tk: Column) -> Column:
    """One COLUMN token → struct(key=name, value=struct(v,t,q)) — the
    map_from_entries element shape (slice path; markers never reach
    this, they are cut away by the split).

    Plain string ops, no per-token regex: the token grammar guarantees
    the name contains no ``[`` (so the FIRST ``[`` ends it) and the
    type charset contains no ``:`` (so the FIRST ``]:`` is exactly the
    type/value delimiter — a ``]:`` inside a quoted value always comes
    later). The ``''`` unescape is a literal replace (left-to-right
    non-overlapping, same as the regex it replaced)."""
    name = F.substring_index(tk, "[", 1)
    pre = F.substring_index(tk, "]:", 1)  # "name[type"
    raw = tk.substr(F.length(pre) + 3, F.length(tk))
    quoted = raw.startswith("'")
    value = F.when(
        quoted,
        F.replace(raw.substr(F.lit(2), F.length(raw) - 2), F.lit("''"), F.lit("'")),
    ).otherwise(raw)
    return F.struct(
        name.alias("key"),
        F.struct(
            value.alias("v"),
            pre.substr(F.length(name) + 2, F.length(pre)).alias("t"),
            quoted.alias("q"),
        ).alias("value"),
    )


def _split_maps(tokens: Column) -> Column:
    """Tokenized body → struct(cols, old) by slicing at the marker
    positions ELIGIBLE_RE pinned: tokens are either all columns, or
    ``['old-key:', *old_cols, 'new-tuple:', *new_cols]``. Each map is
    ONE ``map_from_entries`` pass (honors mapKeyDedupPolicy=LAST_WIN,
    matching the Python scanner's dict overwrite) — no per-token
    ``map_concat`` chain."""
    has_old = F.get(tokens, 0) == "old-key:"
    p_new = F.array_position(tokens, "new-tuple:")
    old_toks = F.when(
        has_old, F.slice(tokens, F.lit(2), (p_new - 2).cast("int"))
    ).otherwise(F.array().cast("array<string>"))
    new_toks = F.when(
        has_old, F.slice(tokens, (p_new + 1).cast("int"), (F.size(tokens) - p_new).cast("int"))
    ).otherwise(tokens)
    return F.struct(
        F.map_from_entries(F.transform(new_toks, _entry)).alias("cols"),
        F.map_from_entries(F.transform(old_toks, _entry)).alias("old"),
    )


def _is_control(line: Column) -> Column:
    """Strict two-token BEGIN/COMMIT check (non-strict control-ish
    lines fall through to the Python parser's error accounting)."""
    tokens = F.split(line, " ")
    return (
        line.startswith("BEGIN ") | line.startswith("COMMIT ")
    ) & (F.size(tokens) == 2)


def jvm_parseable(line: Column) -> Column:
    """True when the line never needs the Python scanner: a strict
    control line or a fast-path-eligible DML line."""
    return _is_control(line) | fast_eligible(line)


def jvm_parse(df: DataFrame, passthrough: list[str] = ()) -> DataFrame:
    """Parse a DataFrame of JVM-PARSEABLE raw lines (RAW_LINE_SCHEMA
    [+ passthrough txn columns]) into the Python parser's output schema
    (PARSED_SCHEMA_DDL order, incl. txn_xid — callers on the assembled
    path drop it). Entirely JVM expressions: one regex tokenize + one
    map build per DML line, two string ops per control line."""
    line = F.col("line")
    is_ctrl = _is_control(line)
    # Header split by PLAIN string ops, not regex (r12, guide §1.2
    # "per-task work"): every input line already full-matched
    # ELIGIBLE_RE (the caller's contract), which pins the exact shape
    # ``table <rel>: <OP>: <body>`` with a colon-and-space-free
    # relation charset — so the first ``: `` ends the relation, the
    # second ends the operation, and the body starts at a computable
    # offset. This removed three per-line regex executions (body /
    # operation / relation extracts) that together re-scanned every
    # line three more times after the eligibility match.
    rel_expr = F.expr("substring(substring_index(line, ': ', 1), 7)")
    op_expr = F.substring_index(F.substring_index(line, ": ", 2), ": ", -1)
    # "table " (6) + rel + ": " (2) + op + ": " (2) → body starts at
    # 6 + len(rel) + 2 + len(op) + 2 + 1 (substr is 1-based)
    body = line.substr(
        F.length(rel_expr) + F.length(op_expr) + F.lit(11), F.length(line)
    )
    tokens = F.regexp_extract_all(body, F.lit(TOKEN_RE), F.lit(0))
    head = ["wal_start", "server_wal_end", "server_time_ms", "stream_id"]
    # Staging discipline: the HOF-built expressions below are
    # codegen-fallback (no common-subexpression elimination), so any
    # attribute referenced more than once downstream must be
    # materialized in its OWN projection — CollapseProject's
    # multi-reference guard then keeps it evaluated once per row (see
    # also functions/barrier.py for the cross-operator case). The token
    # array is referenced five times by the split (head check, marker
    # position, two slices, size), so it is staged first and the regex
    # scan runs once per line.
    toks_staged = df.select(
        *head,
        line.alias("line"),
        # control rows carry NULL here → coalesced to EMPTY maps below,
        # byte-equal to the Python parser's BEGIN/COMMIT output (empty
        # dicts, not NULL)
        F.when(is_ctrl, F.lit(None)).otherwise(tokens).alias("_toks"),
        *passthrough,
    )
    staged = toks_staged.select(
        *head,
        "line",
        F.when(F.col("_toks").isNull(), F.lit(None))
        .otherwise(_split_maps(F.col("_toks")))
        .alias("_maps"),
        *passthrough,
    )
    empty_map = F.expr(f"cast(map() as {_COLMAP_T})")
    is_ctrl2 = _is_control(F.col("line"))
    return staged.select(
        *head,
        F.when(is_ctrl2, F.element_at(F.split("line", " "), 1))
        .otherwise(op_expr)
        .alias("operation"),
        F.when(is_ctrl2, F.lit(None).cast("string"))
        .otherwise(rel_expr)
        .alias("relation"),
        F.when(is_ctrl2, F.element_at(F.split("line", " "), 2))
        .otherwise(F.lit(None).cast("string"))
        .alias("txn_xid"),
        (~is_ctrl2 & F.col("line").endswith(": (no-tuple-data)")).alias("no_tuple_data"),
        F.coalesce(F.col("_maps.cols"), empty_map).alias("columns"),
        F.coalesce(F.col("_maps.old"), empty_map).alias("old_columns"),
        F.lit(None).cast("string").alias("parse_error"),
        *passthrough,
    )
