"""Seeded batch fuzz of the JVM fast path against the Python scanner.

The static corpus in test_fastparse.py pins known corner cases; this
generates ~600 randomized lines over the full fast grammar (quotes,
'' escapes, marker text inside values, ]:-lookalikes, sentinel values,
parameterized/array types, old-key/new-tuple shapes, duplicate column
names) with a FIXED seed, and runs them through jvm_parse — both the
slice path and the fold fallback — in ONE Spark job each, asserting
byte equality with parse_line on every line. A per-example
hypothesis+Spark loop would launch hundreds of jobs; a seeded batch
gives the same grammar coverage at two jobs total (failures print the
offending line, so any repro is a one-liner in test_fastparse.py).
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from pg_bifrost_spark.cdc.fastparse import jvm_parse, jvm_parseable
from pg_bifrost_spark.cdc.fixtures import dml_line
from pg_bifrost_spark.cdc.parser import parse_line
from pg_bifrost_spark.cdc.schema import RAW_LINE_SCHEMA

_TYPES = [
    "text",
    "bigint",
    "integer",
    "double precision",
    "character varying(255)",
    "numeric(10, 2)",
    "integer[]",
    "timestamp without time zone",
]

# value fragments chosen to stress the tokenizer: quotes, spaces,
# marker literals, ]:-lookalikes, brackets, sentinels
_FRAGMENTS = [
    "plain",
    "two words",
    "it''s",
    "''''",
    "",
    "old-key:",
    "new-tuple:",
    " new-tuple: ",
    "x]:y",
    "a[b]",
    "{1,2,3}",
    "line:with:colons",
    "2023-01-01 00:00:00.123",
    "null",
    "unchanged-toast-datum",
    "-42",
    "1e-5",
    "tail ",
]


# bare UNQUOTED marker-text / ']:' lookalike values — legal under the
# value grammar [^ ']+ and previously only generated INSIDE quotes
# (ADVICE r4). A bare 'new-tuple:' value makes the byte sequence
# " new-tuple: " appear twice in an old-key line, so only token-exact
# marker detection parses it right.
_BARE = ["new-tuple:", "old-key:", "x]:y", "a[b]", "line:with:colons", "{1,2,3}"]


def _rand_value(rng: random.Random) -> tuple[str, bool]:
    """(rendered_token_value, quoted)"""
    kind = rng.random()
    if kind < 0.15:
        return "null", False
    if kind < 0.25:
        return "unchanged-toast-datum", False
    if kind < 0.35:
        return rng.choice(_BARE), False
    if kind < 0.5:
        return str(rng.randint(-(2**62), 2**62)), False
    parts = "".join(rng.choice(_FRAGMENTS) for _ in range(rng.randint(0, 3)))
    return "'" + parts + "'", True


def _rand_col(rng: random.Random) -> str:
    name = rng.choice(["a", "b", "c", "col_1", "x9", "val", "a"])  # dups likely
    typ = rng.choice(_TYPES)
    val, _ = _rand_value(rng)
    return f"{name}[{typ}]:{val}"


def _rand_line(rng: random.Random) -> str:
    rel = rng.choice(["public.t", "s.t", "a.b.c", "t"])
    op = rng.choice(["INSERT", "UPDATE", "DELETE"])
    shape = rng.random()
    if shape < 0.08:
        return f"table {rel}: {op}: (no-tuple-data)"
    cols = " ".join(_rand_col(rng) for _ in range(rng.randint(1, 6)))
    if shape < 0.45 and op in ("UPDATE", "DELETE"):
        old = " ".join(_rand_col(rng) for _ in range(rng.randint(1, 4)))
        return f"table {rel}: {op}: old-key: {old} new-tuple: {cols}"
    return f"table {rel}: {op}: {cols}"


def _corpus() -> list[str]:
    rng = random.Random(0x5EED)
    lines = [_rand_line(rng) for _ in range(580)]
    lines += [f"BEGIN {i}" for i in range(10)] + [f"COMMIT {i}" for i in range(10)]
    return lines


def _as_map(d):
    return {k: {"v": v, "t": t, "q": q} for k, (v, t, q) in d.items()}


# the id names the JVM map build (slice + map_from_entries) that is
# checked against the Python scanner
@pytest.mark.parametrize("path", ["slice"])
def test_fuzz_corpus_matches_python_scanner(spark, path):
    lines = _corpus()
    rows = [(1000 + 8 * i, 1008 + 8 * i, 0, 0, ln) for i, ln in enumerate(lines)]
    df = spark.createDataFrame(rows, RAW_LINE_SCHEMA)
    flags = [r[0] for r in df.select(jvm_parseable(F.col("line"))).collect()]
    n_eligible = sum(flags)
    assert n_eligible == len(lines), (
        "generator stays inside the fast grammar; ineligible: "
        + repr([ln for ln, f in zip(lines, flags) if not f][:3])
    )
    got = {
        r["wal_start"]: r.asDict(recursive=True)
        for r in jvm_parse(df).collect()
    }
    for i, line in enumerate(lines):
        pr = parse_line(line)
        assert pr.error is None, f"renderer produced an invalid line: {line!r}"
        r = got[1000 + 8 * i]
        assert r["operation"] == pr.operation, line
        assert r["relation"] == pr.relation, line
        assert r["txn_xid"] == pr.transaction, line
        assert r["no_tuple_data"] == pr.no_tuple_data, line
        assert (r["columns"] or {}) == _as_map(pr.columns), line
        assert (r["old_columns"] or {}) == _as_map(pr.old_columns), line


def test_fuzz_renderer_roundtrip_prefix():
    """The corpus generator and dml_line must agree on escaping — a
    quick cross-check so a generator bug can't silently weaken the
    Spark assertions above."""
    rng = random.Random(7)
    for _ in range(200):
        val, quoted = _rand_value(rng)
        line = f"table public.t: INSERT: c[text]:{val}"
        pr = parse_line(line)
        assert pr.error is None, line
        if quoted:
            assert pr.columns["c"][0] == val[1:-1].replace("''", "'")
    # and dml_line renders the same token format the fuzz generator uses
    assert dml_line("public.t", "INSERT", [("c", "text", "a'b")]).endswith("c[text]:'a''b'")
