"""JVM fast-path parser ⇔ Python scanner equivalence.

The fast path (``cdc/fastparse.py``) must agree byte-for-byte with the
semantic reference (``cdc/parser.parse_line``) on every line it claims
(eligibility regex), and must DECLINE every line it cannot parse so the
Python scanner stays the arbiter of the full grammar. The corpus leans
adversarial: quoted values holding spaces, ``''`` escapes, ``]:`` and
section-marker text, sentinels, array/parameterized types, and a tail
of malformed junk that must route to Python error accounting.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pg_bifrost_spark.cdc.fastparse import jvm_parse, jvm_parseable
from pg_bifrost_spark.cdc.parser import PARSED_SCHEMA_DDL, parse_line
from pg_bifrost_spark.cdc.pipeline import parse_raw
from pg_bifrost_spark.cdc.schema import RAW_LINE_SCHEMA

ELIGIBLE = [
    "table public.lineitem: INSERT: a[bigint]:1 b[text]:'x y' c[double precision]:-3.14",
    "table public.t: UPDATE: old-key: id[integer]:1 new-tuple: id[integer]:2 v[text]:'a''b'",
    "table public.t: UPDATE: id[integer]:2 v[text]:'no old key'",
    "table public.t: DELETE: id[integer]:7",
    "table public.t: DELETE: (no-tuple-data)",
    "table s.t: INSERT: v[text]:'contains new-tuple: inside' w[text]:'x]:y' u[text]:'old-key: fake'",
    "table s.t: INSERT: v[text]:'' n[integer]:null t2[text]:unchanged-toast-datum",
    "table s.t: INSERT: arr[integer[]]:'{1,2}' vc[character varying(255)]:'z' num[numeric(10, 2)]:5.25",
    "table s.t: INSERT: ts[timestamp without time zone]:'2023-01-01 00:00:00.123' b[boolean]:t",
    "table a.b.c: INSERT: x[bigint]:9223372036854775807",
    "table t: INSERT: e[text]:'only''''quotes'",
    "table public.t: INSERT: sci[double precision]:1e-5 neg[integer]:-42",
    # duplicate column name: map build must keep the LAST value (the
    # Python scanner's dict-overwrite semantics; mapKeyDedupPolicy)
    "table public.t: INSERT: a[integer]:1 a[integer]:2",
    "table public.t: UPDATE: old-key: k[integer]:1 k[integer]:3 new-tuple: k[integer]:9",
    # bare UNQUOTED values carrying marker text / ']:' lookalikes —
    # legal under the value grammar [^ ']+ (ADVICE r4: these stress the
    # slice path's token-equality marker detection, which substring
    # heuristics would get wrong: the second line contains the byte
    # sequence " new-tuple: " TWICE, once as a value, once as marker)
    "table public.t: INSERT: a[text]:new-tuple: b[text]:old-key:",
    "table public.t: UPDATE: old-key: k[text]:new-tuple: new-tuple: k[text]:z",
    "table public.t: UPDATE: old-key: k[text]:x]:y new-tuple: k[text]:a[b]",
    "table public.t: DELETE: k[text]:old-key:",
]

INELIGIBLE = [
    'table "Weird.Table": INSERT: a[integer]:1',
    "table public.t: TRUNCATE:",
    "garbage line here",
    "table public.t: INSERT: bad",
    "table public.t: INSERT: v[text]:'unterminated",
    "table public.t: INSERT: v[text]:ab'cd",
    "table public.t: INSERT:",
    "table public.t: INSERT: v[text]:'x' trailing junk[",
    "BEGIN",
    "BEGIN 1 2",
    "",
    "x",
    # marker arrangements test_decoding never emits — the slice-based
    # fast path cannot represent them, so they must route to Python
    "table public.t: UPDATE: new-tuple: id[integer]:2",
    "table public.t: UPDATE: id[integer]:1 old-key: id[integer]:2",
    "table public.t: UPDATE: old-key: id[integer]:1",
    "table public.t: UPDATE: old-key: a[integer]:1 new-tuple: b[integer]:2 old-key: c[integer]:3",
]

CONTROL = ["BEGIN 42", "COMMIT 42", "BEGIN 607", "COMMIT 607"]


def _rows_df(spark, lines):
    rows = [(1000 + 8 * i, 1008 + 8 * i, 0, 0, ln) for i, ln in enumerate(lines)]
    return spark.createDataFrame(rows, RAW_LINE_SCHEMA)


def _as_map(d):
    return {k: {"v": v, "t": t, "q": q} for k, (v, t, q) in d.items()}


# the id names the JVM map build (slice + map_from_entries) that is
# checked against the Python scanner
@pytest.mark.parametrize("path", ["slice"])
def test_jvm_parse_matches_python_scanner(spark, path):
    lines = ELIGIBLE + CONTROL
    df = _rows_df(spark, lines)
    flags = [r[0] for r in df.select(jvm_parseable(F.col("line"))).collect()]
    assert all(flags), "every corpus line must be JVM-parseable"

    got = {
        r["wal_start"]: r.asDict(recursive=True)
        for r in jvm_parse(df).collect()
    }
    for i, line in enumerate(lines):
        pr = parse_line(line)
        r = got[1000 + 8 * i]
        assert r["operation"] == pr.operation, line
        assert r["relation"] == pr.relation, line
        assert r["txn_xid"] == pr.transaction, line
        assert r["no_tuple_data"] == pr.no_tuple_data, line
        assert r["parse_error"] is None, line
        assert (r["columns"] or {}) == _as_map(pr.columns), line
        assert (r["old_columns"] or {}) == _as_map(pr.old_columns), line


def test_ineligible_routes_to_python(spark):
    df = _rows_df(spark, INELIGIBLE)
    flags = [r[0] for r in df.select(jvm_parseable(F.col("line"))).collect()]
    assert not any(flags), "no ineligible line may take the fast path"


@pytest.mark.parametrize("shape", ["raw", "assembled"])
def test_parse_raw_end_to_end_mixed(spark, shape):
    """parse_raw over a mixed eligible/ineligible/control stream equals
    the Python scanner on every surviving line, and drops exactly the
    error lines. On assembled input (lines already stamped with
    txn_id/time_based_key) both columns come through unchanged from
    the JVM branch and the Python branch alike."""
    lines = ELIGIBLE + CONTROL + INELIGIBLE
    df = _rows_df(spark, lines)
    if shape == "assembled":
        df = df.withColumn("txn_id", F.concat(F.lit("x"), F.col("wal_start").cast("string")))
        df = df.withColumn("time_based_key", F.concat(F.lit("t"), F.col("wal_start").cast("string")))
    out = {
        r["wal_start"]: r.asDict(recursive=True)
        for r in parse_raw(df).collect()
    }
    branches = set()
    for i, line in enumerate(lines):
        pr = parse_line(line)
        key = 1000 + 8 * i
        if pr.error is not None:
            assert key not in out, f"error line must be dropped: {line}"
            continue
        r = out[key]
        assert r["operation"] == pr.operation, line
        assert r["relation"] == pr.relation, line
        if shape == "raw":
            assert r["txn_xid"] == pr.transaction, line
        else:
            assert "txn_xid" not in r, line
            assert (r["txn_id"], r["time_based_key"]) == (f"x{key}", f"t{key}"), line
            branches.add("python" if line in INELIGIBLE else "jvm")
        assert r["no_tuple_data"] == pr.no_tuple_data, line
        assert (r["columns"] or {}) == _as_map(pr.columns), line
        assert (r["old_columns"] or {}) == _as_map(pr.old_columns), line
    assert shape == "raw" or branches == {"jvm", "python"}


def test_fast_path_covers_generated_fixtures(spark):
    """Every line the repo's own WAL generator renders for the CDC
    capstones must take the fast path — this is what makes the
    benchmark's Python-row count ~zero."""
    from pg_bifrost_spark.cdc.fixtures import wal_lines_from_table
    from pg_bifrost_spark.plans import table
    from pg_bifrost_spark.plans.cdc_bridge import LINEITEM_PG_TYPES

    li = table(spark, "/root/testdata/sf0.001", "lineitem")
    raw = wal_lines_from_table(
        li,
        "public.lineitem",
        LINEITEM_PG_TYPES,
        seq_expr=F.col("l_orderkey") * 8 + F.col("l_linenumber"),
        with_txn=True,
    )
    n_slow = raw.filter(~jvm_parseable(F.col("line"))).count()
    assert n_slow == 0
