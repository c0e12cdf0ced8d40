"""CDC bridge queries: replay parquet tables as synthetic test_decoding
WAL text, run the FULL pipeline (parse → filter → partition → marshal),
parse the JSON envelopes back, and compare against a plain SQL oracle
over the same parquet (FIXTURES.md §C).

This turns the driver's DuckDB hash-compare into an end-to-end
correctness gate for every per-row CDC semantic at once: if any stage
corrupts, reorders, or drops a value, the round-trip hash diverges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import register, table, tracked_cache
from ..cdc.fastparse import jvm_parseable
from ..cdc.fixtures import wal_lines_from_table
from ..cdc.marshaller import marshal_structs
from ..cdc.pipeline import (
    PipelineConfig,
    data_messages,
    filter_partition,
    parse_raw,
    run_pipeline,
)
from ..functions.barrier import opt_barrier

LINEITEM_PG_TYPES = {
    "l_orderkey": "bigint",
    "l_partkey": "bigint",
    "l_suppkey": "bigint",
    "l_linenumber": "integer",
    "l_quantity": "double precision",
    "l_returnflag": "text",
    "l_linestatus": "text",
}

_ENVELOPE_DDL = (
    "table string, operation string, "
    "columns map<string, map<string, struct<q: string, t: string, v: string>>>"
)


def _env_once(out: DataFrame) -> DataFrame:
    """Parse the envelope and BARRIER it so it evaluates once per row.

    A consumer extracting k fields of ``env`` hits CollapseProject: the
    ``from_json`` (or, after to_json/from_json cancellation, the whole
    interpreted envelope-struct build) is inlined at every extraction
    site — k copies per row. Measured on cdc_lineitem_roundtrip at
    sf0.1: ~18 s → ~8 s with the barrier (same class of regression the
    parse-stage barrier fixed in round 2, one layer up)."""
    return _env_once_with_lsn(out).select("env")


def _env_once_with_lsn(out: DataFrame) -> DataFrame:
    """``_env_once`` keeping the message's ``wal_start`` alongside the
    parsed envelope — for consumers that order versions by LSN. ONE
    definition of the envelope-extraction pipeline (filter + from_json
    + barrier); ``_env_once`` projects the LSN away above the barrier,
    which cannot re-trigger CollapseProject through it."""
    env = out.filter(F.col("json").isNotNull()).withColumn(
        "env", F.from_json("json", _ENVELOPE_DDL)
    )
    return opt_barrier(env.select("env", "wal_start"))


def _cached_lines(raw: DataFrame) -> DataFrame:
    """Materialize a bridge fixture's rendered WAL lines ONCE, with the
    fast-path eligibility bit precomputed (r12, guide §2.4/§5).

    The parse stage's fast/slow split references its input from two
    filter branches, and Catalyst shares no work between them — so an
    uncached render subtree (scan → repartition → quote/concat render →
    explode) executed TWICE per query, and the eligibility regex ran
    twice per line on top (verified in plans/r12/
    cdc_lineitem_roundtrip_before.txt: two ``Scan parquet`` + two
    ``Exchange`` + two ``Generate`` subtrees under the Union). This is
    the same single-execution fix the pgoutput bridge got in r11 for
    its decoded lines (24.3 s → 9.5 s there). The cache is line-sized
    and released by ``release_caches``; the production streaming path
    needs none of this — each micro-batch is already persisted by the
    sink wrapper, bounded by ``max_msgs_per_batch``."""
    return tracked_cache(raw.withColumn("_able", jvm_parseable(F.col("line"))))


def _lineitem_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    # unique data-derived txn seq (l_linenumber is 1..7 in TPC-H) — no
    # global row_number, so WAL rendering stays fully parallel; the
    # generator stamps txn identity (it renders whole txns), so the
    # assembled pipeline runs with no shuffle at all before the sink
    return _cached_lines(
        wal_lines_from_table(
            li,
            "public.lineitem",
            LINEITEM_PG_TYPES,
            seq_expr=F.col("l_orderkey") * 8 + F.col("l_linenumber"),
            with_txn=True,
        )
    )


def _lineitem_marshalled(spark: SparkSession, sf_dir: str, cfg: PipelineConfig) -> DataFrame:
    return run_pipeline(_lineitem_raw(spark, sf_dir), cfg)


@register(
    "cdc_lineitem_roundtrip",
    oracle="""
    SELECT l_orderkey, l_linenumber, round(l_quantity, 2) AS quantity,
           l_returnflag, l_linestatus
    FROM lineitem
    ORDER BY l_orderkey, l_linenumber
    """,
)
def cdc_lineitem_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every lineitem row → WAL text → pipeline → envelope → values
    cast back to their SQL types. Hash-match against the source table
    proves parser+marshaller round-trip fidelity.

    The envelope is consumed at the STRUCT layer (to_json's exact
    input): serializing + re-parsing 600 k JSON strings in one plan
    costs ~8 s at sf0.1 and proves nothing extra here — the JSON byte
    layer is covered by cdc_envelope_counts (full to_json→from_json at
    the same volume, driver-gated), cdc_events_roundtrip, the golden
    byte tests, AND a lineitem-specific small-N full-JSON roundtrip
    (tests/test_lineitem_json_roundtrip.py: every envelope re-parsed
    in plain Python against the source parquet, so a regression in
    lineitem-specific JSON value rendering cannot slip past this
    gate's struct shortcut). The barrier makes the envelope build
    evaluate once per row, not once per extracted field
    (CollapseProject)."""
    out = marshal_structs(
        filter_partition(parse_raw(_lineitem_raw(spark, sf_dir)), PipelineConfig())
    )
    env = opt_barrier(out.filter(F.col("env").isNotNull()).select("env"))
    cols = F.col("env.columns")

    def v(name: str) -> F.Column:
        return F.element_at(F.element_at(cols, name), "new")["v"]

    # no global sort: the correctness compare is order-insensitive and
    # a total order over the full fact table is a pure shuffle tax
    return env.select(
        v("l_orderkey").cast("bigint").alias("l_orderkey"),
        v("l_linenumber").cast("int").alias("l_linenumber"),
        F.round(v("l_quantity").cast("double"), 2).alias("quantity"),
        v("l_returnflag").alias("l_returnflag"),
        v("l_linestatus").alias("l_linestatus"),
    )


@register(
    "cdc_envelope_counts",
    oracle="""
    SELECT 'public.lineitem' AS tbl, 'INSERT' AS op, count(*) AS n
    FROM lineitem
    """,
)
def cdc_envelope_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline emits exactly one INSERT envelope per source row, and
    control rows (BEGIN/COMMIT) never reach payloads."""
    env = _env_once(
        data_messages(
            _lineitem_marshalled(spark, sf_dir, PipelineConfig(partition_method="tablename"))
        )
    )
    return env.groupBy(
        F.col("env.table").alias("tbl"), F.col("env.operation").alias("op")
    ).agg(F.count("*").alias("n"))


@register(
    "cdc_whitelist_filter",
    oracle="""
    SELECT o_orderkey, o_orderstatus FROM orders
    WHERE o_orderkey <= 256 ORDER BY o_orderkey
    """,
)
def cdc_whitelist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay a two-table stream (orders + nation), whitelist one table;
    only that table's rows come out, values intact."""
    orders = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 256)
    nation = table(spark, sf_dir, "nation")
    raw_o = wal_lines_from_table(
        orders,
        "public.orders",
        {"o_orderkey": "bigint", "o_orderstatus": "text"},
        seq_expr="o_orderkey",
    )
    raw_n = wal_lines_from_table(
        nation.withColumn("n_nationkey", F.col("n_nationkey") + 1_000_000),
        "public.nation",
        {"n_nationkey": "bigint", "n_name": "text"},
        seq_expr="n_nationkey",
    )
    # interleave: offset the nation stream's LSNs past the orders stream
    raw = raw_o.unionByName(
        raw_n.select(
            (F.col("wal_start") + 10_000_000).alias("wal_start"),
            (F.col("server_wal_end") + 10_000_000).alias("server_wal_end"),
            "server_time_ms",
            "stream_id",
            "line",
        )
    )
    out = data_messages(
        run_pipeline(_cached_lines(raw), PipelineConfig(whitelist=["public.orders"]))
    )
    env = _env_once(out)
    cols = F.col("env.columns")
    return env.select(
        F.element_at(F.element_at(cols, "o_orderkey"), "new")["v"].cast("bigint").alias("o_orderkey"),
        F.element_at(F.element_at(cols, "o_orderstatus"), "new")["v"].alias("o_orderstatus"),
    ).orderBy("o_orderkey")


@register(
    "cdc_events_roundtrip",
    oracle="""
    SELECT event_id, user_id, ts, round(value, 2) AS value
    FROM events WHERE event_id < 2000
    ORDER BY event_id
    """,
)
def cdc_events_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp columns through the WAL text round trip: render
    microsecond timestamps as quoted test_decoding values, parse back,
    cast to timestamp — proves quoted-value parsing and timestamp
    fidelity end to end."""
    ev = table(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    raw = wal_lines_from_table(
        ev.select("event_id", "user_id", F.col("ts").cast("string").alias("ts"), "value"),
        "public.events",
        {
            "event_id": "bigint",
            "user_id": "bigint",
            "ts": "timestamp without time zone",
            "value": "double precision",
        },
        seq_expr="event_id",
        with_txn=True,
    )
    out = data_messages(run_pipeline(_cached_lines(raw), PipelineConfig()))
    env = _env_once(out)
    cols = F.col("env.columns")

    def v(name):
        return F.element_at(F.element_at(cols, name), "new")["v"]

    return env.select(
        v("event_id").cast("bigint").alias("event_id"),
        v("user_id").cast("bigint").alias("user_id"),
        v("ts").cast("timestamp").alias("ts"),
        F.round(v("value").cast("double"), 2).alias("value"),
    )


@register(
    "cdc_to_analytics",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           count(*) AS n, round(sum(value), 2) AS total
    FROM events WHERE event_id < 2000
    GROUP BY 1 ORDER BY 1
    """,
)
def cdc_to_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full engine story in one plan: CDC ingestion (WAL text →
    parse → envelope) feeding the analytics surface (event-time
    tumbling windows) — changes stream in as row events and come out
    as windowed aggregates, hash-matching plain SQL over the source
    table."""
    ev = table(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    raw = wal_lines_from_table(
        ev.select("event_id", F.col("ts").cast("string").alias("ts"), "value"),
        "public.events",
        {"event_id": "bigint", "ts": "timestamp without time zone", "value": "double precision"},
        seq_expr="event_id",
        with_txn=True,
    )
    out = data_messages(run_pipeline(_cached_lines(raw), PipelineConfig()))
    env = _env_once(out)
    cols = F.col("env.columns")

    def v(name):
        return F.element_at(F.element_at(cols, name), "new")["v"]

    events = env.select(
        v("ts").cast("timestamp").alias("ts"), v("value").cast("double").alias("value")
    )
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(F.col("w.start").alias("window_start"), "n", "total")
        .orderBy("window_start")
    )


@register(
    "cdc_apply_snapshot",
    oracle="""
    SELECT n_nationkey,
           CASE WHEN n_nationkey % 2 = 0 THEN 'UPDATED-' || n_nationkey
                ELSE n_name END AS n_name
    FROM nation WHERE n_nationkey <> 0
    ORDER BY n_nationkey
    """,
)
def cdc_apply_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC → materialized table: replay INSERT-all / UPDATE-evens /
    DELETE-key-0 through the full pipeline, resolve last-WAL-wins per
    key, and compare the final snapshot against plain SQL over the
    source — the end-to-end 'CDC consumer' correctness gate."""
    from ..sinks.table_apply import apply_changes, changes_to_upserts, snapshot_as_columns

    nation = table(spark, sf_dir, "nation")
    types = {"n_nationkey": "bigint", "n_name": "text"}
    inserts = wal_lines_from_table(
        nation, "public.nation", types, seq_expr="n_nationkey",
        with_txn=True, parallelize=False,
    )
    updates = wal_lines_from_table(
        nation.filter(F.col("n_nationkey") % 2 == 0).withColumn(
            "n_name", F.concat(F.lit("UPDATED-"), F.col("n_nationkey").cast("string"))
        ),
        "public.nation",
        types,
        seq_expr=F.col("n_nationkey") + 10_000,
        operation="UPDATE",
        with_txn=True,
        parallelize=False,
    )
    deletes = wal_lines_from_table(
        nation.filter(F.col("n_nationkey") == 0).select("n_nationkey"),
        "public.nation",
        {"n_nationkey": "bigint"},
        seq_expr=F.col("n_nationkey") + 20_000,
        operation="DELETE",
        with_txn=True,
        parallelize=False,
    )
    raw = inserts.unionByName(updates).unionByName(deletes)
    # r12: the generator renders whole transactions, so it stamps txn
    # identity itself (with_txn=True) and the windowed assembly stage
    # (one exchange + sort over the stream) drops out of the plan —
    # time_based_key is "<seq>-<begin lsn>" either way, so the
    # envelope bytes are identical (guide §2.4; window-based assembly
    # keeps gate coverage via the pgoutput/two-phase roundtrips and
    # cdc_whitelist_filter)
    marshalled = run_pipeline(_cached_lines(raw), PipelineConfig())
    upserts = changes_to_upserts(marshalled, pk="n_nationkey")
    snapshot = apply_changes(None, upserts, pk="n_nationkey")
    return snapshot_as_columns(
        snapshot, {"n_nationkey": "bigint", "n_name": "string"}
    ).orderBy("n_nationkey")


@register(
    "cdc_scd2_history",
    oracle="""
    WITH changes AS (
        SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
               n_name,
               CAST(1000 + n_nationkey * 24 + 8 AS BIGINT) AS lsn
        FROM nation
        UNION ALL
        SELECT CAST(n_nationkey AS BIGINT),
               'V2-' || n_nationkey,
               CAST(1000 + (n_nationkey + 10000) * 24 + 8 AS BIGINT)
        FROM nation WHERE n_nationkey % 2 = 0
        UNION ALL
        SELECT CAST(n_nationkey AS BIGINT),
               'V3-' || n_nationkey,
               CAST(1000 + (n_nationkey + 20000) * 24 + 8 AS BIGINT)
        FROM nation WHERE n_nationkey % 4 = 0
    )
    SELECT n_nationkey, n_name,
           row_number() OVER w AS version,
           lsn AS valid_from_lsn,
           lead(lsn) OVER w AS valid_to_lsn,
           (lead(lsn) OVER w IS NULL) AS is_current
    FROM changes
    WINDOW w AS (PARTITION BY n_nationkey ORDER BY lsn)
    ORDER BY n_nationkey, version
    """,
)
def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC → slowly-changing-dimension Type 2: instead of last-write-
    wins (``cdc_apply_snapshot``), KEEP every version of each key as a
    validity interval [valid_from_lsn, valid_to_lsn) with an
    ``is_current`` flag — the standard warehouse consumption pattern
    for a dimension fed by a change stream (the reference hands its
    envelopes to exactly such consumers; this op is the consumer).

    Plant: INSERT all nation rows (v1), UPDATE the evens (v2, later
    LSNs), UPDATE the multiples of 4 (v3, latest) — so keys carry 1, 2
    or 3 versions and the interval chaining is exercised at every
    depth. Versioning is ONE window keyed by the dimension key and
    ordered by wal_start (row_number + lead share the single sort) —
    at 100 TB the shuffle is keyed on the dimension key, no global
    ordering anywhere; the final orderBy is presentation-only. The
    oracle restates the fixture's deterministic LSN arithmetic
    (``wal_lines_from_table``: dml_lsn = 1000 + seq*24 + 8) and chains
    intervals with SQL lead() — a consumer that dropped a version,
    mis-ordered updates, or left two rows current breaks the hash."""
    from pyspark.sql import Window

    nation = table(spark, sf_dir, "nation")
    types = {"n_nationkey": "bigint", "n_name": "text"}
    key = F.col("n_nationkey")
    v1 = wal_lines_from_table(
        nation, "public.nation", types, seq_expr="n_nationkey",
        with_txn=True, parallelize=False,
    )
    v2 = wal_lines_from_table(
        nation.filter(key % 2 == 0).select(
            "n_nationkey",
            F.concat(F.lit("V2-"), key.cast("string")).alias("n_name"),
        ),
        "public.nation",
        types,
        seq_expr=key + 10_000,
        operation="UPDATE",
        with_txn=True,
        parallelize=False,
    )
    v3 = wal_lines_from_table(
        nation.filter(key % 4 == 0).select(
            "n_nationkey",
            F.concat(F.lit("V3-"), key.cast("string")).alias("n_name"),
        ),
        "public.nation",
        types,
        seq_expr=key + 20_000,
        operation="UPDATE",
        with_txn=True,
        parallelize=False,
    )
    raw = v1.unionByName(v2).unionByName(v3)
    # r12: generator-stamped txns → assembled pipeline (no window
    # shuffle; see cdc_apply_snapshot's note — identical output)
    env = _env_once_with_lsn(run_pipeline(_cached_lines(raw), PipelineConfig()))
    cols = F.col("env.columns")

    def v(name: str) -> F.Column:
        return F.element_at(F.element_at(cols, name), "new")["v"]

    versions = env.select(
        v("n_nationkey").cast("bigint").alias("n_nationkey"),
        v("n_name").alias("n_name"),
        F.col("wal_start").alias("valid_from_lsn"),
    )
    w = Window.partitionBy("n_nationkey").orderBy("valid_from_lsn")
    return versions.select(
        "n_nationkey",
        "n_name",
        F.row_number().over(w).alias("version"),
        "valid_from_lsn",
        F.lead("valid_from_lsn").over(w).alias("valid_to_lsn"),
        F.lead("valid_from_lsn").over(w).isNull().alias("is_current"),
    ).orderBy("n_nationkey", "version")


@register(
    "cdc_partition_buckets",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_messages,
           true AS buckets_in_range_ok,
           true AS all_buckets_populated_ok
    FROM lineitem
    """,
)
def cdc_partition_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket partitioning (crc32(xid) % 8), driver-gated as a BOUNDS
    CHECK (r12; was rows-only — DuckDB has no crc32, but the
    partitioner's invariants don't need one): the cross-engine value
    is the data-message count (exactly one INSERT per lineitem row —
    a pipeline that dropped or duplicated a message flips it; this IS
    the conservation check, hashed against the oracle), and the
    engine booleans the oracle pins TRUE are (a) every assigned
    bucket parses as an integer in [0, 8) — NULL-safe: a NULL or
    non-numeric key coalesces to FALSE rather than vanishing from
    min() (code-review r12) — and (b) the crc32 spread populates all
    8 buckets (deterministic at every fixture SF; a partitioner that
    collapsed keys flips it). Bit-exact key values are pinned against
    zlib.crc32 in the partitioner unit tests.

    r12 (guide §2.3: don't compute what you throw away): this query
    consumes only ``partition_key`` and the row count, so it stops the
    pipeline after the filter/partition stage instead of paying the
    full JSON-envelope render (``marshal``) it never reads — the
    data-row predicate is ``operation NOT IN (BEGIN, COMMIT)``, which
    is exactly ``json IS NOT NULL`` by marshal's definition
    (envelope_json_expr). Output rows are byte-identical (oracle
    re-proven at both gate SFs); the envelope layer keeps its own
    volume gates (cdc_lineitem_roundtrip, cdc_envelope_counts)."""
    # barrier=False (r12): this consumer never reads columns/
    # old_columns, and the columns it does read are cheap (operation,
    # txn_id, and parse_error — a literal NULL on the fast branch, read
    # by the parse counter and the error drop) — so instead of the
    # barrier (which blocks pruning), let Catalyst prune the
    # interpreted tokenize+map build out of the plan entirely (guide §2.3)
    events = filter_partition(
        parse_raw(_lineitem_raw(spark, sf_dir), barrier=False),
        PipelineConfig(partition_method="transaction-bucket", partition_buckets=8),
    )
    out = events.filter(~F.col("operation").isin("BEGIN", "COMMIT"))
    per = out.groupBy("partition_key").agg(F.count("*").alias("n"))
    return per.agg(
        F.sum("n").cast("bigint").alias("n_messages"),
        F.min(
            F.coalesce(
                F.col("partition_key").cast("int").between(0, 7),
                F.lit(False),
            ).cast("int")
        ).cast("boolean").alias("buckets_in_range_ok"),
        (
            F.count_distinct(F.col("partition_key")) == F.lit(8)
        ).alias("all_buckets_populated_ok"),
    )


@register(
    "cdc_schema_evolution",
    oracle="""
    SELECT n_nationkey,
           CASE WHEN n_nationkey % 2 = 0
                THEN 'EVOLVED-' || n_nationkey ELSE n_name END AS n_name,
           CASE WHEN n_nationkey % 2 = 0
                THEN CAST(n_regionkey AS BIGINT)
                ELSE CAST(NULL AS BIGINT) END AS n_region_code
    FROM nation ORDER BY n_nationkey
    """,
)
def cdc_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TABLE mid-stream: the table gains a column while changes
    are flowing, and the consumer must materialize a snapshot under
    the UNION schema without choking on either vintage. test_decoding
    lines are self-describing (every tuple carries its own
    name[type]:value cells — the property the reference's parser
    relies on, parser.go), so the pipeline needs NO schema registry:
    pre-ALTER envelopes simply lack the new cell, and the snapshot
    projection reads it as NULL.

    Plant: INSERT all nation rows with the 2-column schema, then
    UPDATE the evens with a 3-column schema (new ``n_region_code``
    column + an EVOLVED- name, later LSNs). Last-write-wins
    materialization via the same apply path as ``cdc_apply_snapshot``;
    the oracle restates the final per-vintage column values, NULLs
    included — a consumer that dropped pre-ALTER rows or defaulted the
    missing cell to anything but NULL breaks the hash."""
    from ..sinks.table_apply import (
        apply_changes,
        changes_to_upserts,
        snapshot_as_columns,
    )

    nation = table(spark, sf_dir, "nation")
    inserts = wal_lines_from_table(
        nation,
        "public.nation",
        {"n_nationkey": "bigint", "n_name": "text"},
        seq_expr="n_nationkey",
        with_txn=True,
        parallelize=False,
    )
    evolved = wal_lines_from_table(
        nation.filter(F.col("n_nationkey") % 2 == 0).select(
            "n_nationkey",
            F.concat(F.lit("EVOLVED-"), F.col("n_nationkey").cast("string")).alias(
                "n_name"
            ),
            F.col("n_regionkey").cast("bigint").alias("n_region_code"),
        ),
        "public.nation",
        {"n_nationkey": "bigint", "n_name": "text", "n_region_code": "bigint"},
        seq_expr=F.col("n_nationkey") + 10_000,
        operation="UPDATE",
        with_txn=True,
        parallelize=False,
    )
    raw = inserts.unionByName(evolved)
    # r12: generator-stamped txns → assembled pipeline (no window
    # shuffle; see cdc_apply_snapshot's note — identical output)
    marshalled = run_pipeline(_cached_lines(raw), PipelineConfig())
    upserts = changes_to_upserts(marshalled, pk="n_nationkey")
    snapshot = apply_changes(None, upserts, pk="n_nationkey")
    return snapshot_as_columns(
        snapshot,
        {"n_nationkey": "bigint", "n_name": "string", "n_region_code": "bigint"},
    ).orderBy("n_nationkey")
