"""Observable semantics: late-data drop at the watermark (the stats
aggregator's grace behavior, aggregator.go:278-285) and the
invalid-message counter (client.go:470-482)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F
from pyspark.sql import Observation


def test_late_events_dropped_by_watermark(spark, tmp_path):
    """Batch 1 advances the watermark; a batch-2 event older than the
    horizon must NOT appear in the aggregation (append mode)."""
    import glob
    import shutil
    import tempfile

    d = tmp_path / "stream"
    d.mkdir()
    ddl = "ts timestamp, component string, name string, unit string, value double"

    def write(name, rows):
        tmp = tempfile.mkdtemp()
        spark.createDataFrame(rows, ddl).coalesce(1).write.mode("overwrite").parquet(tmp)
        shutil.move(glob.glob(f"{tmp}/part-*.parquet")[0], str(d / f"{name}.parquet"))

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    ckpt = str(tmp_path / "ck")
    emitted: list = []

    def run(_qname):
        from pg_bifrost_spark.streaming.stats import aggregate_stats

        stream = spark.readStream.schema(ddl).parquet(str(d))
        q = (
            aggregate_stats(stream, streaming=True)
            .writeStream.outputMode("append")
            .foreachBatch(lambda df, e: emitted.extend(df.collect()))
            .option("checkpointLocation", ckpt)  # one query identity:
            # the watermark survives restarts, so batch 2 sees the
            # horizon batch 1 advanced
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return list(emitted)

    write("b0", [
        (t0, "filter", "passed", "count", 1.0),
        (t0 + dt.timedelta(minutes=10), "filter", "passed", "count", 2.0),  # advances watermark
    ])
    run("wm_a")

    # a very late stat, far behind the watermark (10 min - 1 s grace)
    write("b1", [(t0 + dt.timedelta(seconds=30), "filter", "passed", "count", 100.0)])
    rows = run("wm_b")
    bucket0 = [r for r in rows if r.bucket_start == t0]
    # the late value must not be merged into the already-closed bucket
    assert all(r.total <= 3.0 for r in bucket0), rows


def test_invalid_message_counter_observed(spark):
    from pg_bifrost_spark.cdc.parser import PARSED_SCHEMA_DDL, parse_lines_to_pandas
    from pg_bifrost_spark.cdc.schema import RAW_LINE_SCHEMA

    rows = [
        (1, 2, 0, 0, "BEGIN 1"),
        (2, 3, 0, 0, "garbage that does not parse"),
        (3, 4, 0, 0, "table public.t: INSERT: id[integer]:1"),
        (4, 5, 0, 0, "also garbage"),
        (5, 6, 0, 0, "COMMIT 1"),
    ]
    df = spark.createDataFrame(rows, RAW_LINE_SCHEMA)
    parsed = df.mapInPandas(parse_lines_to_pandas, schema=PARSED_SCHEMA_DDL)
    obs = Observation("parse_check")
    observed = parsed.observe(obs, F.count(F.col("parse_error")).alias("invalid_msgs"))
    kept = observed.filter(F.col("parse_error").isNull()).count()
    assert kept == 3
    assert obs.get["invalid_msgs"] == 2


def test_poison_line_counted_on_assembled_path(spark):
    """Lines the source already stamped with txn identity (the streaming
    pgcdc reader's shape) run the same parse stage as raw lines: a
    malformed line is dropped AND counted, and the surviving rows keep
    the source's txn_id/time_based_key (no window re-assembly)."""
    from pg_bifrost_spark.cdc.pipeline import PipelineConfig, run_pipeline
    from pg_bifrost_spark.sources.pgcdc import PGCDC_SCHEMA

    lines = [
        "BEGIN 42",
        "table public.t: INSERT: id[integer]:1",
        "table public.t: INSERT: bad",  # malformed: no value
        'table "Odd Table": INSERT: id[integer]:2',  # Python branch
        "COMMIT 42",
    ]
    tbk = "42-1700000000000000000"  # receipt-time key, not the BEGIN LSN
    rows = [(1000 + 8 * i, 1008 + 8 * i, 0, 0, ln, "42", tbk) for i, ln in enumerate(lines)]
    out = run_pipeline(spark.createDataFrame(rows, PGCDC_SCHEMA), PipelineConfig())
    got = sorted(out.collect(), key=lambda r: r["wal_start"])

    metrics = out._jdf.queryExecution().observedMetrics()
    assert metrics.size() == 1
    assert metrics.head()._2().getAs("invalid_msgs") == 1
    assert [r["wal_start"] for r in got] == [1000, 1008, 1024, 1032]
    assert [r["table"] for r in got] == [None, "public.t", '"Odd Table"', None]
    assert {(r["transaction"], r["time_based_key"]) for r in got} == {("42", tbk)}
