"""Span-counting arm equivalence: the default window shape and the
skew-bounded salted two-level shape (``salts=S``, VERDICT r6 ask #4)
must be pure plan-shape changes: byte-identical results on a fixture
with a genuinely hot span."""

from __future__ import annotations

from pyspark.sql import functions as F

from pg_bifrost_spark import plans
from pg_bifrost_spark.operators.dedup import (
    remove_repeated_spans,
    repeated_span_stats,
)


def _skewed_docs(spark):
    """200 docs: 30% are 20 copies of one token (every span identical —
    ONE corpus-hot span hash), the rest unique-token text with a
    planted shared footer pair so multi-doc repeats exist too."""
    return spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.when(
            F.col("id") % 10 < 3,
            F.array_join(
                F.transform(F.sequence(F.lit(1), F.lit(20)), lambda i: F.lit("lorem")),
                " ",
            ),
        )
        .when(
            F.col("id") % 10 == 7,
            F.concat(
                F.lit("unique lead "),
                F.col("id").cast("string"),
                F.lit(" one two three four five six seven eight"),
            ),
        )
        .otherwise(
            F.array_join(
                F.transform(
                    F.sequence(F.lit(1), F.lit(20)),
                    lambda i: F.concat(F.lit("t"), F.col("id"), F.lit("_"), i),
                ),
                " ",
            )
        )
        .alias("text"),
    )


def test_salted_stats_identical(spark):
    docs = _skewed_docs(spark)
    base = {
        (r.doc_id, r.n_spans, r.n_repeated, r.repeat_ratio)
        for r in repeated_span_stats(docs).collect()
    }
    salted = {
        (r.doc_id, r.n_spans, r.n_repeated, r.repeat_ratio)
        for r in repeated_span_stats(docs, salts=7).collect()
    }
    plans.release_caches()
    assert base and base == salted
    # the hot docs really are flagged (the fixture has corpus repeats)
    assert sum(1 for d, *_ in base if d % 10 < 3) == 60


def test_salted_removal_identical(spark):
    docs = _skewed_docs(spark)
    base = {
        (r.doc_id, r.n_tokens, r.n_removed, r.cleaned_text)
        for r in remove_repeated_spans(docs).collect()
    }
    salted = {
        (r.doc_id, r.n_tokens, r.n_removed, r.cleaned_text)
        for r in remove_repeated_spans(docs, salts=7).collect()
    }
    plans.release_caches()
    assert base and base == salted
    # an all-hot doc is cut to empty (every token covered)
    hot = {r for r in base if r[0] % 10 < 3}
    assert hot and all(r[3] == "" and r[1] == r[2] for r in hot)


def test_salted_plan_spreads_hot_span(spark):
    """The salted plan exchanges on (span_h, salt) — the property that
    bounds a hot span to ≤ rows/S per task — and still carries exactly
    one corpus-scale span exchange (the thin leader/total relations
    re-exchange on span_h, but those are ≤ S rows per span)."""
    df = repeated_span_stats(_skewed_docs(spark), salts=7)
    text = df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(span_h" in text
    assert any(
        "hashpartitioning(span_h" in ln and "salt" in ln
        for ln in text.splitlines()
    ), text
