"""Benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1)
on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The CDC replay benchmark mirrors the reference's throughput bar
(50 k messages ≤ 180 s, BASELINE.md) — ``cdc_lineitem_roundtrip`` at
sf0.1 pushes ~1.8 M WAL messages (600 k rows × BEGIN/INSERT/COMMIT)
through parse+marshal.

Measurement discipline (round-4 hardening — the r3 official run
recorded a 109 s roundtrip that did not reproduce standalone):
  * every timed number is the MEDIAN OF 3 executions, so one transient
    host hiccup cannot become the recorded value;
  * ``spark.catalog.clearCache()`` + the operators' tracked-cache
    release run before every execution, so no query is billed for the
    storage-memory residue of the 25 queries before it;
  * ``cdc_lineitem_roundtrip`` is additionally measured ONCE right
    after warm-up in a clean session state and reported under
    "standalone" — if the in-sweep median ever diverges from it by
    more than ~1.5×, the sweep itself (not the plan) is suspect.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pg_bifrost_spark import plans  # noqa: E402
from pg_bifrost_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q18_large_volume",
    "topk_per_group",
    "rollup_returns",
    "tumbling_window_stats",
    "sessionize_users",
    "asof_click_to_view",
    "dedup_exact_documents",
    "dedup_ngram_jaccard",
    "dedup_repeated_spans",
    "repeated_span_removal",
    "bm25_retrieval",
    "dedup_minhash_lsh",
    "dedup_embedding_cosine",
    "ann_bruteforce_topk",
    "embedding_quantize_int8",
    "text_token_stats",
    "text_quality_score",
    "hypertable_rollup",
    "curation_pipeline",
    "training_set_build",
    "embedding_drift_report",
    "token_budget_sample",
    "dedup_chunk_passages",
    "paragraph_dedup",
    "quality_unigram_logprob",
    "semantic_dedup_srp",
    "refinery_pipeline",
    "salted_skew_join",
    "q13_customer_distribution",
    "q8_market_share",
    "q21_waiting_supplier",
    # the Python-kernel (mapInPandas) surface + PQ ADC — benched since
    # r7 (VERDICT r6 ask #5): Arrow-batched kernels are exactly where
    # throughput surprises hide, so they get first-class bench rows
    "multimodal_image_decode",
    "multimodal_audio_decode",
    "multimodal_video_decode",
    "ann_pq_adc",
    # r7 late additions: bloom-prefiltered exact incremental dedup,
    # C4 cleaning, first-occurrence n-gram novelty, alpha-temperature
    # mixture resample
    "dedup_bloom_prefilter",
    "quality_c4_rules",
    "ngram_novelty",
    "temperature_mixture_sample",
    "pagerank_quality_prior",
    "dsir_importance_score",
    "unigram_lm_tokenize",
    "doc_language_mixture",
    "ccnet_perplexity_buckets",
    # r7 late additions (second batch): prefix self-join, contrastive
    # mining, denoising example construction, histogram-median robust
    # stats, and the code/prose map pass
    "dedup_prefix_truncation",
    "ann_hard_negatives",
    "t5_span_corruption",
    "events_robust_mad_outliers",
    "quality_code_detect",
    # r7 third batch: corpus diversity, Zipf slope, preference pairs,
    # and the composed per-source data-card capstone
    "corpus_distinct_ngram_rate",
    "zipf_rank_slope",
    "preference_pair_build",
    "corpus_health_report",
    # r7 fourth batch: canary scan, session-dialog assembly, PMI
    "canary_extraction_scan",
    "session_dialog_examples",
    "pmi_top_bigrams",
    "lang_id_confusion",
    "tokenizer_fertility_by_lang",
    # r8: the real payload decoders (PNG zlib+unfilter, PCM int16) —
    # new Python kernels always get bench rows (the spread() lesson)
    "multimodal_image_pixels",
    "multimodal_audio_samples",
    # r8 second batch: soft dedup (digest-window reweight), the
    # per-source percentile quality floor, and the decontamination
    # action (gram explode + broadcast-probe join + doc_id rejoin)
    "dedup_soft_reweight",
    "quality_rank_calibration",
    "contamination_removal",
    # r8 third batch: cluster-size data-card + source-pair gram overlap
    "dedup_cluster_size_histogram",
    "source_ngram_overlap",
    # r9: MP4 sample-table decode + baseline JPEG entropy decode (two
    # chained Arrow kernels each — new Python kernels always get bench
    # rows, the spread() lesson)
    "multimodal_video_samples",
    "multimodal_jpeg_pixels",
    # r10 freeze (VERDICT r9 ask #1): the three gate-green ops that
    # landed after r9's final baseline refresh — the perf-regression
    # gate iterates baseline keys, so an op missing from the baseline
    # is invisible to it. Added BEFORE any r10 measurement.
    "quality_classifier_filter",
    "privacy_k_anonymity_report",
    "privacy_l_diversity_report",
    # r10 new ops, added BEFORE the end-of-round baseline refresh:
    # mdat sample extraction is a Python-kernel op (mandatory row per
    # the spread() lesson); BPE training's cost is its build-time
    # driver loop, which _run_once's build+exec timing captures
    "multimodal_sample_extract",
    "bpe_learn_merges",
    "bpe_train_encode",
    # r10 second batch (still BEFORE the end-of-round refresh): image
    # resize and audio features are Python-kernel ops (mandatory rows
    # per the spread() lesson); winnowing adds a posting-list join
    "multimodal_image_resize",
    "multimodal_audio_features",
    "dedup_winnowing_fingerprint",
    "privacy_t_closeness_report",
    "cdc_schema_evolution",
    # r10 third batch (BEFORE the end-of-round refresh, same freeze
    # discipline): the pgoutput binary-plugin roundtrip runs two Arrow
    # kernels (encode + per-stream decode) ahead of the shared
    # pipeline — a mandatory Python-kernel row; SCD2 adds the
    # key-partitioned versioning window; FIM and readability are pure
    # codegen rows that keep the perf gate's eye on the new surface
    "cdc_pgoutput_roundtrip",
    "cdc_scd2_history",
    "fim_transform",
    "text_readability_scores",
    # r10 fourth batch (BEFORE the end-of-round refresh): WARC ingest
    # and PDF extraction are Python-kernel ops (mandatory rows); the
    # KN trigram is the widest n-gram shuffle in the LM family; the
    # jusText classifier adds the doc-keyed double-window pass; the
    # table profiler is the melt + exact-distinct double groupBy
    "warc_ingest_records",
    "multimodal_pdf_text",
    "quality_kn_trigram",
    "boilerplate_justext_blocks",
    "table_profile",
    "text_mojibake_repair",
    "weighted_sample_es",
    # r10 fifth batch (final, immediately before the END-OF-ROUND
    # refresh): the jsonl.gz round trip chains two Arrow kernels
    # (mandatory rows per the spread() lesson); the Luhn scan is pure
    # higher-order digit arithmetic in codegen
    "ndjson_gz_ingest",
    "pii_luhn_cards",
    # r11 batch (frozen as ops landed; ONE end-of-round baseline
    # refresh per the r10 discipline note): the 2PC capstone pays the
    # same encode+decode+pipeline cost as the pgoutput roundtrip; the
    # rest are Catalyst-only aggregates/regexp chains
    "cdc_two_phase_roundtrip",
    "embedding_diversity_report",
    "doremi_domain_reweight",
    "rejection_sample_best_of_n",
    "events_cusum_changepoint",
    "html_link_extract",
    "markdown_strip_text",
    # r11 second batch: sentence stats (map-only HOFs) and ICLM
    # similarity-ordered packing (per-bucket windows + broadcast
    # prefix)
    "text_sentence_segments",
    "pack_similarity_ordered",
    # r12 batch (frozen as ops landed; ONE end-of-round refresh): the
    # two rows-only→oracle-backed conversions that are new measured
    # shapes — text_rolling_hash moved to the cross-engine md5-prefix
    # word hash, embedding_pca_project became the PCA quality report
    # (moment pass + eigh + independent energy pass). The third
    # conversion, dedup_minhash_lsh, already holds a HEADLINE row.
    "text_rolling_hash",
    "embedding_pca_project",
    # r12 second batch: the remaining rows-only→oracle-backed
    # conversions whose registry rows are new measured shapes — the
    # ANN recall summaries (each = its index path + the exact top-k +
    # a semi-join), the kmeans/unigram/bpe/partition bounds checks,
    # the simhash re-derive summary, and the adaptive-plane srp_scaled
    # summary.
    "ann_lsh_buckets",
    "ann_ivf_probe",
    "ann_ivf_pq",
    "ivf_kmeans_codebook",
    "dedup_simhash",
    "semantic_dedup_srp_scaled",
    "bpe_apply_merges",
    "unigram_em_step",
    "cdc_partition_buckets",
    "cdc_lineitem_roundtrip",
]

# per-query executions (median reported). Overridable for hosts where
# 3 full sweeps would not fit a wall-clock budget; 3 is the default
# measurement discipline.
N_EXECS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_EXECS", "3")))

# ---------------------------------------------------------------------------
# sf1 scale-rehearsal leg (VERDICT r6 ask #1): the 8 most expensive
# queries timed at sf0.1 AND at a deterministic 10× scale-up
# (tools/gen_sf.py — per-replica token/embedding perturbation keeps
# dedup/ANN candidate generation LINEAR, the workload a real 10×
# corpus has). Reported as per-query {sf0.1, sf1, ratio}; ratio ≈ 10
# is linear scaling. semantic_dedup_srp_scaled stands in for the
# fixture-constant semantic_dedup_srp, whose frozen 3-plane bucket is
# DOCUMENTED to go quadratic off-fixture (measured 33× at sf1) — the
# scaled variant is the production posture (planes sized to n).
SCALE_QUERIES = [
    "cdc_lineitem_roundtrip",
    "dedup_ngram_jaccard",
    "dedup_repeated_spans",
    "repeated_span_removal",
    "dedup_minhash_lsh",
    "semantic_dedup_srp_scaled",
    "refinery_pipeline",
    "training_set_build",
    # r7 late addition: first-occurrence novelty (shingle window-min)
    "ngram_novelty",
    # r7 second batch: the block-keyed prefix self-join (the shape
    # with quadratic RISK — the block cap is the defense under test)
    # and DSIR (three corpus passes + D-key aggregations)
    "dedup_prefix_truncation",
    "dsir_importance_score",
    # r7 third batch: the exact-distinct trigram count — the largest
    # single shuffle key-space of any registered op ((source, gram)),
    # so its growth exponent is worth measuring directly
    "corpus_distinct_ngram_rate",
    # r7 fourth batch: the bigram-domain count joins (each replica is
    # its own vocab universe, so the collocation key-space must grow
    # linearly, not quadratically)
    "pmi_top_bigrams",
]
SCALE_REPLICAS = 10
# best-of-2 per (query, sf): one exec fewer than the sweep's
# median-of-3 — the leg exists to expose superlinear growth, for which
# min-time at each scale is the robust statistic (GC/host hiccups only
# ever ADD time)
SCALE_EXECS = max(1, int(os.environ.get("SPARK_GRAFT_SCALE_EXECS", "2")))

# streaming replay: every Nth order of the bench-SF lineitem becomes a
# BEGIN/INSERT/COMMIT WAL transaction on disk (sf0.1 → ~200 k rows ≈
# 600 k messages, 12× the reference itest corpus). Bounded so the
# streaming leg stays a fraction of the sweep.
STREAM_ORDER_MOD = 3
# One admission-controlled micro-batch covers the whole corpus: each
# extra drain round costs a full query restart (~4 s measured —
# stream init + Python-runner launch + checkpoint setup), which at
# bench scale swamps the per-batch work. Small-cap many-batch
# behavior (backpressure, W6) is pinned separately by
# test_backpressure_many_microbatches.
STREAM_BATCH_MSGS = 1_000_000


class _FlakyTransport:
    """Executor-side error injection for the degraded-path leg: every
    attempt fails ~50% of its records (deterministically — crc32 of
    payload ⊕ attempt number), mirroring the reference's high-error
    Kinesis itest (itests/tests/kinesis/
    test_multi_worker_high_kinesis_errors/envfile.env: 50% error rate,
    10 k msgs ≤ 120–180 s). Each Spark task unpickles its own copy, so
    the attempt counter is task-local."""

    def __init__(self, rate_pct: int = 50):
        self.rate_pct = rate_pct
        self.attempt = 0

    def __call__(self, batch):
        import zlib

        self.attempt += 1
        salt = str(self.attempt).encode()
        return [
            rec for rec in batch if zlib.crc32(rec[0] + salt) % 100 < self.rate_pct
        ]


# the reference envelope this leg mirrors: 10k messages through a 50%
# failing sink must finish within 180 s (backoff sleeps included)
DEGRADED_MSGS = 10_000
DEGRADED_BUDGET_S = 180.0


def bench_streaming(spark, sf_dir: str) -> dict:
    """Time the ACTUAL streaming path — spark.readStream over the pgcdc
    source (replay transport) → run_pipeline → foreachBatch
    noop sink — over a WAL corpus derived from the bench-SF lineitem.
    This is the reference's own workload shape (its floor:
    50 k msgs ≤ 180 s, BASELINE.md); the batch roundtrip measures the
    same parse+marshal plan without source/checkpoint overhead."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from pg_bifrost_spark.cdc.fixtures import wal_lines_from_table
    from pg_bifrost_spark.cdc.pipeline import PipelineConfig
    from pg_bifrost_spark.plans import table
    from pg_bifrost_spark.plans.cdc_bridge import LINEITEM_PG_TYPES
    from pg_bifrost_spark.streaming.core import drain_cdc_query

    wal_dir = tempfile.mkdtemp(prefix="bench_wal_")
    ckpt = tempfile.mkdtemp(prefix="bench_ckpt_")
    try:
        li = table(spark, sf_dir, "lineitem").filter(
            F.col("l_orderkey") % STREAM_ORDER_MOD == 0
        )
        raw = wal_lines_from_table(
            li,
            "public.lineitem",
            LINEITEM_PG_TYPES,
            seq_expr=F.col("l_orderkey") * 8 + F.col("l_linenumber"),
        )
        (
            raw.select(
                F.to_json(F.struct("wal_start", "server_time_ms", "line")).alias("value")
            )
            .write.mode("overwrite")
            .text(wal_dir)
        )
        n_msgs = 0
        for name in os.listdir(wal_dir):
            if name.startswith("part-"):
                path = os.path.join(wal_dir, name)
                with open(path) as f:
                    n_msgs += sum(1 for ln in f if ln.strip())
                os.rename(path, path + ".jsonl")

        def sink(batch_df, epoch_id):
            batch_df.write.format("noop").mode("overwrite").save()

        # Warm the STREAMING machinery once on a throwaway ~100-msg
        # corpus (same move as the batch sweep's sf0.001 warm-up pass):
        # the first streaming query of a session is billed the Python
        # streaming-runner launch + per-plan codegen — measured 49 s vs
        # 14 s steady-state on the same corpus. Different wal_dir and
        # checkpoint — nothing about the timed corpus is pre-computed.
        warm_wal = tempfile.mkdtemp(prefix="bench_wal_warm_")
        warm_ckpt = tempfile.mkdtemp(prefix="bench_ckpt_warm_")
        try:
            warm_li = table(spark, "/root/testdata/sf0.001", "lineitem").filter(
                F.col("l_orderkey") % 50 == 0
            )
            warm_raw = wal_lines_from_table(
                warm_li,
                "public.lineitem",
                LINEITEM_PG_TYPES,
                seq_expr=F.col("l_orderkey") * 8 + F.col("l_linenumber"),
            )
            (
                warm_raw.select(
                    F.to_json(
                        F.struct("wal_start", "server_time_ms", "line")
                    ).alias("value")
                )
                .coalesce(1)
                .write.mode("overwrite")
                .text(warm_wal)
            )
            for name in os.listdir(warm_wal):
                if name.startswith("part-"):
                    os.rename(
                        os.path.join(warm_wal, name),
                        os.path.join(warm_wal, name + ".jsonl"),
                    )
            drain_cdc_query(
                spark, sink, warm_ckpt, cfg=PipelineConfig(),
                source_options={"wal_dir": warm_wal},
            )
        finally:
            shutil.rmtree(warm_wal, ignore_errors=True)
            shutil.rmtree(warm_ckpt, ignore_errors=True)

        # single-slot vs 4-slot scale-out, measured as INTERLEAVED
        # pairs in one session (VERDICT r12 ask #5: the sequential
        # single-then-multi legs twice printed multi below single
        # purely because the multi leg ran in a later, slower host
        # band — BENCH_STREAM.json's alternating artifact shows
        # multi ≥ single per-rep on the same corpus). The reported
        # "sec" keys are the per-arm MEDIANS over the pairs; per-rep
        # arrays ride along so the artifact shows the pairing
        # (additions-only to the payload).
        n_slots = 4
        multi_base = tempfile.mkdtemp(prefix="bench_wal_multi_")
        try:
            for i in range(n_slots):
                os.makedirs(os.path.join(multi_base, f"slot_{i}"), exist_ok=True)
            files = sorted(n for n in os.listdir(wal_dir) if n.endswith(".jsonl"))
            for j, name in enumerate(files):
                os.link(
                    os.path.join(wal_dir, name),
                    os.path.join(multi_base, f"slot_{j % n_slots}", name),
                )
            from pg_bifrost_spark.sources.pgcdc_multi import PgCdcMultiDataSource
            from pg_bifrost_spark.streaming.core import start_cdc_query

            rounds_box: list[int] = []

            def run_single() -> float:
                ck = tempfile.mkdtemp(prefix="bench_ckpt_s_")
                try:
                    _clean_state(spark)
                    t0 = time.perf_counter()
                    rounds_box.append(
                        drain_cdc_query(
                            spark,
                            sink,
                            ck,
                            cfg=PipelineConfig(),
                            source_options={
                                "wal_dir": wal_dir,
                                "max_msgs_per_batch": str(STREAM_BATCH_MSGS),
                            },
                        )
                    )
                    return round(time.perf_counter() - t0, 3)
                finally:
                    shutil.rmtree(ck, ignore_errors=True)

            def run_multi() -> float:
                ck = tempfile.mkdtemp(prefix="bench_ckpt_m_")
                try:
                    _clean_state(spark)
                    t0 = time.perf_counter()
                    start_cdc_query(
                        spark, sink, ck, cfg=PipelineConfig(),
                        source_options={"wal_dir": multi_base},
                        source=PgCdcMultiDataSource,
                    ).awaitTermination()
                    return round(time.perf_counter() - t0, 3)
                finally:
                    shutil.rmtree(ck, ignore_errors=True)

            reps = max(1, int(os.environ.get("SPARK_GRAFT_STREAM_REPS", "3")))
            single_secs, multi_secs = [], []
            for _ in range(reps):
                single_secs.append(run_single())
                multi_secs.append(run_multi())
            dt = statistics.median(single_secs)
            rounds = rounds_box[0]
            mdt = statistics.median(multi_secs)
            # wall-clock seconds: multi not slower means m <= s
            not_slower = [m <= s for s, m in zip(single_secs, multi_secs)]
            multi = {
                "slots": n_slots,
                "msgs": n_msgs,
                "sec": mdt,
                "msg_per_sec": round(n_msgs / mdt, 1),
                "paired_single_sec": single_secs,
                "paired_multi_sec": multi_secs,
                "multi_ge_single_per_rep": not_slower,
                "multi_not_slower_per_rep": not_slower,
            }
        finally:
            shutil.rmtree(multi_base, ignore_errors=True)

        # degraded-path leg (VERDICT r5 ask #4): the first
        # DEGRADED_MSGS of the corpus through the RETRYING Kinesis
        # writer with 50% per-attempt record failures — the reference's
        # high-error envelope (10 k msgs ≤ 180 s incl. backoff sleeps).
        # Real BackoffPolicy, real partial retry; the wall-clock is
        # dominated by the backoff schedule, exactly as the reference's
        # itest budget is.
        from pg_bifrost_spark.sinks.writers import kinesis_writer

        deg_wal = tempfile.mkdtemp(prefix="bench_wal_deg_")
        deg_ckpt = tempfile.mkdtemp(prefix="bench_ckpt_deg_")
        try:
            src = sorted(
                n for n in os.listdir(wal_dir) if n.endswith(".jsonl")
            )[0]
            deg_n = 0
            with open(os.path.join(wal_dir, src)) as fin, open(
                os.path.join(deg_wal, "000.jsonl"), "w"
            ) as fout:
                for ln in fin:
                    if ln.strip():
                        fout.write(ln)
                        deg_n += 1
                        if deg_n >= DEGRADED_MSGS:
                            break
            deg_sink = kinesis_writer(
                "bench-degraded", transport=_FlakyTransport(50)
            )
            _clean_state(spark)
            t0 = time.perf_counter()
            q = start_cdc_query(
                spark,
                deg_sink,
                deg_ckpt,
                cfg=PipelineConfig(),
                source_options={
                    "wal_dir": deg_wal,
                    "max_msgs_per_batch": str(STREAM_BATCH_MSGS),
                    # one Kinesis chunk per task: the reference test is
                    # MULTI-worker (its name), so the retry/backoff
                    # schedules run in parallel across partitions —
                    # a single 10 k-record partition would serialize
                    # 20 chunk backoff schedules (~10 min)
                    "msgs_per_partition": "500",
                },
            )
            q.awaitTermination()
            ddt = round(time.perf_counter() - t0, 3)
            if ddt > DEGRADED_BUDGET_S:
                raise RuntimeError(
                    f"degraded-path leg blew the reference envelope: "
                    f"{deg_n} msgs in {ddt}s > {DEGRADED_BUDGET_S}s"
                )
            degraded = {
                "msgs": deg_n,
                "error_rate_pct": 50,
                "sec": ddt,
                "msg_per_sec": round(deg_n / ddt, 1),
                "budget_sec": DEGRADED_BUDGET_S,
            }

            # multi-worker parity (VERDICT r6 ask #6 — the reference's
            # test_multi_worker_high_kinesis_errors runs FOUR workers at
            # the same 50% error rate): the same 10 k messages as 4
            # pgcdc-multi slots, whole transactions round-robined across
            # slots so per-slot txn assembly holds. The reference's 4
            # workers each own a transport with an independent backoff
            # clock; Spark's transport concurrency is the task pool, so
            # the pipeline output is repartitioned to one PutRecords
            # chunk per task (the multi source plans one partition per
            # SLOT — 2.5 k msgs — and five serialized chunk backoff
            # schedules per task would spend the whole 180 s budget on
            # sleeps the reference runs concurrently).
            degm_base = tempfile.mkdtemp(prefix="bench_wal_degm_")
            degm_ckpt = tempfile.mkdtemp(prefix="bench_ckpt_degm_")
            try:
                slots = 4
                writers_ = []
                for i in range(slots):
                    os.makedirs(os.path.join(degm_base, f"slot_{i}"), exist_ok=True)
                    writers_.append(
                        open(os.path.join(degm_base, f"slot_{i}", "000.jsonl"), "w")
                    )
                txn_i = 0
                with open(os.path.join(deg_wal, "000.jsonl")) as fin:
                    for ln in fin:
                        if not ln.strip():
                            continue
                        writers_[txn_i % slots].write(ln)
                        # advance to the next slot after each COMMIT so a
                        # transaction's messages never straddle slots
                        if json.loads(ln)["line"].startswith("COMMIT"):
                            txn_i += 1
                for w in writers_:
                    w.close()
                degm_writer = kinesis_writer(
                    "bench-degraded-multi", transport=_FlakyTransport(50)
                )

                def degm_sink(out, epoch_id):
                    degm_writer(out.repartition(20), epoch_id)

                _clean_state(spark)
                t0 = time.perf_counter()
                start_cdc_query(
                    spark, degm_sink, degm_ckpt, cfg=PipelineConfig(),
                    source_options={"wal_dir": degm_base},
                    source=PgCdcMultiDataSource,
                ).awaitTermination()
                mddt = round(time.perf_counter() - t0, 3)
                if mddt > DEGRADED_BUDGET_S:
                    raise RuntimeError(
                        f"degraded multi-slot leg blew the reference envelope: "
                        f"{deg_n} msgs in {mddt}s > {DEGRADED_BUDGET_S}s"
                    )
                degraded["multi"] = {
                    "slots": slots,
                    "msgs": deg_n,
                    "error_rate_pct": 50,
                    "sec": mddt,
                    "msg_per_sec": round(deg_n / mddt, 1),
                    "budget_sec": DEGRADED_BUDGET_S,
                }
            finally:
                shutil.rmtree(degm_base, ignore_errors=True)
                shutil.rmtree(degm_ckpt, ignore_errors=True)
        finally:
            shutil.rmtree(deg_wal, ignore_errors=True)
            shutil.rmtree(deg_ckpt, ignore_errors=True)

        return {
            "msgs": n_msgs,
            "sec": dt,
            "msg_per_sec": round(n_msgs / dt, 1),
            "micro_batches": rounds,
            "multi": multi,
            "degraded": degraded,
        }
    finally:
        shutil.rmtree(wal_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def bench_interleaved(out_path: str = "BENCH_STREAM.json", reps: int = 3) -> None:
    """Interleaved single-slot vs 4-slot streaming comparison →
    BENCH_STREAM.json (VERDICT r11 ask #4: the r10→r11 single-shot
    artifacts twice printed multi BELOW single purely from host drift
    between the two measurements; alternating the legs on one host
    inside one session is the comparison that actually answers
    "does the multi-slot source scale"). Same corpus, same session:
    single and multi alternate for ``reps`` rounds, every reranked
    run on a fresh checkpoint, per-rep numbers recorded so the
    artifact shows the comparison is paired, not vintage-skewed."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from pg_bifrost_spark.cdc.fixtures import wal_lines_from_table
    from pg_bifrost_spark.cdc.pipeline import PipelineConfig
    from pg_bifrost_spark.plans import table
    from pg_bifrost_spark.plans.cdc_bridge import LINEITEM_PG_TYPES
    from pg_bifrost_spark.sources.pgcdc_multi import PgCdcMultiDataSource
    from pg_bifrost_spark.streaming.core import drain_cdc_query, start_cdc_query

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    plans.load_all()
    spark = get_spark(app_name="pg_bifrost_spark_bench_stream")
    n_slots = 4
    wal_dir = tempfile.mkdtemp(prefix="bench_wal_il_")
    multi_base = tempfile.mkdtemp(prefix="bench_wal_il_multi_")
    try:
        # same corpus recipe as bench_streaming's timed leg
        li = table(spark, sf_dir, "lineitem").filter(
            F.col("l_orderkey") % STREAM_ORDER_MOD == 0
        )
        raw = wal_lines_from_table(
            li,
            "public.lineitem",
            LINEITEM_PG_TYPES,
            seq_expr=F.col("l_orderkey") * 8 + F.col("l_linenumber"),
        )
        (
            raw.select(
                F.to_json(F.struct("wal_start", "server_time_ms", "line")).alias("value")
            )
            .write.mode("overwrite")
            .text(wal_dir)
        )
        n_msgs = 0
        for name in os.listdir(wal_dir):
            if name.startswith("part-"):
                path = os.path.join(wal_dir, name)
                with open(path) as f:
                    n_msgs += sum(1 for ln in f if ln.strip())
                os.rename(path, path + ".jsonl")
        for i in range(n_slots):
            os.makedirs(os.path.join(multi_base, f"slot_{i}"), exist_ok=True)
        files = sorted(n for n in os.listdir(wal_dir) if n.endswith(".jsonl"))
        for j, name in enumerate(files):
            os.link(
                os.path.join(wal_dir, name),
                os.path.join(multi_base, f"slot_{j % n_slots}", name),
            )

        def sink(batch_df, epoch_id):
            batch_df.write.format("noop").mode("overwrite").save()

        def run_single() -> float:
            ckpt = tempfile.mkdtemp(prefix="bench_ckpt_il_s_")
            try:
                _clean_state(spark)
                t0 = time.perf_counter()
                drain_cdc_query(
                    spark, sink, ckpt, cfg=PipelineConfig(),
                    source_options={
                        "wal_dir": wal_dir,
                        "max_msgs_per_batch": str(STREAM_BATCH_MSGS),
                    },
                )
                return round(time.perf_counter() - t0, 3)
            finally:
                shutil.rmtree(ckpt, ignore_errors=True)

        def run_multi() -> float:
            ckpt = tempfile.mkdtemp(prefix="bench_ckpt_il_m_")
            try:
                _clean_state(spark)
                t0 = time.perf_counter()
                start_cdc_query(
                    spark, sink, ckpt, cfg=PipelineConfig(),
                    source_options={"wal_dir": multi_base},
                    source=PgCdcMultiDataSource,
                ).awaitTermination()
                return round(time.perf_counter() - t0, 3)
            finally:
                shutil.rmtree(ckpt, ignore_errors=True)

        # warm both paths once (streaming-runner launch + codegen are
        # first-run costs; discard these timings)
        run_single()
        run_multi()
        single, multi = [], []
        for _ in range(reps):
            single.append(run_single())
            multi.append(run_multi())
        # wall-clock seconds: multi not slower means m <= s
        not_slower = [m <= s for s, m in zip(single, multi)]
        payload = {
            "metric": "streaming_interleaved_msg_per_sec",
            "msgs": n_msgs,
            "slots": n_slots,
            "sf_dir": sf_dir,
            "reps": reps,
            "single_sec": single,
            "multi_sec": multi,
            "single_msg_per_sec": [round(n_msgs / s, 1) for s in single],
            "multi_msg_per_sec": [round(n_msgs / s, 1) for s in multi],
            "single_median_msg_per_sec": round(
                n_msgs / statistics.median(single), 1
            ),
            "multi_median_msg_per_sec": round(
                n_msgs / statistics.median(multi), 1
            ),
            "multi_ge_single_per_rep": not_slower,
            "multi_not_slower_per_rep": not_slower,
        }
        _write_json_atomic(out_path, payload)
        print(json.dumps(payload))
    finally:
        shutil.rmtree(wal_dir, ignore_errors=True)
        shutil.rmtree(multi_base, ignore_errors=True)
        spark.stop()


def bench_scale(spark, sf_dir: str) -> dict:
    """Time SCALE_QUERIES at the bench SF and at the 10× scale-up;
    report best-of-SCALE_EXECS and the sf1/sf0.1 ratio per query.
    The sf1 fixture is generated (deterministically, ~4 s) under /tmp
    if missing — never committed, never written inside the repo."""
    from tools.gen_sf import ensure_sf1

    sf1_dir = ensure_sf1(src=sf_dir, replicas=SCALE_REPLICAS)
    # warm every scale query once at sf0.001 (the sweep already warmed
    # the HEADLINE members; semantic_dedup_srp_scaled is scale-leg-only)
    for name in SCALE_QUERIES:
        plans.QUERIES[name](spark, "/root/testdata/sf0.001").write.format(
            "noop"
        ).mode("overwrite").save()
    out: dict[str, dict] = {}
    for name in SCALE_QUERIES:
        lo = min(_run_once(spark, name, sf_dir) for _ in range(SCALE_EXECS))
        hi = min(_run_once(spark, name, sf1_dir) for _ in range(SCALE_EXECS))
        out[name] = {
            "sf_base_sec": lo,
            "sf1_sec": hi,
            "ratio": round(hi / max(lo, 1e-9), 2),
        }
        print(f"# scale {name}: {lo:.3f}s -> {hi:.3f}s "
              f"(x{out[name]['ratio']})", file=sys.stderr)
    return {
        "data_scale": SCALE_REPLICAS,
        "sf1_dir": sf1_dir,
        "queries": out,
    }


def _clean_state(spark) -> None:
    """Release every cached block before a measurement: the tracked
    operator caches (one query's worth may survive its run — they are
    referenced by the returned plan) plus anything else in the cache
    manager. Keeps measurements independent of sweep order."""
    plans.release_caches()
    spark.catalog.clearCache()


def _run_once(spark, name: str, sf_dir: str) -> float:
    _clean_state(spark)
    t0 = time.perf_counter()
    # noop sink materializes every column of the full plan (count()
    # would let Spark prune the projections)
    plans.QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    return round(time.perf_counter() - t0, 3)


def _write_json_atomic(path: str, payload: dict) -> None:
    """Persist the bench JSON next to the stdout line (VERDICT r7 ask
    #7): the driver captures stdout through a pipe that has truncated
    mid-object before (BENCH_r07 lost 55 of 64 query rows), so the same
    payload is also written to a file via write-tmp-then-rename — a
    reader never sees a half-written JSON."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


# ---------------------------------------------------------------------------
# --sf10 leg (VERDICT r7 ask #5): the one-off 100× spot-check promoted
# to a reproducible command. Times the 4 queries with the WORST 10×
# ratios at 100× data (sf0.1 × 100 replicas ≈ sf10: 60 M lineitem
# rows) and writes BENCH_SF10.json. Opt-in (`python bench.py --sf10`)
# — a full sf10 roundtrip alone runs ~5-6 min, far past the per-round
# bench budget, so it is NOT part of the default run.
SF10_QUERIES = [
    "corpus_distinct_ngram_rate",
    "dsir_importance_score",
    "cdc_lineitem_roundtrip",
    "repeated_span_removal",
    # r11 (VERDICT r10 ask #5): the two widest-shuffle r10 shapes —
    # the binary encode→decode→pipeline capstone and the
    # four-relation Kneser-Ney join stack
    "cdc_pgoutput_roundtrip",
    "quality_kn_trigram",
]
SF10_REPLICAS = 100


def bench_sf10(out_path: str = "BENCH_SF10.json") -> None:
    from tools.gen_sf import generate

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    plans.load_all()
    spark = get_spark(app_name="pg_bifrost_spark_bench_sf10")
    sf10_dir = "/tmp/spark_graft_sf10"
    generate(src=sf_dir, dst=sf10_dir, replicas=SF10_REPLICAS)
    for name in SF10_QUERIES:  # absorb codegen/JIT per query
        plans.QUERIES[name](spark, "/root/testdata/sf0.001").write.format(
            "noop"
        ).mode("overwrite").save()
    queries: dict[str, dict] = {}
    for name in SF10_QUERIES:
        base = min(_run_once(spark, name, sf_dir) for _ in range(2))
        # single exec at 100×: these runs are minutes each; superlinear
        # growth shows up in the ratio regardless of one-exec noise
        big = _run_once(spark, name, sf10_dir)
        queries[name] = {
            "sf_base_sec": base,
            "sf10_sec": big,
            "ratio": round(big / max(base, 1e-9), 2),
        }
        print(f"# sf10 {name}: {base:.3f}s -> {big:.3f}s "
              f"(x{queries[name]['ratio']} at {SF10_REPLICAS}x data)", file=sys.stderr)
    payload = {
        "metric": "sf10_scale_ratios",
        "data_scale": SF10_REPLICAS,
        "sf10_dir": sf10_dir,
        "queries": queries,
    }
    _write_json_atomic(out_path, payload)
    print(json.dumps(payload))
    spark.stop()


# ---------------------------------------------------------------------------
# --sweep leg (VERDICT r10 ask #2): the HEADLINE baseline protects 97
# queries; the other ~100 registered ops (rotated-out q-series,
# windows, text basics) had ZERO wall-time protection and could
# regress silently. This sweep times EVERY registry query once at the
# gate SF (sf0.01 — gross-pathology detection needs relative shape,
# not absolute scale) and writes BENCH_SWEEP.json;
# tests/test_perf_sweep.py compares it against the committed
# BENCH_SWEEP_BASELINE.json with a loose suite-median-normalized >5×
# assertion. Run once per round: `python bench.py --sweep`.
def bench_sweep(out_path: str = "BENCH_SWEEP.json") -> None:
    sweep_dir = os.environ.get("SPARK_GRAFT_SWEEP_SF_DIR", "/root/testdata/sf0.01")
    plans.load_all()
    spark = get_spark(app_name="pg_bifrost_spark_sweep")
    names = sorted(plans.QUERIES)
    # absorb per-plan codegen/JIT on the tiny SF, then prewarm the
    # Python worker pool (same discipline as main())
    for name in names:
        plans.QUERIES[name](spark, "/root/testdata/sf0.001").write.format(
            "noop"
        ).mode("overwrite").save()
    n_workers = spark.sparkContext.defaultParallelism
    spark.range(0, n_workers * 4, 1, n_workers).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()
    _clean_state(spark)
    timings: dict[str, float] = {}
    for i, name in enumerate(names):
        timings[name] = _run_once(spark, name, sweep_dir)
        print(f"# sweep [{i + 1}/{len(names)}] {name}: {timings[name]:.3f}s",
              file=sys.stderr)
    med = round(statistics.median(timings.values()), 3)
    payload = {
        "metric": "registry_sweep_median_sec",
        "value": med,
        "unit": "sec",
        "sf_dir": sweep_dir,
        "n_queries": len(timings),
        "queries": timings,
    }
    _write_json_atomic(out_path, payload)
    print(json.dumps(payload))
    spark.stop()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    plans.load_all()
    spark = get_spark(app_name="pg_bifrost_spark_bench")

    # Warm-up discipline: run EVERY headline query once at sf0.001
    # before timing at the bench SF. First execution of a plan is
    # billed codegen/JIT + first-scan-of-table costs (measured 6-9 s
    # on a 0.5 s steady-state query); the sf0.001 pass absorbs those
    # one-time costs per query so the timed numbers are steady-state.
    # Different data than the bench SF — nothing is result-cached.
    warm_sf = "/root/testdata/sf0.001"
    for name in HEADLINE:
        plans.QUERIES[name](spark, warm_sf).write.format("noop").mode("overwrite").save()
    _clean_state(spark)
    # the sf0.001 pass only spawns a couple of Python workers (few
    # input partitions); the bench-SF run spawns one PER CORE on first
    # exec and was billed ~4s of daemon fork cost (round-1 note). Spawn
    # the full worker pool up front with a core-count-partition
    # mapInPandas no-op.
    n_workers = spark.sparkContext.defaultParallelism
    spark.range(0, n_workers * 4, 1, n_workers).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()

    # clean-state reference number for the heaviest query, measured
    # before the sweep: the honest-measurement cross-check. One
    # UNTIMED full-scale execution first: the very first sf-bench exec
    # is billed cold-page-cache I/O and large-input codegen variants
    # that the sf0.001 warm-up cannot absorb (measured 12.9 s cold vs
    # 6.5 s steady on an otherwise idle host) — costs every IN-SWEEP
    # query is also free of, so including them in the standalone would
    # make the divergence check fire on host I/O state rather than on
    # the sweep-residue effect it exists to catch.
    _run_once(spark, "cdc_lineitem_roundtrip", sf_dir)
    standalone = {"cdc_lineitem_roundtrip": _run_once(spark, "cdc_lineitem_roundtrip", sf_dir)}
    print(f"# standalone cdc_lineitem_roundtrip: "
          f"{standalone['cdc_lineitem_roundtrip']:.3f}s", file=sys.stderr)

    runs: dict[str, list[float]] = {}
    timings: dict[str, float] = {}

    # The three CDC roundtrips are measured HERE, immediately after
    # warm-up, in a young session (VERDICT r12 ask #4): they are the
    # highest-allocation-rate queries in the registry and the r11/r12
    # artifacts twice recorded them in a degraded late-session band
    # (lineitem execs 6.3/10.5/19.2 in-suite vs 5.4-5.8 standalone;
    # two_phase 5.5/8.7/13.1 escalating) that five root-cause probes
    # pinned on session aging, not on the plans. Their official rows
    # are the clean-band medians; ONE extra exec still runs at their
    # original in-suite slot and is reported under "in_suite" as the
    # session-aging divergence diagnostic. Methodology change declared
    # in OPTIMIZATION_r13.md — same timed action, same median-of-3,
    # only the session age at measurement time moves.
    early = [
        "cdc_lineitem_roundtrip",
        "cdc_pgoutput_roundtrip",
        "cdc_two_phase_roundtrip",
    ]
    for name in early:
        runs[name] = [_run_once(spark, name, sf_dir) for _ in range(N_EXECS)]
        timings[name] = round(statistics.median(runs[name]), 3)
        print(f"# {name} (clean band): median {timings[name]:.3f}s of "
              f"{runs[name]}", file=sys.stderr)

    in_suite: dict[str, float] = {}
    for name in HEADLINE:
        if name in early:
            in_suite[name] = _run_once(spark, name, sf_dir)
            print(f"# {name} (in-suite diagnostic): {in_suite[name]:.3f}s",
                  file=sys.stderr)
            continue
        runs[name] = [_run_once(spark, name, sf_dir) for _ in range(N_EXECS)]
        timings[name] = round(statistics.median(runs[name]), 3)
        print(f"# {name}: median {timings[name]:.3f}s of {runs[name]}", file=sys.stderr)

    # measurement-trust cross-check (VERDICT r4 ask, r12 ask #4): the
    # LATE in-suite roundtrip exec must stay within 1.5x of the
    # clean-band official row, or the tail of the sweep ran degraded
    rt, rt_late = timings["cdc_lineitem_roundtrip"], in_suite["cdc_lineitem_roundtrip"]
    divergence = round(max(rt, rt_late) / max(min(rt, rt_late), 1e-9), 3)
    if divergence > 1.5:
        print(f"# WARNING: roundtrip clean-band median {rt}s vs in-suite "
              f"{rt_late}s diverge {divergence}x (>1.5x) — late-sweep "
              f"numbers ran in a degraded band", file=sys.stderr)

    streaming = bench_streaming(spark, sf_dir)
    print(f"# streaming replay: {streaming}", file=sys.stderr)

    scale = bench_scale(spark, sf_dir)

    total = round(sum(timings.values()), 3)
    payload = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf),
        "runs": runs,
        "standalone": standalone,
        "in_suite": in_suite,
        "roundtrip_divergence": divergence,
        "streaming": streaming,
        "scale": scale,
    }
    # truncation-proof twin of the stdout line (VERDICT r7 ask #7)
    _write_json_atomic(
        os.environ.get("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json"), payload
    )
    print(json.dumps(payload))
    spark.stop()


if __name__ == "__main__":
    if "--sf10" in sys.argv[1:]:
        bench_sf10()
    elif "--sweep" in sys.argv[1:]:
        bench_sweep()
    elif "--interleaved" in sys.argv[1:]:
        bench_interleaved()
    else:
        main()
