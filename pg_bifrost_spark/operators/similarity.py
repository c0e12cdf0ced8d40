"""Similarity search over the ``embeddings`` table
(``embedding: array<float>``).

Two paths:
  * brute-force cosine top-k — the exact baseline, a single scan with
    a JVM-side dot product (no UDF) + top-k;
  * LSH-bucketed ANN — signed-random-projection buckets; the query
    only scans its own bucket (and multiprobe neighbors). This is the
    100 TB path: bucketing is one narrow map + one pruned join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans import register, table

QUERY_VEC_ID = 0  # deterministic query: the embedding of vec_id 0
TOP_K = 10


def _as_double(col: str = "embedding") -> F.Column:
    return F.transform(col, lambda x: x.cast("double"))


def _norm(c: F.Column) -> F.Column:
    return F.sqrt(F.aggregate(c, F.lit(0.0), lambda a, x: a + x * x))


def _dot(x: F.Column, y: F.Column) -> F.Column:
    return F.aggregate(F.zip_with(x, y, lambda a, b: a * b), F.lit(0.0), lambda a, v: a + v)


def cosine_to_query(emb: DataFrame, query: DataFrame) -> DataFrame:
    """Cross-broadcast the single query vector; score every row.
    One scan, no shuffle until the final top-k."""
    q = F.broadcast(query.select(F.col("v").alias("qv"), F.col("nrm").alias("qn")))
    return (
        emb.crossJoin(q)
        .withColumn("cosine_raw", _dot(F.col("v"), F.col("qv")) / (F.col("nrm") * F.col("qn")))
    )


def _prepared(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "embeddings")
        .select("vec_id", "label", _as_double().alias("v"))
        .withColumn("nrm", _norm(F.col("v")))
    )


def _exact_topk_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact cosine top-k with its raw scores — the single
    definition behind ann_bruteforce_topk AND the four ANN recall
    summaries' denominator."""
    emb = _prepared(spark, sf_dir)
    q = emb.filter(F.col("vec_id") == QUERY_VEC_ID)
    scored = cosine_to_query(emb.filter(F.col("vec_id") != QUERY_VEC_ID), q)
    return (
        scored.select("vec_id", "cosine_raw")
        .orderBy(F.desc("cosine_raw"), "vec_id")
        .limit(TOP_K)
    )


@register(
    "ann_bruteforce_topk",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID})
    SELECT vec_id, round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                       CAST(qv AS DOUBLE[])), 4) AS cosine
    FROM embeddings, q
    WHERE vec_id != {QUERY_VEC_ID}
    ORDER BY cosine DESC, vec_id
    LIMIT {TOP_K}
    """,
)
def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 nearest neighbors (cosine) of vec 0 — a projection
    of the ONE raw exact-top-k helper the ANN recall summaries also
    score against (code-review r12: two copies of the top-k definition
    could drift and silently skew the recall denominator)."""
    return _exact_topk_raw(spark, sf_dir).select(
        "vec_id", F.round("cosine_raw", 4).alias("cosine")
    )


N_PLANES = 12  # 4096 buckets


def srp_bucket_expr(v: F.Column, dim: int, planes: int = N_PLANES) -> F.Column:
    """Signed-random-projection bucket id. Plane p's component for
    coordinate d is a deterministic pseudo-random ±1 derived from
    xxhash64(p, d) — reproducible on any cluster with no side data,
    and entirely inside codegen (no UDF, no broadcast of plane
    matrices). ``planes`` is the bit count (2^planes cells); callers
    sizing cells to the corpus (the SemDeDup scale posture) pass
    planes ≈ log2(n / target_cell).

    Bound (ADVICE r12): the SRP verify kernel declares its bucket
    column as a 32-bit int, so the bucket id must fit in int32 —
    planes ≤ 30 keeps every id positive-int32. 30 planes is ~10^9
    cells ≈ 2.7e11 vectors at the 256-occupancy target, far past any
    single-job corpus this engine plans for."""
    if planes > 30:
        raise ValueError(
            f"srp_bucket_expr: planes={planes} would overflow the int32 "
            "bucket id (max 30)"
        )
    plane_sign = lambda p: F.transform(  # noqa: E731
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda d: F.when(F.xxhash64(F.lit(p), d) % 2 == 0, F.lit(1.0)).otherwise(F.lit(-1.0)),
    )
    bits = [
        F.when(F.aggregate(F.zip_with(v, plane_sign(p), lambda x, s: x * s), F.lit(0.0), lambda a, x: a + x) >= 0, F.lit(1 << p)).otherwise(F.lit(0))
        for p in range(planes)
    ]
    return sum(bits, F.lit(0)).alias("bucket")


LSH_TARGET_BUCKET = 64  # expected bucket occupancy the plane count aims for


def lsh_planes_for(n: int) -> int:
    """planes = clamp(ceil(log2(n / LSH_TARGET_BUCKET)), 2, N_PLANES):
    bucket count tracks the corpus so expected occupancy stays
    ~LSH_TARGET_BUCKET. The r11 version froze N_PLANES=12 (4096
    buckets) — over the ≤5.5k fixture vectors every vector was alone
    in its bucket and the op returned ZERO candidates (found while
    converting it to a recall-bounded gate row, r12) — the same
    fixture-frozen-parameter degeneracy semantic_dedup_srp_scaled
    fixed for the dedup side."""
    import math

    return max(2, min(N_PLANES, math.ceil(math.log2(max(n / LSH_TARGET_BUCKET, 2.0)))))


def lsh_bucket_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via signed-random-projection LSH with MULTIPROBE: score
    vectors in the query's bucket plus every 1-bit-flip neighbor
    bucket (a point near a hyperplane lands on either side — probing
    the flip buckets recovers the neighbors a single bucket loses;
    the standard multiprobe-LSH move, Lv et al. 2007). Candidate set
    is (planes+1)/2^planes of the corpus in expectation, so the probe
    still prunes ~everything at scale; then exact top-k within
    candidates. Plane count sized to the corpus by lsh_planes_for."""
    emb = _prepared(spark, sf_dir)
    dim = len(emb.select("v").first()[0])
    planes = lsh_planes_for(emb.count())
    bucketed = emb.withColumn(
        "bucket", srp_bucket_expr(F.col("v"), dim, planes)
    )
    q = bucketed.filter(F.col("vec_id") == QUERY_VEC_ID)
    probe_buckets = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << p)) for p in range(planes)],
    )
    q_buckets = F.broadcast(q.select(probe_buckets.alias("qbs")))
    cands = bucketed.join(
        q_buckets, F.array_contains(F.col("qbs"), F.col("bucket"))
    ).filter(F.col("vec_id") != QUERY_VEC_ID)
    scored = cosine_to_query(cands, q)
    return (
        scored.select("vec_id", F.round("cosine_raw", 4).alias("cosine"), "cosine_raw")
        .orderBy(F.desc("cosine_raw"), "vec_id")
        .limit(TOP_K)
        .select("vec_id", "cosine")
    )


# ---------------------------------------------------------------------------
# ANN gate rows (r12): every approximate index emits the same
# recall-bounded summary so the driver can hash-gate it (was rows-only)
# ---------------------------------------------------------------------------
# Floors sit well under the deterministic measured recalls at both
# rehearsal SFs (lsh multiprobe 0.7/0.7, ivf_probe 0.3/0.4,
# pq_adc 0.7/0.8, ivf_pq 0.3/0.4 at sf0.001/sf0.01) — the bound is a
# tripwire for index degradation, not a tuning target.
ANN_RECALL_FLOORS = {
    "ann_lsh_buckets": 0.4,
    "ann_ivf_probe": 0.25,
    "ann_pq_adc": 0.5,
    "ann_ivf_pq": 0.25,
}

# One oracle for all four: the EXACT top-k is SQL-expressible, so the
# cross-engine value is the k-th exact cosine (the recall denominator's
# boundary), and recall_ok is the engine-computed boolean the oracle
# pins TRUE (the approx_aggregates bounds-check pattern).
_ANN_SUMMARY_ORACLE = f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
    exact AS (
      SELECT vec_id,
             list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                    CAST(qv AS DOUBLE[])) AS c
      FROM embeddings, q WHERE vec_id != {QUERY_VEC_ID}
      ORDER BY c DESC, vec_id LIMIT {TOP_K}
    )
    SELECT {TOP_K} AS k, round(min(c), 4) AS exact_kth_cosine,
           true AS recall_ok
    FROM exact
"""


def _ann_recall_summary(
    spark: SparkSession, sf_dir: str, ann_df: DataFrame, floor: float
) -> DataFrame:
    """(k, exact_kth_cosine, recall_ok) — exact top-k cached once
    (feeds both the k-th-cosine aggregate and the semi-join)."""
    from ..plans import tracked_cache

    exact = tracked_cache(_exact_topk_raw(spark, sf_dir))
    kth = exact.agg(F.round(F.min("cosine_raw"), 4).alias("exact_kth_cosine"))
    hits = (
        ann_df.select("vec_id")
        .join(exact, "vec_id", "left_semi")
        .agg(F.count("*").alias("n_hit"))
    )
    return kth.crossJoin(hits).select(
        F.lit(TOP_K).alias("k"),
        "exact_kth_cosine",
        (F.col("n_hit") >= F.lit(float(floor)) * TOP_K).alias("recall_ok"),
    )


@register("ann_lsh_buckets", oracle=_ANN_SUMMARY_ORACLE)
def ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiprobe SRP-LSH ANN, driver-gated as a recall bounds check
    (r12; was rows-only AND degenerate — see lsh_planes_for). The
    top-k list surface is ``lsh_bucket_topk``."""
    return _ann_recall_summary(
        spark, sf_dir, lsh_bucket_topk(spark, sf_dir),
        ANN_RECALL_FLOORS["ann_lsh_buckets"],
    )


# Product-quantization split of the embeddings (see the PQ section
# below): PQ_M sub-vectors x PQ_SUB dims each. Their product is the
# embedding dimension every IVF/PQ path assumes; _centroids builds one
# avg aggregate per dimension from it and rejects any other length.
PQ_M = 8          # sub-vectors (64-dim fixture -> 8 dims each)
PQ_SUB = 8
EMB_DIM = PQ_M * PQ_SUB


def _centroids(emb: DataFrame) -> DataFrame:
    """Coarse quantizer: per-label centroids — the IVF codebook. (A
    production build would run k-means||; the assignment/probe
    machinery below is identical.)

    r13 (guide §2.4): ONE groupBy(label) with a per-dimension avg
    instead of posexplode + groupBy(label, pos) + re-assemble — drops
    an exchange, a x64 row fan-out, and an AQE stage from a path that
    executes as a driver-blocking collect in every IVF query (the
    ann_ivf_pq decomposition measured the old chain at 4 scheduling
    round-trips for 0.5-0.8 s on 2000 vectors).

    A vector whose length is not ``EMB_DIM`` fails the aggregation
    loudly (a shorter one would otherwise hit an index error, a longer
    one would be silently truncated); the check rides the same pass,
    and a NULL vector still contributes nothing."""
    v = F.when(
        F.size("v") != EMB_DIM,
        F.raise_error(F.lit(f"_centroids: embedding dimension is not {EMB_DIM}")),
    ).otherwise(F.col("v"))
    return emb.groupBy("label").agg(
        F.array(*[F.avg(F.element_at(v, i + 1)) for i in range(EMB_DIM)]).alias("centroid")
    )


def ivf_assign(emb: DataFrame, codebook: list) -> DataFrame:
    """Map-side IVF cell assignment: the (tiny, ncells×dim) codebook
    is folded into COLUMN LITERALS and the nearest-centroid argmax is
    a single projection — no join, no window, no Exchange anywhere
    between the scan and the assignment. (Round-1 shape was
    crossJoin(codebook) + row_number over a per-vec_id window: a full
    shuffle of rows×ncells just to take an argmax — VERDICT r01.)

    ``codebook`` is a list of Rows (cell_label, centroid, cn) sorted
    by cell_label; ties on similarity resolve to the smallest label
    (array_position returns the FIRST max). Adds ``cell_sims`` (the
    per-cell similarity array, reused by the probe step) and ``cell``.
    """
    cent_arr = F.array(
        *[
            F.array(*[F.lit(float(x)) for x in r.centroid])
            for r in codebook
        ]
    )
    labels = F.array(*[F.lit(r.cell_label) for r in codebook])
    norms = F.array(*[F.lit(float(r.cn)) for r in codebook])
    # materialize sims as a real column: argmax references it twice,
    # and an interpreted-HOF expression captured twice is evaluated
    # twice (the round-1 O(n²) shingle lesson).
    sims = F.zip_with(
        cent_arr,
        norms,
        lambda c, n: _dot(F.col("v"), c) / (F.col("nrm") * n),
    )
    return (
        emb.withColumn("cell_sims", sims)
        .withColumn(
            "cell",
            F.element_at(
                labels, F.array_position(F.col("cell_sims"), F.array_max("cell_sims")).cast("int")
            ),
        )
    )


def ivf_probe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: vectors are assigned to their nearest centroid
    cell (inverted file); the query scores only the nprobe=2 nearest
    cells' members. At 100 TB the cells are the partition/pruning
    unit — a probe touches nprobe/ncells of the data, and assignment
    is a zero-shuffle map-side argmax against the literal codebook
    (the codebook is ncells×dim floats — collecting it to the driver
    is the standard IVF pattern; everything per-row stays
    distributed)."""
    emb = _prepared(spark, sf_dir).drop("label")
    codebook = sorted(
        _centroids(_prepared(spark, sf_dir))
        .withColumnRenamed("label", "cell_label")
        .withColumn("cn", _norm(F.col("centroid")))
        .collect(),
        key=lambda r: r.cell_label,
    )
    assigned = ivf_assign(emb, codebook).select("vec_id", "v", "nrm", "cell", "cell_sims")
    # query row + its nprobe=2 nearest cells, straight from the
    # already-computed per-cell similarity array (no second pass over
    # the codebook): sort (−sim, label) ascending = sim desc, label asc.
    q = assigned.filter(F.col("vec_id") == QUERY_VEC_ID)
    labels = F.array(*[F.lit(r.cell_label) for r in codebook])
    probe = F.transform(
        F.slice(
            F.array_sort(
                F.zip_with(
                    F.col("cell_sims"), labels,
                    lambda s, lb: F.struct((-s).alias("negsim"), lb.alias("lb")),
                )
            ),
            1, 2,
        ),
        lambda e: e["lb"],
    )
    q_cells = F.broadcast(q.select(probe.alias("qcells")))
    cands = (
        assigned.drop("cell_sims")
        .join(q_cells, F.array_contains(F.col("qcells"), F.col("cell")))
        .filter(F.col("vec_id") != QUERY_VEC_ID)
    )
    scored = cosine_to_query(cands, q)
    return (
        scored.select("vec_id", F.round("cosine_raw", 4).alias("cosine"), "cosine_raw")
        .orderBy(F.desc("cosine_raw"), "vec_id")
        .limit(TOP_K)
        .select("vec_id", "cosine")
    )


@register(
    "knn_per_label_centroid",
    oracle="""
    WITH pos AS (
      SELECT label, i, embedding[i] AS x
      FROM embeddings, LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i)
    ), cent AS (
      SELECT label, i, avg(x) AS cx FROM pos GROUP BY label, i
    )
    SELECT label, round(sqrt(sum(cx * cx)), 4) AS avg_norm
    FROM cent GROUP BY label ORDER BY label
    """,
)
def knn_per_label_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid norms — the aggregation pattern behind IVF
    coarse quantization (centroid assignment = nearest centroid).
    Element-wise array average via posexplode + groupBy, fully
    distributed."""
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "label", _as_double().alias("v"))
    pos = emb.select("label", F.posexplode("v").alias("pos", "x"))
    cent = pos.groupBy("label", "pos").agg(F.avg("x").alias("cx"))
    norms = cent.groupBy("label").agg(F.sqrt(F.sum(F.col("cx") * F.col("cx"))).alias("avg_norm_raw"))
    return norms.select("label", F.round("avg_norm_raw", 4).alias("avg_norm")).orderBy("label")


@register(
    "embedding_quantize_int8",
    oracle="""
    WITH d AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), s AS (
      SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) / 127 AS scale
      FROM d
    )
    SELECT vec_id, round(scale, 6) AS scale,
           CAST(list_sum(list_transform(v, x -> round(x / scale)))
                AS BIGINT) AS code_sum,
           round(sqrt(list_sum(list_transform(v,
                 x -> pow(x - round(x / scale) * scale, 2)))), 6) AS l2_err
    FROM s WHERE scale > 0
    ORDER BY vec_id
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization (scale = max|x|/127) with
    reconstruction error — the storage-shrink step before ANN indexing
    at scale (4x smaller vectors, distances on codes). Everything stays
    in JVM higher-order functions: no UDF, no explode — one projection,
    zero shuffles. code_sum is exact (integers), so it hash-verifies the
    quantization itself; l2_err verifies the reconstruction arithmetic.
    |x/scale| <= 127 by construction, so no clamp is needed."""
    emb = table(spark, sf_dir, "embeddings").select("vec_id", _as_double().alias("v"))
    # NB: the raw scale column must NOT be named like the rounded output
    # alias below — lambda references in the same select resolve the
    # lateral alias first, silently quantizing with the 6dp-rounded
    # scale (0.3% l2_err skew; found by the oracle hash).
    emb = emb.withColumn(
        "scale_raw", F.array_max(F.transform("v", lambda x: F.abs(x))) / F.lit(127.0)
    ).filter(F.col("scale_raw") > 0)
    code = lambda x: F.round(x / F.col("scale_raw"))  # noqa: E731
    return emb.select(
        "vec_id",
        F.round("scale_raw", 6).alias("scale"),
        F.aggregate(
            F.transform("v", code), F.lit(0.0), lambda acc, c: acc + c
        ).cast("bigint").alias("code_sum"),
        F.round(
            F.sqrt(
                F.aggregate(
                    F.transform("v", lambda x: F.pow(x - code(x) * F.col("scale_raw"), F.lit(2.0))),
                    F.lit(0.0),
                    lambda acc, e: acc + e,
                )
            ),
            6,
        ).alias("l2_err"),
    ).orderBy("vec_id")


# --------------------------------------------------------------------------
# batched top-k (retrieval serving shape)
# --------------------------------------------------------------------------
BATCH_Q_MOD = 50  # vec_id % 50 == 0 → the query batch (~2% of vectors)
BATCH_TOP_K = 3


@register(
    "ann_batch_topk",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id % {BATCH_Q_MOD} = 0
    ),
    c AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id % {BATCH_Q_MOD} <> 0
    ),
    scored AS (
      SELECT q.qid, c.vec_id,
             list_cosine_similarity(c.v, q.qv) AS cos_raw
      FROM q CROSS JOIN c
    )
    SELECT qid, vec_id, round(cos_raw, 4) AS cosine,
           CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_raw DESC, vec_id)
                AS BIGINT) AS rank
    FROM scored
    QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos_raw DESC, vec_id) <= {BATCH_TOP_K}
    ORDER BY qid, rank
    """,
)
def ann_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{BATCH_TOP_K} nearest corpus vectors for a BATCH of query
    vectors — the retrieval-serving shape (one query per user request,
    batched for throughput), vs the single-query
    ``ann_bruteforce_topk``.

    The query batch is broadcast BY CONSTRUCTION bounded (it is a
    request batch, not a corpus slice), the corpus side streams
    through the join map-side — zero shuffle of the corpus — and the
    per-query top-k window partitions on qid, so the sort state is
    k-bounded per query. The exact-scoring inner loop is the codegen'd
    HOF dot product; at production corpus sizes the LSH/IVF variants
    (``ann_lsh_buckets``/``ann_ivf_probe``) prune the corpus FIRST and
    feed this same scoring/ranking tail."""
    emb = _prepared(spark, sf_dir)
    q = emb.filter(F.col("vec_id") % BATCH_Q_MOD == 0).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    c = emb.filter(F.col("vec_id") % BATCH_Q_MOD != 0)
    scored = c.crossJoin(F.broadcast(q)).withColumn(
        "cos_raw", _dot(F.col("v"), F.col("qv")) / (F.col("nrm") * F.col("qn"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos_raw"), "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BATCH_TOP_K)
        .select(
            "qid",
            "vec_id",
            F.round("cos_raw", 4).alias("cosine"),
            F.col("rank").cast("bigint").alias("rank"),
        )
        .orderBy("qid", "rank")
    )


# --------------------------------------------------------------------------
# Product quantization (PQ) — the embedding-COMPRESSION scale path
# --------------------------------------------------------------------------
# At 100 TB of float32 embeddings the working set itself is the
# bottleneck; PQ stores M sub-space centroid ids (here 8 bytes/vector
# vs 256 bytes of floats, 32x) and scores with an asymmetric distance
# table (ADC), exact-reranking only a small candidate pool. Vectors
# are UNIT-NORMALIZED first so sub-space L2 and cosine rank
# identically (d2 = 2 - 2*cos). Codebooks inherit kmeans_codebook's
# float-accumulation caveat -> rows-only registration, recall pinned
# by tests (the ivf_kmeans_codebook precedent).
PQ_K = 16         # centroids per sub-space (codes fit a nibble+)
PQ_REFINE = 50    # ADC candidate pool exact-reranked


PQ_TRAIN_SAMPLE = 16_384  # vectors collected for codebook training


def pq_codebooks(emb: DataFrame, **kw):
    """Codebooks only — see ``pq_codebooks_and_query``."""
    return pq_codebooks_and_query(emb, **kw)[0]


def pq_codebooks_and_query(
    emb: DataFrame,
    m: int = PQ_M,
    sub: int = PQ_SUB,
    k: int = PQ_K,
    iters: int = 3,
    sample: int = PQ_TRAIN_SAMPLE,
):
    """Per-sub-space k-means codebooks over UNIT vectors, trained
    driver-side on a BOUNDED deterministic sample — the production PQ
    posture (FAISS ``train()`` fits codebooks on ~10⁴–10⁶ sampled
    vectors regardless of corpus size; a codebook is a constant-sized
    model, not a corpus statistic). The sample is the ``sample``
    lowest vec_ids (one distributed TakeOrdered job — partial top-N
    per partition, never a full sort), ≤ sample×d doubles across the
    driver by construction; all M sub-spaces then train in one numpy
    loop (GEMM assignment: argmax of x·c − ||c||²/2 ≡ argmin L2,
    first-match tie-break like the old array_position fold; empty
    cells keep their previous centroid).

    History of this shape: M independent distributed trainings ran 40
    sequential jobs (16.5 s of job latency at sf0.01, r6); the r7
    lockstep rewrite cut that to ~4 jobs but paid interpreted
    Catalyst-HOF assignment per row (13% of the bench headline,
    VERDICT r7 #1); driver-side sample training is 1 job + pure numpy,
    and is MORE deterministic than either (fixed in-sample order, no
    distributed float accumulation — though still rows-only: the
    sample prefix is fixture-dependent, recall pinned
    tolerance-based)."""
    import numpy as np

    unit = emb.select(
        "vec_id",
        F.transform(F.col("v"), lambda x: x / F.col("nrm")).alias("u"),
    )
    rows = unit.orderBy("vec_id").limit(sample).collect()
    X = np.asarray([list(r["u"]) for r in rows], dtype=np.float64)
    # a corpus smaller than k trains k_eff=len(X) centroids per
    # sub-space, like the replaced distributed implementation (whose
    # init limit(k) simply yielded fewer rows) — the bincount/books
    # shapes must agree or tiny corpora crash (code-review r8)
    k_eff = min(k, len(X))
    books = np.asarray(
        [X[:k_eff, i * sub : (i + 1) * sub].copy() for i in range(m)]
    )  # deterministic init: the k_eff lowest vec_ids, sliced
    for _ in range(iters):
        for mi in range(m):
            Xm = np.ascontiguousarray(X[:, mi * sub : (mi + 1) * sub])
            C = books[mi]
            scores = Xm @ C.T - 0.5 * (C * C).sum(axis=1)
            cells = scores.argmax(axis=1)
            cnt = np.bincount(cells, minlength=k_eff)
            sums = np.zeros((k_eff, sub))
            for d in range(sub):
                sums[:, d] = np.bincount(cells, weights=Xm[:, d], minlength=k_eff)
            nz = cnt > 0
            books[mi][nz] = sums[nz] / cnt[nz, None]
    books_out = [[list(map(float, c)) for c in bk] for bk in books]
    # The unit QUERY vector rides the SAME collect: QUERY_VEC_ID is the
    # fixture minimum, so it is in the lowest-vec_id training sample,
    # and its u column is the identical IEEE division the callers
    # previously re-derived with a separate .first() job (2 scheduling
    # round-trips per ANN query — the ann_ivf_pq decomposition).
    qu = next(
        (list(map(float, r["u"])) for r in rows if r["vec_id"] == QUERY_VEC_ID),
        None,
    )
    return books_out, qu


def pq_encode(emb: DataFrame, books) -> DataFrame:
    """codes[m] = 1-based id of the nearest sub-space centroid — an
    Arrow mapInPandas pass (one GEMM per sub-space per batch; the
    blocked-GEMM pattern of ``dedup._cosine_block_kernel``), zero
    shuffle between scan and codes beyond the parallelism spread. All
    input columns pass through unchanged; ``codes`` is appended — same
    contract as the former Catalyst-HOF fold, ~5× cheaper (the per-row
    M×K×sub interpreted expression evaluations were 13% of the bench
    headline, VERDICT r7 #1)."""
    import numpy as np
    from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

    from .dedup import spread

    books_np = np.asarray(books, dtype=np.float64)
    m, _, sub = books_np.shape
    half_csq = 0.5 * (books_np * books_np).sum(axis=2)
    out_schema = StructType(
        list(emb.schema.fields) + [StructField("codes", ArrayType(IntegerType()))]
    )

    def kernel(batches):
        import pandas as pd  # noqa: F401 — executor-side import

        for pdf in batches:
            if not len(pdf):
                continue
            U = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            U /= pdf["nrm"].to_numpy()[:, None]
            codes = np.empty((len(pdf), m), dtype=np.int32)
            for mi in range(m):
                Um = np.ascontiguousarray(U[:, mi * sub : (mi + 1) * sub])
                scores = Um @ books_np[mi].T - half_csq[mi]
                codes[:, mi] = scores.argmax(axis=1) + 1  # 1-based
            pdf = pdf.copy()
            pdf["codes"] = list(codes)
            yield pdf

    return spread(emb, "vec_id").mapInPandas(kernel, out_schema)


def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ + asymmetric-distance ANN: encode the corpus to {PQ_M}
    centroid ids, score against the query's per-sub-space distance
    TABLE (a literal lookup — the corpus floats are never touched
    during scanning), exact-rerank the top {PQ_REFINE} ADC candidates
    by true cosine, return the top {TOP_K}.

    Scale posture: the scan reads (vec_id, codes) — 8 bytes of code
    per vector instead of 256 of floats (the 32× memory story); ADC is
    a map-side sum of M table lookups (zero shuffle, zero join); only
    the REFINE pool's float vectors are fetched for reranking. The
    codebooks/tables are M×K×{PQ_SUB} floats — broadcast-literal sized
    by construction. Recall vs exact top-k pinned in
    ``tests/test_pq_recall.py``."""
    emb = _prepared(spark, sf_dir)
    books, qu = pq_codebooks_and_query(emb)
    coded = pq_encode(emb, books)
    # query-side distance tables, driver-side from the single query
    # vector (M×K floats); qu rode the codebook training collect
    # (fallback only if the query id were outside the sample prefix)
    if qu is None:
        qrow = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select("v", "nrm").first()
        qu = [x / qrow["nrm"] for x in qrow["v"]]
    tables = []
    for i, book in enumerate(books):
        qs = qu[i * PQ_SUB : (i + 1) * PQ_SUB]
        tables.append(
            [sum((a - b) * (a - b) for a, b in zip(qs, c)) for c in book]
        )
    tab_lit = F.array(
        *[F.array(*[F.lit(float(d)) for d in t]) for t in tables]
    )
    adc = F.aggregate(
        F.zip_with(
            F.col("codes"),
            tab_lit,
            lambda code, tab: F.element_at(tab, code),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pool = (
        coded.filter(F.col("vec_id") != QUERY_VEC_ID)
        .withColumn("adc_d2", adc)
        .orderBy("adc_d2", "vec_id")
        .limit(PQ_REFINE)
        .select("vec_id", "v", "nrm")
    )
    q = emb.filter(F.col("vec_id") == QUERY_VEC_ID)
    scored = cosine_to_query(pool, q)
    return (
        scored.select("vec_id", F.round("cosine_raw", 4).alias("cosine"), "cosine_raw")
        .orderBy(F.desc("cosine_raw"), "vec_id")
        .limit(TOP_K)
        .select("vec_id", "cosine")
    )


def ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the production FAISS index shape, composed from the
    two halves this module already proves separately: the IVF coarse
    quantizer prunes the corpus to the query's nprobe=2 nearest cells
    (``ann_ivf_probe``'s partition-pruning analog), and WITHIN the
    probed cells scoring runs on 8-byte PQ codes against the query's
    literal ADC tables (``ann_pq_adc``'s 32× memory story) — floats
    are touched only for the exact rerank of the top {PQ_REFINE}
    candidates.

    Scale posture: at 100 TB the persisted index relation is
    (vec_id, cell, codes) — cell is the partition key (a probe reads
    nprobe/ncells of the data off disk), codes are 8 bytes/vector, and
    the scan is map-side ADC (zero shuffle, zero join besides the
    broadcast probe-cell set). Driver traffic is the k×d centroid
    matrix + M×K codebooks — bounded by construction. Rows-only (both
    trainings inherit float-accumulation nondeterminism); recall
    pinned vs the exact top-k in ``tests/test_ivf_pq_recall.py``."""
    emb = _prepared(spark, sf_dir)
    # coarse quantizer + assignment (one pass, map-side argmax)
    codebook = sorted(
        _centroids(emb)
        .withColumnRenamed("label", "cell_label")
        .withColumn("cn", _norm(F.col("centroid")))
        .collect(),
        key=lambda r: r.cell_label,
    )
    assigned = ivf_assign(emb.drop("label"), codebook).select(
        "vec_id", "v", "nrm", "cell", "cell_sims"
    )
    # PQ codes over the SAME corpus (unit-normalized sub-spaces)
    books, qu = pq_codebooks_and_query(emb)
    coded = pq_encode(assigned, books).select("vec_id", "cell", "cell_sims", "codes", "v", "nrm")
    # query: nprobe nearest cells + per-sub-space ADC tables (driver
    # side, M×K floats — same literal-table pattern as ann_pq_adc);
    # qu rode the codebook training collect
    if qu is None:
        qrow = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select("v", "nrm").first()
        qu = [x / qrow["nrm"] for x in qrow["v"]]
    tables = []
    for i, book in enumerate(books):
        qs = qu[i * PQ_SUB : (i + 1) * PQ_SUB]
        tables.append([sum((a - b) * (a - b) for a, b in zip(qs, c)) for c in book])
    tab_lit = F.array(*[F.array(*[F.lit(float(d)) for d in t]) for t in tables])
    q = coded.filter(F.col("vec_id") == QUERY_VEC_ID)
    labels = F.array(*[F.lit(r.cell_label) for r in codebook])
    probe = F.transform(
        F.slice(
            F.array_sort(
                F.zip_with(
                    F.col("cell_sims"), labels,
                    lambda s, lb: F.struct((-s).alias("negsim"), lb.alias("lb")),
                )
            ),
            1, 2,
        ),
        lambda e: e["lb"],
    )
    q_cells = F.broadcast(q.select(probe.alias("qcells")))
    adc = F.aggregate(
        F.zip_with(F.col("codes"), tab_lit, lambda code, tab: F.element_at(tab, code)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pool = (
        coded.drop("cell_sims")
        .join(q_cells, F.array_contains(F.col("qcells"), F.col("cell")))
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .withColumn("adc_d2", adc)
        .orderBy("adc_d2", "vec_id")
        .limit(PQ_REFINE)
        .select("vec_id", "v", "nrm")
    )
    scored = cosine_to_query(pool, emb.filter(F.col("vec_id") == QUERY_VEC_ID))
    return (
        scored.select("vec_id", F.round("cosine_raw", 4).alias("cosine"), "cosine_raw")
        .orderBy(F.desc("cosine_raw"), "vec_id")
        .limit(TOP_K)
        .select("vec_id", "cosine")
    )


@register("ann_ivf_probe", oracle=_ANN_SUMMARY_ORACLE)
def ann_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-probe ANN, driver-gated as a recall bounds check
    (r12; was rows-only). The top-k list surface is
    ``ivf_probe_topk`` — see its docstring for the scale posture."""
    return _ann_recall_summary(
        spark, sf_dir, ivf_probe_topk(spark, sf_dir),
        ANN_RECALL_FLOORS["ann_ivf_probe"],
    )


@register("ann_pq_adc", oracle=_ANN_SUMMARY_ORACLE)
def ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ + asymmetric-distance ANN, driver-gated as a recall bounds
    check (r12; was rows-only). The top-k list surface is
    ``pq_adc_topk`` — see its docstring for the 32x memory story."""
    return _ann_recall_summary(
        spark, sf_dir, pq_adc_topk(spark, sf_dir),
        ANN_RECALL_FLOORS["ann_pq_adc"],
    )


@register("ann_ivf_pq", oracle=_ANN_SUMMARY_ORACLE)
def ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (the production FAISS shape), driver-gated as a recall
    bounds check (r12; was rows-only). The top-k list surface is
    ``ivf_pq_topk`` — see its docstring for the partition-pruning
    story."""
    return _ann_recall_summary(
        spark, sf_dir, ivf_pq_topk(spark, sf_dir),
        ANN_RECALL_FLOORS["ann_ivf_pq"],
    )


# ---------------------------------------------------------------------------
# distributed PCA projection (embedding dimensionality reduction)
# ---------------------------------------------------------------------------
# The standard pre-pass before ANN indexing / clustering at scale:
# project d=64 embeddings onto the top-k principal components. The
# covariance is assembled DISTRIBUTED — each partition emits one
# (d×d partial Gram, partial sum, count) via an Arrow-batched kernel,
# a d²-sized relation (64² doubles ≈ 32 KB per partition) — then the
# driver combines the FEW partials, eigendecomposes the d×d matrix
# (O(d³), microseconds), and broadcasts the k×d projection back for a
# map-side transform. Nothing corpus-proportional ever reaches the
# driver; the same shape at 100 TB with 1000 executors is one shuffle-
# free pass + a d²-per-task reduce.
PCA_K = 8


def _partial_moments_kernel(batches):
    """Per-batch (n, sum_d, flattened Gram X^T X) — combined
    associatively downstream, so partition order cannot change the
    result beyond float addition order WITHIN a partition (fixed by
    the deterministic replay layout)."""
    import numpy as np
    import pandas as pd

    for pdf in batches:
        X = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
        if len(X) == 0:
            continue
        yield pd.DataFrame(
            {
                "n": [len(X)],
                "s": [X.sum(axis=0).tolist()],
                "g": [(X.T @ X).ravel().tolist()],
            }
        )


def pca_components(emb: DataFrame, k: int = PCA_K):
    """(mean, components[k×d], explained_var[k]) from the distributed
    moment pass. Driver work is O(partitions·d² + d³) — bounded by
    construction, the same contract as the ANN codebook collects.
    Component sign is canonicalized (largest-|loading| coordinate
    positive) so replays are byte-stable."""
    import numpy as np

    parts = emb.select("embedding").mapInPandas(
        _partial_moments_kernel, schema="n long, s array<double>, g array<double>"
    ).collect()
    if not parts:
        raise ValueError("pca_components: empty embedding input")
    n = sum(p["n"] for p in parts)
    d = len(parts[0]["s"])
    s = np.zeros(d)
    g = np.zeros((d, d))
    for p in parts:
        s += np.asarray(p["s"])
        g += np.asarray(p["g"]).reshape(d, d)
    mean = s / n
    cov = (g - n * np.outer(mean, mean)) / max(n - 1, 1)
    w, v = np.linalg.eigh(cov)  # ascending
    order = np.argsort(w)[::-1][:k]
    comps = v[:, order].T  # k×d
    for i in range(comps.shape[0]):
        j = int(np.abs(comps[i]).argmax())
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return mean, comps, w[order]


def pca_project(emb: DataFrame, mean, comps) -> DataFrame:
    """vec_id + k-dim projection, map-side (broadcast mean/components
    inside the Arrow kernel closure)."""
    import numpy as np

    mean_l = np.asarray(mean, dtype=np.float64)
    comps_l = np.asarray(comps, dtype=np.float64)

    def kernel(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            X = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            if len(X) == 0:
                continue
            P = (X - mean_l) @ comps_l.T
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "proj": list(map(list, P))})

    return emb.select("vec_id", "embedding").mapInPandas(
        kernel, schema="vec_id long, proj array<double>"
    )


def pca_projection_milli(emb: DataFrame, k: int = PCA_K) -> DataFrame:
    """Top-k PCA projection, coordinates quantized to integer
    milli-units for replay-stable output — the per-vector library
    surface (pinned by tests/test_pca.py: exact match vs numpy's
    full-matrix PCA, orthonormal components, monotone explained
    variance, shrinking reconstruction error)."""
    mean, comps, _ = pca_components(emb, k)
    proj = pca_project(emb, mean, comps)
    return proj.select(
        "vec_id",
        F.transform("proj", lambda x: F.floor(x * 1000).cast("long")).alias(
            "proj_milli"
        ),
    ).orderBy("vec_id")


@register(
    "embedding_pca_project",
    oracle=f"""
    SELECT CAST(count(*) AS BIGINT) AS n_vecs,
           {PCA_K} AS k,
           true AS ortho_ok,
           true AS var_monotone_ok,
           true AS proj_var_ok,
           true AS recon_nonneg_ok
    FROM embeddings
    """,
)
def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA, driver-gated as a BOUNDS CHECK (r12; was
    rows-only — eigendecomposition is not SQL, but its PROMISES are):
    the gate row carries the cross-engine vector count plus four
    engine-computed booleans the oracle pins to TRUE —
    components orthonormal (max |C·Cᵀ − I| ≤ 1e-8), eigenvalues
    non-increasing, projected variance equal to the top-{PCA_K}
    eigenvalue sum within 1e-6 relative (Σ‖(x−μ)Cᵀ‖²/(n−1) vs Σλ —
    the eigen-promise, verified by an independent distributed pass
    over the data), and Bessel nonnegativity (centered energy ≥
    projected energy). The float aggregates feed BOOLEANS with 1e-6
    tolerances, not hashed values, so partition-order double jitter
    (~1e-15) cannot flip the gate. Per-vector projections remain the
    library surface (``pca_projection_milli``), pinned by
    tests/test_pca.py."""
    import numpy as np

    from .dedup import spread

    emb = spread(table(spark, sf_dir, "embeddings"), "vec_id")
    mean, comps, lam = pca_components(emb, PCA_K)
    ortho_ok = bool(
        np.abs(comps @ comps.T - np.eye(comps.shape[0])).max() <= 1e-8
    )
    var_monotone_ok = bool(np.all(np.diff(lam) <= 1e-12))
    lam_sum = float(np.sum(lam))
    mean_l = np.asarray(mean, dtype=np.float64)
    comps_l = np.asarray(comps, dtype=np.float64)

    def energy_kernel(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            X = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            if len(X) == 0:
                yield pd.DataFrame({"n": [0], "ssq_c": [0.0], "ssq_p": [0.0]})
                continue
            Xc = X - mean_l
            P = Xc @ comps_l.T
            yield pd.DataFrame(
                {
                    "n": [len(X)],
                    "ssq_c": [float((Xc * Xc).sum())],
                    "ssq_p": [float((P * P).sum())],
                }
            )

    stats = (
        emb.select("embedding")
        .mapInPandas(energy_kernel, schema="n long, ssq_c double, ssq_p double")
        .agg(
            F.sum("n").alias("n"),
            F.sum("ssq_c").alias("ssq_c"),
            F.sum("ssq_p").alias("ssq_p"),
        )
    )
    return stats.select(
        F.col("n").cast("bigint").alias("n_vecs"),
        F.lit(PCA_K).alias("k"),
        F.lit(ortho_ok).alias("ortho_ok"),
        F.lit(var_monotone_ok).alias("var_monotone_ok"),
        (
            F.abs(F.col("ssq_p") / (F.col("n") - 1) - F.lit(lam_sum))
            <= F.lit(1e-6) * F.lit(lam_sum)
        ).alias("proj_var_ok"),
        (F.col("ssq_c") >= F.col("ssq_p")).alias("recon_nonneg_ok"),
    )


# ---------------------------------------------------------------------------
# radius (range) search — the other half of the ANN API
# ---------------------------------------------------------------------------
# Top-k answers "the best k matches"; radius search answers "EVERYTHING
# at least this similar" — the retrieval mode dedup candidate
# generation and near-duplicate audits actually want (result size is
# data-dependent, not fixed). Same single-scan broadcast-query plan as
# ann_bruteforce_topk, but the cut is a map-side predicate, so there
# is NO global ordering stage at all — at 100 TB this is one scan +
# one write, the cheapest possible exact retrieval shape.
RADIUS = 0.25


@register(
    "ann_radius_search",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID})
    SELECT vec_id, round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                       CAST(qv AS DOUBLE[])), 4) AS cosine
    FROM embeddings, q
    WHERE vec_id != {QUERY_VEC_ID}
      AND list_cosine_similarity(CAST(embedding AS DOUBLE[]), CAST(qv AS DOUBLE[]))
            >= {RADIUS}
    ORDER BY vec_id
    """,
)
def ann_radius_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All vectors with cosine ≥ {RADIUS} to the query vector — exact,
    map-only after the broadcast. (Fixture cosines cluster ~1e-3 apart
    near the threshold while cross-engine float drift is ~1e-15, the
    same margin argument the 4dp-rounded cosine outputs rest on.)"""
    emb = _prepared(spark, sf_dir)
    q = emb.filter(F.col("vec_id") == QUERY_VEC_ID)
    scored = cosine_to_query(emb.filter(F.col("vec_id") != QUERY_VEC_ID), q)
    return (
        scored.filter(F.col("cosine_raw") >= RADIUS)
        .select("vec_id", F.round("cosine_raw", 4).alias("cosine"))
        .orderBy("vec_id")
    )


# --------------------------------------------------------------------------
# hard-negative mining (contrastive-training batch construction)
# --------------------------------------------------------------------------
# Triplet/InfoNCE training wants, per anchor, the negatives the model
# currently confuses MOST: highest-cosine corpus vectors with a
# DIFFERENT label, reported with the margin against the anchor's best
# same-label positive (margin <= 0 ⇒ an active triplet violation).
HN_K = 5
HN_Q_MOD = 50  # vec_id % 50 == 0 → the anchor batch (~2% of vectors)


@register(
    "ann_hard_negatives",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS qid, label AS qlabel,
             CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id % {HN_Q_MOD} = 0
    ),
    c AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id % {HN_Q_MOD} <> 0
    ),
    scored AS (
      SELECT q.qid, q.qlabel, c.vec_id, c.label,
             list_cosine_similarity(c.v, q.qv) AS cos_raw
      FROM q CROSS JOIN c
    ),
    pos AS (
      SELECT qid, max(cos_raw) AS pos_raw
      FROM scored WHERE label = qlabel GROUP BY qid
    ),
    neg AS (
      SELECT qid, vec_id, label, cos_raw,
             row_number() OVER (PARTITION BY qid ORDER BY cos_raw DESC, vec_id)
               AS rank
      FROM scored WHERE label <> qlabel
    )
    SELECT n.qid, n.vec_id AS neg_id, n.label AS neg_label,
           CAST(n.rank AS BIGINT) AS rank,
           round(n.cos_raw, 4) AS neg_cosine,
           round(p.pos_raw - n.cos_raw, 4) AS margin
    FROM neg n JOIN pos p USING (qid)
    WHERE n.rank <= {HN_K}
    ORDER BY n.qid, n.rank
    """,
)
def ann_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{HN_K} cross-label nearest neighbors per anchor with the
    triplet margin against the anchor's best same-label positive —
    the distributed mining pass a contrastive fine-tune runs between
    epochs.

    Plan shape is the ann_batch_topk serving shape, hardened for the
    mining batch: the anchor batch is broadcast (request-sized by
    construction) and the corpus streams map-side through ONE scoring
    pass whose top-{HN_K} window partitions on (qid, is_pos) — so
    Spark's Partial WindowGroupLimit bounds EACH map partition's
    output at {HN_K} rows per anchor per class BEFORE the exchange
    (plan-gated), and only that reduced relation (≤ 2·{HN_K}·|anchors|
    rows total) is ever cached or shuffled. The positive max and the
    final negative rank both derive from the reduced relation: the
    same-label top-{HN_K} contains the per-anchor max, the cross-label
    top-{HN_K} IS the negative set (a second, reduced-sized window
    re-ranks it). The corpus itself is never shuffled or materialized.
    At production scale the IVF/LSH pruners feed this same tail —
    mining only needs CANDIDATE negatives, so pruned recall trades off
    exactly like serving recall."""
    from ..plans import tracked_cache

    emb = _prepared(spark, sf_dir)
    q = emb.filter(F.col("vec_id") % HN_Q_MOD == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    c = emb.filter(F.col("vec_id") % HN_Q_MOD != 0)
    scored = c.crossJoin(F.broadcast(q)).select(
        "qid",
        "vec_id",
        "label",
        (F.col("label") == F.col("qlabel")).alias("is_pos"),
        (_dot(F.col("v"), F.col("qv")) / (F.col("nrm") * F.col("qn"))).alias(
            "cos_raw"
        ),
    )
    w0 = Window.partitionBy("qid", "is_pos").orderBy(F.desc("cos_raw"), "vec_id")
    reduced = tracked_cache(
        scored.withColumn("r0", F.row_number().over(w0)).filter(F.col("r0") <= HN_K)
    )
    pos = reduced.filter(F.col("is_pos")).groupBy("qid").agg(
        F.max("cos_raw").alias("pos_raw")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos_raw"), "vec_id")
    neg = (
        reduced.filter(~F.col("is_pos"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= HN_K)
    )
    return (
        neg.join(F.broadcast(pos), "qid")
        .select(
            "qid",
            F.col("vec_id").alias("neg_id"),
            F.col("label").alias("neg_label"),
            F.col("rank").cast("bigint").alias("rank"),
            F.round("cos_raw", 4).alias("neg_cosine"),
            F.round(F.col("pos_raw") - F.col("cos_raw"), 4).alias("margin"),
        )
        .orderBy("qid", "rank")
    )
