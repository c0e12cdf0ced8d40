"""Recall pin for the composed IVF-PQ index. Since r12 the registry
row is an oracle-backed recall SUMMARY (exact k-th cosine + recall_ok
boolean); these tests pin the underlying top-k list surfaces
(ivf_probe_topk / ivf_pq_topk) at tighter measured floors. IVF-PQ
stacks TWO approximations (cell pruning + code distances), so its
floor sits at/below the looser of its parents' floors
(IVF ≥ its probe recall, PQ ≥ 0.65/0.75)."""

from __future__ import annotations

import pytest

import pg_bifrost_spark.plans as plans

plans.load_all()

SF = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


def _recall(spark, sf, name):
    # r12: the registry rows became recall SUMMARIES; the pair lists
    # live on the library surfaces
    from pg_bifrost_spark.operators import similarity as sim

    fn = {"ivf_probe": sim.ivf_probe_topk, "ivf_pq": sim.ivf_pq_topk}[name]
    exact = {r.vec_id for r in plans.QUERIES["ann_bruteforce_topk"](spark, sf).collect()}
    got = {r.vec_id for r in fn(spark, sf).collect()}
    assert exact
    return len(got & exact) / len(exact)


def test_ivf_pq_recall_floor(spark):
    """Two pins: (a) COMPOSITION TIGHTNESS — stacking PQ-ADC scoring on
    the probed cells must cost ≈nothing beyond the coarse pruning
    itself (measured EQUAL: 0.30/0.30 at sf0.001, 0.40/0.40 at sf0.01
    — the refine pool exact-reranks everything that matters inside
    small cells), so ivf_pq may trail ivf_probe by at most one
    neighbor; (b) absolute floors under the measured values. The
    coarse recall itself is a property of the per-label quantizer at
    nprobe=2, pinned separately (test_ivf_recall.py)."""
    for sf, floor in [(SF, 0.2), (SF01, 0.3)]:
        probe = _recall(spark, sf, "ivf_probe")
        both = _recall(spark, sf, "ivf_pq")
        assert both >= probe - 0.1, (sf, probe, both)
        assert both >= floor, (sf, both)


def test_ivf_pq_candidates_come_from_probed_cells_only(spark):
    """The scan-pruning claim: every returned neighbor lives in one of
    the query's nprobe nearest cells (the 100 TB partition-pruning
    story is exactly this subset property)."""
    from pyspark.sql import functions as F

    from pg_bifrost_spark.operators.similarity import (
        QUERY_VEC_ID,
        _centroids,
        _norm,
        _prepared,
        ivf_assign,
    )

    emb = _prepared(spark, SF)
    codebook = sorted(
        _centroids(emb)
        .withColumnRenamed("label", "cell_label")
        .withColumn("cn", _norm(F.col("centroid")))
        .collect(),
        key=lambda r: r.cell_label,
    )
    assigned = ivf_assign(emb.drop("label"), codebook)
    cells = {r.vec_id: r.cell for r in assigned.select("vec_id", "cell").collect()}
    qrow = assigned.filter(F.col("vec_id") == QUERY_VEC_ID).select("cell_sims").first()
    sims = list(qrow[0])
    order = sorted(range(len(sims)), key=lambda i: (-sims[i], codebook[i].cell_label))
    probed = {codebook[i].cell_label for i in order[:2]}
    from pg_bifrost_spark.operators.similarity import ivf_pq_topk

    got = {r.vec_id for r in ivf_pq_topk(spark, SF).collect()}
    assert got and all(cells[v] in probed for v in got)


def test_centroids_reject_wrong_dimension(spark):
    """The IVF codebook build fails loudly on a vector that is not
    EMB_DIM long (a 32-dim one used to hit an index error, a 96-dim
    one was silently truncated to 64), and the 64-dim fixture still
    yields the per-label mean vectors."""
    from pyspark.sql import functions as F

    from pg_bifrost_spark.operators.similarity import EMB_DIM, _centroids, _prepared

    emb = _prepared(spark, SF).select("label", "v")
    short = emb.select("label", F.slice("v", 1, 32).alias("v"))
    long_ = emb.select("label", F.concat("v", F.slice("v", 1, 32)).alias("v"))
    for bad in (short, long_):
        with pytest.raises(Exception, match=f"embedding dimension is not {EMB_DIM}"):
            _centroids(bad).collect()

    by_label: dict = {}
    for r in emb.collect():
        by_label.setdefault(r.label, []).append(r.v)
    got = {r.label: r.centroid for r in _centroids(emb).collect()}
    assert set(got) == set(by_label)
    for label, vecs in by_label.items():
        mean = [sum(col) / len(vecs) for col in zip(*vecs)]
        assert got[label] == pytest.approx(mean, rel=1e-9, abs=1e-12), label
