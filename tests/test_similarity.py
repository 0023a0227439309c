"""Similarity search (operators/similarity.py): LSH sketching and top-k,
near-dup self-join (hot-bucket cap, ``corpus_n``, ``n_planes="auto"``,
prefilter, dirty vectors), IVF assignment and top-k, and the fused IVF-PQ
scan ``ivfpq_probe_prune`` with the vector math it calls."""

from __future__ import annotations

import os
import time

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from dataflow_geobeam_spark.operators import similarity


# ---------------------------------------------------------------------------
# sign-bit sketches
# ---------------------------------------------------------------------------


def test_sketch_buckets_dim768_no_plan_blowup(spark):
    rng = np.random.default_rng(7)
    rows = [Row(vec_id=i, embedding=rng.standard_normal(768).astype(float).tolist()) for i in range(40)]
    df = spark.createDataFrame(rows)
    t0 = time.time()
    sk = similarity.sketch_buckets(df, "vec_id", "embedding", dim=768, n_planes=8, n_tables=16)
    out = sk.groupBy("table").count().collect()
    elapsed = time.time() - t0
    assert len(out) == 16 and all(r["count"] == 40 for r in out)
    assert elapsed < 60  # round-1 plan-literal version exploded analysis time


def test_sketch_buckets_deterministic_and_consistent_with_hyperplanes(spark):
    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((6, 16))
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=vecs[i].tolist()) for i in range(6)]
    )
    got = {
        (r._id, r.table, r.bucket)
        for r in similarity.sketch_buckets(df, "vec_id", "embedding", 16, 4, 3).collect()
    }
    want = set()
    for t in range(3):
        planes = similarity._hyperplanes(16, 4, t)
        for i in range(6):
            bits = (vecs[i] @ planes.T) > 0
            bucket = int((bits * (1 << np.arange(4))).sum())
            want.add((i, t, bucket))
    assert got == want


# ---------------------------------------------------------------------------
# LSH top-k
# ---------------------------------------------------------------------------


def test_lsh_topk_single_corpus_scan_and_no_plan_literals(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 5)
    df = similarity.lsh_topk(emb, q, k=3, dim=64)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # 4 scans total: corpus sketch + corpus vectors (re-rank) + query sketch
    # + query vectors. Round 1 unioned n_tables=24 sketch scans PER side.
    n_scans = plan.count("embeddings.parquet")
    assert n_scans <= 4, f"expected <=4 corpus scans, saw {n_scans}"
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------------------
# near-dup self-join: hot-bucket cap and its drop accounting
# ---------------------------------------------------------------------------


def test_near_dup_default_cap_bounds_degenerate_corpus(spark):
    from dataflow_geobeam_spark.operators.similarity import near_dup_pairs

    vec = [float(x) for x in np.random.default_rng(7).standard_normal(64)]
    emb = spark.createDataFrame(
        [(i, vec) for i in range(1100)], "vec_id long, embedding array<float>"
    )
    out = near_dup_pairs(emb, "vec_id", "embedding", threshold=0.45, dim=64,
                         n_planes=4, n_tables=32)
    assert out.count() == 0


def test_cap_preserves_results_on_healthy_corpus(spark, sf_dir):
    """On a normal corpus (all buckets under the cap) the default-capped
    output is IDENTICAL to cap=None — the guard only fires on skew."""
    from dataflow_geobeam_spark.operators.similarity import near_dup_pairs

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    kw = dict(threshold=0.45, dim=64, n_planes=4, n_tables=32)
    capped = set(map(tuple, near_dup_pairs(emb, "vec_id", "embedding", **kw).collect()))
    uncapped = set(
        map(
            tuple,
            near_dup_pairs(
                emb, "vec_id", "embedding", max_bucket_size=None, **kw
            ).collect(),
        )
    )
    assert capped == uncapped and len(capped) > 0


def test_cap_does_not_recompute_sketch(spark, sf_dir):
    """The guard is a Window count over the already-shuffled sketch, NOT a
    groupBy+join-back (which recomputed the mapInArrow sketch pass — the
    round-2 ADVICE finding). The plan must contain exactly the 2 MapInArrow
    nodes the self-join always had, plus a Window, and no extra aggregate
    join of bucket sizes."""
    from dataflow_geobeam_spark.operators.similarity import near_dup_pairs

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    out = near_dup_pairs(emb, "vec_id", "embedding", threshold=0.45, dim=64,
                         n_planes=4, n_tables=32)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 2
    assert "Window" in plan


def _corpus_with_planted_pair(spark, n=3000, dim=8, seed=11):
    rng = np.random.default_rng(seed)
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    # vec 1 = vec 0 + tiny noise: cosine ~0.9999
    vecs[1] = vecs[0] + 0.001 * rng.standard_normal(dim).astype(np.float32)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_auto_cap_scales_with_corpus(spark):
    """The round-3 fixed cap's cliff (ADVICE-medium): with coarse buckets,
    routine occupancy N/2^n_planes crosses any fixed cap as N grows and the
    operator silently returns empty. Here: 3000 vectors, n_planes=1 -> 2
    buckets of ~1500 > 1000, so the old default drops EVERY bucket; the
    auto cap (8x uniform share = 12000) keeps them and finds the planted
    near-identical pair."""
    from dataflow_geobeam_spark.operators.similarity import near_dup_pairs

    emb = _corpus_with_planted_pair(spark)
    kw = dict(threshold=0.99, dim=8, n_planes=1, n_tables=2)

    fixed = near_dup_pairs(emb, "vec_id", "embedding", max_bucket_size=1000, **kw)
    assert fixed.count() == 0  # the cliff the ADVICE described

    auto = near_dup_pairs(emb, "vec_id", "embedding", **kw)  # default = "auto"
    pairs = {(r.id_a, r.id_b) for r in auto.collect()}
    assert (0, 1) in pairs


def test_auto_cap_matches_fixed_cap_at_small_n(spark, sf_dir):
    """Below the floor the auto cap resolves to the same 1000 the round-3
    default used — driver queries are unchanged by the default switch."""
    from dataflow_geobeam_spark.operators.similarity import near_dup_pairs

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    kw = dict(threshold=0.45, dim=64, n_planes=4, n_tables=32)
    auto = set(map(tuple, near_dup_pairs(emb, "vec_id", "embedding", **kw).collect()))
    fixed = set(
        map(
            tuple,
            near_dup_pairs(
                emb, "vec_id", "embedding", max_bucket_size=1000, **kw
            ).collect(),
        )
    )
    assert auto == fixed and len(auto) > 0


def test_near_dup_cap_stats_reports_degenerate_drops(spark):
    from dataflow_geobeam_spark.operators.similarity import near_dup_cap_stats

    vec = [float(x) for x in np.random.default_rng(7).standard_normal(64)]
    emb = spark.createDataFrame(
        [(i, vec) for i in range(1100)], "vec_id long, embedding array<float>"
    )
    row = near_dup_cap_stats(
        emb, "vec_id", "embedding", dim=64, n_planes=4, n_tables=32
    ).collect()[0]
    # identical vectors: one hot bucket per table, every sketch row inside it
    assert row.cap == 1000  # auto floor (8 * 1100 / 16 = 550 < 1000)
    assert row.n_sketch_rows == 1100 * 32
    assert row.n_buckets_dropped == 32
    assert row.n_rows_dropped == 1100 * 32
    assert row.dropped_row_share == 1.0
    assert row.max_bucket == 1100


def test_near_dup_cap_stats_zero_on_healthy_corpus(spark, sf_dir):
    from dataflow_geobeam_spark.operators.similarity import near_dup_cap_stats

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    row = near_dup_cap_stats(
        emb, "vec_id", "embedding", dim=64, n_planes=4, n_tables=32
    ).collect()[0]
    assert row.n_buckets_dropped == 0
    assert row.dropped_row_share == 0.0
    assert row.n_sketch_rows > 0


# ---------------------------------------------------------------------------
# near-dup self-join: corpus_n literal cap and n_planes="auto"
# ---------------------------------------------------------------------------


def test_near_dup_corpus_n_literal_plan_and_same_output(spark, sf_dir):
    """Passing corpus_n folds the auto cap to a literal: identical output,
    and the one-row count broadcast join disappears from the executed
    plan."""
    import os

    from dataflow_geobeam_spark.operators.similarity import near_dup_pairs

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    n = emb.count()
    kw = dict(threshold=0.45, dim=64, n_planes=4, n_tables=32)
    base = set(map(tuple, near_dup_pairs(emb, "vec_id", "embedding", **kw).collect()))
    lit_df = near_dup_pairs(emb, "vec_id", "embedding", corpus_n=n, **kw)
    lit = set(map(tuple, lit_df.collect()))
    assert lit == base and len(lit) > 0
    plan = lit_df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "_corpus_n" not in plan


def test_recommended_n_planes_keeps_candidates_linear():
    from dataflow_geobeam_spark.operators.similarity import recommended_n_planes

    for n in (1_000, 50_000, 200_000, 10**9, 10**12):
        p = recommended_n_planes(n)
        occupancy = n / 2**p
        assert occupancy <= 0.5  # candidates ~ n_tables * N * occupancy / 2
    assert recommended_n_planes(50_000) == 17
    assert recommended_n_planes(100) == 12  # floor


def test_near_dup_n_planes_auto_two_sizes(spark):
    """n_planes="auto" keeps candidate volume ~linear in N: at two corpus
    sizes 4x apart, sum-of-C(bucket,2) per table stays within a constant
    multiple of N instead of growing ~quadratically (the fixed-plane
    failure mode)."""
    import numpy as np
    from pyspark.sql import functions as F

    from dataflow_geobeam_spark.operators.similarity import (
        recommended_n_planes,
        sketch_buckets,
    )

    dim, n_tables = 16, 4
    for n in (2000, 8000):
        rng = np.random.default_rng(5)
        vecs = rng.standard_normal((n, dim)).astype(np.float32)
        df = spark.createDataFrame(
            [(i, [float(x) for x in vecs[i]]) for i in range(n)],
            "vec_id long, embedding array<float>",
        )
        p = recommended_n_planes(n)
        sk = sketch_buckets(df, "vec_id", "embedding", dim, p, n_tables)
        cand = (
            sk.groupBy("table", "bucket")
            .agg(F.count(F.lit(1)).alias("b"))
            .agg(F.sum(F.col("b") * (F.col("b") - 1) / 2).alias("pairs"))
            .collect()[0]["pairs"]
        )
        # random near-orthogonal vectors: bucket collisions stay ~linear
        assert cand <= 16 * n_tables * n, (n, p, cand)


def test_near_dup_n_planes_auto_resolves(spark, sf_dir):
    """n_planes="auto" gives the same output as passing the recommended
    count explicitly."""
    import os

    from dataflow_geobeam_spark.operators.similarity import (
        near_dup_pairs,
        recommended_n_planes,
    )

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    n = emb.count()
    kw = dict(threshold=0.45, dim=64, n_tables=32)
    auto = set(
        map(
            tuple,
            near_dup_pairs(
                emb, "vec_id", "embedding", n_planes="auto", corpus_n=n, **kw
            ).collect(),
        )
    )
    fixed = set(
        map(
            tuple,
            near_dup_pairs(
                emb, "vec_id", "embedding", n_planes=recommended_n_planes(n), corpus_n=n, **kw
            ).collect(),
        )
    )
    assert auto == fixed


# ---------------------------------------------------------------------------
# near-dup self-join: prefilter and dirty vectors
# ---------------------------------------------------------------------------


def test_near_dup_prefilter_is_invisible(spark, sf_dir):
    import os

    from dataflow_geobeam_spark.operators.similarity import near_dup_pairs

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    n = emb.count()
    kw = dict(threshold=0.45, dim=64, n_planes=4, n_tables=32, corpus_n=n)
    on = set(map(tuple, near_dup_pairs(emb, "vec_id", "embedding", **kw).collect()))
    off = set(
        map(
            tuple,
            near_dup_pairs(
                emb, "vec_id", "embedding", prefilter=None, **kw
            ).collect(),
        )
    )
    assert on == off and len(on) > 0


@pytest.mark.parametrize("prefilter", ["auto", None])
def test_near_dup_drops_null_and_wrong_length_vectors(spark, prefilter):
    """A null or wrong-length vector drops only its own row: the pairs of a
    clean corpus plus one null and one 8-float row equal the clean corpus's
    pairs, with the prefilter on and off."""
    rng = np.random.default_rng(3)
    dim, n = 16, 40
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    # planted near-duplicates: every 4th row shadows its predecessor
    vecs[1::4] = vecs[0::4] + 0.01 * rng.standard_normal((n // 4, dim)).astype(np.float32)
    clean_rows = [(i, [float(x) for x in vecs[i]]) for i in range(n)]
    dirty_rows = clean_rows + [(n, None), (n + 1, [1.0] * 8)]
    kw = dict(threshold=0.9, dim=dim, n_planes=4, n_tables=8, prefilter=prefilter)

    def pairs(rows):
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = similarity.near_dup_pairs(df, "vec_id", "embedding", corpus_n=len(rows), **kw)
        return sorted(map(tuple, out.collect()))

    clean = pairs(clean_rows)
    assert len(clean) >= n // 4
    assert pairs(dirty_rows) == clean


# ---------------------------------------------------------------------------
# IVF
# ---------------------------------------------------------------------------


def test_ivf_topk_recall_and_plan(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(emb, q, k=5).collect()
    }
    df = similarity.ivf_topk(emb, q, k=5, dim=64, n_cells=16, n_probe=8)
    approx = {(r.query_id, r.neighbor_id) for r in df.collect()}
    recall = len(exact & approx) / len(exact)
    # probing half the cells (8/16) must catch well over half the true
    # neighbors even on near-orthogonal noise vectors
    assert recall >= 0.5, recall
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_assign_one_cell_per_vector(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    cells = similarity.ivf_assign(emb, "vec_id", "embedding", dim=64, n_cells=32)
    assert cells.count() == n
    assert cells.select("_id").distinct().count() == n
    probed = similarity.ivf_assign(emb, "vec_id", "embedding", dim=64, n_cells=32, n_probe=4)
    assert probed.count() == 4 * n


# ---------------------------------------------------------------------------
# IVF-PQ: the fused scan and the vector math it calls
# ---------------------------------------------------------------------------


def test_adc_cosine_matches_reconstruction_math():
    """The vector math of the IVF-PQ scan: ``_pq_codes`` picks each
    subspace's nearest codeword, and ``_adc_cosine`` over the
    ``pq_adc_luts`` tables equals cosine(q, reconstructed codes) to the
    6-place rounding — the ADC identity."""
    rng = np.random.default_rng(7)
    dim, m_sub, k_codes, n = 32, 4, 16, 200
    books = similarity.train_pq_codebooks(rng.standard_normal((64, dim)), m_sub, k_codes)
    Q = rng.standard_normal((3, dim))
    lut_dot, lut_nrm, q_norm = similarity.pq_adc_luts(Q, books)
    v = rng.standard_normal((n, dim)).astype(np.float32).astype(np.float64)
    codes = similarity._pq_codes(v, books)
    qi = np.arange(n) % 3
    got = similarity._adc_cosine(lut_dot, lut_nrm, q_norm, qi, codes)
    dsub = dim // m_sub
    for i in range(n):
        for s in range(m_sub):
            d2 = ((books[s] - v[i, s * dsub : (s + 1) * dsub]) ** 2).sum(axis=1)
            assert codes[i, s] == d2.argmin()
        rec = np.concatenate([books[s][codes[i, s]] for s in range(m_sub)])
        q = Q[qi[i]]
        want = float(q @ rec / (np.linalg.norm(q) * np.linalg.norm(rec)))
        assert abs(got[i] - want) < 1e-6, (i, got[i], want)


def _pq_index(rng, dim, m_sub, k_codes, Q):
    books = similarity.train_pq_codebooks(rng.standard_normal((64, dim)), m_sub, k_codes)
    return books, similarity.pq_adc_luts(Q, books)


def test_ivfpq_probe_prune_empty_corpus(spark):
    """A 0-row corpus scans to 0 rows."""
    rng = np.random.default_rng(11)
    dim = 16
    Q = rng.standard_normal((3, dim))
    books, luts = _pq_index(rng, dim, 4, 8, Q)
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    out = similarity.ivfpq_probe_prune(
        empty, "vec_id", "embedding", dim, 4, 2, books, Q, np.arange(3), *luts, refine=5
    )
    assert out.count() == 0


def test_ivfpq_probe_prune_partial_topk_is_exact(spark):
    """The scan's map-side partial top-``refine`` loses nothing: across 8
    partitions of many small Arrow batches, the approx-order window cut of a
    ``refine=7`` scan equals the same cut of a scan that keeps every
    candidate (``refine`` = corpus size)."""
    from pyspark.sql import Window

    rng = np.random.default_rng(17)
    dim, n, nq, refine = 32, 500, 5, 7
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)], "vec_id long, embedding array<float>"
    ).repartition(8)
    # the queries are corpus rows, so self-pair exclusion runs too
    Q, q_ids = vecs[:nq].astype(np.float64), np.arange(nq)
    books, luts = _pq_index(rng, dim, 4, 16, Q)
    w = Window.partitionBy("query_id").orderBy(F.desc("approx_cos"), F.asc("neighbor_id"))

    def cut(keep):
        out = similarity.ivfpq_probe_prune(
            df, "vec_id", "embedding", dim, 4, 2, books, Q, q_ids, *luts, keep
        )
        out = out.withColumn("_r", F.row_number().over(w)).where(F.col("_r") <= refine)
        return {tuple(r) for r in out.drop("_r").collect()}

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "16")
    try:
        got, want = cut(refine), cut(n)
    finally:
        spark.conf.set(key, old)
    assert got == want and len(want) == nq * refine
