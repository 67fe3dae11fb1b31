"""Bit-exactness of the round-10 exact-fold numpy kernels vs the
Catalyst higher-order-function folds they replace.

The kernels promise BIT-IDENTICAL doubles (same IEEE-754 op sequence:
fold_dots / fold_norms iterate the dimension axis, never BLAS matmul),
so every assertion here is ==, not approx.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from etl_weather_spark.operators.similarity import (
    as_double_array,
    collect_ref_vectors,
    cosine_topk_bruteforce,
    cosine_topk_vs_pinned_queries,
    dot,
    fold_dots,
    fold_norms,
    norm_safe,
    topk_vs_ref_udf,
)


def _emb(spark, n=60, d=16, seed=7):
    rng = np.random.default_rng(seed)
    # adversarial values: mix of magnitudes + exact duplicates to force
    # quantized ties through the tie-break paths
    rows = []
    for i in range(n):
        v = (rng.standard_normal(d) * rng.choice([1e-3, 1.0, 37.5])).tolist()
        rows.append((i, [float(x) for x in v]))
    rows.append((n, rows[0][1]))  # exact duplicate of vec 0
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_fold_dot_and_norm_bit_identical_to_catalyst(spark):
    emb = _emb(spark)
    e = emb.select(
        "vec_id", as_double_array(F.col("embedding")).alias("v")
    )
    jvm = {
        r.vec_id: (r.d, r.n)
        for r in e.select(
            "vec_id",
            dot(F.col("v"), F.col("v")).alias("d"),
            norm_safe(F.col("v")).alias("n"),
        ).collect()
    }
    ids, mat = collect_ref_vectors(emb)
    np_d = fold_dots(mat, mat)  # diagonal = self dots
    np_n = fold_norms(mat)
    for j, i in enumerate(ids):
        assert np_d[j, j] == jvm[i][0], i  # bitwise equal
        assert np_n[j] == jvm[i][1], i


def test_pinned_query_topk_equals_bruteforce(spark):
    emb = _emb(spark)
    qs = emb.filter(F.col("vec_id") < 5)
    ref = cosine_topk_bruteforce(emb, qs, k=7).collect()
    q_ids, q_mat = collect_ref_vectors(qs)
    got = cosine_topk_vs_pinned_queries(emb, q_ids, q_mat, k=7).collect()
    key = lambda r: (r.query_id, r.rank)  # noqa: E731
    assert sorted([(r.query_id, r.rank, r.neighbor_id, r.sim) for r in ref]) == sorted(
        [(r.query_id, r.rank, r.neighbor_id, r.sim) for r in got]
    )


def test_topk_vs_ref_local_matches_bruteforce(spark):
    emb = _emb(spark)
    seeds = emb.filter(F.col("vec_id") % 3 == 0)
    targets = emb.filter(F.col("vec_id") % 3 != 0)
    ref = cosine_topk_bruteforce(seeds, targets, k=3).collect()
    s_ids, s_mat = collect_ref_vectors(seeds)
    top3 = topk_vs_ref_udf(s_ids, s_mat, k=3)
    got = (
        targets.select(
            F.col("vec_id").alias("query_id"),
            F.posexplode(
                top3("vec_id", as_double_array(F.col("embedding")))
            ).alias("pos", "nb"),
        )
        .select(
            "query_id",
            F.col("nb.neighbor_id").alias("neighbor_id"),
            F.col("nb.sim").alias("sim"),
            (F.col("pos") + 1).alias("rank"),
        )
        .collect()
    )
    assert sorted([(r.query_id, r.rank, r.neighbor_id, r.sim) for r in ref]) == sorted(
        [(r.query_id, r.rank, r.neighbor_id, r.sim) for r in got]
    )


def test_topk_vs_ref_exclude_self_switch(spark):
    emb = _emb(spark, n=10)
    ids, mat = collect_ref_vectors(emb)
    incl = topk_vs_ref_udf(ids, mat, k=1, exclude_self=False)
    got = (
        emb.select(
            "vec_id",
            F.element_at(
                incl("vec_id", as_double_array(F.col("embedding"))), 1
            )["neighbor_id"].alias("top"),
        )
        .collect()
    )
    # with self kept, every vector's best match is itself (sim 1.0),
    # ties broken to the lowest id — vec 10 duplicates vec 0, so both
    # resolve to 0; everything else resolves to itself
    for r in got:
        expect = 0 if r.vec_id in (0, 10) else r.vec_id
        assert r.top == expect, (r.vec_id, r.top)


@pytest.mark.parametrize("sim_decimals", [6, 4])
def test_ivf_cells_kernel_equals_catalyst_at_sim_decimals(spark, monkeypatch, sim_decimals):
    """ivf_cells_seeded's Arrow kernel path and its Catalyst fallback
    (forced with a centroid cap of 0) assign the same cells at any
    ``sim_decimals``. The vectors sit between two centroids 0.008 rad
    apart, where 4-dp similarities tie (lowest centroid wins) and 6-dp
    ones do not."""
    import math

    from etl_weather_spark.operators import similarity

    # ids 0-4 are the K = ceil(sqrt(25)) centroids; 5-24 the queries
    angles = [0.0, 0.008, 1.5, 3.0, 4.5] + [0.0004 * i for i in range(20)]
    emb = spark.createDataFrame(
        [(i, [math.cos(a), math.sin(a)]) for i, a in enumerate(angles)],
        "vec_id long, embedding array<float>",
    )

    def cells():
        out = similarity.ivf_cells_seeded(emb, cells_per_sqrt_n=1, sim_decimals=sim_decimals)
        return {r.vec_id: r.cell for r in out.collect()}

    kernel = cells()
    monkeypatch.setattr(similarity, "IVF_KERNEL_MAX_CENTROIDS", 0)
    catalyst = cells()
    assert kernel == catalyst
    # the two roundings really assign differently: ids 16-24 lie nearer
    # centroid 1, but at 4 dp they tie with centroid 0
    assert {kernel[i] for i in range(16, 25)} == ({0} if sim_decimals == 4 else {1})


def test_simhash_votes_kernel_bit_identical_to_aggregate(spark):
    """Round-11 portable-SimHash votes kernel == the 64-sum aggregate
    form, bitwise, on adversarial texts: empty string, single token,
    repeated tokens (vote magnitudes), unicode, long whitespace runs
    (tokenizer normalization), and md5 collisions-by-prefix shapes."""
    from etl_weather_spark.operators.dedup import (
        simhash64_portable,
        simhash64_portable_kernel,
    )

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, ""),
        (2, "x"),
        (3, "a a a a a a a a a a a a b"),
        (4, "  tabs\tand\nnewlines   collapse  "),
        (5, "naïve café über straße 東京 🙂"),
        (6, " ".join(f"tok{i}" for i in range(500))),
        (7, "The Quick BROWN fox"),  # casefold parity
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    agg = {
        r.doc_id: (r.sig_hi, r.sig_lo)
        for r in simhash64_portable(docs).collect()
    }
    ker = {
        r.doc_id: (r.sig_hi, r.sig_lo)
        for r in simhash64_portable_kernel(docs).collect()
    }
    assert agg == ker  # bitwise equal longs, same doc set


def test_simhash_votes_kernel_corpus_parity(spark, sf_dir):
    """Full-corpus bitwise parity at the test SF (the A/B asserted the
    same at sf0.1)."""
    from etl_weather_spark.operators.dedup import (
        simhash64_portable,
        simhash64_portable_kernel,
    )
    from etl_weather_spark.queries._registry import load

    docs = load(spark, sf_dir, "documents")
    agg = {
        r.doc_id: (r.sig_hi, r.sig_lo)
        for r in simhash64_portable(docs).collect()
    }
    ker = {
        r.doc_id: (r.sig_hi, r.sig_lo)
        for r in simhash64_portable_kernel(docs).collect()
    }
    assert agg == ker


if __name__ == "__main__":
    pytest.main([__file__, "-q"])
