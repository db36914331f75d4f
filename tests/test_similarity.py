"""Similarity tier: exact brute force, multi-table LSH recall, near-dup pairs.

LSH recall is asserted on clustered synthetic vectors with genuinely-near
neighbors (cos >= 0.9) — the regime LSH contracts for; weakly-similar random
vectors are covered by the brute-force (exact) tier.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType, LongType, StructField, StructType

from quatrain_mapreduce_spark.operators.similarity import (
    brute_force_topk, embedding_dim, embedding_neardup_pairs, lsh_topk,
)

DIM = 32
SCHEMA = StructType([
    StructField("vec_id", LongType()),
    StructField("embedding", ArrayType(FloatType())),
])


@pytest.fixture(scope="module")
def clustered(spark):
    """20 cluster centers × 10 members with small noise: each vector's true
    top neighbors are its cluster siblings (cos well above 0.9)."""
    rng = np.random.RandomState(7)
    rows = []
    vid = 0
    for _ in range(20):
        center = rng.randn(DIM)
        center /= np.linalg.norm(center)
        for _ in range(10):
            v = center + 0.05 * rng.randn(DIM)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(rows, SCHEMA)


def test_brute_force_exact_on_hand_vectors(spark):
    """3 orthogonal-ish vectors: cosine ranks verifiable by hand."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),   # closest to 0
        (2, [0.0, 1.0, 0.0, 0.0]),   # orthogonal to 0
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    got = brute_force_topk(df.where(F.col("vec_id") == 0), df, "vec_id", "embedding", k=2).collect()
    order = [r["neighbor_id"] for r in sorted(got, key=lambda r: r["rk"])]
    assert order == [1, 2]


def test_lsh_recall_vs_brute_force(spark, clustered):
    truth = {
        (r["q_id"], r["neighbor_id"])
        for r in brute_force_topk(
            clustered.where(F.col("vec_id") < 20), clustered, "vec_id", "embedding", k=5
        ).collect()
        if r["cos"] >= 0.9  # the near-neighbor regime LSH contracts for
    }
    assert len(truth) >= 50
    got = {
        (r["q_id"], r["neighbor_id"])
        for r in lsh_topk(
            clustered.where(F.col("vec_id") < 20), clustered, "vec_id", "embedding",
            dim=DIM, k=5, n_planes=10, n_tables=4, multiprobe=True,
        ).collect()
    }
    recall = len(truth & got) / len(truth)
    assert recall >= 0.9, f"LSH recall {recall:.3f} < 0.9"


def test_embedding_neardup_finds_planted_pairs(spark):
    """Planted near-identical vectors (tiny perturbation) must pair; an
    unrelated vector must not."""
    rng = np.random.RandomState(11)
    base = rng.randn(DIM)
    base /= np.linalg.norm(base)
    rows = [
        (0, [float(x) for x in base]),
        (1, [float(x) for x in base + 0.01 * rng.randn(DIM)]),
        (2, [float(x) for x in base + 0.02 * rng.randn(DIM)]),
        (99, [float(x) for x in rng.randn(DIM)]),
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    got = {(r["a_id"], r["b_id"]) for r in
           embedding_neardup_pairs(df, "vec_id", "embedding", dim=DIM,
                                   threshold=0.95, n_planes=32, n_bands=4).collect()}
    assert {(0, 1), (0, 2), (1, 2)} <= got
    assert not any(99 in p for p in got)


def test_embedding_dim_reads_footer(sf_dir):
    assert embedding_dim(f"{sf_dir}/embeddings.parquet") == 64


def test_neardup_skew_cap_drops_degenerate_buckets(spark):
    """With max_bucket=1 every bucket is degenerate → zero candidates, no
    quadratic blowup (skew-guard behavior)."""
    rng = np.random.RandomState(3)
    base = rng.randn(DIM)
    rows = [(i, [float(x) for x in base]) for i in range(10)]  # identical vectors
    df = spark.createDataFrame(rows, SCHEMA)
    got = embedding_neardup_pairs(df, "vec_id", "embedding", dim=DIM, max_bucket=1).collect()
    assert got == []


def test_ivf_exact_when_probing_all_lists(spark, clustered):
    """nprobe == n_lists searches every inverted list — the result must be
    IDENTICAL to brute force (IVF only prunes, never rescores)."""
    from quatrain_mapreduce_spark.operators.similarity import ivf_topk

    qs = clustered.where(F.col("vec_id") < 12)
    exact = {
        (r["q_id"], r["rk"]): (r["neighbor_id"], r["cos"])
        for r in brute_force_topk(qs, clustered, "vec_id", "embedding", k=5).collect()
    }
    got = {
        (r["q_id"], r["rk"]): (r["neighbor_id"], r["cos"])
        for r in ivf_topk(qs, clustered, "vec_id", "embedding", dim=DIM,
                          k=5, n_lists=8, nprobe=8, lloyd_iters=1).collect()
    }
    assert got == exact


def test_ivf_recall_vs_brute_force(spark, clustered):
    """Probing 4 of 16 lists must still recover >=0.9 of the true near
    neighbors on clustered data (near-duplicates land in the same list)."""
    from quatrain_mapreduce_spark.operators.similarity import ivf_topk

    qs = clustered.where(F.col("vec_id") < 20)
    truth = {
        (r["q_id"], r["neighbor_id"])
        for r in brute_force_topk(qs, clustered, "vec_id", "embedding", k=5).collect()
        if r["cos"] >= 0.9
    }
    assert len(truth) >= 50
    got = {
        (r["q_id"], r["neighbor_id"])
        for r in ivf_topk(qs, clustered, "vec_id", "embedding", dim=DIM,
                          k=5, n_lists=16, nprobe=4, lloyd_iters=1).collect()
    }
    recall = len(truth & got) / len(truth)
    assert recall >= 0.9, f"IVF recall {recall:.3f} < 0.9"


def test_ivf_build_deterministic_and_covering(spark, clustered):
    """Same seed => identical assignment; every vector lands in exactly one
    list; list ids are within range."""
    from quatrain_mapreduce_spark.operators.similarity import ivf_build

    _, a1 = ivf_build(clustered, "vec_id", "embedding", dim=DIM, n_lists=8)
    _, a2 = ivf_build(clustered, "vec_id", "embedding", dim=DIM, n_lists=8)
    m1 = {r["vec_id"]: r["list_id"] for r in a1.collect()}
    m2 = {r["vec_id"]: r["list_id"] for r in a2.collect()}
    assert m1 == m2
    assert len(m1) == clustered.count()
    assert set(m1.values()) <= set(range(8))


def test_fold_gate_fallback_matches_literal_fold(spark, clustered, monkeypatch):
    """Above FOLD_MAX_LITERALS the IVF/PQ folds read the centroids from a
    broadcast-joined column instead of literals (ADVICE r13: the literal
    fold is O(n_lists*dim) plan nodes per Lloyd pass) — assignments,
    codes and the codebook means must be identical either way."""
    from quatrain_mapreduce_spark.operators import similarity as sim

    _, a_fold = sim.ivf_build(clustered, "vec_id", "embedding", dim=DIM, n_lists=8)
    fold = {r["vec_id"]: r["list_id"] for r in a_fold.collect()}
    unit = _normalize(clustered)
    book_fold = sim.pq_train(unit, "vec_id", "embedding", dim=DIM, m=4, k=16)
    codes_fold = {(r["vec_id"], r["sub_id"]): r["code_id"]
                  for r in sim.pq_encode(unit, book_fold, "vec_id", "embedding",
                                         DIM, 4).collect()}

    monkeypatch.setattr(sim, "FOLD_MAX_LITERALS", 0)
    _, a_bc = sim.ivf_build(clustered, "vec_id", "embedding", dim=DIM, n_lists=8)
    bc = {r["vec_id"]: r["list_id"] for r in a_bc.collect()}
    assert bc == fold
    book_bc = sim.pq_train(unit, "vec_id", "embedding", dim=DIM, m=4, k=16)
    assert sorted(map(tuple, book_bc.collect())) == sorted(map(tuple, book_fold.collect()))
    codes_bc = {(r["vec_id"], r["sub_id"]): r["code_id"]
                for r in sim.pq_encode(unit, book_bc, "vec_id", "embedding",
                                       DIM, 4).collect()}
    assert codes_bc == codes_fold


def test_pq_encode_accepts_collected_dict(spark, clustered):
    """The dict overload (ADVICE r13: lets callers reuse a driver-side
    codebook without pq_encode re-collecting per invocation) must encode
    identically to the DataFrame form."""
    from quatrain_mapreduce_spark.operators.similarity import pq_encode, pq_train

    unit = _normalize(clustered)
    book_df = pq_train(unit, "vec_id", "embedding", dim=DIM, m=4, k=16)
    book = {(r["sub_id"], r["code_id"]): r["c_vec"] for r in book_df.collect()}
    via_df = {(r["vec_id"], r["sub_id"]): r["code_id"]
              for r in pq_encode(unit, book_df, "vec_id", "embedding", DIM, 4).collect()}
    via_dict = {(r["vec_id"], r["sub_id"]): r["code_id"]
                for r in pq_encode(unit, book, "vec_id", "embedding", DIM, 4).collect()}
    assert via_dict == via_df


def _normalize(df):
    nrm = F.sqrt(F.aggregate(
        F.col("embedding").cast("array<double>"), F.lit(0.0),
        lambda acc, x: acc + x * x,
    ))
    return df.select(
        "vec_id",
        F.transform(F.col("embedding").cast("array<double>"),
                    lambda x: x / nrm).alias("embedding"),
    )


def test_pq_cluster_precision_vs_brute_force(spark, clustered):
    """PQ's contract on clustered data is SEPARATION, not sibling order:
    within a tight cluster every member is a near-tie (cos ~0.99), so no
    quantizer can reproduce the exact ordering AMONG siblings (measured:
    recall@5-of-exact-top-5 ~0.6 for every (m, k) — 5 of 9 near-ties is
    the information-theoretic ceiling). What quantization must NOT do is
    confuse clusters: assert >=0.95 of every query's ADC top-5 are true
    cluster siblings (fixture: vec_id // 10 is the cluster)."""
    from quatrain_mapreduce_spark.operators.similarity import pq_topk

    unit = _normalize(clustered)
    qs = unit.where(F.col("vec_id") < 20)
    got = [
        (r["q_id"], r["neighbor_id"])
        for r in pq_topk(qs, unit, "vec_id", "embedding", dim=DIM,
                         k=5, m=4, n_codes=16, lloyd_iters=1).collect()
    ]
    assert len(got) == 20 * 5
    sib = sum(1 for q, n in got if q // 10 == n // 10)
    precision = sib / len(got)
    assert precision >= 0.95, f"PQ cluster precision {precision:.3f} < 0.95"


def test_pq_encode_deterministic_and_complete(spark, clustered):
    from quatrain_mapreduce_spark.operators.similarity import pq_encode, pq_train

    unit = _normalize(clustered)
    book = pq_train(unit, "vec_id", "embedding", dim=DIM, m=4, k=16)
    rows = book.collect()
    assert len(rows) == 4 * 16
    assert all(len(r["c_vec"]) == DIM // 4 for r in rows)
    c1 = {(r["vec_id"], r["sub_id"]): r["code_id"]
          for r in pq_encode(unit, book, "vec_id", "embedding", DIM, 4).collect()}
    c2 = {(r["vec_id"], r["sub_id"]): r["code_id"]
          for r in pq_encode(unit, book, "vec_id", "embedding", DIM, 4).collect()}
    assert c1 == c2
    assert len(c1) == clustered.count() * 4
    assert all(0 <= c < 16 for c in c1.values())


def test_ivfpq_cluster_precision_and_pruning(spark, clustered):
    """IVFADC composition: same separation contract as PQ, plus the IVF
    pruning property — candidate sets come only from probed lists, so each
    query returns at most k rows and they are cluster siblings."""
    from quatrain_mapreduce_spark.operators.similarity import ivfpq_topk

    unit = _normalize(clustered)
    qs = unit.where(F.col("vec_id") < 20)
    got = [
        (r["q_id"], r["neighbor_id"])
        for r in ivfpq_topk(qs, unit, "vec_id", "embedding", dim=DIM,
                            k=5, n_lists=8, nprobe=2, m=4, n_codes=16,
                            lloyd_iters=1).collect()
    ]
    assert len(got) == 20 * 5
    sib = sum(1 for q, n in got if q // 10 == n // 10)
    precision = sib / len(got)
    assert precision >= 0.95, f"IVFPQ cluster precision {precision:.3f} < 0.95"


def test_ivfpq_deterministic(spark, clustered):
    from quatrain_mapreduce_spark.operators.similarity import ivfpq_topk

    unit = _normalize(clustered)
    qs = unit.where(F.col("vec_id") < 10)
    r1 = sorted(map(tuple, ivfpq_topk(qs, unit, "vec_id", "embedding",
                                      dim=DIM, k=5).collect()))
    r2 = sorted(map(tuple, ivfpq_topk(qs, unit, "vec_id", "embedding",
                                      dim=DIM, k=5).collect()))
    assert r1 == r2 and len(r1) == 50


def test_embedding_centroids_hand_example(spark, tmp_path):
    # label 0: vectors along +x; label 1: along +y (orthogonal -> cos 0);
    # label 2: along +x too (parallel to label 0 -> cos 1)
    rows = [
        (1, [1.0, 0.0], 0), (2, [3.0, 0.0], 0),
        (3, [0.0, 2.0], 1),
        (4, [5.0, 0.0], 2), (5, [0.25, 0.0], 2),
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    from quatrain_mapreduce_spark.registry import all_queries
    out = {(r["label_a"], r["label_b"]): r
           for r in all_queries()["embedding_centroids"].fn(
               spark, str(tmp_path)).collect()}
    assert set(out) == {(0, 1), (0, 2), (1, 2)}
    assert out[(0, 1)]["cos_centroid"] == 0.0
    assert out[(1, 2)]["cos_centroid"] == 0.0
    assert out[(0, 2)]["cos_centroid"] == 1.0
    assert (out[(0, 2)]["n_a"], out[(0, 2)]["n_b"]) == (2, 2)
    # exact integer dot: sums (4000, 0) . (5250, 0)
    assert out[(0, 2)]["dot_scaled"] == 4000 * 5250


def test_pca_matches_numpy_reference(spark, sf_dir):
    import numpy as np
    import pyarrow.parquet as pq

    from quatrain_mapreduce_spark.operators.similarity import (
        pca_fit, pca_project,
    )
    from quatrain_mapreduce_spark.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    model = pca_fit(emb, "embedding", k=4)
    got = {
        r["vec_id"]: [r[f"pc{j}"] for j in range(1, 5)]
        for r in pca_project(emb, "vec_id", "embedding", model).collect()
    }

    # Direct numpy PCA on the same parquet, same sign convention.
    t = pq.read_table(f"{sf_dir}/embeddings.parquet")
    ids = t.column("vec_id").to_pylist()
    x = np.vstack([np.array(v, dtype=np.float64) for v in t.column("embedding").to_pylist()])
    mean = x.mean(0)
    cov = (x.T @ x) / len(x) - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:4]
    comps = []
    for idx in order:
        v = evecs[:, idx]
        j = int(np.argmax(np.abs(v)))
        comps.append(-v if v[j] < 0 else v)
    ref = (x - mean) @ np.array(comps).T

    for i, vid in enumerate(ids):
        np.testing.assert_allclose(got[vid], ref[i], atol=1e-8)

    # Components capture variance in decreasing order and ratios sum <= 1.
    evr = model["explained_var_ratio"]
    assert all(a >= b for a, b in zip(evr, evr[1:]))
    assert 0.0 < sum(evr) <= 1.0 + 1e-12


def test_hybrid_rrf_fusion_semantics(spark, sf_dir):
    """Fusion invariants beyond the value oracle: every fused doc appears
    in at least one input list (no phantom candidates), a doc present in
    BOTH lists always outranks a doc whose single rank equals its worse
    rank (RRF monotonicity), and the fused ranking is dense 1..20."""
    from quatrain_mapreduce_spark.registry import all_queries

    rows = sorted(
        all_queries()["hybrid_search_rrf"].fn(spark, sf_dir).collect(),
        key=lambda r: r["fused_rank"],
    )
    assert [r["fused_rank"] for r in rows] == list(range(1, len(rows) + 1))
    assert all(
        r["bm25_rank"] is not None or r["cos_rank"] is not None for r in rows
    )
    both = [r for r in rows if r["bm25_rank"] and r["cos_rank"]]
    single = [r for r in rows if (r["bm25_rank"] is None) != (r["cos_rank"] is None)]
    for b in both:
        worse = max(b["bm25_rank"], b["cos_rank"])
        for s in single:
            s_rank = s["bm25_rank"] or s["cos_rank"]
            if s_rank >= worse:
                assert b["fused_rank"] < s["fused_rank"], (b, s)


def test_hybrid_rrf_ivf_tracks_the_exact_twin(spark, sf_dir):
    """The scale variant must agree with the exact hybrid wherever the
    dense side agrees: the BM25 list is identical by construction, the
    fused top-20 overlap must stay high (IVF recall gates elsewhere at
    nprobe=4/16), and any doc whose ranks are identical in both variants
    must receive the identical fused score."""
    from quatrain_mapreduce_spark.registry import all_queries

    exact = {r["doc_id"]: r for r in
             all_queries()["hybrid_search_rrf"].fn(spark, sf_dir).collect()}
    approx = {r["doc_id"]: r for r in
              all_queries()["hybrid_search_rrf_ivf"].fn(spark, sf_dir).collect()}
    assert len(exact) == 20 and len(approx) == 20
    overlap = len(set(exact) & set(approx))
    # >=14 on the near-uniform synthetic fixture (IVF's worst geometry;
    # measured 15-16/20 at nprobe=8 — the registered query's setting)
    assert overlap >= 14, f"fused top-20 overlap {overlap}/20"
    for doc_id in set(exact) & set(approx):
        e, a = exact[doc_id], approx[doc_id]
        assert e["bm25_rank"] == a["bm25_rank"]  # lexical side is exact in both
        if e["cos_rank"] == a["cos_rank"]:
            assert e["rrf_r"] == a["rrf_r"]
