"""Tests for similarity search: brute-force top-k correctness and LSH
recall against it."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from parquet_sampler_spark.functions.vectors import cosine
from parquet_sampler_spark.operators.similarity import (
    cosine_topk,
    embedding_neardup_pairs,
    lsh_topk,
)

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


@pytest.fixture(scope="module")
def queries(embeddings):
    return embeddings.filter(F.col("vec_id") < 5)


def test_topk_shape_and_order(embeddings, queries):
    out = cosine_topk(embeddings, queries, "vec_id", "embedding", k=10)
    rows = out.collect()
    assert len(rows) == 50  # 5 queries × 10
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        scores = [r.score for r in rs]
        assert scores == sorted(scores, reverse=True)
        assert all(r.neighbor_id != q for r in rs)


def test_topk_matches_manual_best(spark, embeddings):
    """rank-1 neighbor of query 0 == argmax of pairwise cosine."""
    q = embeddings.filter(F.col("vec_id") == 0).collect()[0].embedding
    scored = embeddings.filter(F.col("vec_id") != 0).select(
        "vec_id",
        cosine(F.col("embedding"),
               F.array(*[F.lit(float(x)) for x in q])).alias("s"),
    ).collect()
    best = max(scored, key=lambda r: (r.s, -r.vec_id)).vec_id
    out = cosine_topk(embeddings, embeddings.filter(F.col("vec_id") == 0),
                      "vec_id", "embedding", k=1).collect()
    assert out[0].neighbor_id == best


def test_lsh_recall_at_10(embeddings, queries):
    exact = {(r.query_id, r.neighbor_id)
             for r in cosine_topk(embeddings, queries, "vec_id",
                                  "embedding", k=10).collect()}
    approx = {(r.query_id, r.neighbor_id)
              for r in lsh_topk(embeddings, queries, "vec_id", "embedding",
                                k=10, bits=4, tables=16, dim=64).collect()}
    recall = len(exact & approx) / len(exact)
    # 16 tables × 4 bits on 64-dim gaussian data (measured ≈0.84)
    assert recall >= 0.7, f"recall@10={recall}"


def test_neardup_pairs_threshold(embeddings):
    out = embedding_neardup_pairs(embeddings, "vec_id", "embedding",
                                  threshold=0.4)
    rows = out.collect()
    assert len(rows) > 0
    for r in rows:
        assert r.cos_sim >= 0.4
        assert r.id_a < r.id_b


def test_ivf_recall(embeddings, queries):
    from parquet_sampler_spark.operators.similarity import ivf_topk

    exact = {(r.query_id, r.neighbor_id)
             for r in cosine_topk(embeddings, queries, "vec_id",
                                  "embedding", k=10).collect()}
    ivf = {(r.query_id, r.neighbor_id)
           for r in ivf_topk(embeddings, queries, "vec_id", "embedding",
                             k=10, nlist=16, nprobe=8).collect()}
    recall = len(exact & ivf) / len(exact)
    # isotropic gaussian data = IVF's worst case (no density structure);
    # probing half the cells recovers well above that fraction
    assert recall >= 0.6, f"recall={recall}"


def test_ivf_deterministic(embeddings, queries):
    from parquet_sampler_spark.operators.similarity import ivf_topk

    a = sorted(map(tuple, ivf_topk(embeddings, queries, "vec_id",
                                   "embedding", k=5).collect()))
    b = sorted(map(tuple, ivf_topk(embeddings, queries, "vec_id",
                                   "embedding", k=5).collect()))
    assert a == b


def test_neardup_block_equals_exact(embeddings):
    """The default block-GEMM plan must reproduce the brute-force pair
    set and bit-identical cos_sim values (the slack candidate cut +
    exact re-verify guarantee)."""
    exact = {(r.id_a, r.id_b): r.cos_sim
             for r in embedding_neardup_pairs(
                 embeddings, "vec_id", "embedding", threshold=0.4,
                 method="exact").collect()}
    block = {(r.id_a, r.id_b): r.cos_sim
             for r in embedding_neardup_pairs(
                 embeddings, "vec_id", "embedding", threshold=0.4,
                 method="block", nblocks=7).collect()}
    assert block == exact


def test_neardup_block_no_duplicate_pairs(embeddings):
    out = embedding_neardup_pairs(embeddings, "vec_id", "embedding",
                                  threshold=0.3, method="block")
    assert out.count() == out.dropDuplicates(["id_a", "id_b"]).count()


def test_neardup_lsh_high_threshold_recall(spark):
    """Sign-bit LSH blocking at a HIGH threshold (true near-dups):
    planted duplicate vectors must be found with near-perfect recall."""
    import random

    rng = random.Random(3)
    rows = []
    for i in range(300):
        rows.append((i, [rng.gauss(0, 1) for _ in range(64)]))
    # plant 10 exact duplicates (cos == 1.0 > any threshold)
    for j in range(10):
        rows.append((1000 + j, list(rows[j][1])))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {(r.id_a, r.id_b)
           for r in embedding_neardup_pairs(
               df, "vec_id", "embedding", threshold=0.95, method="lsh",
               lsh_bits=8, lsh_tables=8).collect()}
    planted = {(j, 1000 + j) for j in range(10)}
    recall = len(got & planted) / len(planted)
    assert recall >= 0.9, f"planted-dup recall={recall}"
    # verification is exact: random gaussian pairs can't reach 0.95, so
    # every emitted pair must be a planted duplicate
    assert got <= planted


def test_ivf_model_cache_reused(embeddings, queries):
    from parquet_sampler_spark.operators.similarity import ivf_topk
    from parquet_sampler_spark.plans.cache import MEMO

    key = ("ivf_model", "test_ivf_model_cache_reused")
    ivf_topk(embeddings, queries, "vec_id", "embedding", k=5,
             nlist=8, nprobe=4, cache_key=key).count()
    assert key in MEMO
    model = MEMO[key]
    ivf_topk(embeddings, queries, "vec_id", "embedding", k=5,
             nlist=8, nprobe=4, cache_key=key).count()
    assert MEMO[key] is model


def test_ivf_family_fits_once_per_key_and_clear_drains(
        embeddings, queries, monkeypatch):
    """ivf_topk and ivf_coreset given the same ``cache_key`` share ONE
    coarse fit (the model and its broadcast handles are memoized in
    plans.cache.MEMO), and clear_caches() drains both entries."""
    from parquet_sampler_spark.operators import similarity
    from parquet_sampler_spark.plans.cache import MEMO
    from parquet_sampler_spark.queries import clear_caches

    fit = similarity._fit_coarse_hierarchy
    calls = []

    def counted(*a, **kw):
        calls.append(1)
        return fit(*a, **kw)

    monkeypatch.setattr(similarity, "_fit_coarse_hierarchy", counted)
    key = ("ivf_model", "test_ivf_family_fits_once_per_key")
    similarity.ivf_topk(embeddings, queries, "vec_id", "embedding", k=5,
                        nlist=8, nprobe=4, cache_key=key).count()
    similarity.ivf_coreset(embeddings, "vec_id", "embedding", m=2,
                           nlist=8, cache_key=key).count()
    assert len(calls) == 1
    assert key in MEMO and (key, "__bc") in MEMO
    clear_caches()
    assert key not in MEMO and (key, "__bc") not in MEMO


def test_ivf_index_is_standing_state(embeddings, queries):
    """r14 (found by the ann_ivf_sized decade cell, warm α 1.82): the
    IVF INDEX — corpus cell assignments + normalized vectors — must be
    standing state, not recomputed per query. A second call over the
    same corpus must (a) semantically hit the persist registry instead
    of growing it, (b) read the index from cache (InMemoryRelation in
    the plan), and (c) return the identical result set."""
    from parquet_sampler_spark.operators.similarity import ivf_topk
    from parquet_sampler_spark.plans import cache as plan_cache

    kw = dict(k=5, nlist=8, nprobe=4,
              cache_key=("ivf_model", "test_ivf_index_is_standing_state"))
    first = ivf_topk(embeddings, queries, "vec_id", "embedding", **kw)
    a = sorted(map(tuple, first.collect()))
    n_persisted = len(plan_cache._PERSISTED)
    second = ivf_topk(embeddings, queries, "vec_id", "embedding", **kw)
    assert len(plan_cache._PERSISTED) == n_persisted
    assert "InMemoryRelation" in second._jdf.queryExecution().toString()
    assert sorted(map(tuple, second.collect())) == a


def test_neardup_block_empty_blocks_no_duplicates(spark):
    """Regression: a grid cell whose right-side block is empty must
    yield nothing — with nblocks >> n most blocks are empty, and the
    old hi.empty heuristic rescored the left block against itself once
    per empty partner, duplicating every qualifying pair."""
    rows = [(0, [1.0] * 8), (9, [1.0] * 8), (17, [-1.0] * 8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = embedding_neardup_pairs(df, "vec_id", "embedding",
                                  threshold=0.9, method="block",
                                  nblocks=16).collect()
    assert [(r.id_a, r.id_b) for r in out] == [(0, 9)]
    assert out[0].cos_sim == pytest.approx(1.0)


def test_neardup_lsh_infers_dim(spark):
    """method='lsh' must work for any embedding width (planes are built
    from the data's dimension, not a hardcoded 64)."""
    rows = [(i, [float(i == j) for j in range(16)]) for i in range(8)]
    rows += [(100, rows[0][1])]  # duplicate of vec 0, cos == 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {(r.id_a, r.id_b)
           for r in embedding_neardup_pairs(
               df, "vec_id", "embedding", threshold=0.95, method="lsh",
               lsh_bits=4, lsh_tables=8).collect()}
    assert (0, 100) in got


def test_ivf_scores_contained_in_exact_ranking(embeddings, queries):
    """Every (query, neighbor, score) ann_ivf emits must appear in the
    exact brute-force ranking with a matching score — the containment
    property its driver row cannot check (rows-only: the data-fitted
    centroids are unknowable in static SQL). Recall is approximate;
    emitted PAIRS and SCORES never are. Scores agree to float64
    summation-order tolerance (IVF scores candidates with a vectorized
    kernel, the brute-force path with a left-to-right fold — ≤ dim·eps
    apart)."""
    import math

    from parquet_sampler_spark.operators.similarity import ivf_topk

    exact = {
        (r.query_id, r.neighbor_id): r.score
        for r in cosine_topk(
            embeddings, queries, "vec_id", "embedding",
            k=embeddings.count(),
        ).collect()
    }
    got = ivf_topk(
        embeddings, queries, "vec_id", "embedding",
        k=10, nlist=16, nprobe=8,
    ).collect()
    assert got, "ivf returned nothing"
    for r in got:
        key = (r.query_id, r.neighbor_id)
        assert key in exact, key
        assert math.isclose(r.score, exact[key], rel_tol=1e-12,
                            abs_tol=1e-12), (key, r.score, exact[key])


def test_auto_method_selects_lsh_at_high_threshold(embeddings):
    """method="auto" policy: ≥0.9 → sign-bit LSH (no block-GEMM grid in
    the plan), <0.9 → exact block plan. Pinned via the physical plan:
    the block path runs FlatMapGroupsInPandas (the per-block GEMM);
    the LSH path must not."""
    hi = embedding_neardup_pairs(
        embeddings, "vec_id", "embedding", threshold=0.92, method="auto")
    lo = embedding_neardup_pairs(
        embeddings, "vec_id", "embedding", threshold=0.4, method="auto")
    hi_plan = hi._jdf.queryExecution().executedPlan().toString()
    lo_plan = lo._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in hi_plan
    assert "FlatMapGroupsInPandas" in lo_plan


def test_registered_neardup_is_sub_quadratic_and_exact(spark):
    """The REGISTERED embedding_neardup query must take the LSH plan
    (100 TB path) and still agree exactly with the brute-force result
    on its augmented input — twin vectors are IEEE-exact scaled copies,
    so LSH recall for qualifying pairs is exactly 1, not ≈1."""
    from parquet_sampler_spark.queries_ext import (
        _NEARDUP_DUP_MOD,
        _NEARDUP_DUP_OFF,
        _q_embedding_neardup,
    )

    df = _q_embedding_neardup(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan
    got = {(r.id_a, r.id_b) for r in df.collect()}
    n = spark.read.parquet(f"{SF}/embeddings.parquet").count()
    expected = {
        (i, i + _NEARDUP_DUP_OFF)
        for i in range(0, n, _NEARDUP_DUP_MOD)
    }
    assert got == expected


def test_ivf_non_broadcast_path_matches(embeddings, queries):
    """broadcast_queries=False (huge-query-set shuffle fallback) must
    return exactly the broadcast plan's results, and its analyzed plan
    must carry no broadcast hint on the probe/rerank joins."""
    from parquet_sampler_spark.operators.similarity import ivf_topk

    kw = dict(k=5, nlist=8, nprobe=3, seed=42)
    bc = ivf_topk(embeddings, queries, "vec_id", "embedding", **kw)
    nobc = ivf_topk(
        embeddings, queries, "vec_id", "embedding",
        broadcast_queries=False, **kw)
    assert "UnresolvedHint broadcast" not in nobc._jdf.queryExecution() \
        .analyzed().toString()
    rows = lambda df: {
        (r.query_id, r.neighbor_id, r.rank) for r in df.collect()}
    assert rows(bc) == rows(nobc)


def test_pq_recall_at_10(embeddings, queries):
    """PQ (16 codes x 16 centroids, rerank 100) must recover >= 0.8 of
    the exact top-10 on the isotropic testdata — PQ's worst case (no
    subspace structure); measured 0.96 at these params."""
    from parquet_sampler_spark.operators.similarity import pq_topk

    exact = {(r.query_id, r.neighbor_id) for r in cosine_topk(
        embeddings, queries, "vec_id", "embedding", k=10).collect()}
    approx = {(r.query_id, r.neighbor_id) for r in pq_topk(
        embeddings, queries, "vec_id", "embedding", k=10,
        m_sub=16, ncodes=16, rerank=100).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"recall@10={recall}"
    # reranked scores are EXACT cosines: every overlapping pair agrees
    # with brute force on the score itself (same normalized dot)


def test_pq_deterministic_and_cached(embeddings, queries):
    """Same seed => identical output; the memoized model must be hit on
    the second call (training is the index-build cost, amortized)."""
    from parquet_sampler_spark.operators.similarity import pq_topk
    from parquet_sampler_spark.plans.cache import MEMO

    key = ("pq_model", "test_pq_deterministic_and_cached")
    a = pq_topk(embeddings, queries, "vec_id", "embedding", k=5,
                cache_key=key).collect()
    assert key in MEMO
    b = pq_topk(embeddings, queries, "vec_id", "embedding", k=5,
                cache_key=key).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b)) and a


def test_pq_rejects_indivisible_dim(embeddings, queries):
    from parquet_sampler_spark.operators.similarity import pq_topk

    with pytest.raises(ValueError, match="not divisible"):
        pq_topk(embeddings, queries, "vec_id", "embedding", k=5,
                m_sub=7).count()


def test_pq_codebooks_shared_numpy_parity():
    """pq_train_codebooks_numpy is the oracle's trainer: shape and
    determinism contract (same inputs -> bit-identical codebooks,
    independent per-subspace seed streams)."""
    import numpy as np

    from parquet_sampler_spark.operators.similarity import (
        pq_train_codebooks_numpy,
    )

    rng = np.random.default_rng(3)
    ids = np.arange(300)
    vecs = rng.normal(size=(300, 32))
    a = pq_train_codebooks_numpy(ids, vecs, m_sub=8, ncodes=4, seed=9)
    b = pq_train_codebooks_numpy(ids, vecs, m_sub=8, ncodes=4, seed=9)
    assert a.shape == (8, 4, 4)
    assert (a == b).all()
    # different subspaces get different centroids (independent streams)
    assert not np.allclose(a[0], a[1])


def test_ivfpq_recall_and_candidate_subset(embeddings, queries):
    """IVF+PQ must (a) recover >= 0.6 of the exact top-10 at registry
    params (its ceiling is IVF's candidate recall on this isotropic
    corpus) and (b) emit only pairs IVF itself would consider — the
    PQ stage ranks within probed cells, never escapes them."""
    from parquet_sampler_spark.operators.similarity import (
        ivf_topk,
        ivfpq_topk,
    )

    exact = {(r.query_id, r.neighbor_id) for r in cosine_topk(
        embeddings, queries, "vec_id", "embedding", k=10).collect()}
    out = {(r.query_id, r.neighbor_id) for r in ivfpq_topk(
        embeddings, queries, "vec_id", "embedding", k=10,
        nlist=16, nprobe=8, m_sub=16, ncodes=16, rerank=100).collect()}
    recall = len(exact & out) / len(exact)
    assert recall >= 0.6, f"recall@10={recall}"

    # candidate-subset property: with rerank covering every probed
    # member, IVF (exact rerank of ALL probed members) at the same
    # nlist/nprobe is the upper envelope — IVFPQ's emitted top-k must
    # score <= IVF's per rank, and with a huge rerank they are EQUAL
    # (PQ ordering only affects which candidates reach the rerank)
    full = {(r.query_id, r.neighbor_id) for r in ivfpq_topk(
        embeddings, queries, "vec_id", "embedding", k=10,
        nlist=16, nprobe=8, m_sub=16, ncodes=16,
        rerank=10**6).collect()}
    ivf = {(r.query_id, r.neighbor_id) for r in ivf_topk(
        embeddings, queries, "vec_id", "embedding", k=10,
        nlist=16, nprobe=8).collect()}
    assert full == ivf


def test_ivfpq_residual_recovers_clustered_recall(spark):
    """Residual encoding (FAISS IVFADC) on a CLUSTERED corpus: with
    raw codes the PQ codebooks spend their resolution on the
    between-cluster structure, every member of a hot cluster
    quantizes alike, and recall collapses; coding v − centroid[cell]
    restores it at the same index parameters. Pinned on a small
    seeded Zipf mixture of Gaussians (the density shape the uniform
    corpus fixtures cannot exhibit)."""
    import numpy as np
    import pandas as pd

    from parquet_sampler_spark.operators.similarity import (
        cosine_topk,
        ivfpq_topk,
    )

    rng = np.random.default_rng(11)
    n, dim, n_clusters = 4000, 16, 6
    weights = 1.0 / np.arange(1, n_clusters + 1)
    weights /= weights.sum()
    assign = rng.choice(n_clusters, size=n, p=weights)
    centroids = rng.normal(0.0, 1.0, size=(n_clusters, dim))
    vecs = (centroids[assign]
            + rng.normal(0.0, 0.15, size=(n, dim))).astype(np.float32)
    e = spark.createDataFrame(pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(vecs),
    })).cache()
    q = e.filter(F.col("vec_id") < 20)

    def pairs(df):
        return {(r.query_id, r.neighbor_id) for r in df.collect()}

    exact = pairs(cosine_topk(e, q, "vec_id", "embedding", k=10))

    def recall(res):
        got = pairs(ivfpq_topk(
            e, q, "vec_id", "embedding", k=10, nlist=8, nprobe=4,
            m_sub=8, ncodes=16, rerank=30, seed=42, residual=res,
        ))
        return len(got & exact) / len(exact)

    raw, residual = recall(False), recall(True)
    # measured at this seed: raw 0.495, residual 0.835 — asserted
    # with margin for numerical drift, the GAP is the pinned claim
    assert raw < 0.65, f"raw-code recall unexpectedly high: {raw}"
    assert residual > 0.75, f"residual recall too low: {residual}"
    assert residual > raw + 0.2


def test_route_probe_and_assign_hierarchical_match_bruteforce():
    """The r10 hierarchical ANN routing helpers, pinned against a
    direct numpy recomputation on random integer-grid vectors:
    probing = nprobe_super nearest supers (stable ties), then the
    nprobe nearest of THEIR cells in (d, cell) order; assignment =
    nearest super, then argmin (d, cell) over only its cells. Also
    pins the flat path (sq=None) as plain stable-argsort top-nprobe."""
    import numpy as np

    from parquet_sampler_spark.operators.similarity import (
        _route_assign,
        _route_probe,
    )

    rng = np.random.default_rng(3)
    dim, k1, k = 8, 5, 23
    sq = rng.integers(-1000, 1000, size=(k1, dim)).astype(np.int64)
    cq = rng.integers(-1000, 1000, size=(k, dim)).astype(np.int64)
    # every super owns >= 1 cell (the two-level fit guarantees this);
    # deliberately NOT grouped/sorted to pin order-independence
    owner = np.concatenate([
        np.arange(k1), rng.integers(0, k1, size=k - k1)
    ]).astype(np.int64)
    rng.shuffle(owner)
    while len(np.unique(owner)) < k1:  # reshuffle kept coverage? rebuild
        owner = np.concatenate([
            np.arange(k1), rng.integers(0, k1, size=k - k1)
        ]).astype(np.int64)
        rng.shuffle(owner)
    m = rng.integers(-1000, 1000, size=(40, dim)).astype(np.int64)
    nprobe, nsup = 6, 2

    got = _route_probe(m, cq, sq, owner, nprobe, nsup)
    assigned = _route_assign(m, cq, sq, owner)
    for i in range(len(m)):
        ds = ((m[i] - sq) ** 2).sum(axis=1)
        sups = np.argsort(ds, kind="stable")[:nsup]
        cells = np.flatnonzero(np.isin(owner, sups))
        dc = ((m[i] - cq[cells]) ** 2).sum(axis=1)
        expect = cells[np.argsort(dc, kind="stable")][:nprobe].tolist()
        assert got[i] == expect
        s0 = int(np.argsort(ds, kind="stable")[0])
        c0 = np.flatnonzero(owner == s0)
        d0 = ((m[i] - cq[c0]) ** 2).sum(axis=1)
        assert assigned[i] == c0[int(np.argmin(d0))]

    flat = _route_probe(m, cq, None, None, nprobe, nsup)
    for i in range(len(m)):
        d = ((m[i][None, :] - cq) ** 2).sum(axis=1)
        assert flat[i] == np.argsort(d, kind="stable")[:nprobe].tolist()


def test_clustered_recall_standing_gate(spark):
    """(r10, VERDICT r9 #8) The clustered-corpus recall protocol as a
    STANDING gate: on the seeded 20k-vector Zipf mixture-of-Gaussians
    (tools/ann_recall_sf1.clustered_corpus — imported, not copied), the
    production shapes must hold recall@10 >= 0.9 (lsh 4x16, ivf np8,
    ivfpq residual + 8-bit codebooks) while raw 4-bit IVFPQ stays in
    its measured collapse (0.154 at r9/r10) — so a trainer regression
    cannot silently reopen the PQ cliff, and a 'fix' that merely lifts
    raw codes would trip the cliff guard and force re-measurement."""
    import importlib.util
    from pathlib import Path

    from parquet_sampler_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
        ivfpq_topk,
        lsh_topk,
    )

    spec = importlib.util.spec_from_file_location(
        "ann_recall_sf1",
        Path(__file__).resolve().parent.parent / "tools"
        / "ann_recall_sf1.py",
    )
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)

    e, _sizes = tool.clustered_corpus(spark)
    e = e.cache()
    try:
        q = e.filter(F.col("vec_id") < 30)
        exact = {(r.query_id, r.neighbor_id)
                 for r in cosine_topk(e, q, "vec_id", "embedding",
                                      k=10).collect()}

        def rec(df) -> float:
            got = {(r.query_id, r.neighbor_id) for r in df.collect()}
            return len(got & exact) / len(exact)

        lsh = rec(lsh_topk(e, q, "vec_id", "embedding", k=10, bits=4,
                           tables=16, dim=64, seed=42))
        ivf = rec(ivf_topk(e, q, "vec_id", "embedding", k=10, nlist=16,
                           nprobe=8, seed=42))
        raw = rec(ivfpq_topk(e, q, "vec_id", "embedding", k=10,
                             nlist=16, nprobe=8, m_sub=16, ncodes=16,
                             rerank=100, seed=42))
        res8 = rec(ivfpq_topk(e, q, "vec_id", "embedding", k=10,
                              nlist=16, nprobe=8, m_sub=16, ncodes=256,
                              rerank=100, seed=42, residual=True))
    finally:
        e.unpersist()

    assert lsh >= 0.9, f"lsh clustered recall regressed: {lsh}"
    assert ivf >= 0.9, f"ivf np8 clustered recall regressed: {ivf}"
    assert res8 >= 0.9, f"residual+8bit clustered recall regressed: {res8}"
    # the cliff guard: raw 4-bit codes are EXPECTED to collapse here
    assert raw < 0.5, (
        f"raw-code IVFPQ no longer collapses on clustered data ({raw}) "
        "— re-measure tools/ann_recall_sf1.py --clustered and update "
        "the documented cliff"
    )


def test_fit_hierarchy_never_returns_cellless_supers():
    """ADVICE r10: a super-cell whose sketch population is empty must
    not appear in the returned supers array — otherwise an ONLINE
    vector (outside the fit sketch) nearest to it would hit an empty
    argmin in _route_assign / a silently short probe list in
    _route_probe. Pinned: every returned super owns >= 1 cell, owner
    indices are positions into the returned supers, and routing any
    adversarially-far online vector succeeds."""
    import numpy as np

    from parquet_sampler_spark.operators.similarity import (
        _TWO_LEVEL_NLIST,
        _fit_coarse_hierarchy,
        _route_assign,
        _route_probe,
    )

    rng = np.random.default_rng(11)
    # only 3 DISTINCT points but k1 ~ 11 supers: Lloyd's degenerate
    # branch duplicates centroids, the duplicates win no points, and
    # pre-fix those cell-less supers leaked into the returned array
    centers = rng.integers(-500, 500, size=(3, 8)).astype(np.float64)
    X = np.repeat(centers, 120, axis=0)
    k = _TWO_LEVEL_NLIST + 40  # forces the two-level path (k1 ~ 11)
    supers, cents, owner = _fit_coarse_hierarchy(X, k, seed=7,
                                                 max_iter=10)
    assert supers is not None and owner is not None
    assert len(supers) < 11  # the degenerate fixture really dropped some
    # every super owns at least one sub-centroid; owners are positions
    assert set(owner.tolist()) == set(range(len(supers)))
    # online vectors far outside the sketch route without error and
    # with full-length probe lists
    sq = np.floor(supers * 1024).astype(np.int64)
    cq = np.floor(cents * 1024).astype(np.int64)
    m = rng.integers(-10**6, 10**6, size=(64, 8)).astype(np.int64)
    assigned = _route_assign(m, cq, sq, owner)
    assert len(assigned) == len(m)
    probes = _route_probe(m, cq, sq, owner, nprobe=3, nprobe_super=1)
    assert all(len(p) >= 1 for p in probes)


def test_cosine_range_exact_and_bounds(spark):
    # radius search returns exactly the >= threshold set, excludes
    # self, drops zero-norm vectors, and agrees with cosine_topk's
    # scores on the overlap
    from parquet_sampler_spark.operators.similarity import (
        cosine_range, cosine_topk,
    )

    rows = [
        (0, [1.0, 0.0]),
        (1, [1.0, 0.1]),      # cos ~= 0.995 to q0
        (2, [0.0, 1.0]),      # cos 0 to q0
        (3, [-1.0, 0.0]),     # cos -1 to q0
        (4, [0.0, 0.0]),      # zero-norm: dropped
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    q = df.filter("vec_id = 0")
    got = cosine_range(df, q, "vec_id", "embedding", threshold=0.5).collect()
    assert [(r["query_id"], r["neighbor_id"]) for r in got] == [(0, 1)]
    assert abs(got[0]["score"] - (1.0 / (1.0 + 0.01) ** 0.5)) < 1e-12
    # negative threshold: everything except self and the zero vector
    all_got = cosine_range(df, q, "vec_id", "embedding", threshold=-1.0)
    assert sorted(r["neighbor_id"] for r in all_got.collect()) == [1, 2, 3]
    # score parity with cosine_topk on the same pair
    tk = {r["neighbor_id"]: r["score"]
          for r in cosine_topk(df, q, "vec_id", "embedding", k=3).collect()}
    for r in all_got.collect():
        assert r["score"] == tk[r["neighbor_id"]]


# ---------------------------------------------------------------------------
# ivf_coreset (r12): per-cell prototypicality selection
# ---------------------------------------------------------------------------


def _coreset_corpus(spark):
    # two tight clusters far apart + one straggler per cluster: with
    # nlist=2 Lloyd converges to one centroid per cluster
    import numpy as np

    rng = np.random.default_rng(7)
    rows = []
    for i in range(20):
        rows.append((i, (rng.normal(0, 0.05, 4) + [0, 0, 0, 0]).tolist()))
    for i in range(20, 40):
        rows.append((i, (rng.normal(0, 0.05, 4) + [9, 9, 9, 9]).tolist()))
    rows.append((100, [1.5, 1.5, 1.5, 1.5]))   # cluster-0 outlier
    rows.append((101, [7.5, 7.5, 7.5, 7.5]))   # cluster-1 outlier
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    )


def test_ivf_coreset_central_and_outlier_semantics(spark):
    from parquet_sampler_spark.operators.similarity import ivf_coreset

    df = _coreset_corpus(spark)
    central = ivf_coreset(df, "vec_id", "embedding", m=3, nlist=2,
                          seed=11).collect()
    by_cell = {}
    for r in central:
        by_cell.setdefault(r.cell, []).append(r)
    assert len(by_cell) == 2
    for cell, rs in by_cell.items():
        assert len(rs) == 3
        ds = [r.d for r in sorted(rs, key=lambda r: r.rank)]
        assert ds == sorted(ds)           # rank follows ascending d
        # the planted far-out points are never "central"
        assert all(r.vec_id not in (100, 101) for r in rs)

    outlier = ivf_coreset(df, "vec_id", "embedding", m=1, nlist=2,
                          seed=11, keep="outlier").collect()
    assert sorted(r.vec_id for r in outlier) == [100, 101]


def test_ivf_coreset_shares_model_cache(spark):
    from parquet_sampler_spark.operators.similarity import ivf_coreset

    from parquet_sampler_spark.plans.cache import MEMO

    df = _coreset_corpus(spark)
    key = ("ivf_model", "test_ivf_coreset_shares_model_cache")
    a = ivf_coreset(df, "vec_id", "embedding", m=2, nlist=2, seed=11,
                    cache_key=key).collect()
    assert key in MEMO
    b = ivf_coreset(df, "vec_id", "embedding", m=2, nlist=2, seed=11,
                    cache_key=key).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_ivf_coreset_validation(spark):
    from parquet_sampler_spark.operators.similarity import ivf_coreset

    df = _coreset_corpus(spark)
    with pytest.raises(ValueError):
        ivf_coreset(df, "vec_id", "embedding", m=0)
    with pytest.raises(ValueError):
        ivf_coreset(df, "vec_id", "embedding", keep="middle")


# ---------------------------------------------------------------------------
# jl_topk (r12): Johnson-Lindenstrauss projected shortlist + rerank
# ---------------------------------------------------------------------------


def test_jl_topk_recall_isotropic_floor_and_score_parity(spark):
    # the registry testdata is ISOTROPIC gaussian — JL's worst case
    # (all cosines near 0, so the ε ≈ sqrt(ln n / proj_dim) distortion
    # is large relative to the margins; same caveat ann_ivf documents
    # for probed-fraction recall). Pin the measured floor: an 8%
    # shortlist still recovers >3x its share of the true top-10.
    from parquet_sampler_spark.operators.similarity import (
        cosine_topk,
        jl_topk,
    )

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = e.filter("vec_id < 5")
    exact_rows = cosine_topk(e, q, "vec_id", "embedding", k=10).collect()
    exact = {(r.query_id, r.neighbor_id) for r in exact_rows}
    jl_rows = jl_topk(e, q, "vec_id", "embedding", k=10,
                      proj_dim=16, shortlist=40, seed=4242).collect()
    jl = {(r.query_id, r.neighbor_id) for r in jl_rows}
    assert len(jl) == len(exact) == 50
    recall = len(exact & jl) / len(exact)
    assert recall >= 0.3, f"recall={recall}"
    # reranked scores are FULL-dim cosines: every kept pair that is
    # also in the exact set must carry the identical score
    exact_scores = {(r.query_id, r.neighbor_id): r.score
                    for r in exact_rows}
    jl_scores = {(r.query_id, r.neighbor_id): r.score for r in jl_rows}
    for pair in exact & jl:
        assert jl_scores[pair] == exact_scores[pair]


def test_jl_topk_recall_clustered_corpus(spark):
    # on CLUSTERED data (every real embedding corpus) JL preserves the
    # cluster geometry and recall stays high at 4x dim reduction —
    # the smooth-degradation property the operator exists for
    import numpy as np

    from parquet_sampler_spark.operators.similarity import (
        cosine_topk,
        jl_topk,
    )

    rng = np.random.default_rng(3)
    centers = rng.standard_normal((10, 64)) * 3
    rows = []
    for i in range(400):
        c = i % 10
        rows.append((i, (centers[c] + rng.standard_normal(64) * 0.3)
                     .tolist()))
    e = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    )
    q = e.filter("vec_id < 5")
    exact = {(r.query_id, r.neighbor_id)
             for r in cosine_topk(e, q, "vec_id", "embedding",
                                  k=10).collect()}
    jl = {(r.query_id, r.neighbor_id)
          for r in jl_topk(e, q, "vec_id", "embedding", k=10,
                           proj_dim=16, shortlist=40,
                           seed=4242).collect()}
    recall = len(exact & jl) / len(exact)
    assert recall >= 0.9, f"recall={recall}"


def test_jl_topk_wide_shortlist_equals_exact(spark):
    # with the shortlist as wide as the corpus the rerank sees every
    # candidate, so the output must EQUAL brute force exactly
    from parquet_sampler_spark.operators.similarity import (
        cosine_topk,
        jl_topk,
    )

    e = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).filter("vec_id < 60")
    q = e.filter("vec_id < 3")
    exact = sorted(map(tuple, cosine_topk(
        e, q, "vec_id", "embedding", k=5).collect()))
    jl = sorted(map(tuple, jl_topk(
        e, q, "vec_id", "embedding", k=5, proj_dim=8,
        shortlist=60, seed=7).collect()))
    assert jl == exact


def test_jl_topk_validation(spark):
    from parquet_sampler_spark.operators.similarity import jl_topk

    e = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id bigint, embedding array<double>"
    )
    with pytest.raises(ValueError):
        jl_topk(e, e, "vec_id", "embedding", k=0)
    with pytest.raises(ValueError):
        jl_topk(e, e, "vec_id", "embedding", k=5, shortlist=3)
    with pytest.raises(ValueError):
        jl_topk(e, e, "vec_id", "embedding", proj_dim=0)


def test_embedding_neardup_incremental_probe(spark):
    """Batch-vs-index gate: a re-ingested identical vector pairs with
    its original at cos 1.0; a novel direction emits nothing; pairs
    never form within a side."""
    from parquet_sampler_spark.operators.similarity import (
        embedding_neardup_incremental,
    )

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0]),
         (3, [0.6, 0.8, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    batch = spark.createDataFrame(
        [(10, [2.0, 0.0, 0.0, 0.0]),     # scaled copy of 1 -> cos 1.0
         (11, [0.0, 0.0, 0.0, 1.0])],    # orthogonal to everything
        "vec_id long, embedding array<float>",
    )
    got = {
        (r.id_a, r.id_b): r.cos_sim
        for r in embedding_neardup_incremental(
            corpus, batch, "vec_id", "embedding", threshold=0.95,
        ).collect()
    }
    assert got[(1, 10)] == 1.0
    assert all(b == 10 for _, b in got)  # 11 matches nothing
    # corpus-internal near structure (1,3)=0.6 never appears
    assert all(a in (1, 2, 3) for a, _ in got)


def test_embedding_neardup_incremental_ivf_probe(spark):
    """IVF-routed gate, same contract as the sign-bit probe test —
    plus the flat-routing guarantee: a scaled re-ingest is found at
    nprobe=1 (its probe list starts at the argmin cell, which is by
    construction the cell its corpus twin was assigned to)."""
    from parquet_sampler_spark.operators.similarity import (
        embedding_neardup_incremental_ivf,
    )

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0]),
         (3, [0.6, 0.8, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    batch = spark.createDataFrame(
        [(10, [2.0, 0.0, 0.0, 0.0]),     # scaled copy of 1 -> cos 1.0
         (11, [0.0, 0.0, 0.0, 1.0])],    # orthogonal to everything
        "vec_id long, embedding array<float>",
    )
    for nprobe in (1, 2):
        got = {
            (r.id_a, r.id_b): r.cos_sim
            for r in embedding_neardup_incremental_ivf(
                corpus, batch, "vec_id", "embedding", threshold=0.95,
                nlist=3, nprobe=nprobe,
            ).collect()
        }
        assert got[(1, 10)] == 1.0
        assert all(b == 10 for _, b in got)  # 11 matches nothing
        assert all(a in (1, 2, 3) for a, _ in got)


def test_embedding_neardup_ivf_clustered_recall(spark):
    """VERDICT r12 #5's recall gate: on the seeded clustered corpus
    (the layout real embedding corpora have) the IVF-routed gate at
    nprobe=4 must match or beat the sign-bit gate — measured 1.0 vs
    0.9703 at n=5000 (the quantizer follows density; hyperplanes are
    direction-blind). Precision is exact for both (every candidate
    re-verified with the JVM unit-dot), so only recall is at stake.
    Everything is seeded -> the comparison is deterministic."""
    import importlib.util
    from pathlib import Path

    import numpy as np
    import pandas as pd

    from parquet_sampler_spark.operators.similarity import (
        embedding_neardup_incremental,
        embedding_neardup_incremental_ivf,
    )

    spec = importlib.util.spec_from_file_location(
        "ann_recall_sf1",
        Path(__file__).resolve().parent.parent / "tools"
        / "ann_recall_sf1.py",
    )
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)

    e, _sizes = tool.clustered_corpus(spark, n=5000)
    pdf = e.toPandas()
    vecs = np.array(pdf.embedding.tolist(), dtype=np.float64)
    ids = pdf.vec_id.to_numpy()
    rng = np.random.default_rng(99)
    base = np.arange(0, len(ids), 20)
    pert = vecs[base] + rng.normal(0, 0.02, size=(len(base), 64))
    novel = rng.normal(0, 1.0, size=(100, 64))
    bv = np.vstack([pert, novel])
    bids = np.arange(10_000_000, 10_000_000 + len(bv))
    uc = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    ub = bv / np.linalg.norm(bv, axis=1, keepdims=True)
    truth = {(int(ids[i]), int(bids[j]))
             for i, j in zip(*np.where(uc @ ub.T >= 0.95))}
    assert len(truth) > 100_000  # the clusters make the gate dense
    bpdf = pd.DataFrame({
        "vec_id": bids,
        "embedding": [v.tolist() for v in bv.astype(np.float32)],
    })
    batch = spark.createDataFrame(
        bpdf, "vec_id long, embedding array<float>"
    )

    def recall(df) -> float:
        got = {(r.id_a, r.id_b) for r in df.collect()}
        assert not got - truth, "exact verify must make precision 1"
        return len(got & truth) / len(truth)

    sb = recall(embedding_neardup_incremental(
        e, batch, "vec_id", "embedding", threshold=0.95))
    iv = recall(embedding_neardup_incremental_ivf(
        e, batch, "vec_id", "embedding", threshold=0.95,
        nlist=16, nprobe=4))
    assert sb >= 0.9, f"sign-bit clustered recall regressed: {sb}"
    assert iv >= 0.99, f"ivf gate clustered recall regressed: {iv}"
    assert iv >= sb, (
        f"ivf gate ({iv}) fell below the sign-bit gate ({sb}) on "
        "clustered data — the density-adaptive claim no longer holds"
    )


def test_route_probe_vectorized_equals_loop_reference():
    """The r13 per-super-batched hierarchical probe must reproduce the
    r12 per-row loop bit-for-bit (the ann_ivf_hier / ivfpq oracles pin
    the exact candidate order: top-nprobe by (distance, cell id) over
    the selected supers' cells)."""
    import numpy as np

    from parquet_sampler_spark.operators.similarity import (
        _int_sqdist,
        _route_probe,
    )

    rng = np.random.default_rng(123)
    k1, k, dim, n = 7, 40, 8, 500
    sq = rng.integers(-50, 50, size=(k1, dim)).astype(np.int64)
    cq = rng.integers(-50, 50, size=(k, dim)).astype(np.int64)
    owner = rng.integers(0, k1, size=k).astype(np.int64)
    # guarantee every super owns >= 1 cell (the fit invariant)
    owner[:k1] = np.arange(k1)
    # duplicate centroids -> distance ties exercise the tie-break
    cq[10] = cq[11]
    cq[20] = cq[21]
    m = rng.integers(-50, 50, size=(n, dim)).astype(np.int64)
    m[3] = m[7]  # identical probe rows

    def loop_reference(m, cq, sq, owner, nprobe, nprobe_super):
        ds = _int_sqdist(m, sq)
        sup_order = np.argsort(
            ds, axis=1, kind="stable")[:, :nprobe_super]
        out = []
        for i in range(len(m)):
            cells = np.flatnonzero(np.isin(owner, sup_order[i]))
            d = _int_sqdist(m[i:i + 1], cq[cells])[0]
            loc = np.argsort(d, kind="stable")[:nprobe]
            out.append(cells[loc].astype(np.int32).tolist())
        return out

    for nprobe, nsup in ((1, 1), (3, 2), (6, 4), (100, 100)):
        got = _route_probe(m, cq, sq, owner, nprobe, nsup)
        want = loop_reference(m, cq, sq, owner, nprobe, nsup)
        assert got == want, (nprobe, nsup)


def test_embedding_admit_batch_contract(spark):
    """Admission decision: a batch vector near-dup of the corpus is
    rejected; a junior batch vector near-dup of a senior batch vector
    is rejected (greedy min-id, even though the senior is itself
    rejected for duplicating the corpus — the documented one-pass
    rule); novel directions are admitted with their rows intact.
    Both routings must agree (everything is exact-verified)."""
    import pytest

    from parquet_sampler_spark.operators.similarity import (
        embedding_admit_batch,
    )

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    batch = spark.createDataFrame(
        [(10, [2.0, 0.0, 0.0, 0.0]),   # dup of corpus 1 -> rejected
         (11, [3.0, 0.0, 0.0, 0.0]),   # dup of corpus 1 AND senior 10
         (12, [0.0, 0.0, 1.0, 0.0]),   # novel -> admitted
         (13, [0.0, 0.0, 5.0, 0.0])],  # dup of SENIOR 12 -> rejected
        "vec_id long, embedding array<float>",
    )
    for routing in ("signbit", "ivf"):
        got = embedding_admit_batch(
            corpus, batch, "vec_id", "embedding", threshold=0.95,
            routing=routing,
        ).collect()
        assert {r.vec_id for r in got} == {12}, routing
        assert got[0].embedding == [0.0, 0.0, 1.0, 0.0]
    with pytest.raises(ValueError):
        embedding_admit_batch(corpus, batch, "vec_id", "embedding",
                              routing="nope")


def test_unit_dot_arrow_bit_identical_to_hof_fold(spark):
    """_unit_dot_arrow must reproduce the Catalyst HOF fold to the
    last bit: same elementwise IEEE products, same strictly-
    sequential left-to-right summation (np.add.accumulate is cumsum,
    not np.sum's pairwise tree). Adversarial magnitudes included —
    mixed exponents are where a different reduction order shows."""
    import numpy as np

    from parquet_sampler_spark.operators.similarity import (
        _unit_dot,
        _unit_dot_arrow,
    )

    rng = np.random.default_rng(7)
    rows = []
    for i in range(200):
        d = int(rng.integers(1, 80))
        a = rng.normal(0, 1, d)
        b = rng.normal(0, 1, d)
        if i % 3 == 0:  # adversarial: spread exponents over ~1e12
            a *= 10.0 ** rng.integers(-6, 7, d)
            b *= 10.0 ** rng.integers(-6, 7, d)
        rows.append((i, a.tolist(), b.tolist()))
    df = spark.createDataFrame(
        rows, "id long, va array<double>, vb array<double>"
    )
    got = df.select(
        "id",
        _unit_dot("va", "vb").alias("fold"),
        _unit_dot_arrow(F.col("va"), F.col("vb")).alias("arrow"),
    ).collect()
    for r in got:
        assert r.fold == r.arrow, (r.id, r.fold, r.arrow)


def test_sqdist_f64_bit_identical_to_tensor_form():
    """_lloyd_kmeans's unrolled small-width squared-distance path
    (r15) must replay the n×k×d tensor form bit-for-bit — including
    quantized-int-scale magnitudes and degenerate widths — and the
    wide path must BE the tensor form."""
    import numpy as np

    from parquet_sampler_spark.operators.similarity import _sqdist_f64

    rng = np.random.default_rng(99)
    for n, k, d in [(4096, 256, 4), (1000, 7, 3), (64, 2, 1),
                    (512, 16, 7), (128, 8, 8), (256, 16, 64)]:
        X = rng.standard_normal((n, d)) * 2.0 ** 20
        C = rng.standard_normal((k, d)) * 2.0 ** 20
        ref = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assert np.array_equal(_sqdist_f64(X, C), ref), (n, k, d)


def test_pq_sqdists_bit_identical_to_difference_tensor():
    """The int64-GEMM PQ code-assignment distances (r15) must equal
    the r10 difference-tensor form exactly (both are exact int64
    arithmetic at quantized magnitudes)."""
    import numpy as np

    from parquet_sampler_spark.operators.similarity import _pq_sqdists

    rng = np.random.default_rng(17)
    n, m_sub, ncodes, dsub = 257, 8, 16, 4
    xs = rng.integers(-(2 ** 20), 2 ** 20, (n, m_sub, dsub)).astype(
        np.int64
    )
    cbq = rng.integers(-(2 ** 20), 2 ** 20, (m_sub, ncodes, dsub)).astype(
        np.int64
    )
    ref = ((xs[:, :, None, :] - cbq[None, :, :, :]) ** 2).sum(axis=3)
    assert np.array_equal(_pq_sqdists(xs, cbq), ref)


def test_sketch_topk_paths_agree_on_boundary_ties(spark, monkeypatch):
    """The quantizer sketch's collect-all path and its distributed
    k-th-rank path select identical rows in identical (__h, __id) order,
    also when the k-th boundary cuts a run of tied hashes."""
    from parquet_sampler_spark.operators import similarity

    # 7 ids per hash value 0..9; k = 23 keeps hashes 0-2 and the two
    # lowest ids of the 7 tied at hash 3
    rows = [(i, [float(i), 1.0], i * 9 % 10) for i in range(70)]
    rel = spark.createDataFrame(
        rows, "__id long, __v array<double>, __h long"
    ).repartition(5)
    k = 23
    got = {}
    for path, cutover in (("collect_all", 1 << 40), ("distributed", 0)):
        monkeypatch.setattr(similarity, "_SKETCH_COLLECT_ALL_MAX", cutover)
        got[path] = [tuple(r) for r in similarity._sketch_topk(rel, k)]
    want = sorted(rows, key=lambda r: (r[2], r[0]))[:k]
    assert got["collect_all"] == got["distributed"] == want
    assert [r for r in want if r[2] == 3] == [(7, [7.0, 1.0], 3),
                                              (17, [17.0, 1.0], 3)]
