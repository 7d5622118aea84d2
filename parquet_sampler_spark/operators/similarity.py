"""Similarity search over embedding columns (``array<float>``).

* :func:`cosine_topk` — exact brute-force top-k: pre-normalize both
  sides once (so the per-pair score is a single dot product, not a
  3-aggregate cosine), broadcast the small query side, score map-side,
  then a per-query top-k window.
* :func:`lsh_topk` — random-hyperplane LSH: bucket corpus and queries by
  sign-bit signatures and only score within matching buckets. Trades
  recall for a candidate set ~``corpus / 2^bits`` per table — the
  100 TB path where scoring everything is off the table. Recall is
  tested against the brute-force baseline (tests/test_similarity.py).
* :func:`ivf_topk` — inverted-file ANN: KMeans coarse quantizer, probe
  the nprobe nearest cells, exact rerank — the density-adaptive
  alternative to LSH.
* :func:`embedding_neardup_pairs` — all corpus pairs with cosine ≥
  threshold (brute force, oracle-checkable) — embedding-space near-dedup.

Determinism: normalization (divide by IEEE-exact sqrt) and the
left-to-right double dot product are replicated operation-for-operation
in the DuckDB oracle SQL — scores are bit-identical across engines.

Layout: inputs pass through :func:`~parquet_sampler_spark.plans.layout.
spread` — a small single-split parquet would otherwise pin all the
vector math to one core.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd

# driver-thread pool width for the independent seeded Lloyd fits
# (PQ subspaces, hierarchical sub-cells): the GIL-held parts of Lloyd
# (kmeans++ seeding, per-group means) make wall time U-shaped in
# worker count — 4 measured best on the ivfpqr8 fit shape (serial
# 17.9 s / 16 threads 11.8 s / 4 threads 6.4 s), and a small constant
# keeps driver CPU from competing with executor tasks in local mode.
_FIT_POOL_WORKERS = 4

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from parquet_sampler_spark.functions.vectors import cosine, norm2
from parquet_sampler_spark.plans.layout import spread

_RN = "__psx_rank"

# operator-persisted relations (normalized vectors, band tables) are
# registered with the shared session-lifetime registry (plans/cache.py)
from parquet_sampler_spark.plans.cache import (  # noqa: E402
    MEMO,
    persist as _cache_persist,
)


def _vec_dim(df: DataFrame, vec_col: str) -> int:
    """Embedding width, memoized per (session, plan): every LSH/gate
    operator needs the vector dim at plan-build time to seed its
    hyperplanes, and each invocation paid a one-row scan JOB for it
    (r14: 4 probe jobs per admit-row build at ~0.1 s driver latency
    each). Keyed on the canonicalized plan hash, so re-invocations over
    the same relation skip the job; wrong only if a plan-identical
    relation changes width within one session, which no supported flow
    does."""
    try:
        key = (
            "vec_dim",
            df.sparkSession.sparkContext.applicationId,
            df.select(vec_col).semanticHash(),
        )
    except Exception:
        return df.select(F.size(vec_col)).first()[0]
    if key not in MEMO:
        MEMO[key] = df.select(F.size(vec_col)).first()[0]
    return MEMO[key]


def _normalized(df: DataFrame, id_col: str, vec_col: str,
                out_id: str, out_vec: str) -> DataFrame:
    """(id, unit-vector) relation; zero-norm vectors are dropped (their
    cosine to anything is 0 / undefined — they can never pass a positive
    threshold or outrank a real neighbor)."""
    staged = spread(df).select(
        F.col(id_col).alias(out_id),
        F.col(vec_col).alias("__raw"),
        norm2(vec_col).alias("__nrm"),
    )
    return staged.filter(F.col("__nrm") > 0).select(
        out_id,
        F.transform(
            "__raw", lambda x: x.cast("double") / F.col("__nrm")
        ).alias(out_vec),
    )


# collect-all cutover for _sketch_topk: relations at or below this
# row count are small enough to collect and sort on the driver
# (identical selection); larger ones take the distributed k-th-rank
# path that the sf100 sized-quantizer sketch required
_SKETCH_COLLECT_ALL_MAX = 1 << 17


def _sketch_topk(rel: DataFrame, id_name: str, k: int) -> list:
    """Collect the ``k`` rows of ``rel`` with the smallest
    ``(__h, id)`` — exactly ``rel.orderBy("__h", id).limit(k)
    .collect()`` — WITHOUT TakeOrderedAndProject's Θ(k × partitions)
    driver partials (r14: the 250k-row sized-quantizer sketch over the
    320-partition sf100 tier returned a local top-k per task and blew
    ``spark.driver.maxResultSize`` at 1 GB; the un-partitioned runs
    had merely been squeaking under it). Instead, the sampler's
    distributed k-th-rank histogram selection finds the boundary hash
    in 2-3 KB-sized aggregations over the hash column alone, a filter
    reduces the scan to the ~k selected rows, and only those collect.
    Boundary ties resolve by ascending id, matching the orderBy's tie
    column; the returned rows are driver-sorted by ``(__h, id)`` so
    training sees the identical row order (kmeans++ init is
    order-sensitive, and the DuckDB oracle builders replay the same
    selection + order on raw parquet)."""
    from parquet_sampler_spark.functions.hashing import MODULUS
    from parquet_sampler_spark.operators.sample import (
        _PR,
        _kth_rank_value,
    )

    total = rel.count()
    if total <= max(k, _SKETCH_COLLECT_ALL_MAX):
        # collect-all + driver sort + slice selects the IDENTICAL k
        # rows (same (__h, id) order) in ONE job instead of the
        # boundary-histogram's 2-3 aggregation passes — the right
        # trade only while the relation is collect-sized (≤ 2^17
        # narrow rows ≈ tens of MB, far under maxResultSize); the
        # 250k-row sf100 sized-quantizer sketch that motivated the
        # distributed selection stays on the distributed path
        # (r15 optimization round, guide §1.2: ~10 fits per bench
        # pass each paid the aggregation-job latencies).
        rows = sorted(rel.collect(),
                      key=lambda r: (r["__h"], r[id_name]))
        return rows[:k]
    t_star, c_lt = _kth_rank_value(
        rel.select(F.col("__h").alias(_PR)), k, MODULUS
    )
    rows = rel.filter(F.col("__h") < t_star).collect()
    need = k - c_lt
    if need > 0:
        rows += (
            rel.filter(F.col("__h") == t_star)
            .orderBy(id_name).limit(need).collect()
        )
    rows.sort(key=lambda r: (r["__h"], r[id_name]))
    return rows


def _unit_dot(a: str, b: str) -> Column:
    """Left-to-right double dot product of two unit vectors = cosine."""
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


@F.pandas_udf(T.DoubleType())
def _unit_dot_arrow(va: pd.Series, vb: pd.Series) -> pd.Series:
    """BIT-IDENTICAL Arrow-batched form of :func:`_unit_dot` (r13).

    Catalyst evaluates higher-order functions INTERPRETED — no
    whole-stage codegen, one lambda invocation per element — which
    made the exact verify the measured bottleneck of the warm ingest
    probe (77.7 of 91 s at the sf100 planted tier, vs 8 s candidate
    generation). This computes the same value: elementwise float64
    products (one IEEE op each, identical), then ``np.add.accumulate``
    along the row — numpy's accumulate is STRICTLY SEQUENTIAL
    (cumsum), not pairwise like ``np.sum``, so every intermediate is
    the same correctly-rounded double the JVM fold produces and the
    result matches the HOF fold and the DuckDB oracle's list fold to
    the last bit (pytest-pinned on random + adversarial-magnitude
    vectors; gate oracles re-verified). The first accumulate step
    equals ``0.0 + prod[0]`` exactly, matching the fold's zero init.
    """
    al = va.tolist()
    bl = vb.tolist()
    # degenerate rows follow the fold exactly (r14 ADVICE): a NULL
    # array on either side, or two arrays of different lengths
    # (zip_with pads the shorter with NULL, which the sum propagates)
    # → NULL; a zero-length pair → 0.0 (the fold's init)
    null_mask = np.array(
        [a is None or b is None or len(a) != len(b)
         for a, b in zip(al, bl)],
        dtype=bool,
    )
    out = np.zeros(len(al), dtype=np.float64)
    if not null_mask.any() and len({len(x) for x in al}) == 1:
        # the embedding-column shape: one width on both sides
        if len(al[0]):
            a = np.array(al, dtype=np.float64)
            b = np.array(bl, dtype=np.float64)
            out[:] = np.add.accumulate(a * b, axis=1)[:, -1]
        return pd.Series(out)
    # ragged / partially-null rows (not the embedding-column shape,
    # but keep the general contract): group the equal-width pairs by
    # (len(a), len(b)), same sequential fold; zero-length pairs keep
    # the 0.0 init
    by_len: dict[tuple[int, int], list[int]] = {}
    for i, (x, y) in enumerate(zip(al, bl)):
        if not null_mask[i] and len(x):
            by_len.setdefault((len(x), len(y)), []).append(i)
    for idxs in by_len.values():
        a = np.array([al[i] for i in idxs], dtype=np.float64)
        b = np.array([bl[i] for i in idxs], dtype=np.float64)
        out[idxs] = np.add.accumulate(a * b, axis=1)[:, -1]
    if null_mask.any():
        res = pd.array(out, dtype="Float64")
        res[null_mask] = pd.NA
        return pd.Series(res)
    return pd.Series(out)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
) -> DataFrame:
    """Exact top-k nearest corpus rows per query row by cosine.

    Output: ``query_id, neighbor_id, score, rank`` (rank 1 = best;
    self-matches excluded when ids collide). Deterministic: ties broken
    by neighbor id.
    """
    q = _normalized(queries, id_col, vec_col, "query_id", "__qv")
    c = _normalized(corpus, id_col, vec_col, "neighbor_id", "__cv")
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("score", _unit_dot("__qv", "__cv"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn(_RN, F.row_number().over(w))
        .filter(F.col(_RN) <= k)
        .select("query_id", "neighbor_id", "score",
                F.col(_RN).alias("rank"))
    )


def cosine_range(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
) -> DataFrame:
    """Exact radius (range) search: every corpus row whose cosine to a
    query row is ``>= threshold`` — the fixed-similarity complement of
    :func:`cosine_topk`'s fixed-count contract (retrieval wants "all
    matches above 0.9", not "the 10 best whatever they score").

    Output: ``query_id, neighbor_id, score`` (self-matches excluded).
    Plan: the query set broadcasts and the corpus STREAMS through one
    scan — a map-side nested-loop over nq unit vectors per corpus row,
    no shuffle of the corpus, no window; the threshold filter fuses
    into the same stage, so at 100 TB this is a single
    embarrassingly-parallel pass (the right shape while nq is
    broadcast-sized; a corpus-sized query set wants the LSH-bucketed
    neardup join instead — :func:`embedding_neardup`).
    """
    q = _normalized(queries, id_col, vec_col, "query_id", "__qv")
    c = _normalized(corpus, id_col, vec_col, "neighbor_id", "__cv")
    return (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("score", _unit_dot("__qv", "__cv"))
        .filter(F.col("score") >= threshold)
        .select("query_id", "neighbor_id", "score")
    )


def _hyperplanes(dim: int, bits: int, seed: int) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((bits, dim)).tolist()


def _seq_unroll_ok() -> bool:
    """Import-time probe: does THIS numpy build reduce axes shorter
    than 8 strictly sequentially (the documented pairwise-summation
    cutover)? If so, the per-dimension accumulation in
    :func:`_sqdist_f64` reproduces the tensor form bit-for-bit."""
    rng = np.random.default_rng(12345)
    for d in range(2, 8):
        X = rng.standard_normal((37, d)) * 3.7e5
        C = rng.standard_normal((11, d)) * 2.9e5
        t = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        acc = (X[:, 0, None] - C[None, :, 0]) ** 2
        for i in range(1, d):
            acc = acc + (X[:, i, None] - C[None, :, i]) ** 2
        if not np.array_equal(t, acc):
            return False
    return True


_SEQ_UNROLL_OK = _seq_unroll_ok()


def _sqdist_f64(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """``((X[:,None,:]-C[None,:,:])**2).sum(axis=2)`` without the
    n×k×d intermediate when the vector width sits below numpy's
    pairwise-summation cutover (8): reductions over < 8 elements are
    strictly sequential, so accumulating per-dimension squared
    differences left-to-right is the SAME float additions in the SAME
    order — bit-identical (probed at import for this numpy build,
    plus pytest-pinned), and 16× faster on the PQ dsub=4 fit shape
    (258 → 16 ms per Lloyd iteration at n=4096, k=256; r15
    optimization round, guide §1.2 "per-task work"). Wider vectors
    (the d=64 coarse fits) keep the tensor form — their axis
    reduction is pairwise, so the unroll would NOT replay it."""
    d = X.shape[1]
    if _SEQ_UNROLL_OK and 0 < d < 8:
        acc = (X[:, 0, None] - C[None, :, 0]) ** 2
        for i in range(1, d):
            acc = acc + (X[:, i, None] - C[None, :, i]) ** 2
        return acc
    return ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)


def _lloyd_kmeans(
    X: np.ndarray, k: int, seed: int, max_iter: int
) -> np.ndarray:
    """Plain Lloyd's algorithm with kmeans++ seeding over a (bounded)
    training sketch — the coarse-quantizer fit for :func:`ivf_topk`.
    Deterministic for a fixed seed."""
    rng = np.random.default_rng(seed)
    n = X.shape[0]
    centroids = np.empty((k, X.shape[1]), dtype=np.float64)
    centroids[0] = X[rng.integers(n)]
    d2 = ((X - centroids[0]) ** 2).sum(axis=1)
    for j in range(1, k):
        total = d2.sum()
        if total <= 0:  # degenerate: all points identical
            centroids[j:] = centroids[0]
            break
        centroids[j] = X[rng.choice(n, p=d2 / total)]
        d2 = np.minimum(d2, ((X - centroids[j]) ** 2).sum(axis=1))
    for _ in range(max_iter):
        dist = _sqdist_f64(X, centroids)
        lab = dist.argmin(axis=1)
        # group rows by label via one stable argsort instead of k
        # boolean scans of lab (the r13 listcomp evaluated `lab == j`
        # twice per centroid — O(n·k) comparisons per iteration, the
        # measured hot spot of the PQ codebook fits; r14 optimization
        # round, guide §1.2 "per-task work"). Bit-identical: stable
        # sort keeps ascending row order within a label, so X[grp] is
        # the same rows in the same order as X[lab == j] and the
        # pairwise mean reduces identically; empty clusters keep their
        # old centroid exactly as before.
        new = centroids.copy()
        order = np.argsort(lab, kind="stable")
        sorted_lab = lab[order]
        starts = np.flatnonzero(
            np.r_[True, sorted_lab[1:] != sorted_lab[:-1]]
        )
        for grp in np.split(order, starts[1:]):
            # np.add.reduce/len is ndarray.mean minus the _methods
            # wrapper — same pairwise sum, bit-identical quotient;
            # groups are tiny (~train_per_cell rows) so the wrapper
            # overhead across 10^4+ group-means per fit is measurable
            new[lab[grp[0]]] = np.add.reduce(X[grp], axis=0) / len(grp)
        if np.allclose(new, centroids):
            break
        centroids = new
    return centroids


_TWO_LEVEL_NLIST = 64


def _int_sqdist(m: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Squared L2 distances between quantized INT64 vector rows: the
    integer GEMM form |m-c|^2 = |m|^2 - 2 m.c + |c|^2 — EXACT in int64
    (quantized values ~2^20, sums < 2^47 — no rounding, so the value
    equals the oracle's per-dim fold bit-for-bit) and an n×k matrix,
    never the n×k×dim tensor (which is gigabytes per Arrow batch once
    the cell count grows with the corpus)."""
    return (
        (m * m).sum(axis=1)[:, None]
        - 2 * (m @ c.T)
        + (c * c).sum(axis=1)[None, :]
    )


def _pq_sqdists(xs: np.ndarray, cbq: np.ndarray) -> np.ndarray:
    """Squared L2 from every row's subvectors to every PQ code, as an
    (n, m_sub, ncodes) int64 array: one :func:`_int_sqdist` integer
    GEMM per subspace instead of the n×m_sub×ncodes×dsub difference
    tensor the r10 form built (r15 optimization round: 18× on an
    8k-row code-assignment batch, and O(n·ncodes) working set instead
    of O(n·ncodes·dsub) — gigabytes per Arrow batch at byte-wide
    codebooks). Bit-identical: both forms are exact int64 arithmetic
    (quantized values ~2^20, distances < 2^47)."""
    n, m_sub, _ = xs.shape
    out = np.empty((n, m_sub, cbq.shape[1]), dtype=np.int64)
    for mi in range(m_sub):
        out[:, mi] = _int_sqdist(xs[:, mi], cbq[mi])
    return out


def _route_assign(
    m: np.ndarray,
    cq: np.ndarray,
    sq: np.ndarray | None,
    owner: np.ndarray | None,
) -> np.ndarray:
    """Cell assignment over quantized int64 vectors. Flat argmin when
    ``sq`` is None (ties to the lowest cell id); above the two-level
    threshold HIERARCHICAL — route to the nearest super-cell first,
    then argmin over only that super's sub-centroids: n·(k1 + k/k1)
    integer distances instead of n·k. A boundary vector may land one
    cell off flat argmin — the documented two-level trade, replayed
    identically by the chained-argmin oracle CTEs (pick order: lowest
    super s, then lowest cell)."""
    if sq is None:
        return _int_sqdist(m, cq).argmin(axis=1).astype(np.int32)
    sup = _int_sqdist(m, sq).argmin(axis=1)
    out = np.empty(len(m), dtype=np.int32)
    for s in np.unique(sup):
        rows = np.flatnonzero(sup == s)
        cells = np.flatnonzero(owner == s)
        local = _int_sqdist(m[rows], cq[cells]).argmin(axis=1)
        out[rows] = cells[local].astype(np.int32)
    return out


def _route_probe(
    m: np.ndarray,
    cq: np.ndarray,
    sq: np.ndarray | None,
    owner: np.ndarray | None,
    nprobe: int,
    nprobe_super: int,
) -> list[list[int]]:
    """Probe-cell selection over quantized int64 QUERY vectors: the
    ``nprobe`` nearest cells per row (stable sort — distance ties keep
    ascending cell order, matching the oracle's ORDER BY d, cell).

    Flat scan when ``sq`` is None; above the two-level threshold the
    query routes to its ``nprobe_super`` nearest super-cells (ties to
    the lowest super id) and ranks ONLY their sub-centroids —
    k1 + nprobe_super·(k/k1) distances per query instead of k, the
    probe-side twin of :func:`_route_assign`'s assignment routing. A
    cell owned by an unselected super is never probed even if it is
    globally among the nprobe nearest — the standard coarse-routing
    recall trade, identical in the oracle.

    The hierarchical path batches PER SUPER-CELL (k1 vectorized
    passes), not per row: the r12 loop version was Θ(rows) Python
    iterations, fine for ann_topk's handful of queries but the hot
    spot once a large INGEST BATCH routes (the r13 IVF gate probes
    every batch row). Semantics are bit-identical — the candidate set
    is the selected supers' cells and the top-``nprobe`` pick orders
    by (distance, cell id), exactly the loop's ascending-cell stable
    argsort (pytest-pinned equality on random data)."""
    if len(m) == 0:
        # empty query batch: both paths yield no rows; the hierarchical
        # branch would otherwise np.concatenate an empty parts list
        return []
    if sq is None:
        d = _int_sqdist(m, cq)
        order = np.argsort(d, axis=1, kind="stable")[:, :nprobe]
        return order.astype(np.int32).tolist()
    ds = _int_sqdist(m, sq)
    sup_order = np.argsort(ds, axis=1, kind="stable")[:, :nprobe_super]
    n, k1 = len(m), len(sq)
    sel = np.zeros((n, k1), dtype=bool)
    sel[np.arange(n)[:, None], sup_order] = True
    rows_parts, cells_parts, dist_parts = [], [], []
    for s in range(k1):
        rows_s = np.flatnonzero(sel[:, s])
        if not len(rows_s):
            continue
        cells_s = np.flatnonzero(owner == s)
        d = _int_sqdist(m[rows_s], cq[cells_s])
        rows_parts.append(np.repeat(rows_s, len(cells_s)))
        cells_parts.append(np.tile(cells_s, len(rows_s)))
        dist_parts.append(d.ravel())
    rows = np.concatenate(rows_parts)
    cells = np.concatenate(cells_parts)
    dists = np.concatenate(dist_parts)
    # ORDER BY row, dist, cell — then rank-within-row < nprobe
    order = np.lexsort((cells, dists, rows))
    rows, cells = rows[order], cells[order]
    starts = np.flatnonzero(np.r_[True, rows[1:] != rows[:-1]])
    rank = np.arange(len(rows)) - np.repeat(
        starts, np.diff(np.r_[starts, len(rows)])
    )
    keep = rank < nprobe
    rows, cells = rows[keep], cells[keep]
    # every row has >= 1 candidate (each kept super owns >= 1 cell),
    # so the row-change boundaries partition 0..n-1 in input order
    bounds = np.flatnonzero(np.r_[False, rows[1:] != rows[:-1]])
    return [c.astype(np.int32).tolist()
            for c in np.split(cells, bounds)]


def _fit_coarse_centroids(
    X: np.ndarray, k: int, seed: int, max_iter: int
) -> np.ndarray:
    """Coarse-quantizer fit that stays tractable as ``nlist`` grows
    with the corpus (semantic_dedup's nlist = rows // 256 rule): flat
    Lloyd up to ``_TWO_LEVEL_NLIST`` cells, else a FAISS-IVF-HNSW-style
    TWO-LEVEL fit — cluster the sketch into ~sqrt(k) super-cells, then
    sub-cluster each super-cell's points into its population-
    proportional share of k. Flat Lloyd is Θ(sketch·k·dim) per
    iteration with an n×k×dim distance tensor (quadratic in the corpus
    when both sketch and k grow ∝ n — the named cause of
    setup_sem_model's α 1.08 in SCALING.md); two-level drops both to
    ~Θ(sketch·√k·dim). Deterministic for a fixed seed (sub-fits are
    seeded per super-cell); the returned cell count is ~k (population
    caps can yield slightly fewer — nlist is a knob, the actual
    centroid array defines the cells, identically in both engines).
    """
    _, cents, _ = _fit_coarse_hierarchy(X, k, seed, max_iter)
    return cents


def _fit_coarse_hierarchy(
    X: np.ndarray, k: int, seed: int, max_iter: int
) -> tuple[np.ndarray | None, np.ndarray, np.ndarray | None]:
    """The full two-level fit: returns ``(supers, centroids, owner)``
    where ``owner[c]`` is the super-cell index owning sub-centroid
    ``c`` — what hierarchical ASSIGNMENT needs (route a vector to its
    nearest super, then compare only that super's sub-centroids).
    Below the two-level threshold the fit is flat and ``supers`` /
    ``owner`` are None."""
    k = min(k, len(X))
    if k <= _TWO_LEVEL_NLIST:
        return None, _lloyd_kmeans(X, k, seed, max_iter), None
    k1 = int(np.ceil(np.sqrt(k)))
    # the super-cells need only a density sketch of the sketch: the
    # hash-ordered prefix is a uniform sample, and capping it keeps
    # _lloyd_kmeans's n×k×dim distance tensor bounded
    supers = _lloyd_kmeans(X[: 256 * k1], k1, seed, max_iter)
    # squared-distance matrix accumulated dimension-by-dimension: an
    # n×k1 matrix, never the n×k1×dim tensor (2.8 GB at a 200k-row
    # sketch) — and a FIXED float reduction order (elementwise numpy
    # ops, no BLAS GEMM whose reduction order varies across
    # libraries/thread counts), so centroids stay reproducible
    # across hosts, which the value-hash oracle contract relies on
    d = np.zeros((len(X), k1))
    for kk in range(X.shape[1]):
        diff = X[:, kk][:, None] - supers[None, :, kk]
        d += diff * diff
    lab = d.argmin(axis=1)
    counts = np.bincount(lab, minlength=k1)
    # Only supers that own >= 1 sketch point get sub-centroids; the
    # returned supers array keeps EXACTLY those (owner indices remapped
    # to positions within it). Keeping cell-less supers would let an
    # ONLINE vector (corpus/query rows outside the fit sketch) route to
    # a super with no cells — argmin over an empty candidate set in
    # _route_assign, silently short probe lists in _route_probe
    # (ADVICE r10). Fit-sketch assignments are unaffected: a fit
    # point's nearest super has nonzero count by definition, and both
    # engines consume the same returned arrays (the oracle embeds them
    # as literals), so dropped supers change no gate hashes.
    keep = np.flatnonzero(counts)

    # the per-super sub-fits are INDEPENDENT seeded Lloyd runs (seed
    # derived from the super index, data sliced per super), so they
    # parallelize across driver threads with bit-identical results —
    # each fit's arithmetic and rng stream are untouched; only the
    # wall-clock overlap changes (numpy ufuncs release the GIL).
    # Worker count is capped at 4: Lloyd's per-group mean loop and the
    # kmeans++ seeding run under the GIL, so measured wall time is
    # U-shaped in worker count (16 fits of the ivfpqr8 shape: serial
    # 17.9 s, 16 threads 11.8 s, 4 threads 6.4 s).
    # r15 optimization round, guide §1.2 "per-task work".
    def _sub_fit(j: int) -> np.ndarray:
        pts = X[lab == j]
        kj = min(len(pts),
                 max(1, int(np.floor(len(pts) * k / len(X) + 0.5))))
        return _lloyd_kmeans(pts, kj, seed + 1_000_003 * (int(j) + 1),
                             max_iter)

    with ThreadPoolExecutor(
        max_workers=min(len(keep), _FIT_POOL_WORKERS)
    ) as pool:
        out = list(pool.map(_sub_fit, (int(j) for j in keep)))
    owners = [pos for pos, sub in enumerate(out) for _ in range(len(sub))]
    return (supers[keep], np.vstack(out),
            np.array(owners, dtype=np.int64))


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    bits: int = 4,
    tables: int = 16,
    dim: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k by random-hyperplane LSH with ``tables``
    independent hash tables (union of candidates, then exact rerank).

    P(bucket match for angle θ) = (1 - θ/π)^bits per table; multiple
    tables recover recall. The band table carries only (id, table,
    signature) — vectors are joined back for the candidate pairs only,
    so the explode never multiplies vector payloads through the shuffle.

    ``dim``: embedding width; inferred from the corpus when None (one
    first-row probe).
    """
    if dim is None:
        dim = _vec_dim(corpus, vec_col)
    # All tables' hyperplanes as one (tables*bits, dim) matrix: the
    # per-row signature set is then a single GEMM in an Arrow-batched
    # Pandas UDF — dense linear algebra is the one place where BLAS
    # beats interpreted array lambdas by orders of magnitude. (Safe
    # here: signatures are an internal blocking key, not oracle-facing.)
    planes = np.concatenate([
        np.array(_hyperplanes(dim, bits, seed + 1000 * t))
        for t in range(tables)
    ])  # (tables*bits, dim)
    weights = (1 << np.arange(bits)).astype(np.int64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def all_sigs(vs: pd.Series) -> pd.Series:
        m = np.array(vs.tolist(), dtype=np.float64)  # (n, dim)
        signs = (m @ planes.T) > 0                   # (n, tables*bits)
        packed = signs.reshape(len(vs), tables, bits) @ weights
        return pd.Series(packed.tolist())

    def sig_rows(df: DataFrame, ident: str) -> DataFrame:
        sigs = spread(df).select(
            F.col(id_col).alias(ident), all_sigs(F.col(vec_col)).alias("__sigs")
        )
        return sigs.select(
            ident, F.posexplode("__sigs").alias("tbl", "sig")
        )

    c = sig_rows(corpus, "neighbor_id")
    q = sig_rows(queries, "query_id")
    cand = (
        c.join(F.broadcast(q), ["tbl", "sig"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    qv = _normalized(queries, id_col, vec_col, "query_id", "__qv")
    cv = _normalized(corpus, id_col, vec_col, "neighbor_id", "__cv")
    scored = (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .withColumn("score", _unit_dot("__qv", "__cv"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn(_RN, F.row_number().over(w))
        .filter(F.col(_RN) <= k)
        .select("query_id", "neighbor_id", "score",
                F.col(_RN).alias("rank"))
    )


# Candidate-generation slack below the cosine threshold: the blocked
# GEMM score and the final left-to-right fold differ only by float64
# summation-order error (≤ dim·eps·‖partials‖ ≈ 1e-13 at dim 64), so
# any pair whose exact score clears the threshold clears threshold-1e-9
# in the GEMM — candidates are lossless, and the handful of boundary
# extras are removed by the exact verify.
_GEMM_SLACK = 1e-9


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    method: str = "block",
    nblocks: int = 16,
    lsh_bits: int = 8,
    lsh_tables: int = 8,
    seed: int = 42,
) -> DataFrame:
    """All pairs (id_a < id_b) with cosine ≥ threshold (> 0) —
    embedding-space near-duplicate detection.

    ``method``:

    * ``"block"`` (default) — EXACT block-matrix self-join: rows are
      hashed into ``nblocks`` blocks; each of the nblocks·(nblocks+1)/2
      block pairs is scored as one numpy GEMM inside ``applyInPandas``
      (BLAS, ~100× the interpreted HOF fold), emitting candidate id
      pairs at ``threshold - 1e-9``; the exact JVM-side left-to-right
      fold then recomputes and filters — output values are bit-identical
      to the brute-force path (oracle-checkable), with no recall loss.
      Scale shape: shuffle volume n·nblocks rows (each row visits every
      block pair containing its block), compute O(n²·dim) FLOPs at BLAS
      rate spread over the block-pair grid. This is the right EXACT
      plan; n² FLOPs are inherent to exact thresholds.
    * ``"lsh"`` — sign-bit LSH blocking (``lsh_tables`` tables ×
      ``lsh_bits`` bits, the :func:`lsh_topk` banding) + exact verify:
      candidate cost collapses to bucket-collision pairs. Per-table
      collision probability for a pair at angle θ is (1-θ/π)^bits, so
      recall = 1-(1-(1-θ/π)^bits)^tables — near 1 only for HIGH
      thresholds (true near-dups, ≥0.9); at loose thresholds the angle
      is wide and blocking must either miss pairs or degenerate to
      all-pairs. The 100 TB path when "near-dup" means near-identical.
    * ``"exact"`` — the original broadcast-nested-loop brute force
      (reference baseline for tests; strictly dominated by "block").
    * ``"auto"`` — ``"lsh"`` when ``threshold >= 0.9`` (the
      near-identical regime where sign-bit banding recall ≈ 1), else
      ``"block"`` (exact; loose thresholds have wide angles where
      blocking either misses pairs or degenerates to all-pairs). This
      encodes the 100 TB policy: a true near-dup sweep takes the
      sub-quadratic path, an exploratory loose-threshold scan pays the
      (inherent) exact n² FLOPs at BLAS rate.
    """
    if threshold <= 0:
        raise ValueError("threshold must be positive")
    if method == "auto":
        method = "lsh" if threshold >= 0.9 else "block"
    a = _normalized(df, id_col, vec_col, "id_a", "__va")
    if method == "exact":
        b = _normalized(df, id_col, vec_col, "id_b", "__vb")
        return (
            a.join(b, F.col("id_a") < F.col("id_b"))
            .withColumn("cos_sim", _unit_dot("__va", "__vb"))
            .filter(F.col("cos_sim") >= threshold)
            .select("id_a", "id_b", "cos_sim")
        )
    # the normalized relation feeds 4 plan branches (block-grid union ×2,
    # verify joins ×2) — persist so the scan+normalize runs once
    a = _cache_persist(a)
    if method == "block":
        cand = _block_candidates(a, threshold, nblocks)
    elif method == "lsh":
        cand = _signbit_candidates(
            df, id_col, vec_col, lsh_bits, lsh_tables, seed
        )
    else:
        raise ValueError(f"unknown method {method!r}")
    # exact verification via the Arrow-batched fold — BIT-IDENTICAL
    # to the JVM HOF fold and the DuckDB oracle's list fold (see
    # _unit_dot_arrow; pytest-pinned). Catalyst runs HOFs interpreted
    # (one lambda call per element), which the gates measured as the
    # dominant warm-probe cost at the sf100 planted tier; the sweep's
    # verify volume has the same shape, so it takes the same path
    # (r15 optimization round, guide §4.2).
    b = a.select(F.col("id_a").alias("id_b"), F.col("__va").alias("__vb"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("cos_sim", _unit_dot_arrow(F.col("__va"),
                                               F.col("__vb")))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def embedding_neardup_incremental(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    lsh_bits: int = 16,
    lsh_tables: int = 8,
    seed: int = 42,
    verify_broadcast: bool = True,
) -> DataFrame:
    """Incremental embedding-space near-dup: which vectors of a NEW
    ``batch`` near-duplicate (cosine ≥ ``threshold``) something
    already in ``corpus``? The embedding-space twin of
    ``dedup.minhash_probe_pairs`` — the SemDeDup-style ingest gate.

    The corpus's sign-bit bucket table (``lsh_tables`` × ``lsh_bits``
    hyperplane signatures) is persisted as the standing INDEX; the
    batch is signed with the SAME hyperplanes and probed against it —
    per-batch cost is Θ(batch × tables) bucket rows + exact verifies
    of colliding pairs, never Θ(corpus). Both sides' signatures are
    deterministic (seeded hyperplanes), so index rows built in an
    earlier job match today's probe bit-for-bit.

    SIZE THE SIGNATURE TO THE CORPUS. Each table has ``2^lsh_bits``
    buckets, so random-collision candidates grow as
    ``tables · |corpus|·|batch| / 2^lsh_bits`` — a FIXED width
    saturates once the corpus outgrows the bucket space and candidate
    generation degenerates toward all-pairs (measured: 8 bits at a
    1.14M-vector corpus blew the candidate list past
    spark.driver.maxResultSize — the sf10 decade cell that motivated
    the 16-bit default; 8 bits is comfortable only to ~10⁵ vectors).
    Rule: ``lsh_bits ≳ log2(corpus) + 4``. Widening bits lowers
    per-table recall at a given angle ((1-θ/π)^bits), so pair it with
    the near-identical regime this gate exists for (θ small) or more
    tables. ``verify_broadcast=False`` is the escape when the
    candidate list is still too large to broadcast (same contract as
    ``minhash_probe_pairs``): the verify joins fall back to shuffle.

    Emits ``(id_a = corpus id, id_b = batch id, cos_sim)`` with the
    exact JVM left-to-right unit-dot — precision exact; recall is the
    sign-bit s-curve (near 1 only in the near-identical regime
    ``threshold ≥ ~0.9``, the same contract as
    ``embedding_neardup_pairs(method='lsh')``). Ids must be unique
    across ``corpus ∪ batch``; a re-ingested identical vector pairs
    with its original at cos 1.0.
    """
    if threshold <= 0:
        raise ValueError("threshold must be positive")
    dim = _vec_dim(corpus, vec_col)
    planes = np.concatenate([
        np.array(_hyperplanes(dim, lsh_bits, seed + 1000 * t))
        for t in range(lsh_tables)
    ])
    weights = (1 << np.arange(lsh_bits)).astype(np.int64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def all_sigs(vs: pd.Series) -> pd.Series:
        m = np.array(vs.tolist(), dtype=np.float64)
        signs = (m @ planes.T) > 0
        packed = signs.reshape(len(vs), lsh_tables, lsh_bits) @ weights
        return pd.Series(packed.tolist())

    def banded(df: DataFrame) -> DataFrame:
        return (
            spread(df)
            .select(F.col(id_col).alias("__id"),
                    all_sigs(F.col(vec_col)).alias("__sigs"))
            .select("__id", F.posexplode("__sigs").alias("tbl", "sig"))
        )

    # The standing index persists PRE-PARTITIONED on the join keys
    # (r13, found by the sized decade cells): unpartitioned, every
    # warm probe whose band list outgrows the broadcast threshold
    # sort-merges and drags the CORPUS-sized index through an
    # Exchange per batch — Θ(corpus) per probe, measured α 1.43 at
    # the sf100 planted tier (82.2 s for a ×10 batch). With the
    # cached partitioning matching the join's ClusteredDistribution,
    # only the Θ(batch) probe side shuffles — the in-memory analog of
    # the bucketed-by-(band,bucket) storage layout a deployment uses.
    idx = _cache_persist(banded(corpus).repartition("tbl", "sig"))
    probe = banded(batch)
    cand = (
        idx.alias("a")
        .join(
            probe.alias("b"),
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.sig") == F.col("b.sig")),
        )
        .select(F.col("a.__id").alias("id_a"),
                F.col("b.__id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # normalized corpus vectors persist beside the index (standing
    # state, same rationale as minhash_probe_pairs' shingle relation),
    # PRE-PARTITIONED on the verify-join key (r14: the scaled-
    # partitions decade cell showed the verify_broadcast=False path
    # dragging this corpus-sized relation through an Exchange per
    # batch — the same r13 bug class the band index already had fixed)
    a = _cache_persist(
        _normalized(corpus, id_col, vec_col, "id_a", "__va")
        .repartition("id_a")
    )
    b = _normalized(batch, id_col, vec_col, "id_b", "__vb")
    cand_side = F.broadcast(cand) if verify_broadcast else cand
    return (
        cand_side.join(a, "id_a")
        .join(b, "id_b")
        # Arrow-batched exact verify (bit-identical to the HOF fold —
        # see _unit_dot_arrow): the verify volume dominates the warm
        # probe (77.7 of 91 s at the sf100 planted tier) and the
        # interpreted fold was 10x the rest of the probe combined
        .withColumn("cos_sim", _unit_dot_arrow(F.col("__va"),
                                               F.col("__vb")))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def embedding_neardup_incremental_ivf(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    nlist: int = 16,
    nprobe: int = 2,
    seed: int = 42,
    train_per_cell: int = 256,
    train_max_iter: int = 20,
    nprobe_super: int = 4,
    verify_broadcast: bool = True,
    model_cache: dict | None = None,
    cache_key=None,
) -> DataFrame:
    """IVF-routed form of :func:`embedding_neardup_incremental` — the
    SemDeDup ingest gate for corpora past comfortable sign-bit widths
    (r12 VERDICT #5).

    Why a second routing: the sign-bit gate's bucket space is
    ``2^lsh_bits`` PER TABLE and must be re-sized as the corpus grows
    (``lsh_bits ≳ log2(corpus) + 4`` — the measured sf10 saturation
    rule), and every widening lowers per-table recall at a fixed
    angle. Here the bucket space is the coarse quantizer's ``nlist``
    cells, which scales by ADDING CELLS (nlist ∝ corpus, the
    semantic_dedup rule) with recall governed by ``nprobe`` alone —
    candidates per batch row stay ~``corpus · nprobe / nlist``
    regardless of corpus size, and the quantizer follows the data's
    density instead of random hyperplanes (real embedding corpora
    cluster; isotropic testdata is the worst case — see
    :func:`ivf_topk`'s note).

    Standing state (the persisted INDEX, all corpus-only): the coarse
    centroids (fitted once on a bounded Lehmer-hash sketch of the
    corpus's UNIT vectors — :func:`ivf_topk`'s recipe, but on the
    sphere: cosine gating must route scale-invariantly, so a
    re-ingested vector times any positive scalar lands in its
    original's cell bit-for-bit), the ``(id, cell)`` assignment, and
    the normalized corpus vectors. Per-batch cost: Θ(batch) routing
    (``nlist`` distances each, hierarchical above
    ``_TWO_LEVEL_NLIST``) + the candidate equi-join on cell id +
    exact verifies — never Θ(corpus).

    Recall contract: with FLAT routing (nlist ≤ the two-level
    threshold) a batch vector whose unit vector equals a corpus
    row's EXACTLY is always found at any ``nprobe ≥ 1`` — its probe
    list starts at the argmin cell, which is by definition the cell
    the corpus twin was assigned to (same quantized distances, same
    lowest-cell tie-break). Near-identical (not exact) pairs can
    straddle a cell boundary; ``nprobe`` widens the probe ring the
    same way more tables widen the sign-bit gate's. Above the
    two-level threshold the coarse-routing miss class applies
    (ivf_topk's trade). Precision is exact either way — every
    candidate is re-verified with the JVM unit-dot at ``threshold``.

    ``verify_broadcast=False`` is the same shuffle escape as the
    sign-bit form; ``model_cache``/``cache_key`` amortize the
    quantizer fit across batches against the same corpus.

    Emits ``(id_a = corpus id, id_b = batch id, cos_sim)``; ids must
    be unique across ``corpus ∪ batch``.
    """
    if threshold <= 0:
        raise ValueError("threshold must be positive")
    # pre-partitioned on the verify-join key (r14, same rationale as
    # the sign-bit gate's relation — see that note)
    a = _cache_persist(
        _normalized(corpus, id_col, vec_col, "id_a", "__va")
        .repartition("id_a")
    )
    if model_cache is not None and cache_key in model_cache:
        supers, centroids, owner = model_cache[cache_key]
    else:
        from parquet_sampler_spark.functions.hashing import lehmer_hash

        sketch = _sketch_topk(
            a.select("id_a", "__va",
                     lehmer_hash(["id_a"], seed).alias("__h")),
            "id_a", train_per_cell * nlist,
        )
        X = np.array([r["__va"] for r in sketch], dtype=np.float64)
        supers, centroids, owner = _fit_coarse_hierarchy(
            X, nlist, seed, train_max_iter
        )
        if model_cache is not None:
            model_cache[cache_key] = (supers, centroids, owner)

    # broadcast the quantizer tables — closure capture re-ships
    # Θ(nlist) bytes per TASK, and at nlist ∝ corpus with task count
    # ∝ data that overhead is super-linear in the corpus (the r14
    # scaled-partitions cell's probe α 1.52 at exactly-Θ(batch)
    # candidate volume); handles cached beside the centroids so warm
    # probes reuse the same broadcast ids and the persisted index's
    # semantic hit survives (see ivf_topk)
    sc = corpus.sparkSession.sparkContext
    bkey = (cache_key, "__bc")
    if model_cache is not None and bkey in model_cache:
        b_cq, b_sq, b_owner = model_cache[bkey]
    else:
        b_cq = sc.broadcast(_ivf_quantize(centroids))
        b_sq = sc.broadcast(
            None if supers is None else _ivf_quantize(supers)
        )
        b_owner = sc.broadcast(owner)
        if model_cache is not None:
            model_cache[bkey] = (b_cq, b_sq, b_owner)

    @F.pandas_udf(T.IntegerType())
    def cell_of(vs: pd.Series) -> pd.Series:
        m = _ivf_quantize(np.array(vs.tolist(), dtype=np.float64))
        return pd.Series(
            _route_assign(m, b_cq.value, b_sq.value, b_owner.value)
        )

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probe_cells(vs: pd.Series) -> pd.Series:
        m = _ivf_quantize(np.array(vs.tolist(), dtype=np.float64))
        return pd.Series(
            _route_probe(m, b_cq.value, b_sq.value, b_owner.value,
                         nprobe, nprobe_super)
        )

    # pre-partitioned on the cell id for the same reason as the
    # sign-bit index (only the batch side shuffles on a warm probe)
    idx = _cache_persist(
        a.select("id_a", cell_of(F.col("__va")).alias("__cell"))
        .repartition("__cell")
    )
    b = _normalized(batch, id_col, vec_col, "id_b", "__vb")
    probe = b.select(
        "id_b", F.explode(probe_cells(F.col("__vb"))).alias("__cell")
    )
    # no dropDuplicates: a corpus row lives in exactly one cell and a
    # probe row's cell list is distinct, so each (id_a, id_b) pair can
    # arise from at most one cell match — the dedup shuffle the
    # sign-bit form needs (a pair can collide in several LSH tables)
    # is structurally unnecessary here
    cand = idx.join(probe, "__cell").select("id_a", "id_b")
    cand_side = F.broadcast(cand) if verify_broadcast else cand
    return (
        cand_side.join(a, "id_a")
        .join(b, "id_b")
        # Arrow-batched exact verify (bit-identical to the HOF fold —
        # see _unit_dot_arrow): the verify volume dominates the warm
        # probe (77.7 of 91 s at the sf100 planted tier) and the
        # interpreted fold was 10x the rest of the probe combined
        .withColumn("cos_sim", _unit_dot_arrow(F.col("__va"),
                                               F.col("__vb")))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def embedding_admit_batch(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    routing: str = "signbit",
    internal_method: str = "block",
    **kwargs,
) -> DataFrame:
    """Admission filter for a new embedding batch against a standing
    corpus — the embedding-space twin of
    ``dedup.minhash_admit_batch`` and the decision half of the
    SemDeDup ingest gate: a batch vector is REJECTED when it
    near-duplicates (cosine ≥ ``threshold``) something already in the
    corpus, or a SENIOR (smaller-id) vector within the batch itself;
    everything else returns as full rows, ready to append. Every
    rejection is exact-verified (precision 1); a vector is never
    wrongly dropped. Completeness of rejection (recall) is the chosen
    gate's contract: the corpus probe finds what its routing
    (sign-bit buckets / IVF cells) surfaces — unit-twin re-ingests
    bit-for-bit, near-twins per the routing's measured recall — and
    the batch-internal sweep is exact under the default block GEMM.

    Keeper rule is the repo-wide greedy min-id survivor (same
    documented rule as ``jaccard_dedup`` / ``minhash_admit_batch``).

    ``routing`` picks the corpus-probe index: ``"signbit"``
    (:func:`embedding_neardup_incremental`) or ``"ivf"``
    (:func:`embedding_neardup_incremental_ivf` — the sized-at-scale
    path); extra ``kwargs`` flow to the chosen gate. The
    batch-internal sweep is the whole-corpus problem at batch size —
    batches are small, so ``internal_method="block"`` (EXACT block
    GEMM, zero recall caveat) is the default; pass ``"lsh"`` for
    enormous batches.

    Scale: probe Θ(batch) against the standing index + verifies;
    two id-only anti-joins (broadcastable at any realistic batch
    size) — the batch vectors never shuffle beyond the block grid.
    """
    gate = (embedding_neardup_incremental_ivf if routing == "ivf"
            else embedding_neardup_incremental)
    if routing not in ("signbit", "ivf"):
        raise ValueError(f"unknown routing {routing!r} "
                         "(expected 'signbit' or 'ivf')")
    cross = gate(corpus, batch, id_col, vec_col,
                 threshold=threshold, **kwargs)
    internal = embedding_neardup_pairs(
        batch, id_col, vec_col, threshold=threshold,
        method=internal_method,
    )
    losers = (
        cross.select(F.col("id_b").alias(id_col))
        .unionAll(internal.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    return batch.join(losers, id_col, "left_anti")


def _block_candidates(
    normed: DataFrame, threshold: float, nblocks: int
) -> DataFrame:
    """Candidate (id_a, id_b) pairs from the block-pair GEMM grid over a
    pre-normalized ``(id_a, __va)`` relation."""
    spark = normed.sparkSession
    id_field = normed.schema["id_a"].dataType
    out_schema = T.StructType([
        T.StructField("id_a", id_field, False),
        T.StructField("id_b", id_field, False),
    ])
    # deterministic content-derived block id (never rand: re-evaluation
    # across task retries must not move rows between blocks)
    blocks = normed.select(
        "id_a", "__va",
        F.pmod(F.xxhash64("id_a"), F.lit(nblocks)).cast("int").alias("__blk"),
    )
    grid = spark.createDataFrame(
        [(i, j) for i in range(nblocks) for j in range(i, nblocks)],
        "bi int, bj int",
    )
    left = blocks.join(
        F.broadcast(grid), F.col("__blk") == F.col("bi")
    ).select("bi", "bj", F.lit(0).alias("__side"), "id_a", "__va")
    right = blocks.join(
        F.broadcast(grid.filter(F.col("bi") != F.col("bj"))),
        F.col("__blk") == F.col("bj"),
    ).select("bi", "bj", F.lit(1).alias("__side"), "id_a", "__va")
    both = left.unionByName(right)

    cut = threshold - _GEMM_SLACK

    def score_block(pdf: pd.DataFrame) -> pd.DataFrame:
        lo = pdf[pdf["__side"] == 0]
        hi = pdf[pdf["__side"] == 1]
        # diagonal decided by the GROUP KEY, never by hi.empty — an
        # off-diagonal cell whose right block happens to be empty must
        # yield nothing, not rescore the left block against itself
        same = pdf["bi"].iat[0] == pdf["bj"].iat[0]
        if same:
            hi = lo
        if lo.empty or hi.empty:
            return pd.DataFrame({"id_a": lo["id_a"][:0], "id_b": hi["id_a"][:0]})
        ma = np.array(lo["__va"].tolist(), dtype=np.float64)
        mb = np.array(hi["__va"].tolist(), dtype=np.float64)
        s = ma @ mb.T
        ia, ib = np.nonzero(s >= cut)
        ids_a = lo["id_a"].to_numpy()[ia]
        ids_b = hi["id_a"].to_numpy()[ib]
        if same:
            # both orientations (and self-pairs) present — keep one
            keep = ids_a < ids_b
            ids_a, ids_b = ids_a[keep], ids_b[keep]
        else:
            # distinct blocks: every hit is a real pair; canonicalize
            # orientation (block order is unrelated to id order)
            swap = ids_a > ids_b
            ids_a, ids_b = (
                np.where(swap, ids_b, ids_a),
                np.where(swap, ids_a, ids_b),
            )
        return pd.DataFrame({"id_a": ids_a, "id_b": ids_b})

    # no dedup needed: every row lives in exactly one block, so each
    # unordered pair is scored in exactly one block-pair group
    return both.groupBy("bi", "bj").applyInPandas(
        score_block, schema=out_schema
    )


def _signbit_candidates(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    bits: int,
    tables: int,
    seed: int,
) -> DataFrame:
    """Candidate pairs whose sign-bit signature matches in ≥1 of
    ``tables`` hash tables (the :func:`lsh_topk` banding, self-join
    form). Hyperplane dimension is inferred from the data (one
    footer-cheap first-row probe) so any embedding width works."""
    dim = _vec_dim(df, vec_col)
    planes = np.concatenate([
        np.array(_hyperplanes(dim, bits, seed + 1000 * t))
        for t in range(tables)
    ])
    weights = (1 << np.arange(bits)).astype(np.int64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def all_sigs(vs: pd.Series) -> pd.Series:
        m = np.array(vs.tolist(), dtype=np.float64)
        signs = (m @ planes.T) > 0
        packed = signs.reshape(len(vs), tables, bits) @ weights
        return pd.Series(packed.tolist())

    banded = (
        spread(df)
        .select(F.col(id_col).alias("__id"),
                all_sigs(F.col(vec_col)).alias("__sigs"))
        .select("__id", F.posexplode("__sigs").alias("tbl", "sig"))
    )
    # both self-join sides read `banded`; registered like the
    # normalized relation, so clear_caches() releases it
    banded = _cache_persist(banded)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, (F.col("a.tbl") == F.col("b.tbl"))
               & (F.col("a.sig") == F.col("b.sig"))
               & (F.col("a.__id") < F.col("b.__id")))
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )

# quantization scale for IVF cell distances: vector components and
# centroids are mapped to integers via floor(x * 2^20). Multiplying a
# float by a power of two and flooring are both IEEE-exact, so Spark's
# numpy kernel and a SQL oracle compute IDENTICAL int64 squared
# distances — cell assignment/probing become exactly replicable (no
# float summation-order ambiguity). Precision loss (≤ 2^-20 per
# component) only perturbs which cell a near-boundary vector lands in;
# the exact cosine rerank is unaffected.
_IVF_QSCALE = 1 << 20


def _ivf_quantize(m: np.ndarray) -> np.ndarray:
    return np.floor(m * _IVF_QSCALE).astype(np.int64)


def ivf_train_sketch_numpy(
    ids: np.ndarray,
    vecs: np.ndarray,
    nlist: int,
    seed: int,
    train_per_cell: int = 256,
) -> np.ndarray:
    """The operator's portable training-sketch selection (smallest
    Lehmer hash, ties by id) from in-memory arrays — shared by the
    DuckDB oracle builders so trainers on both sides see the
    byte-identical sketch."""
    from parquet_sampler_spark.functions.hashing import (
        COLUMN_MULTIPLIERS,
        MODULUS,
        _seed_params,
    )

    sm, sa = _seed_params(seed)
    ids = np.asarray(ids, dtype=np.int64)
    h = (ids * COLUMN_MULTIPLIERS[0] % MODULUS * sm + sa) % MODULUS
    order = np.lexsort((ids, h))[: train_per_cell * nlist]
    return np.asarray(vecs, dtype=np.float64)[order]


def ivf_train_centroids_numpy(
    ids: np.ndarray,
    vecs: np.ndarray,
    nlist: int,
    seed: int,
    train_per_cell: int = 256,
    train_max_iter: int = 20,
) -> np.ndarray:
    """Exactly :func:`ivf_topk`'s quantizer fit, from in-memory arrays:
    portable Lehmer sketch selection (smallest hash, ties by id), then
    the same seeded fit. The DuckDB oracle builder calls this on the
    raw parquet to reproduce the operator's centroids bit-for-bit
    without a Spark session."""
    X = ivf_train_sketch_numpy(ids, vecs, nlist, seed, train_per_cell)
    return _fit_coarse_centroids(X, nlist, seed, train_max_iter)


def ivf_train_hierarchy_numpy(
    ids: np.ndarray,
    vecs: np.ndarray,
    nlist: int,
    seed: int,
    train_per_cell: int = 256,
    train_max_iter: int = 20,
) -> tuple[np.ndarray | None, np.ndarray, np.ndarray | None]:
    """:func:`ivf_topk`'s full quantizer state ``(supers, centroids,
    owner)`` from in-memory arrays — what the DuckDB oracle builder
    needs to replay HIERARCHICAL assignment/probing at nlist above the
    two-level threshold (below it supers/owner are None and the
    centroids equal :func:`ivf_train_centroids_numpy`'s)."""
    X = ivf_train_sketch_numpy(ids, vecs, nlist, seed, train_per_cell)
    return _fit_coarse_hierarchy(X, nlist, seed, train_max_iter)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 6,
    seed: int = 42,
    model_cache: dict | None = None,
    cache_key=None,
    train_per_cell: int = 256,
    train_max_iter: int = 20,
    broadcast_queries: bool | str = "auto",
    nprobe_super: int = 4,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: a KMeans coarse quantizer
    partitions the corpus into ``nlist`` cells; each query scores only
    the ``nprobe`` nearest cells' members, then exact cosine rerank.

    Above ``_TWO_LEVEL_NLIST`` cells (the nlist ∝ corpus regime this
    module recommends), BOTH quantizer passes route hierarchically
    through the two-level fit's super-cells instead of scanning all
    nlist centroids: corpus assignment via :func:`_route_assign`
    (nearest super, then its subs), query probing via
    :func:`_route_probe` (``nprobe_super`` nearest supers, then the
    ``nprobe`` nearest of THEIR subs) — k1 + nprobe_super·(k/k1)
    distances per query instead of k. The price is the coarse-routing
    miss class (a cell under an unselected super is never probed);
    both engines replay the identical pick order, so the row stays
    value-hash exact. ``nprobe_super`` is ignored at flat nlist.

    The scale shape: centroids are tiny and broadcast; corpus cell
    assignment is one map pass (done by the fitted model); the candidate
    join is an equi-join on cell id touching ~``nprobe/nlist`` of the
    corpus per query. Versus LSH: IVF adapts to the data distribution
    (cells follow density), at the cost of a training pass. Note: on
    isotropic gaussian embeddings (this testdata) there is no density
    structure to exploit and recall ≈ the probed corpus fraction plus a
    nearest-cell edge (measured 0.68 @ nprobe=6/nlist=16, 0.78 @ 8/16);
    real embedding corpora cluster and do much better.

    Quantizer training is FAISS-style: a BOUNDED deterministic sketch of
    ``train_per_cell·nlist`` corpus rows (selected by smallest portable
    Lehmer hash of the id, ties by id — a one-job
    TakeOrderedAndProject, stable across partitionings AND reproducible
    outside Spark) is collected and clustered driver-side with numpy
    Lloyd's + kmeans++ init. ``nlist`` coarse centroids need only a
    sketch of the density; cell ASSIGNMENT still covers every corpus row
    via one Arrow-batched map pass against the broadcast centroids. The
    driver-side collect is size-bounded by construction (not O(corpus)),
    and replaces ~25 Spark jobs of distributed-KMeans overhead — at
    100 TB the index build stays one scan + one top-k.

    Exact-oracle parity: sketch selection is engine-portable, Lloyd runs
    in shared numpy code (:func:`ivf_train_centroids_numpy`), and cell
    assignment/probing compare INTEGER quantized distances (see
    ``_IVF_QSCALE``) with deterministic tie-breaks (lowest cell id), so
    a DuckDB oracle holding the centroid literals reproduces the whole
    assign→probe→rerank pipeline value-for-value.

    ``model_cache``/``cache_key`` amortize training across invocations
    against the same corpus (the IVF index is built once, queried many
    times): pass any dict and a corpus-identifying key.

    ``broadcast_queries`` — the probe join ships the exploded query set
    (``|queries| × nprobe`` rows) and the rerank join ships the
    normalized query vectors to every executor. ``"auto"``/``True``
    broadcasts both (right for the typical ANN shape: queries ≪
    corpus); pass ``False`` when the query side is itself large
    (batch-scoring millions of queries — broadcast would OOM executors
    or stall the driver past
    ``spark.sql.autoBroadcastJoinThreshold``-scale sizes): both joins
    then fall back to shuffle joins on ``__cell`` / ``query_id``.

    Zero-norm semantics: rerank joins candidates against
    :func:`_normalized`, which DROPS zero-norm vectors — a zero-norm
    corpus row never appears as a neighbor (it formerly surfaced with
    score 0 via raw cosine) and a zero-norm query returns no rows,
    matching :func:`cosine_topk` / :func:`lsh_topk` and the SQL oracle.
    """
    if model_cache is not None and cache_key in model_cache:
        supers, centroids, owner = model_cache[cache_key]
    else:
        from parquet_sampler_spark.functions.hashing import lehmer_hash

        sketch = _sketch_topk(
            spread(corpus)
            .select(F.col(id_col).alias("__id"),
                    F.col(vec_col).alias("__v"),
                    lehmer_hash([id_col], seed).alias("__h")),
            "__id", train_per_cell * nlist,
        )
        X = np.array([r["__v"] for r in sketch], dtype=np.float64)
        supers, centroids, owner = _fit_coarse_hierarchy(
            X, nlist, seed, train_max_iter
        )
        if model_cache is not None:
            model_cache[cache_key] = (supers, centroids, owner)

    # The quantizer tables ship as BROADCAST VARIABLES, not closure
    # captures (r14, found by the scaled-partitions gate cell): a
    # closure-pickled table is re-sent and re-deserialized per TASK,
    # so routing-stage overhead grows with nlist × task count — both
    # ∝ corpus at the sized operating point (measured probe α 1.52
    # with candidate volume exactly Θ(batch); the r13 fixed-32 GC
    # attribution was refuted by that cell). A broadcast value is
    # torrent-shipped once per executor and cached across tasks by
    # the Python worker's broadcast registry. The Broadcast handles
    # are cached beside the centroids so warm calls reuse the SAME
    # objects — the persisted index's semantic hit survives (a fresh
    # broadcast id would change the UDF bytes and fork the plan).
    sc = corpus.sparkSession.sparkContext
    bkey = (cache_key, "__bc")
    if model_cache is not None and bkey in model_cache:
        b_cq, b_sq, b_owner = model_cache[bkey]
    else:
        b_cq = sc.broadcast(_ivf_quantize(centroids))
        b_sq = sc.broadcast(
            None if supers is None else _ivf_quantize(supers)
        )
        b_owner = sc.broadcast(owner)
        if model_cache is not None:
            model_cache[bkey] = (b_cq, b_sq, b_owner)

    @F.pandas_udf(T.IntegerType())
    def cell_of(vs: pd.Series) -> pd.Series:
        # argmin takes the FIRST minimum: ties break to the lowest cell
        # id, mirroring the oracle's ORDER BY dist, cell; hierarchical
        # routing above the two-level threshold (_route_assign)
        m = _ivf_quantize(np.array(vs.tolist(), dtype=np.float64))
        return pd.Series(
            _route_assign(m, b_cq.value, b_sq.value, b_owner.value)
        )

    # The INDEX — cell assignments + normalized vectors — is the
    # standing state, not just the centroids (r14, found by the
    # ann_ivf_sized decade cell): without the persist every call
    # re-pays the routed assignment map pass (Θ(n·√nlist) integer
    # distances = the n^1.5 term at nlist ∝ corpus — measured warm
    # α 1.82, 494 s at the 2.28M-vector tier, ≈⅓ of the whole model
    # fit). Persisted via the semantic-dedup registry (the same
    # mechanism the ingest gates use), a warm query's probe is a
    # broadcast hash join STREAMING the cached (id, cell) pairs —
    # Θ(n) columnar scan, no recompute — and pre-partitioning on the
    # join keys keeps the corpus out of the Exchange on the
    # broadcast_queries=False path (the r13 gate fix).
    assigned = _cache_persist(
        spread(corpus).select(
            F.col(id_col).alias("neighbor_id"),
            cell_of(F.col(vec_col)).alias("__cell"),
        ).repartition("__cell")
    )

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probe_cells(vs: pd.Series) -> pd.Series:
        # stable sort: equal distances keep ascending cell order;
        # super-routed above the two-level threshold (_route_probe)
        m = _ivf_quantize(np.array(vs.tolist(), dtype=np.float64))
        return pd.Series(
            _route_probe(m, b_cq.value, b_sq.value, b_owner.value,
                         nprobe, nprobe_super)
        )

    q = spread(queries).select(
        F.col(id_col).alias("query_id"),
        F.explode(probe_cells(F.col(vec_col))).alias("__cell"),
    )
    bc = broadcast_queries in (True, "auto")
    small = F.broadcast if bc else (lambda d: d)
    cand = (
        assigned.join(small(q), "__cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    qv = _normalized(queries, id_col, vec_col, "query_id", "__qv")
    # normalized corpus vectors persist beside the assignment (same
    # rationale as the gates' standing verify relation)
    cv = _cache_persist(
        _normalized(corpus, id_col, vec_col, "neighbor_id", "__cv")
        .repartition("neighbor_id")
    )
    scored = (
        cand.join(small(qv), "query_id")
        .join(cv, "neighbor_id")
        .withColumn("score", _unit_dot("__qv", "__cv"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn(_RN, F.row_number().over(w))
        .filter(F.col(_RN) <= k)
        .select("query_id", "neighbor_id", "score",
                F.col(_RN).alias("rank"))
    )



def pq_train_codebooks_numpy(
    ids: np.ndarray,
    vecs: np.ndarray,
    m_sub: int,
    ncodes: int,
    seed: int,
    train_rows: int = 4096,
    train_max_iter: int = 20,
) -> np.ndarray:
    """Exactly :func:`pq_topk`'s codebook fit, from in-memory arrays:
    portable Lehmer sketch selection (smallest hash of the id, ties by
    id — identical to :func:`ivf_train_centroids_numpy`), then one
    seeded Lloyd fit PER SUBSPACE (seed + 1000·m, so subspace fits are
    independent streams). Returns ``(m_sub, ncodes, dim // m_sub)``
    float64 codebooks. The DuckDB oracle builder calls this on the raw
    parquet to reproduce the operator's codebooks bit-for-bit without
    a Spark session."""
    from parquet_sampler_spark.functions.hashing import (
        COLUMN_MULTIPLIERS,
        MODULUS,
        _seed_params,
    )

    sm, sa = _seed_params(seed)
    ids = np.asarray(ids, dtype=np.int64)
    h = (ids * COLUMN_MULTIPLIERS[0] % MODULUS * sm + sa) % MODULUS
    order = np.lexsort((ids, h))[:train_rows]
    X = np.asarray(vecs, dtype=np.float64)[order]
    dim = X.shape[1]
    if dim % m_sub != 0:
        raise ValueError(
            f"pq: vector dim {dim} not divisible by m_sub {m_sub}"
        )
    dsub = dim // m_sub
    # the per-subspace fits are INDEPENDENT seeded Lloyd runs
    # (seed + 1000·m, disjoint column slices), so they parallelize
    # across driver threads with bit-identical results — each fit's
    # arithmetic and rng stream are untouched (r15 optimization round,
    # guide §1.2: the sequential loop was the measured majority of the
    # setup_ivfpqr8_model row). Capped at 4 workers: the GIL-held
    # parts of Lloyd make wall time U-shaped in worker count (16 fits
    # of the ivfpqr8 shape: serial 17.9 s, 16 threads 11.8 s,
    # 4 threads 6.4 s).
    with ThreadPoolExecutor(
        max_workers=min(m_sub, _FIT_POOL_WORKERS)
    ) as pool:
        subs = list(pool.map(
            lambda mi: _lloyd_kmeans(
                X[:, mi * dsub:(mi + 1) * dsub],
                min(ncodes, len(X)), seed + 1000 * mi, train_max_iter,
            ),
            range(m_sub),
        ))
    return np.stack(subs)


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    m_sub: int = 8,
    ncodes: int = 16,
    rerank: int = 50,
    seed: int = 42,
    model_cache: dict | None = None,
    cache_key=None,
    train_rows: int = 4096,
    train_max_iter: int = 20,
    broadcast_queries: bool | str = "auto",
) -> DataFrame:
    """Product-quantization approximate top-k — the MEMORY-bound ANN
    architecture: each corpus vector is compressed to ``m_sub`` small
    codes (8 codes × 4 bits here ≈ 32× smaller than 64 float32
    components), the scan computes ASYMMETRIC distances from a per-query
    lookup table over those codes (integer adds — no vector arithmetic
    against the corpus), and only the ``rerank`` best candidates per
    query are re-scored with the exact cosine. At 100 TB this is the
    plan where the corpus no longer fits as raw vectors: codes live in
    memory / fast storage at bytes-per-vector, raw vectors are fetched
    only for the top-R rerank.

    Plan shape: codebooks are trained driver-side on the same bounded
    Lehmer-hash sketch as :func:`ivf_topk` (one TakeOrderedAndProject
    job) and broadcast; CODE ASSIGNMENT is one Arrow-batched map pass;
    the ADC scan is a broadcast join of the (tiny) query LUTs against
    the coded corpus with the score folded JVM-side
    (``aggregate`` over the code array — no Python in the scan); top-R
    selection is a per-query ``row_number`` window (WindowGroupLimit:
    per-partition R-heaps before the shuffle); the exact rerank
    touches ``|queries| × rerank`` rows only. The deliberate
    broadcast nested-loop of LUTs × corpus IS the PQ linear scan — the
    whole point is that the per-pair work is ``m_sub`` integer adds on
    an 8-byte code, not a 64-float dot.

    Exact-oracle parity: the sketch and per-subspace Lloyd run in
    shared numpy code (:func:`pq_train_codebooks_numpy`); vectors and
    codebooks are floor-quantized to integers (``_IVF_QSCALE``), so
    code assignment and every ADC distance are EXACT int64 arithmetic
    in both engines, with deterministic tie-breaks (lowest code id;
    candidate ties by lowest neighbor id); the rerank is the shared
    left-to-right normalized dot. A DuckDB oracle holding the integer
    codebook literals reproduces code→LUT→scan→rerank value-for-value.

    Approximation semantics: ADC approximates the raw-vector L2
    distance (reconstruction error bounded by per-subspace quantizer
    distortion); the exact-cosine rerank of the top-R repairs ranking
    differences between raw-L2 and cosine for near-isotropic norms.
    Zero-norm rows can surface as ADC candidates but are dropped by
    the rerank join against the normalized relation — same contract as
    :func:`cosine_topk` / :func:`lsh_topk` / :func:`ivf_topk`.
    """
    if model_cache is not None and cache_key in model_cache:
        codebooks = model_cache[cache_key]
    else:
        from parquet_sampler_spark.functions.hashing import lehmer_hash

        sketch = _sketch_topk(
            spread(corpus)
            .select(F.col(id_col).alias("__id"),
                    F.col(vec_col).alias("__v"),
                    lehmer_hash([id_col], seed).alias("__h")),
            "__id", train_rows,
        )
        codebooks = pq_train_codebooks_numpy(
            np.array([r["__id"] for r in sketch], dtype=np.int64),
            np.array([r["__v"] for r in sketch], dtype=np.float64),
            m_sub, ncodes, seed,
            train_rows=train_rows, train_max_iter=train_max_iter,
        )
        if model_cache is not None:
            model_cache[cache_key] = codebooks

    cbq = _ivf_quantize(codebooks)  # (m_sub, ncodes, dsub) int64
    n_codes_eff = cbq.shape[1]
    dsub = cbq.shape[2]

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def codes_of(vs: pd.Series) -> pd.Series:
        x = _ivf_quantize(np.array(vs.tolist(), dtype=np.float64))
        d = _pq_sqdists(x.reshape(len(vs), m_sub, dsub), cbq)
        # argmin takes the FIRST minimum: ties break to the lowest
        # code id, mirroring the oracle's ORDER BY dist, code
        return pd.Series(d.argmin(axis=2).astype("int32").tolist())

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def lut_of(vs: pd.Series) -> pd.Series:
        x = _ivf_quantize(np.array(vs.tolist(), dtype=np.float64))
        d = _pq_sqdists(x.reshape(len(vs), m_sub, dsub), cbq)
        return pd.Series(d.reshape(len(vs), -1).tolist())

    coded = spread(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        codes_of(F.col(vec_col)).alias("__codes"),
    )
    q = spread(queries).select(
        F.col(id_col).alias("query_id"),
        lut_of(F.col(vec_col)).alias("__lut"),
    )
    bc = broadcast_queries in (True, "auto")
    small = F.broadcast if bc else (lambda d: d)

    # the PQ scan: every (query, corpus) pair folds m_sub LUT entries
    # JVM-side (F.get: 0-based array indexing with Column indices)
    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(m_sub - 1)),
        F.lit(0).cast("bigint"),
        lambda acc, mi: acc + F.get(
            "__lut",
            (mi * n_codes_eff + F.get("__codes", mi)).cast("int"),
        ),
    )
    scanned = (
        coded.join(small(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("__adc", adc)
        .select("query_id", "neighbor_id", "__adc")
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("__adc").asc(), F.col("neighbor_id")
    )
    cand = (
        scanned.withColumn(_RN, F.row_number().over(wr))
        .filter(F.col(_RN) <= rerank)
        .select("query_id", "neighbor_id")
    )
    qv = _normalized(queries, id_col, vec_col, "query_id", "__qv")
    cv = _normalized(corpus, id_col, vec_col, "neighbor_id", "__cv")
    scored = (
        cand.join(small(qv), "query_id")
        .join(cv, "neighbor_id")
        .withColumn("score", _unit_dot("__qv", "__cv"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn(_RN, F.row_number().over(w))
        .filter(F.col(_RN) <= k)
        .select("query_id", "neighbor_id", "score",
                F.col(_RN).alias("rank"))
    )


def ivfpq_train_numpy(
    ids: np.ndarray,
    vecs: np.ndarray,
    nlist: int,
    m_sub: int,
    ncodes: int,
    seed: int,
    train_rows: int = 4096,
    train_max_iter: int = 20,
    residual: bool = False,
) -> tuple[np.ndarray | None, np.ndarray, np.ndarray | None, np.ndarray]:
    """Exactly :func:`ivfpq_topk`'s ONE-sketch model fit, from
    in-memory arrays: portable Lehmer sketch selection (smallest hash
    of the id, ties by id), the size-aware coarse fit (two-level above
    ``_TWO_LEVEL_NLIST``), and the per-subspace PQ codebook fit — over
    RAW vectors, or (``residual=True``, FAISS IVFADC) over the
    integer-grid residuals ``quantize(v) − quantize(centroid[cell(v)])``
    rescaled to float so the trainer's own quantization lands back on
    the identical grid. Returns ``(supers, centroids, owner,
    codebooks)``. The DuckDB oracle builders call this on the raw
    parquet to reproduce the operator's model bit-for-bit without a
    Spark session — the parity contract behind the ann_ivfpq /
    ann_ivfpq_residual value-hash rows."""
    from parquet_sampler_spark.functions.hashing import (
        COLUMN_MULTIPLIERS,
        MODULUS,
        _seed_params,
    )

    sm, sa = _seed_params(seed)
    ids = np.asarray(ids, dtype=np.int64)
    h = (ids * COLUMN_MULTIPLIERS[0] % MODULUS * sm + sa) % MODULUS
    order = np.lexsort((ids, h))[: max(train_rows, 256 * nlist)]
    sids = ids[order]
    X = np.asarray(vecs, dtype=np.float64)[order]
    supers, centroids, owner = _fit_coarse_hierarchy(
        X[: 256 * nlist], nlist, seed, train_max_iter
    )
    if residual:
        # train codebooks on the SAME integer-grid residuals the
        # online path codes: quantize, assign (routed exactly like the
        # online cell_of), subtract, then rescale to float
        cq_t = _ivf_quantize(centroids)
        sq_t = None if supers is None else _ivf_quantize(supers)
        Xq = _ivf_quantize(X)
        assign = _route_assign(Xq, cq_t, sq_t, owner)
        train_vecs = (Xq - cq_t[assign]) / float(_IVF_QSCALE)
    else:
        train_vecs = X
    codebooks = pq_train_codebooks_numpy(
        sids, train_vecs, m_sub, ncodes, seed,
        train_rows=train_rows, train_max_iter=train_max_iter,
    )
    return supers, centroids, owner, codebooks


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 8,
    m_sub: int = 16,
    ncodes: int = 16,
    rerank: int = 100,
    seed: int = 42,
    model_cache: dict | None = None,
    cache_key=None,
    train_rows: int = 4096,
    train_max_iter: int = 20,
    broadcast_queries: bool | str = "auto",
    residual: bool = False,
    nprobe_super: int = 4,
) -> DataFrame:
    """IVF+PQ approximate top-k — the production large-corpus ANN
    shape: the IVF coarse quantizer restricts each query to its
    ``nprobe`` nearest cells' members, PQ asymmetric distances rank
    those members from 8-byte codes (no raw-vector arithmetic in the
    scan), and the exact cosine rerank repairs the top ``rerank``.
    Versus the standalone parts: :func:`ivf_topk` reranks EVERY
    probed-cell member with full vectors (memory-bound at scale),
    :func:`pq_topk` ADC-scans the WHOLE corpus (compute grows with n);
    the composition touches ``~nprobe/nlist`` of the corpus with
    code-width arithmetic and only ``rerank`` raw vectors per query —
    both bounds at once.

    Training: ONE bounded Lehmer sketch feeds both models (the IVF
    centroids via the shared Lloyd fit, the PQ codebooks via
    :func:`pq_train_codebooks_numpy` on the same rows), so the index
    build stays one scan + one top-k job.

    ``residual=False`` (default): codes quantize the RAW vectors — a
    deliberate simplification that keeps every stage exact-int and
    oracle-replicable with the same literals as ann_ivf + ann_pq. On
    density-uniform corpora it costs ~2 recall points vs IVF.

    ``residual=True`` (FAISS IVFADC): codes quantize ``v − centroid[
    cell(v)]`` and each query builds one LUT PER PROBED CELL from
    ``q − centroid[cell]``. This is the production default on
    CLUSTERED corpora: with raw codes the codebooks spend their
    resolution on the between-cluster structure, every member of a
    hot cluster quantizes alike, and the rerank set is effectively
    random within the cluster — measured recall@10 collapse 0.97 →
    0.15 on a Zipf mixture-of-Gaussians corpus
    (tools/ann_recall_sf1.py --clustered). Measured recovery there:
    residual codes alone 0.15 → 0.73 at the registry's
    demonstration-size 4-bit codebooks; residual + 8-bit codebooks
    (ncodes 256, the FAISS-standard byte-per-subspace width) → 0.99,
    where 8-bit RAW codes reach only 0.82 and rerank 100→1000 alone
    only 0.73 — so the production rule on clustered data is
    residual=True with byte codes. Still integer-exact: residuals
    subtract QUANTIZED
    vectors from QUANTIZED centroids, codebooks are trained on the
    same integer-grid residuals, so determinism and engine
    portability are unchanged — since r10 the residual path carries
    its OWN value-hash row (``ann_ivfpq_residual``, whose oracle
    codes per-cell residual LUTs from the same literals). LUT cost
    grows ×nprobe per query; amortized over
    probed-cell members it is noise at corpus scale. The model cache
    is scoped by ``residual`` internally (the codebooks differ), so
    toggling it against the same ``cache_key`` retrains instead of
    silently ADC-scanning against the other mode's codebooks.

    Exact-oracle parity: identical contracts to the parents — integer
    quantized cell distances and ADC (``_IVF_QSCALE``), ties to the
    lowest cell/code/neighbor id, shared normalized-dot rerank.

    Above ``_TWO_LEVEL_NLIST`` cells, assignment and probing route
    hierarchically exactly as in :func:`ivf_topk` (``nprobe_super``
    nearest supers, then their subs — see :func:`_route_probe`);
    residual coding assigns through the same routed path, so codes,
    LUTs and the oracle's chained-argmin CTEs all agree. Ignored at
    flat nlist (all registered demonstration rows).
    """
    ck = (cache_key, bool(residual))
    if model_cache is not None and ck in model_cache:
        supers, centroids, owner, codebooks = model_cache[ck]
    else:
        from parquet_sampler_spark.functions.hashing import lehmer_hash

        sketch = _sketch_topk(
            spread(corpus)
            .select(F.col(id_col).alias("__id"),
                    F.col(vec_col).alias("__v"),
                    lehmer_hash([id_col], seed).alias("__h")),
            "__id", max(train_rows, 256 * nlist),
        )
        # the shared numpy trainer (size-aware coarse fit + residual
        # codebook grid) is the SAME code the oracle builders run on
        # the raw parquet — parity by construction
        supers, centroids, owner, codebooks = ivfpq_train_numpy(
            np.array([r["__id"] for r in sketch], dtype=np.int64),
            np.array([r["__v"] for r in sketch], dtype=np.float64),
            nlist, m_sub, ncodes, seed,
            train_rows=train_rows, train_max_iter=train_max_iter,
            residual=residual,
        )
        if model_cache is not None:
            model_cache[ck] = (supers, centroids, owner, codebooks)

    cbq0 = _ivf_quantize(codebooks)     # (m_sub, ncodes, dsub)
    n_codes_eff = cbq0.shape[1]
    dsub = cbq0.shape[2]
    # broadcast the Θ(nlist) coarse tables + codebooks instead of
    # closure-capturing them (see ivf_topk's r14 note); handles
    # cached under the model key so repeat calls reuse the same ids
    sc = corpus.sparkSession.sparkContext
    bkey = (ck, "__bc")
    if model_cache is not None and bkey in model_cache:
        b_cq, b_sq, b_owner, b_cbq = model_cache[bkey]
    else:
        b_cq = sc.broadcast(_ivf_quantize(centroids))
        b_sq = sc.broadcast(
            None if supers is None else _ivf_quantize(supers)
        )
        b_owner = sc.broadcast(owner)
        b_cbq = sc.broadcast(cbq0)
        if model_cache is not None:
            model_cache[bkey] = (b_cq, b_sq, b_owner, b_cbq)

    @F.pandas_udf(T.IntegerType())
    def cell_of(vs: pd.Series) -> pd.Series:
        m = _ivf_quantize(np.array(vs.tolist(), dtype=np.float64))
        return pd.Series(
            _route_assign(m, b_cq.value, b_sq.value, b_owner.value)
        )

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def codes_of(vs: pd.Series) -> pd.Series:
        cq, cbq = b_cq.value, b_cbq.value
        x = _ivf_quantize(np.array(vs.tolist(), dtype=np.float64))
        if residual:
            x = x - cq[_route_assign(x, cq, b_sq.value, b_owner.value)]
        d = _pq_sqdists(x.reshape(len(vs), m_sub, dsub), cbq)
        return pd.Series(d.argmin(axis=2).astype("int32").tolist())

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probe_cells(vs: pd.Series) -> pd.Series:
        m = _ivf_quantize(np.array(vs.tolist(), dtype=np.float64))
        return pd.Series(
            _route_probe(m, b_cq.value, b_sq.value, b_owner.value,
                         nprobe, nprobe_super)
        )

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def lut_of(vs: pd.Series) -> pd.Series:
        cbq = b_cbq.value
        x = _ivf_quantize(np.array(vs.tolist(), dtype=np.float64))
        d = _pq_sqdists(x.reshape(len(vs), m_sub, dsub), cbq)
        return pd.Series(d.reshape(len(vs), -1).tolist())

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def lut_res(vs: pd.Series, cells: pd.Series) -> pd.Series:
        # residual ADC: the query's LUT is cell-specific (q − that
        # cell's centroid), so this runs AFTER the probe-cell explode
        cbq = b_cbq.value
        x = _ivf_quantize(np.array(vs.tolist(), dtype=np.float64))
        x = x - b_cq.value[cells.to_numpy(dtype=np.int64)]
        d = _pq_sqdists(x.reshape(len(vs), m_sub, dsub), cbq)
        return pd.Series(d.reshape(len(vs), -1).tolist())

    coded = spread(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        cell_of(F.col(vec_col)).alias("__cell"),
        codes_of(F.col(vec_col)).alias("__codes"),
    )
    if residual:
        q = (
            spread(queries).select(
                F.col(id_col).alias("query_id"),
                F.col(vec_col).alias("__qvec"),
                F.explode(probe_cells(F.col(vec_col))).alias("__cell"),
            )
            .withColumn("__lut", lut_res(F.col("__qvec"), F.col("__cell")))
            .drop("__qvec")
        )
    else:
        q = spread(queries).select(
            F.col(id_col).alias("query_id"),
            F.explode(probe_cells(F.col(vec_col))).alias("__cell"),
            lut_of(F.col(vec_col)).alias("__lut"),
        )
    bc = broadcast_queries in (True, "auto")
    small = F.broadcast if bc else (lambda d: d)

    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(m_sub - 1)),
        F.lit(0).cast("bigint"),
        lambda acc, mi: acc + F.get(
            "__lut",
            (mi * n_codes_eff + F.get("__codes", mi)).cast("int"),
        ),
    )
    scanned = (
        coded.join(small(q), "__cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("__adc", adc)
        # a (query, neighbor) pair can meet in several probed cells
        # when corpus rows tie across cells — dedup before the window
        .dropDuplicates(["query_id", "neighbor_id"])
        .select("query_id", "neighbor_id", "__adc")
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("__adc").asc(), F.col("neighbor_id")
    )
    cand = (
        scanned.withColumn(_RN, F.row_number().over(wr))
        .filter(F.col(_RN) <= rerank)
        .select("query_id", "neighbor_id")
    )
    qv = _normalized(queries, id_col, vec_col, "query_id", "__qv")
    cv = _normalized(corpus, id_col, vec_col, "neighbor_id", "__cv")
    scored = (
        cand.join(small(qv), "query_id")
        .join(cv, "neighbor_id")
        .withColumn("score", _unit_dot("__qv", "__cv"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn(_RN, F.row_number().over(w))
        .filter(F.col(_RN) <= k)
        .select("query_id", "neighbor_id", "score",
                F.col(_RN).alias("rank"))
    )


def semantic_dedup(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    nlist: int = 16,
    tau: float = 0.92,
    seed: int = 42,
    model_cache: dict | None = None,
    cache_key=None,
    train_per_cell: int = 256,
    train_max_iter: int = 20,
    pairs: str = "pandas",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): a KMeans coarse quantizer partitions the embedding
    corpus into ``nlist`` cells; ONLY within each cell are pairwise
    cosines computed, and of any pair with cosine >= ``tau`` the
    higher-id row is dropped — so each near-duplicate group survives
    through its minimum id (the dedup family's keeper convention).

    Returns the KEPT rows as ``(id_col, cell)``.

    This is the tractable form of loose-threshold semantic dedup: the
    exact all-pairs sweep is O(n²·dim) (see embedding_neardup_block —
    the documented exact surface), while clustering first bounds the
    quadratic term to O(sum cell²·dim) with ``nlist`` scaling with the
    corpus (cells stay ~constant size at any scale). The price is the
    SemDeDup miss class: a cross-cell near-dup pair is not compared —
    exactly the paper's trade.

    Assignment-cost contract (r14, reconciling VERDICT r13 #5 with
    the code): at nlist ∝ corpus the assignment pass is ALREADY
    hierarchical (two-level ``_route_assign`` above
    ``_TWO_LEVEL_NLIST`` — never a flat n·nlist scan), and its total
    cost is Θ(n·√nlist) = n^1.5/√pop — the measured decade-3 α 1.68
    (SCALING.md) IS this two-level routing, not a missing
    optimization. Per ROW the cost is ~2√nlist integer distances
    (≈ 88 at the 2M-vector sf100 cell — microseconds), and the pass
    is embarrassingly parallel with zero shuffle, so on a cluster
    whose executor count grows with the data, wall-clock grows only
    ~√nlist per executor. The flat-total escape would be a
    depth-log(n) routing tree (FAISS pairs IVF with HNSW assignment
    at this regime); it is deliberately NOT the registered form
    because every extra routing level multiplies the oracle's
    chained-argmin CTE replay and widens the boundary-miss class,
    while the two-level form stays value-hash-exact at every tested
    scale.

    Cross-engine determinism (the value-hash oracle contract): quantizer
    training reuses ann_ivf's machinery — bounded portable-Lehmer sketch
    + seeded numpy Lloyd (the oracle rebuilds the identical centroids
    from raw parquet via the shared trainer); cell assignment compares
    INTEGER-quantized squared distances (``_IVF_QSCALE``, ties to the
    lowest cell id), and above ``_TWO_LEVEL_NLIST`` cells it routes
    HIERARCHICALLY — nearest super-cell first, then only that super's
    sub-centroids (n·(√nlist + nlist/√nlist) integer distances instead
    of n·nlist; a boundary vector may land one cell off flat argmin —
    the SemDeDup trade, replayed identically by the oracle's chained
    argmin CTEs and hash-verified at sf1/78 cells); cosines use the
    engine-exact normalized left-to-right dot. Zero-norm vectors have
    no defined cosine, are never dropped, and keep their assigned
    cell.

    ``pairs`` selects the within-cell scorer — both paths are
    value-identical (pytest-pinned):

    * ``"pandas"`` (default): one ``applyInPandas`` over cell groups;
      pair cosines accumulate DIMENSION-BY-DIMENSION over vectorized
      numpy elementwise ops, which reproduces the left-to-right
      IEEE fold of :func:`_unit_dot` BIT-FOR-BIT (each step is
      ``fl(acc + fl(x*y))`` per pair) while running ~10× faster than
      the interpreted JVM higher-order aggregate. Row blocks bound
      peak memory at ``1024 × cell_size`` doubles.
    * ``"expr"``: the no-Python capability surface — a cell equi-join
      plus the JVM ``aggregate``/``zip_with`` fold.
    """
    if not 0.0 < tau <= 1.0:
        raise ValueError(f"tau must be in (0, 1], got {tau}")
    if pairs not in ("pandas", "expr"):
        raise ValueError(f"pairs must be 'pandas' or 'expr', got {pairs!r}")
    if model_cache is not None and cache_key in model_cache:
        supers, centroids, owner = model_cache[cache_key]
    else:
        from parquet_sampler_spark.functions.hashing import lehmer_hash

        sketch = _sketch_topk(
            spread(corpus)
            .select(F.col(id_col).alias("__id"),
                    F.col(vec_col).alias("__v"),
                    lehmer_hash([id_col], seed).alias("__h")),
            "__id", train_per_cell * nlist,
        )
        X = np.array([r["__v"] for r in sketch], dtype=np.float64)
        supers, centroids, owner = _fit_coarse_hierarchy(
            X, nlist, seed, train_max_iter
        )
        if model_cache is not None:
            model_cache[cache_key] = (supers, centroids, owner)

    # broadcast, not closure-capture: Θ(nlist) tables re-ship per
    # task otherwise (see ivf_topk's r14 note); handles cached so a
    # cached-model call reuses the same broadcast ids
    sc = corpus.sparkSession.sparkContext
    bkey = (cache_key, "__bc")
    if model_cache is not None and bkey in model_cache:
        b_cq, b_sq, b_owner = model_cache[bkey]
    else:
        b_cq = sc.broadcast(_ivf_quantize(centroids))
        b_sq = sc.broadcast(
            None if supers is None else _ivf_quantize(supers)
        )
        b_owner = sc.broadcast(owner)
        if model_cache is not None:
            model_cache[bkey] = (b_cq, b_sq, b_owner)

    @F.pandas_udf(T.IntegerType())
    def cell_of(vs: pd.Series) -> pd.Series:
        # flat argmin below the two-level threshold, HIERARCHICAL above
        # it (nearest super-cell, then only its sub-centroids) — see
        # _route_assign; removes assignment's n x nlist term (the
        # SemDeDup trade: a boundary vector may land one cell off flat
        # argmin; identically in both engines, oracle-replicated)
        m = _ivf_quantize(np.array(vs.tolist(), dtype=np.float64))
        return pd.Series(
            _route_assign(m, b_cq.value, b_sq.value, b_owner.value)
        )

    assigned = spread(corpus).select(
        F.col(id_col).alias("__sid"),
        cell_of(F.col(vec_col)).alias("cell"),
    )
    normed = _normalized(corpus, id_col, vec_col, "__nid", "__nv")
    members = assigned.join(
        normed, assigned["__sid"] == normed["__nid"], "inner"
    ).select("__sid", "cell", "__nv")
    if pairs == "pandas":
        tau_f = float(tau)

        def drop_in_cell(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("__sid")
            ids = pdf["__sid"].to_numpy()
            n = len(ids)
            if n < 2:
                return pd.DataFrame({"__sid": np.empty(0, dtype=np.int64)})
            M = np.array(pdf["__nv"].tolist(), dtype=np.float64)
            dropped = np.zeros(n, dtype=bool)
            # blockwise row sweep bounds memory at 1024 x n doubles;
            # the dimension loop makes each pair's accumulation the
            # exact fl(acc + fl(x*y)) left-to-right fold of _unit_dot
            for s in range(0, n, 1024):
                B = M[s:s + 1024]
                acc = np.zeros((len(B), n))
                for k in range(M.shape[1]):
                    acc += B[:, k][:, None] * M[None, :, k]
                hit = acc >= tau_f
                # only pairs with smaller-id row i (global s+r) < col j
                ri = np.arange(s, s + len(B))[:, None]
                dropped |= (hit & (ri < np.arange(n)[None, :])).any(axis=0)
            return pd.DataFrame({"__sid": ids[dropped]})

        dropped_df = members.groupBy("cell").applyInPandas(
            drop_in_cell, "__sid long"
        )
    else:
        a = members.select(F.col("__sid").alias("__ida"),
                           F.col("cell").alias("__ca"),
                           F.col("__nv").alias("__va"))
        b = members.select(F.col("__sid").alias("__idb"),
                           F.col("cell").alias("__cb"),
                           F.col("__nv").alias("__vb"))
        dropped_df = (
            a.join(b, (F.col("__ca") == F.col("__cb"))
                   & (F.col("__ida") < F.col("__idb")), "inner")
            .filter(_unit_dot("__va", "__vb") >= F.lit(float(tau)))
            .select(F.col("__idb").alias("__sid"))
            .distinct()
        )
    return (
        assigned.join(dropped_df, "__sid", "left_anti")
        .select(F.col("__sid").alias(id_col), "cell")
    )


def ivf_coreset(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 5,
    nlist: int = 16,
    seed: int = 42,
    keep: str = "central",
    model_cache: dict | None = None,
    cache_key=None,
    train_per_cell: int = 256,
    train_max_iter: int = 20,
) -> DataFrame:
    """Cluster-balanced coreset selection: keep the ``m`` most (or
    least) PROTOTYPICAL vectors of every KMeans cell — prototypicality
    = squared distance to the own-cell centroid, the data-pruning
    metric of Sorscher et al. 2022 ("Beyond neural scaling laws"):
    keep ``"central"`` exemplars when curating a SMALL high-signal
    subset, keep ``"outlier"`` (hard) examples when pruning an
    abundant corpus. Either way the selection is per-cell, so every
    density mode keeps representation — the balance a global top-k
    by any score destroys.

    Output: ``(id_col, cell, d, rank)`` — ``d`` the int64 quantized
    squared distance (exact in both engines), ``rank`` 1-based within
    the cell under ``(d ASC|DESC, id)``.

    Plan shape (the 100 TB contract): the quantizer is the SHARED
    bounded-sketch + seeded-Lloyd fit of :func:`ivf_topk` (pass the
    same ``model_cache``/``cache_key`` and the index is trained once
    per corpus across the ANN family); assignment + own-centroid
    distance is ONE Arrow-batched map pass against the broadcast
    centroids; per-cell top-m is a partitioned window that compiles
    to WindowGroupLimit (m rows per cell survive the partial pass —
    a cell is corpus/nlist-sized, the full-sort skew this pushdown
    exists for). No join anywhere.

    Zero-norm vectors participate (assignment is raw squared
    distance — no normalization), unlike the cosine surfaces which
    must drop them.
    """
    if m < 1:
        raise ValueError(f"m must be >= 1, got {m}")
    if keep not in ("central", "outlier"):
        raise ValueError(
            f"keep={keep!r}: expected 'central' or 'outlier'"
        )
    if model_cache is not None and cache_key in model_cache:
        supers, centroids, owner = model_cache[cache_key]
    else:
        from parquet_sampler_spark.functions.hashing import lehmer_hash

        sketch = _sketch_topk(
            spread(corpus)
            .select(F.col(id_col).alias("__id"),
                    F.col(vec_col).alias("__v"),
                    lehmer_hash([id_col], seed).alias("__h")),
            "__id", train_per_cell * nlist,
        )
        X = np.array([r["__v"] for r in sketch], dtype=np.float64)
        supers, centroids, owner = _fit_coarse_hierarchy(
            X, nlist, seed, train_max_iter
        )
        if model_cache is not None:
            model_cache[cache_key] = (supers, centroids, owner)

    # broadcast, not closure-capture (see ivf_topk's r14 note)
    sc = corpus.sparkSession.sparkContext
    bkey = (cache_key, "__bc")
    if model_cache is not None and bkey in model_cache:
        b_cq, b_sq, b_owner = model_cache[bkey]
    else:
        b_cq = sc.broadcast(_ivf_quantize(centroids))
        b_sq = sc.broadcast(
            None if supers is None else _ivf_quantize(supers)
        )
        b_owner = sc.broadcast(owner)
        if model_cache is not None:
            model_cache[bkey] = (b_cq, b_sq, b_owner)

    @F.pandas_udf("cell int, d bigint")
    def cell_dist(vs: pd.Series) -> pd.DataFrame:
        cq = b_cq.value
        mtx = _ivf_quantize(np.array(vs.tolist(), dtype=np.float64))
        cells = np.asarray(
            _route_assign(mtx, cq, b_sq.value, b_owner.value)
        )
        diff = mtx - cq[cells]
        return pd.DataFrame({
            "cell": cells.astype(np.int32),
            "d": (diff * diff).sum(axis=1).astype(np.int64),
        })

    assigned = spread(corpus).select(
        F.col(id_col), cell_dist(F.col(vec_col)).alias("__cd")
    ).select(
        id_col,
        F.col("__cd.cell").alias("cell"),
        F.col("__cd.d").alias("d"),
    )
    order_d = F.col("d").asc() if keep == "central" else F.col("d").desc()
    w = Window.partitionBy("cell").orderBy(order_d, F.col(id_col).asc())
    return (
        assigned.withColumn(_RN, F.row_number().over(w))
        .filter(F.col(_RN) <= m)
        .select(id_col, "cell", "d", F.col(_RN).alias("rank"))
    )


def jl_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    proj_dim: int = 16,
    shortlist: int = 40,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k through a Johnson-Lindenstrauss random
    projection: project every vector to ``proj_dim`` dimensions with
    seeded hyperplanes, shortlist the top ``shortlist`` per query by
    PROJECTED cosine, then exact full-dimension rerank of the
    shortlist — the cheap dense pre-filter (dim/proj_dim× fewer
    multiplies per candidate score) a brute-force scan upgrades to
    before reaching for an index, and the third candidate-generation
    family beside bucketed LSH (signs only) and IVF (data-fitted
    cells): JL keeps the full projected GEOMETRY, so recall degrades
    smoothly with proj_dim instead of cliffing at bucket boundaries.

    Output: ``query_id, neighbor_id, score, rank`` — score is the
    full-dimension cosine of reranked shortlist members, ties by
    neighbor id (the cosine_topk contract).

    Exact-oracle parity: the planes come from the shared seeded
    generator (literal-embeddable, the ann_lsh recipe); projections,
    normalization, and both scoring stages are the left-to-right
    double folds of functions/vectors.py whose DuckDB twins are
    bit-identical, so shortlist membership and final ranks replay
    value-for-value. Vectors whose PROJECTION is zero-norm drop from
    the shortlist stage (measure-zero for real data; the
    zero-norm-dropped contract of every cosine surface).

    Plan shape: projection is a pure per-row expression (proj_dim
    fused dot folds — no Python, no shuffle); the shortlist stage is
    cosine_topk on proj_dim-wide arrays (queries broadcast, corpus
    streams); the rerank joins the Θ(queries · shortlist) candidate
    list back to full vectors by id. Like ann_topk this is
    linear-in-corpus by design — the JL win is the constant, the
    bucketed/IVF rows are the sub-linear siblings.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if shortlist < k:
        raise ValueError(
            f"shortlist must be >= k, got {shortlist} < {k}"
        )
    if proj_dim < 1:
        raise ValueError(f"proj_dim must be >= 1, got {proj_dim}")
    from parquet_sampler_spark.functions.vectors import dot

    if dim is None:
        dim = _vec_dim(corpus, vec_col)
    planes = _hyperplanes(dim, proj_dim, seed)
    proj = F.array(*[
        dot(vec_col, F.array(*[F.lit(float(w)) for w in plane]))
        for plane in planes
    ])
    pc = spread(corpus).select(F.col(id_col), proj.alias("__jl"))
    pq = spread(queries).select(F.col(id_col), proj.alias("__jl"))
    short = cosine_topk(pc, pq, id_col, "__jl", k=shortlist).select(
        "query_id", "neighbor_id"
    )
    qv = _normalized(queries, id_col, vec_col, "query_id", "__qv")
    cv = _normalized(corpus, id_col, vec_col, "neighbor_id", "__cv")
    scored = (
        short.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .withColumn("score", _unit_dot("__qv", "__cv"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn(_RN, F.row_number().over(w))
        .filter(F.col(_RN) <= k)
        .select("query_id", "neighbor_id", "score",
                F.col(_RN).alias("rank"))
    )
