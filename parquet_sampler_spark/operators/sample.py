"""Exact-count uniform sampling — the reference's flagship operator.

Reference semantics (src/bin/sample.rs:36-79): ``sample_size =
floor(num_rows * ratio)`` distinct row indexes drawn uniformly without
replacement, rows emitted in input-file order, schema preserved. The
reference draws from an unseeded ``thread_rng`` (sample.rs:42) and spins
forever for ratio > 1 (sample.rs:43-46); we take an explicit seed and
validate the ratio instead (SURVEY.md §2.1 edge cases).

Two samplers:

* :func:`sample_exact` — exact-count, seeded, deterministic. Default
  ``method="hash"`` ranks rows by a portable Lehmer hash of key columns
  and keeps the k smallest. Because the hash is uniform on [0, M), the
  scalable path prefilters with the closed-form threshold
  ``M * ratio * margin`` — a pushed-down Parquet filter that discards
  ~``1 - ratio*margin`` of a 100 TB input *at the scan*, so the exact
  top-k only ever touches ~``k*margin`` rows. ``method="rand"`` ranks
  key-less tables by a hash of the row's physical position
  (``_metadata`` file path + row index) — deterministic across retries
  and repartitionings for a fixed file layout, though not portable to
  other engines; non-file inputs fall back to seeded ``F.rand``.
* :func:`sample_fraction` — Bernoulli ``df.sample`` passthrough
  (approximate count) for when exactness isn't required; zero shuffle.

Scale notes: no shuffle of the input, ever. Small k executes as
TakeOrderedAndProject (per-task k-element heaps over the ~k*margin
candidates, merged at the driver). Large k (≥ 2^18, where the Θ(k)
single-threaded driver merge was measured super-linear at the
sf10→sf100 decade) switches to exact DISTRIBUTED k-th-rank selection:
histogram refinement finds the k-th rank value in 2-3 kilobyte-sized
aggregations and the sample becomes a plain pushed-down filter — the
identical row set, with nothing k-sized at the driver, at any k.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from parquet_sampler_spark.functions.hashing import MODULUS, lehmer_hash
from parquet_sampler_spark.plans.cache import register
from parquet_sampler_spark.sources.io import local_frame

_PR = "__psx_pr"
_RN = "__psx_rn"
_ORD = "__psx_ord"
# Prefilter margin: candidates ≈ k * margin; P(candidates < k) is
# negligible by Chernoff for k ≳ 50. We verify and fall back anyway.
_MARGIN = 1.6
_PREFILTER_MIN_ROWS = 200_000

# Per-process prefilter outcome counters — observability for the
# verify-and-fallback branch, so a test can PROVE the fallback path ran
# (tests/test_sample.py pins a seed whose candidate set provably
# underfills) rather than trusting the Chernoff argument alone.
PREFILTER_STATS = {"hit": 0, "fallback": 0}

# Above this k, the exact top-k switches from TakeOrderedAndProject
# (driver merges ~k·margin rows single-threaded — measured α(10→100)
# 1.14 on sample_lineitem at k = 6M, where a 1-column scan baseline is
# 0.8 s but the sample took 45 s) to DISTRIBUTED k-th-rank selection:
# histogram refinement finds the exact k-th rank value with 2-3
# map-side-combine aggregations, the result is a filter, and no row
# set proportional to k ever visits the driver.
_DISTRIBUTED_SELECT_MIN_K = 262_144
_SELECT_NBUCKETS = 8192
_SELECT_COLLECT_MAX = 65_536
# observability twin of PREFILTER_STATS for the selection strategy
SELECT_STATS = {"topk": 0, "threshold": 0}


def _kth_rank_value(
    cand: DataFrame, k: int, domain_hi: int
) -> tuple[int, int]:
    """Exact k-th smallest ``_PR`` value over ``cand`` (1-indexed) by
    distributed histogram refinement. Returns ``(t_star, c_lt)`` where
    ``c_lt`` is the number of rows with ``_PR < t_star``.

    Each level is ONE aggregation over ``_SELECT_NBUCKETS``
    equal-width buckets of the remaining range (map-side partial
    combine, a few-KB shuffle); the range shrinks ×8192 per level, so
    two levels cover the 2^31 hash domain and the final exact walk
    collects at most ``width`` distinct values. Requires ``_PR`` to be
    DETERMINISTIC across passes (hash rank, or materialized/persisted
    candidates) — the caller guards this.
    """
    lo, hi, base = 0, domain_hi, 0
    while True:
        width = max(1, -(-(hi - lo) // _SELECT_NBUCKETS))  # ceil div
        hist = dict(
            cand.filter(
                (F.col(_PR) >= lo) & (F.col(_PR) < hi)
            )
            .groupBy(
                F.expr(f"({_PR} - {lo}) DIV {width}").alias("__b")
            )
            .agg(F.count(F.lit(1)).alias("__c"))
            .collect()
        )
        acc = base
        for b in sorted(hist):
            if acc + hist[b] >= k:
                lo, hi = lo + b * width, lo + (b + 1) * width
                base = acc
                break
            acc += hist[b]
        else:  # pragma: no cover — k ≤ count(cand) by construction
            raise ValueError("k exceeds candidate count")
        if hist[b] <= _SELECT_COLLECT_MAX or width == 1:
            break
    vals = (
        cand.filter((F.col(_PR) >= lo) & (F.col(_PR) < hi))
        .groupBy(_PR).agg(F.count(F.lit(1)).alias("__c"))
        .collect()
    )
    acc = base
    for r in sorted(vals, key=lambda r: r[_PR]):
        if acc + r["__c"] >= k:
            return int(r[_PR]), acc
        acc += r["__c"]
    raise ValueError("k exceeds candidate count")  # pragma: no cover


def _validate_ratio(ratio: float) -> None:
    if not (0.0 <= ratio <= 1.0):
        # the reference loops forever on ratio > 1 (sample.rs:43-46)
        raise ValueError(f"sampling ratio must be in [0, 1], got {ratio}")


def _rand_rank(
    df: DataFrame, seed: int, tagged_ord: bool
) -> tuple[DataFrame, Column, list[Column]]:
    """Rank expression for key-less (``method="rand"``) sampling.

    File-backed inputs get ``xxhash64(file_path, row_index, seed) mod M``
    with ``(file_path, row_index)`` as the tie-break — a total order
    derived from the row's physical position, so the selected row set is
    identical across retries, repartitionings, speculative re-execution,
    and AQE re-plans (``F.rand`` assigns values per physical partition:
    a task retry or a different partitioning silently selects DIFFERENT
    rows, and rank ties at the k-th boundary have no tie columns at
    all). ``tagged_ord=True`` reuses the ``_ORD`` metadata columns that
    ``order_preserving`` already projected instead of re-tagging.

    Non-file plans (no ``_metadata`` column) fall back to seeded
    ``F.rand`` — deterministic ONLY for a fixed input partitioning;
    prefer ``method="hash"`` with any unique column set there.
    """
    fcol, icol = _ORD + "_f", _ORD + "_i"
    if not tagged_ord:
        try:
            df = df.select(
                "*",
                F.col("_metadata.file_path").alias(fcol),
                F.col("_metadata.row_index").alias(icol),
            )
        except Exception:  # AnalysisException: not a file-based relation
            return df, (F.rand(seed) * MODULUS).cast("bigint"), []
    pr = F.pmod(
        F.xxhash64(F.col(fcol), F.col(icol), F.lit(seed)), F.lit(MODULUS)
    )
    return df, pr, [F.col(fcol), F.col(icol)]


def sample_exact(
    df: DataFrame,
    ratio: float,
    seed: int = 42,
    key_cols: list[str] | None = None,
    method: str = "hash",
    tie_cols: list[str] | None = None,
    order_by: list[str] | None = None,
    order_preserving: bool = False,
    total_rows: int | None = None,
    emit_pos_col: str | None = None,
) -> DataFrame:
    """Sample exactly ``floor(count(df) * ratio)`` rows, without
    replacement, deterministically for a fixed seed.

    ``method="hash"`` (default): rank rows by ``lehmer_hash(key_cols,
    seed)`` with ``key_cols`` as tie-breaker; keep the k smallest. Fully
    reproducible across engines — the DuckDB oracle runs the same
    arithmetic. If ``key_cols`` do not jointly identify rows, pass
    ``tie_cols`` that do — otherwise rank ties at the k-th-rank boundary
    are broken arbitrarily, losing cross-engine determinism.

    ``method="rand"``: for tables without a usable key column — ranks
    by a seeded hash of the row's physical file position (see
    :func:`_rand_rank`). Deterministic per (seed, file layout); the
    same files re-read under any partitioning select the same rows.

    ``order_by``: optional columns to sort the output by.

    ``order_preserving=True`` emits rows in *input-file order*, exactly
    as the reference does (sample.rs:49-50,73-76: sorted indexes over a
    sequential scan). Implemented with the Parquet scan's
    ``_metadata.file_path`` / ``_metadata.row_index`` hidden columns —
    a scan-level tag, so no zipWithIndex pass or extra shuffle; only the
    k sampled rows are sorted. Requires a file-based input relation.

    ``total_rows``: pass a known count to skip the counting job (e.g.
    from :func:`~parquet_sampler_spark.sources.io.metadata_row_count`).

    ``emit_pos_col``: with ``order_preserving=True``, additionally emit
    the sampled row's 1-based position in file order under this column
    name — making the order-preservation guarantee itself observable
    (and oracle-checkable) in the unordered row set.
    """
    _validate_ratio(ratio)
    if emit_pos_col and not order_preserving:
        raise ValueError("emit_pos_col requires order_preserving=True")
    out_cols = list(df.columns)
    if order_preserving:
        # tag file order at the scan (hidden parquet metadata columns)
        try:
            df = df.select(
                "*",
                F.col("_metadata.file_path").alias(_ORD + "_f"),
                F.col("_metadata.row_index").alias(_ORD + "_i"),
            )
        except Exception as exc:  # AnalysisException: no _metadata col
            raise ValueError(
                "order_preserving=True requires a file-based input "
                "(parquet/orc/csv scan) — the plan has no _metadata "
                "column to recover file order from"
            ) from exc
    n = total_rows if total_rows is not None else df.count()
    k = int(math.floor(n * ratio))
    if k <= 0:
        out = df.limit(0)
        if emit_pos_col:
            out = out.withColumn(emit_pos_col, F.lit(0).cast("int"))
            return out.select(*out_cols, emit_pos_col)
        return out.select(*out_cols)
    if k >= n:
        if order_preserving:
            out = df
            if emit_pos_col:
                wpos = Window.orderBy(_ORD + "_f", _ORD + "_i")
                out = out.withColumn(
                    emit_pos_col, F.row_number().over(wpos)
                )
                return out.orderBy(_ORD + "_f", _ORD + "_i").select(
                    *out_cols, emit_pos_col
                )
            return out.orderBy(_ORD + "_f", _ORD + "_i").select(*out_cols)
        return df.select(*out_cols)

    if method == "hash":
        if not key_cols:
            raise ValueError("method='hash' requires key_cols")
        pr: Column = lehmer_hash(key_cols, seed)
        ties = [F.col(c) for c in (tie_cols or key_cols)]
        pr_deterministic = True
    elif method == "rand":
        df, pr, ties = _rand_rank(df, seed, tagged_ord=order_preserving)
        # file-position rank (has tie columns) is deterministic across
        # passes; the non-file F.rand fallback is NOT — multi-pass
        # selection would see different ranks per scan
        pr_deterministic = bool(ties)
    else:
        raise ValueError(f"unknown method {method!r}")

    tagged = df.withColumn(_PR, pr)

    candidates = tagged
    if n >= _PREFILTER_MIN_ROWS and ratio * _MARGIN < 0.9:
        # closed-form threshold: hash is uniform on [0, M), so
        # E[|pr < t|] = n * t / M — no quantile job needed. The filter
        # evaluates right behind the scan, so only ~k·margin rows ever
        # reach the top-k sort. Persist the (tiny) candidate set: the
        # safety count and the final top-k then share one scan of the
        # big input instead of two.
        threshold = int(MODULUS * ratio * _MARGIN) + 1
        pre = tagged.filter(F.col(_PR) < threshold).persist()
        if pre.count() >= k:
            PREFILTER_STATS["hit"] += 1
            # kept alive for the returned (lazy) top-k plan, which
            # reads it after this function returns
            candidates = register(pre)
        else:
            # astronomically unlikely at production k (Chernoff); scan
            # everything — and drop the abandoned candidate set's
            # cached blocks now
            PREFILTER_STATS["fallback"] += 1
            pre.unpersist()

    # Exact top-k. Small k: ORDER BY + LIMIT — compiles to
    # TakeOrderedAndProject: every task keeps a k-element heap over its
    # partition, the driver merges the heaps. The previous
    # row_number()-window formulation relied on Catalyst's
    # InferWindowGroupLimit rewrite, which does NOT fire over an
    # InMemoryRelation (the persisted prefilter candidates), executing
    # instead as Exchange SinglePartition -> full Sort -> Window: all
    # ~k*margin candidate rows moved to ONE task and were fully sorted
    # there (~10^8 rows at 100 TB with ratio 0.001). Plan pinned by
    # tests/test_sample.py::test_topk_plan_no_single_partition_sort.
    #
    # LARGE k (≥ _DISTRIBUTED_SELECT_MIN_K): the driver heap-merge is
    # itself Θ(k) single-threaded — at fixed ratio, k ∝ n, and the
    # sf10→sf100 decade measured it as α 1.14 (45 s at k = 6M where
    # the scan baseline is < 1 s). Switch to exact DISTRIBUTED
    # selection: find the k-th rank value by histogram refinement
    # (2-3 tiny aggregations), emit `pr < t*` as a plain filter, and
    # top up the boundary group `pr == t*` by tie order (expected ~1
    # row for unique keys) — the SAME row set as the ORDER BY + LIMIT
    # formulation, with nothing k-sized ever leaving the executors.
    # Requires a pass-stable rank, so the F.rand fallback keeps the
    # top-k path regardless of k.
    if k >= _DISTRIBUTED_SELECT_MIN_K and pr_deterministic:
        SELECT_STATS["threshold"] += 1
        t_star, c_lt = _kth_rank_value(candidates, k, MODULUS)
        boundary = (
            candidates.filter(F.col(_PR) == t_star)
            .orderBy(*ties)
            .limit(k - c_lt)
        )
        out = candidates.filter(F.col(_PR) < t_star).unionByName(
            boundary
        )
    else:
        SELECT_STATS["topk"] += 1
        out = candidates.orderBy(F.col(_PR), *ties).limit(k)
    if order_preserving:
        if emit_pos_col:
            wpos = Window.orderBy(_ORD + "_f", _ORD + "_i")
            out = out.withColumn(
                emit_pos_col, F.row_number().over(wpos)
            )
            out_cols = out_cols + [emit_pos_col]
        out = out.orderBy(_ORD + "_f", _ORD + "_i")
    elif order_by:
        out = out.orderBy(*order_by)
    return out.select(*out_cols)


def sample_stratified(
    df: DataFrame,
    ratio: float,
    strata_cols: list[str],
    seed: int = 42,
    key_cols: list[str] | None = None,
    tie_cols: list[str] | None = None,
) -> DataFrame:
    """Exact-count sampling *per stratum*: keeps ``floor(n_g · ratio)``
    rows from every group g of ``strata_cols`` — preserving group
    proportions exactly (plain uniform sampling only preserves them in
    expectation, and can miss small strata entirely).

    Plan shape: a single shuffle on the strata (two window functions
    share it) — the per-group count comes from a count window, so unlike
    :func:`sample_exact` no driver-side count job runs at all. Skewed
    strata behave like any groupBy (AQE applies). Deterministic and
    engine-portable: identical SQL runs in the DuckDB oracle.
    """
    _validate_ratio(ratio)
    if not key_cols:
        raise ValueError("sample_stratified requires key_cols")
    pr = lehmer_hash(key_cols, seed)
    ties = [F.col(c) for c in (tie_cols or key_cols)]
    w = Window.partitionBy(*strata_cols).orderBy(pr, *ties)
    wc = Window.partitionBy(*strata_cols)
    return (
        df.withColumn(_RN, F.row_number().over(w))
        .withColumn("__psx_n", F.count(F.lit(1)).over(wc))
        .filter(
            F.col(_RN)
            <= F.floor(F.col("__psx_n") * F.lit(ratio)).cast("bigint")
        )
        .drop(_RN, "__psx_n")
    )


def assign_splits(
    df: DataFrame,
    key_cols: list[str],
    seed: int = 42,
    splits: tuple[tuple[str, float], ...] = (
        ("train", 0.8), ("val", 0.1), ("test", 0.1),
    ),
    out_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: every row lands in
    exactly one split based on ``lehmer_hash(key_cols, seed)`` compared
    against cumulative INTEGER thresholds (``floor(M·cum_weight)``) —
    no floats anywhere, so the assignment is reproducible across
    engines, runs, partitionings, and cluster sizes, and any row's
    split can be recomputed from its key alone (the property that
    keeps a training corpus leak-free when it is regenerated).

    Proportions hold in expectation (hash-uniform); for exact-count
    splits use :func:`sample_exact` per split instead.
    """
    _validate_splits(splits)
    pr = lehmer_hash(key_cols, seed)
    cum = 0.0
    thresholds = []
    for name, w in splits[:-1]:
        cum += w
        thresholds.append((name, int(MODULUS * cum)))
    expr = F.lit(splits[-1][0])
    for name, t in reversed(thresholds):
        expr = F.when(pr < t, name).otherwise(expr)
    return df.withColumn(out_col, expr)


def _validate_splits(splits) -> None:
    weights = [w for _, w in splits]
    if any(w < 0 for w in weights) or abs(sum(weights) - 1.0) > 1e-9:
        raise ValueError("split weights must be >= 0 and sum to 1")


def assign_splits_sql(
    key_cols: list[str],
    seed: int = 42,
    splits: tuple[tuple[str, float], ...] = (
        ("train", 0.8), ("val", 0.1), ("test", 0.1),
    ),
) -> str:
    """CASE expression computing the identical split assignment in
    DuckDB — the oracle twin of :func:`assign_splits` (same weight
    validation: a silently-short threshold list would misassign the
    remainder instead of failing)."""
    from parquet_sampler_spark.functions.hashing import lehmer_hash_sql

    _validate_splits(splits)
    pr = lehmer_hash_sql(key_cols, seed)
    cum = 0.0
    whens = []
    for name, w in splits[:-1]:
        cum += w
        whens.append(f"WHEN ({pr}) < {int(MODULUS * cum)} THEN '{name}'")
    return (
        "CASE " + " ".join(whens) + f" ELSE '{splits[-1][0]}' END"
    )


def sample_fraction(
    df: DataFrame, ratio: float, seed: int = 42
) -> DataFrame:
    """Bernoulli sample: each row kept independently with probability
    ``ratio``. Count is approximate (binomial); no shuffle at all — the
    right tool when k is huge and ±sqrt(k) wobble is acceptable."""
    _validate_ratio(ratio)
    return df.sample(withReplacement=False, fraction=ratio, seed=seed)


def sample_threshold(
    df: DataFrame,
    ratio: float,
    key_cols: list[str],
    seed: int = 42,
) -> DataFrame:
    """Deterministic hash-threshold sample: keep a row iff
    ``lehmer_hash(key_cols) < floor(M·ratio)`` — the engine-portable
    twin of :func:`sample_fraction` and the INCREMENTAL form of the
    seeded sampler. Membership depends only on the row's own key, so
    appending new data never changes an old row's fate (the
    exact-count form re-ranks globally: admitting row n+1 can evict
    row n) — the property a growing table, a stream, or a multi-day
    ingest pipeline needs from its sample, and how production "1% of
    all traffic forever" samples are actually built. Count is
    approximate (binomial around ratio·n; the hash is uniform on
    [0, M)); :func:`sample_exact` is the exact-count form.

    Plan: a pure per-row filter fused into the scan stage — no
    shuffle, no sort, no driver state; trivially partition-parallel
    at any scale, and two engines (or two days' jobs) agree on every
    row.
    """
    _validate_ratio(ratio)
    from parquet_sampler_spark.functions.hashing import (
        MODULUS as _M,
        lehmer_hash as _lh,
    )

    t = int(_M * ratio)
    return df.filter(_lh(list(key_cols), seed=seed) < F.lit(t))


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    key_cols: list[str],
    seed: int = 42,
) -> DataFrame:
    """Exact-k weighted sampling without replacement
    (Efraimidis-Spirakis A-ES): row i is ranked by ``ln(u_i)/w_i`` with
    ``u_i`` uniform in (0, 1], and the k largest ranks win — inclusion
    probability is proportional to weight, the standard way to bias a
    training-data sample toward long/high-quality documents.

    ``u_i`` comes from the seeded Lehmer hash of ``key_cols`` (exact
    integer arithmetic, engine-portable), so the selection is
    deterministic and the DuckDB oracle recomputes the identical sample
    (:func:`weighted_sample_rank_sql`). ``ln`` is evaluated by each
    engine's libm; both are within 1 ulp of exact, so a selection flip
    would need two ranks within ~1e-16 relative of each other at the
    k-boundary — negligible for distinct hash inputs.

    Plan shape: rank expression + ``orderBy().limit(k)``, which
    compiles to TakeOrderedAndProject (per-partition k-heaps, driver
    merges k·P rows) — no global sort, no single-partition window; the
    same scale story as :func:`sample_exact`'s top-k. Rows with
    non-positive or NULL weight are excluded (they have zero inclusion
    probability by definition).
    """
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    if not key_cols:
        raise ValueError("weighted_sample requires key_cols")
    if k == 0:
        return df.limit(0)
    h = lehmer_hash(key_cols, seed)
    # (h+1)/(M+1): u in (0, 1], never 0 (ln(0) = -inf would tie all
    # zero-hash rows regardless of weight)
    u = (h + F.lit(1)).cast("double") / F.lit(float(MODULUS + 1))
    w = F.col(weight_col).cast("double")
    rank = F.log(u) / w
    ties = [F.col(c) for c in key_cols]
    return df.filter(w > 0).orderBy(rank.desc(), *ties).limit(k)


def weighted_sample_rank_sql(
    weight_col: str, key_cols: list[str], seed: int = 42
) -> tuple[str, str]:
    """(rank_expr, where_expr) SQL fragments computing the identical
    A-ES rank in DuckDB — oracle twin of :func:`weighted_sample`. Use
    as ``... WHERE {where} ORDER BY {rank} DESC, keys LIMIT k``."""
    from parquet_sampler_spark.functions.hashing import lehmer_hash_sql

    h = lehmer_hash_sql(key_cols, seed)
    u = f"CAST(({h}) + 1 AS DOUBLE) / {float(MODULUS + 1)!r}"
    rank = f"ln({u}) / CAST({weight_col} AS DOUBLE)"
    return rank, f"CAST({weight_col} AS DOUBLE) > 0"


def mixture_resample(
    df: DataFrame,
    id_col: str,
    text_col: str,
    source_col: str,
    target_weights: dict[str, int],
    seed: int = 29,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Domain-mixture resampling (DoReMi-style data mixing, downsample
    only): keep a deterministic hash-sample of each source so the KEPT
    corpus's expected token mixture matches ``target_weights`` (integer
    relative weights), scaled as large as possible without upsampling —
    the source whose tokens are scarcest relative to its weight is kept
    in full and every other source is thinned proportionally.

    Exact integer contract (reproducible across engines, runs, and
    cluster sizes): with ``tok_s`` the total tokens of source ``s`` and
    ``w_s`` its weight, the binding source ``j`` minimizes
    ``tok_s / w_s`` (ties broken by smallest source name); source ``s``
    keeps rows whose ``lehmer_hash(id) < floor(M * tok_j * w_s /
    (w_j * tok_s))`` — thresholds computed in exact big-int arithmetic
    (Python here, HUGEINT in the DuckDB oracle), never floats. Sources
    absent from ``target_weights`` (or with zero tokens) are dropped.

    Plan shape (the 100 TB contract): ONE map-side-partial aggregation
    produces per-source token totals (rows collected = number of
    sources — a bounded, schema-level quantity, not data-scale); the
    thresholds broadcast-join back and the corpus is FILTERED in place
    — it never shuffles, and any row's keep/drop is recomputable from
    its id alone (the split-assignment leak-free property).

    Output: ``(id_col, source_col, n_tokens)`` of kept rows, plus any
    ``keep_cols`` carried through verbatim (e.g. ``["text"]`` when a
    downstream stage — packing, encoding — still needs the document
    body; the default stays the summary shape).
    """
    from fractions import Fraction

    from parquet_sampler_spark.functions.text import token_count

    if not target_weights:
        raise ValueError("target_weights must be non-empty")
    if any(w <= 0 for w in target_weights.values()):
        raise ValueError("target weights must be positive integers")
    clash = [c for c in (keep_cols or [])
             if c in (id_col, source_col, "n_tokens")]
    if clash:
        raise ValueError(
            f"keep_cols {clash} collide with output columns "
            f"({id_col!r}, {source_col!r}, 'n_tokens')"
        )

    toks = (
        df.filter(F.col(source_col).isin(list(target_weights)))
        .groupBy(source_col)
        .agg(F.sum(token_count(F.col(text_col))).alias("__tok"))
        .collect()  # bounded: one row per weighted source
    )
    tok = {r[source_col]: int(r["__tok"]) for r in toks if r["__tok"]}
    live = sorted(s for s in target_weights if tok.get(s, 0) > 0)
    if not live:
        raise ValueError("no weighted source has any tokens")
    j = min(live, key=lambda s: (Fraction(tok[s], target_weights[s]), s))
    thr = {
        s: (MODULUS * tok[j] * target_weights[s])
        // (target_weights[j] * tok[s])
        for s in live
    }
    spark = df.sparkSession
    thr_df = local_frame(
        spark, [(s, thr[s]) for s in live],
        f"{source_col} string, __thr bigint",
    )
    return (
        df.join(F.broadcast(thr_df), source_col, "inner")
        .filter(lehmer_hash([id_col], seed) < F.col("__thr"))
        .select(
            id_col,
            source_col,
            token_count(F.col(text_col)).alias("n_tokens"),
            *(keep_cols or []),
        )
    )
