"""Frequency-sketch operators: exact distributed heavy hitters via the
candidates-then-verify plan.

The reference engine has no sketch surface (SURVEY.md §2.2); this is
beyond-reference scale machinery. The pattern here — a bounded
per-partition summary proposes candidates, one exact pass verifies —
returns EXACT answers with sketch-shaped cost, which is why the query
registry can give it a plain-SQL oracle (unlike HLL/GK whose raw
estimates are engine-specific and need error-envelope oracles).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from parquet_sampler_spark.sources.io import local_frame


def _mg_update(counters: dict, key, w: int, cap: int) -> None:
    """Weighted Misra-Gries update: add ``w`` occurrences of ``key``
    to a summary holding at most ``cap`` counters. On overflow, the
    standard decrement step subtracts the minimum counter value from
    every counter and drops zeros — each subtraction of d accounts for
    d·(cap+1) input rows, which is what bounds the undercount."""
    if key in counters:
        counters[key] += w
        return
    counters[key] = w
    if len(counters) > cap:
        d = min(counters.values())
        dead = []
        for k2 in counters:
            counters[k2] -= d
            if counters[k2] <= 0:
                dead.append(k2)
        for k2 in dead:
            del counters[k2]


def heavy_hitters(df: DataFrame, col: str, k: int) -> DataFrame:
    """All values of ``col`` occurring in strictly more than ``1/k`` of
    the rows, with their EXACT counts.

    Two-phase plan, no full-width shuffle of the raw rows:

    1. **Candidates** (one ``mapInPandas`` pass): each partition keeps
       a weighted Misra-Gries summary of at most ``k-1`` counters —
       O(k) memory regardless of the partition's distinct-key count —
       and emits its surviving keys plus the partition row count.
       *Superset guarantee*: an MG summary undercounts any key by at
       most ``n_p/k``, so a key whose counter is zero in EVERY
       partition has true local count ≤ ``n_p/k`` everywhere, hence
       global count ≤ ``n/k`` — i.e. every globally-heavy value
       (``count*k > n``) survives in at least one partition summary,
       under any adversarial spread. The candidate relation is bounded
       by ``(k-1+1) * n_partitions`` rows.
    2. **Verify** (one aggregation restricted to candidates): exact
       counts of candidate values via a broadcast semi-join, then the
       exact global threshold ``count * k > n``. False candidates are
       dropped here, so the sketch phase only ever affects cost, never
       the answer.

    ``n`` comes from per-partition row counts carried on the summary
    rows, so one bounded collect (≤ k rows per partition) serves both
    the total and the candidate keys and the input is scanned exactly
    twice: once for summaries, once for verification. The threshold
    compare stays in exact BIGINT arithmetic (``count * k > n``, never
    a float fraction), so engine-portable oracles compare bit-for-bit.

    Float columns: NULL rows are excluded from ``n`` but NaN rows are
    NOT (Spark's ``isNotNull`` keeps NaN), and a globally-heavy NaN is
    reported as a key like any other — canonicalized in the sketch
    phase (NaN objects compare unequal to themselves, so naive dict
    counting would fragment it) and counted once in the verify phase
    via Spark's NaN-equality join/groupBy semantics.
    """
    if k < 2:
        raise ValueError(f"heavy_hitters needs k >= 2, got {k}")
    src = df.select(F.col(col).alias("__hh_key")).filter(
        F.col("__hh_key").isNotNull()
    )
    key_field = src.schema.fields[0]
    # the summary stream carries a None-keyed row-count marker per
    # partition, so its key column must be nullable even when the
    # (NULL-filtered) input column is not
    summary_schema = T.StructType(
        [
            T.StructField(key_field.name, key_field.dataType, True),
            T.StructField("__hh_n", T.LongType(), True),
        ]
    )

    def local_summary(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        # Canonical NaN for Misra-Gries dict keys: distinct float NaN
        # objects hash alike but compare unequal, so without mapping
        # every batch's NaN to ONE object the summary would fragment a
        # genuinely-heavy NaN key across dict entries. The singleton
        # must be LOCAL to this invocation — a module-level constant
        # would be cloudpickled by value into this closure while
        # helper functions resolve the worker module's own copy, and
        # NaN identity does not survive that split (found the hard
        # way: `pop` missed and the marker row silently never fired).
        canon_nan = float("nan")
        counters: dict = {}
        n_part = 0
        for b in batches:
            n_part += len(b)
            # dropna=False: Spark's isNotNull keeps float NaN, so a
            # globally-heavy NaN key must be proposed like any other —
            # default value_counts would silently drop it from every
            # partition summary while still counting it in n
            vc = b["__hh_key"].value_counts(dropna=False)
            for key, c in vc.items():
                if key is None or key is pd.NaT:
                    # true nulls never reach here (isNotNull upstream);
                    # guard anyway so the marker row stays unambiguous
                    continue
                if isinstance(key, float) and key != key:  # NaN
                    key = canon_nan
                _mg_update(counters, key, int(c), k - 1)
        # NaN cannot ride the key column: object-dtype pandas → Arrow
        # maps BOTH None and NaN to null, which would collide with the
        # row-count marker. Carry NaN candidacy as a second marker row
        # (key=None, __hh_n=-1) and let the driver re-materialize it.
        nan_rows = (
            [-1] if counters.pop(canon_nan, None) is not None else []
        )
        keys = list(counters.keys())
        yield pd.DataFrame(
            {
                "__hh_key": pd.Series(
                    keys + [None] * (1 + len(nan_rows)), dtype=object
                ),
                "__hh_n": pd.Series(
                    [None] * len(keys) + [n_part] + nan_rows,
                    dtype="object",
                ),
            }
        )

    # One job drains the summaries to the driver — bounded by
    # (k-1 candidates + 1 count row) per partition, so safe to collect
    # even at large partition counts for sketch-sized k. This keeps the
    # plan at exactly TWO input scans (summaries, verify) with no
    # persist lifetime to manage.
    rows = src.mapInPandas(
        local_summary, schema=summary_schema
    ).collect()
    n = sum(
        r["__hh_n"] for r in rows
        if r["__hh_n"] is not None and r["__hh_n"] >= 0
    )
    keys = sorted({r["__hh_key"] for r in rows if r["__hh_key"] is not None})
    # a -1 marker from any partition proposes NaN as a candidate; the
    # verify join relies on Spark's NaN-equality semantics (NaN = NaN
    # is true in join keys and groupBy), so NaN gets one exact count
    # like any other key. local_frame keeps NaN as NaN, never null.
    nan_candidate = any(
        r["__hh_n"] is not None and r["__hh_n"] < 0 for r in rows
    )
    cand_rows = [(key,) for key in keys]
    if nan_candidate:
        cand_rows.append((float("nan"),))
    spark = df.sparkSession
    if not cand_rows:
        empty = local_frame(spark, [], T.StructType(
            [key_field, T.StructField("cnt", T.LongType(), False)]
        ))
        return empty.withColumnRenamed("__hh_key", col)
    candidates = local_frame(spark, cand_rows, T.StructType([key_field]))
    return (
        src.join(F.broadcast(candidates), "__hh_key")
        .groupBy("__hh_key")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") * k > F.lit(n))
        .select(F.col("__hh_key").alias(col), "cnt")
    )


def mg_weighted_updates(
    src: DataFrame, col: str, k: int
) -> tuple[list[tuple[str, int]], int]:
    """Partition-local weighted Misra-Gries pass over a STRING key
    column: one ``mapInPandas`` scan where each partition keeps at
    most ``k-1`` counters and emits them as weighted ``(key, count)``
    updates plus one row-count marker — the distributed half of the
    :func:`heavy_hitters` candidate phase, exposed for callers that
    need the WEIGHTS (the streaming frequency maintainer folds these
    into its running summary; the batch operator only needs the keys
    because it re-counts exactly in its verify phase).

    Returns ``(updates, n)`` where ``updates`` is sorted by key (so
    any downstream fold is order-deterministic and the published
    summary bytes are reproducible) and ``n`` is the EXACT number of
    non-null input rows, carried on per-partition marker rows rather
    than recovered from the (undercounting) MG weights.

    Bound: the driver receives at most ``k`` rows per partition
    (``k-1`` counters + 1 marker), independent of the partition's
    distinct-key count — the mergeable-summaries result (Agarwal et
    al.): folding weighted MG updates with the same decrement rule
    keeps the combined undercount ≤ n_total/k, so the merged summary
    still proposes a superset of every globally-heavy key.
    """
    if k < 2:
        raise ValueError(f"mg_weighted_updates needs k >= 2, got {k}")
    keyed = src.select(F.col(col).cast("string").alias("__k")).filter(
        F.col("__k").isNotNull()
    )

    def local_summary(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        counters: dict = {}
        n_part = 0
        for b in batches:
            n_part += len(b)
            # fold in a DEFINED order — value_counts ties keep pandas'
            # internal (version-dependent) ordering, and the MG
            # decrement rule makes counter VALUES fold-order-sensitive;
            # sorting by (-count, key) keeps the emitted summary bytes
            # reproducible across pandas versions and repartitionings
            vc = b["__k"].value_counts()
            for key, c in sorted(
                vc.items(), key=lambda kv: (-kv[1], kv[0])
            ):
                _mg_update(counters, key, int(c), k - 1)
        keys = list(counters.keys())
        yield pd.DataFrame(
            {
                "__k": pd.Series(keys + [None], dtype=object),
                "__c": pd.Series(
                    [int(counters[key]) for key in keys] + [n_part],
                    dtype="int64",
                ),
            }
        )

    rows = keyed.mapInPandas(
        local_summary, schema="__k string, __c long"
    ).collect()
    n = sum(int(r["__c"]) for r in rows if r["__k"] is None)
    updates = sorted(
        (r["__k"], int(r["__c"])) for r in rows if r["__k"] is not None
    )
    return updates, n


def _weighted_grid(
    vals: np.ndarray, ws: np.ndarray, cap: int
) -> tuple[np.ndarray, float]:
    """Compress sorted-or-unsorted weighted values to at most ``cap``
    kept values of ONE uniform weight ``W / m`` (``W`` total weight,
    ``m = min(cap, len)``), picked at cumulative-weight midpoints
    ``(i + 0.5) · W / m`` — the weighted generalization of the
    rank-grid ``floor((i + 0.5) · n / cap)``. Exactly lossless when
    the input already fits (``len <= cap`` with uniform weights);
    otherwise each kept value's implied rank is off by at most
    ``W / (2·m)`` — one half grid cell of the weight it represents."""
    if len(vals) == 0:
        # a summary row with an empty vals array is malformed input;
        # fail loudly here rather than as an IndexError on ws[0] deep
        # inside an applyInPandas worker (r8 ADVICE)
        raise ValueError("_weighted_grid: empty value array")
    order = np.argsort(vals, kind="stable")
    vals, ws = vals[order], ws[order]
    if len(vals) <= cap and np.all(ws == ws[0]):
        return vals, float(ws[0])
    m = min(cap, len(vals))
    cum = np.cumsum(ws)
    total = cum[-1]
    targets = (np.arange(m) + 0.5) * total / m
    idx = np.searchsorted(cum, targets, side="left")
    idx = np.minimum(idx, len(vals) - 1)
    return vals[idx], float(total / m)


def quantile_summaries(
    df: DataFrame,
    group_cols: list[str],
    sub_cols: list[str],
    value_col: str,
    cap: int = 512,
) -> DataFrame:
    """Mergeable per-(group, sub) quantile summaries — the quantile
    analog of per-day HLL sketches: a rank-grid subsample of each
    (group ∪ sub) bucket's values, each kept value carrying one
    uniform weight. Any union of summaries answers any quantile over
    the union of their inputs via a weighted-rank lookup
    (:func:`merged_quantiles`) — re-aggregation without rescanning,
    which is what replaces exact per-group sorts at 100 TB (exact
    percentiles are not mergeable; these are, associatively).

    **Partition-local build** (the 100 TB memory contract): phase 1 is
    one ``mapInPandas`` pass that keeps, per (group, sub) key seen in
    the partition, a KLL-style logarithmic merge tree of
    grid-compressed chunks — O(cap · log(rows)) executor memory per
    key no matter how hot a bucket is, same bounded-summary shape as
    the heavy-hitters candidate phase above. Phase 2 reduces the
    per-partition summaries to one row per key with the associative
    weighted-grid merge (input bounded by ``n_partitions · cap``
    values per key, never raw rows). A hot bucket therefore never
    materializes as one executor-resident sort, unlike a naive
    ``groupBy().applyInPandas`` build.

    Error: each compression costs at most half a grid cell of the
    weight it covers, and a value passes through at most
    ``log2(n_key_in_partition / cap)`` tree merges plus the final
    phase-2 merge, so total rank error is ``O(log(n) / cap)`` —
    ~0.4% at the query layer's cap 512 for realistic partition sizes
    (a naive compress-in-place accumulator would compound
    quadratically on hot keys; the tree is what keeps the bound
    logarithmic). Still a multiple inside the 1% envelopes the query
    layer asserts. No RNG anywhere; the result is deterministic for a
    fixed input partitioning (the phase-1 split decides which values
    survive compression). NULLs are excluded (SQL aggregate
    convention).

    Output: group_cols + sub_cols + ``vals array<double>`` +
    ``weight double`` (rows represented by each kept value).
    """
    if cap < 2:
        raise ValueError(f"quantile_summaries needs cap >= 2, got {cap}")
    part = _partition_quantile_summaries(
        df, group_cols, sub_cols, value_col, cap
    )
    return merge_summaries(part, list(group_cols) + list(sub_cols), cap)


def merge_summaries(
    summaries: DataFrame, group_cols: list[str], cap: int
) -> DataFrame:
    """Reduce summary rows (``vals``/``weight`` schema) to ONE row per
    ``group_cols`` with the associative weighted-grid merge — the
    phase-2 reduce of :func:`quantile_summaries`, public because the
    same merge is what makes the summaries STREAMING state: a
    foreachBatch loop unions the stored summaries with the new
    batch's and calls this, cost O(groups · cap) per batch."""
    keys = list(group_cols)
    out_schema = T.StructType(
        [summaries.schema[k] for k in keys]
        + [summaries.schema["vals"], summaries.schema["weight"]]
    )

    def merge_one(pdf: pd.DataFrame) -> pd.DataFrame:
        vals = np.concatenate(
            [np.asarray(a, dtype=np.float64) for a in pdf["vals"]]
        )
        ws = np.concatenate([
            np.full(len(a), w, dtype=np.float64)
            for a, w in zip(pdf["vals"], pdf["weight"])
        ])
        kept, w = _weighted_grid(vals, ws, cap)
        row = {k: [pdf[k].iat[0]] for k in keys}
        row["vals"] = [kept.tolist()]
        row["weight"] = [w]
        return pd.DataFrame(row)

    return (
        summaries.select(*keys, "vals", "weight")
        .groupBy(*keys)
        .applyInPandas(merge_one, schema=out_schema)
    )


def _partition_quantile_summaries(
    df: DataFrame,
    group_cols: list[str],
    sub_cols: list[str],
    value_col: str,
    cap: int,
) -> DataFrame:
    """Phase 1 of :func:`quantile_summaries`: one summary row per
    (group, sub) key PER INPUT PARTITION (exposed separately so tests
    can pin the partition-locality contract). Each key holds a raw
    buffer of at most ``2·cap`` values plus a logarithmic merge tree
    of compressed chunks (level *i* holds at most one chunk of ≤ cap
    values; two same-level chunks grid-merge and carry to level
    *i+1*), so executor memory per key is O(cap · log(rows)) and the
    shuffle that follows moves only compressed summaries."""
    keys = list(group_cols) + list(sub_cols)
    src = df.select(
        *keys, F.col(value_col).cast("double").alias("__qv")
    ).filter(F.col("__qv").isNotNull())

    out_schema = T.StructType(
        [src.schema[k] for k in keys]
        + [
            T.StructField("vals", T.ArrayType(T.DoubleType()), False),
            T.StructField("weight", T.DoubleType(), False),
        ]
    )
    raw_limit = 2 * cap

    def tree_insert(levels: list, kept: np.ndarray, w: float) -> None:
        # carry-propagate: merging two level-i chunks (each covering
        # ~2^i * raw_limit rows) yields one level-(i+1) chunk, so a
        # value is recompressed at most log2(n/raw_limit) times —
        # the bound that keeps total rank error O(log(n)/cap)
        i = 0
        while True:
            if i == len(levels):
                levels.append((kept, w))
                return
            if levels[i] is None:
                levels[i] = (kept, w)
                return
            ov, ow = levels[i]
            levels[i] = None
            kept, w = _weighted_grid(
                np.concatenate([ov, kept]),
                np.concatenate(
                    [np.full(len(ov), ow), np.full(len(kept), w)]
                ),
                cap,
            )
            i += 1

    def local_summaries(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        # per key: ([raw value arrays], raw_size, [tree levels])
        bufs: dict = {}
        for b in batches:
            for key, grp in b.groupby(keys, dropna=False, sort=False):
                v = grp["__qv"].to_numpy(dtype=np.float64)
                raw, sz, levels = bufs.get(key, ([], 0, []))
                raw.append(v)
                sz += len(v)
                if sz >= raw_limit:
                    flat = np.concatenate(raw)
                    tree_insert(levels, flat, 1.0)
                    raw, sz = [], 0
                bufs[key] = (raw, sz, levels)
        if not bufs:
            return
        out = {k: [] for k in keys}
        out_vals, out_w = [], []
        for key, (raw, _, levels) in bufs.items():
            chunks = ([(np.concatenate(raw), 1.0)] if raw else []) + [
                c for c in levels if c is not None
            ]
            kept, w = _weighted_grid(
                np.concatenate([c[0] for c in chunks]),
                np.concatenate(
                    [np.full(len(c[0]), c[1]) for c in chunks]
                ),
                cap,
            )
            kt = key if isinstance(key, tuple) else (key,)
            for k, kv in zip(keys, kt):
                out[k].append(kv)
            out_vals.append(kept.tolist())
            out_w.append(w)
        out["vals"] = out_vals
        out["weight"] = out_w
        yield pd.DataFrame(out)

    return src.mapInPandas(local_summaries, schema=out_schema)


def merged_quantiles(
    summaries: DataFrame,
    group_cols: list[str],
    probs: list[float],
) -> DataFrame:
    """Merge :func:`quantile_summaries` rows per ``group_cols`` and
    answer each probability in ``probs`` by weighted rank over the
    union of summaries (the coarser-rollup read path: kilobyte
    summaries in, quantiles out, no raw-data rescan).

    Estimate = the smallest kept value whose cumulative weight reaches
    ``p · total_weight`` (a left-continuous weighted quantile —
    deterministic, no interpolation, so the estimate is always an
    actually-observed value)."""
    probs = list(probs)
    if not probs or any(not 0.0 <= p <= 1.0 for p in probs):
        raise ValueError(f"probs must be within [0, 1], got {probs}")

    qcols = [f"q{int(round(p * 100))}" for p in probs]
    out_schema = T.StructType(
        [summaries.schema[k] for k in group_cols]
        + [T.StructField(c, T.DoubleType(), True) for c in qcols]
    )

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        vals = np.concatenate([
            np.asarray(a, dtype=np.float64) for a in pdf["vals"]
        ])
        ws = np.concatenate([
            np.full(len(a), w, dtype=np.float64)
            for a, w in zip(pdf["vals"], pdf["weight"])
        ])
        order = np.argsort(vals, kind="stable")
        vals, ws = vals[order], ws[order]
        cum = np.cumsum(ws)
        total = cum[-1]
        row = {k: [pdf[k].iat[0]] for k in group_cols}
        for p, c in zip(probs, qcols):
            j = int(np.searchsorted(cum, p * total, side="left"))
            j = min(j, len(vals) - 1)
            row[c] = [float(vals[j])]
        return pd.DataFrame(row)

    return summaries.groupBy(*group_cols).applyInPandas(
        merge, schema=out_schema
    )
