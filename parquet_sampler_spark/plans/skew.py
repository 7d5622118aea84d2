"""Skew mitigation: salted joins and the hot-key cap.

AQE's skew-join splitting (enabled in session.py) handles most skew at
runtime for sort-merge joins; salting is the explicit tool for the cases
AQE can't fix — a shuffled join where one key dominates so badly that a
single partition exceeds executor memory, or aggregations with a hot
key.

``salted_join``: the big (skewed) side gets a deterministic pseudo-random
salt in [0, salt); the small side is replicated ``salt`` times; the join
key becomes (key, salt), spreading each hot key over ``salt`` reducers.
Replication cost: |small| × salt rows — use only when small is genuinely
small and the skew is real.

``drop_hot_keys``: the cap of the inverted-index pair joins — drop the
rows whose key occurs more than ``cap`` times, so no join group grows
past cap² rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SALT = "__psx_salt"


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str | list[str],
    salt: int = 16,
    how: str = "inner",
    seed: int = 42,
) -> DataFrame:
    """Equi-join with the hot-key pressure spread over ``salt``
    partitions per key. Result is identical to ``big.join(small, on,
    how)`` for 'inner'/'left' joins (each big row matches exactly its
    salt replica of the small side)."""
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports how='inner' or 'left'")
    keys = [on] if isinstance(on, str) else list(on)

    # Deterministic salt from the full row content. A nondeterministic
    # salt (rand / monotonically_increasing_id) is unsafe here: Spark may
    # re-evaluate nondeterministic expressions on task retry or plan
    # re-execution, changing a row's join key between map attempts —
    # observed dropping rows from a left join in testing.
    big_s = big.withColumn(
        _SALT,
        (F.xxhash64(*big.columns, F.lit(seed)) % salt + salt) % salt,
    )
    small_s = small.withColumn(
        _SALT, F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    out = big_s.join(small_s, [*keys, _SALT], how)
    return out.drop(_SALT)


def salted_agg(
    df: DataFrame,
    keys: list[str],
    sum_cols: list[str] | None = None,
    count_alias: str | None = "n",
    salt: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Two-phase aggregation for hot grouping keys: phase 1 aggregates
    on (keys, salt) — the hot key's rows spread over ``salt`` reducers —
    phase 2 merges the mergeable partials per key. The result is
    identical to a plain groupBy for mergeable aggregates (sum/count,
    here); the win is that no single reducer ever sees a hot key's full
    row set.

    Mostly redundant with Spark's own map-side partial aggregation
    (which already bounds reducer input for sum/count); the explicit
    form matters when partial aggregation is disabled or defeated —
    e.g. high-cardinality composite aggregates, or
    ``spark.sql.aggregate.partialaggregate`` heuristics bailing — and
    documents the pattern for aggregates Spark cannot partial-combine
    (exact distinct counts go through a different rewrite).
    """
    sum_cols = list(sum_cols or [])
    salted = df.withColumn(
        _SALT,
        (F.xxhash64(*df.columns, F.lit(seed)) % salt + salt) % salt,
    )
    partial = salted.groupBy(*keys, _SALT).agg(
        *[F.sum(c).alias(f"__ps_{c}") for c in sum_cols],
        F.count(F.lit(1)).alias("__pn"),
    )
    finals = [
        F.sum(f"__ps_{c}").alias(f"sum_{c}") for c in sum_cols
    ]
    if count_alias:
        finals.append(F.sum("__pn").alias(count_alias))
    return partial.groupBy(*keys).agg(*finals)


def drop_hot_keys(
    df: DataFrame, keys: str | list[str], cap: int | None
) -> DataFrame:
    """``df`` without the rows whose ``keys`` value occurs in more than
    ``cap`` rows (``cap=None`` returns ``df``). The hot-key cap of the
    pair joins (``max_shingle_df``, ``max_band_df``, ``max_fp_df``,
    ``max_token_df``): a key held by d rows forms d² self-join rows, and
    the hottest keys carry the least signal. Callers cap the JOIN input
    only, so counts taken from the uncapped relation stay exact.

    The HOT set is broadcast as an anti-join, never the keep set: keys
    under the cap are nearly all of them (Θ(corpus tokens) rows —
    measured 91M / >8 GiB of winnowed fingerprints at the Heaps sf100
    tier, where a keep-side broadcast kills the job), while the
    over-cap head is small by the choice of cap."""
    if cap is None:
        return df
    keys = [keys] if isinstance(keys, str) else list(keys)
    hot = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > cap)
        .select(*keys)
    )
    return df.join(F.broadcast(hot), keys, "left_anti")
