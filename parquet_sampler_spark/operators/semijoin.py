"""Left semi-join reduction — the reference's second operator.

Reference semantics (src/bin/join.rs:39-129): build a hash set from one
column of the (sampled, small) build table, keep each probe row iff its
key is in the set. Probe rows emit at most once; probe duplicates are
preserved; build duplicates collapse; output keeps the probe schema.
That is exactly SQL ``LEFT SEMI JOIN``.

Parity-critical quirk (SURVEY.md §2.1 note): the reference compares the
*string rendering* of both keys (join.rs:66-70 vs 115-119), so NULL keys
match NULL keys — unlike SQL semi-join. ``null_safe=True`` reproduces
that with ``eqNullSafe``; the default is idiomatic SQL semantics.
``stringly=True`` additionally casts both keys to string before
comparing (cross-type joins match iff renderings coincide — documented
deviation: Spark's float rendering differs from Rust's).

Scale: the build side is a sampled fact — small by construction — so we
broadcast its key column (replicating the reference's build/probe
asymmetry, join.rs:28-77) and the probe side streams through a
BroadcastHashJoin with **zero shuffle** of the big table. The keys are
broadcast as projected, duplicates included: the LeftSemi/LeftAnti
BroadcastHashJoin emits each probe row at most once however often its
key repeats, so a ``distinct()`` would only add a shuffle-map job. For
build sides too large to broadcast, pass ``broadcast=False`` and
Catalyst/AQE picks a shuffled-hash or sort-merge join; there the keys
are de-duplicated first, whose partial aggregation shrinks the shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_BK = "__psx_build_key"


def semi_join_reduce(
    probe: DataFrame,
    probe_key: str,
    build: DataFrame,
    build_key: str,
    null_safe: bool = False,
    stringly: bool = False,
    broadcast: bool | str = True,
    how: str = "left_semi",
) -> DataFrame:
    """Reduce ``probe`` to rows whose ``probe_key`` appears in
    ``build[build_key]`` (``how="left_semi"``), or to its complement —
    rows with NO matching build key (``how="left_anti"``).
    Output schema = probe schema.

    The build side is projected to its key column. Semi-join output is
    invariant to build duplicates (join.rs:72 set insert collapses
    them), so the broadcast path ships the keys as they are — one job
    for the broadcast, none for a de-duplication. The shuffle
    strategies (``False``, ``"shuffle_hash"``, ``"merge"``) de-duplicate
    the keys first: the partial aggregation runs before the exchange
    and shrinks it.

    ``broadcast``: ``True`` (default) hints a broadcast of the key list
    — zero shuffle of the probe side, right while the build side is a
    sampled fact. Past the broadcast limit (a 6M-key build side is
    ~50 MB serialized; see SCALING.md's sf100 semijoin cell), pass
    ``False`` to let Catalyst/AQE pick, or the explicit strategy
    ``"shuffle_hash"`` / ``"merge"`` to force the shuffle path (the
    registered escape row uses ``"shuffle_hash"`` so the non-broadcast
    plan is exercised even at test scale, where AQE's size estimate
    would otherwise re-select broadcast).
    """
    if how not in ("left_semi", "left_anti"):
        raise ValueError(f"how must be left_semi or left_anti, got {how!r}")
    if probe_key not in probe.columns:
        raise ValueError(f"probe key {probe_key!r} not in {probe.columns}")
    if build_key not in build.columns:
        raise ValueError(f"build key {build_key!r} not in {build.columns}")
    if broadcast not in (True, False, "shuffle_hash", "merge"):
        raise ValueError(
            "broadcast must be True, False, 'shuffle_hash' or 'merge', "
            f"got {broadcast!r}"
        )

    bk = F.col(build_key)
    pk = probe[probe_key]
    if stringly:
        bk = bk.cast("string")
        pk = pk.cast("string")
    keys = build.select(bk.alias(_BK))
    if broadcast is True:
        keys = F.broadcast(keys)
    else:
        keys = keys.distinct()
        if broadcast:
            keys = keys.hint(broadcast)

    if null_safe:
        cond = pk.eqNullSafe(keys[_BK])
    else:
        cond = pk == keys[_BK]
    return probe.join(keys, cond, how)
