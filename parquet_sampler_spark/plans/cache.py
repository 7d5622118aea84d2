"""The package's one home for session state: a plan LRU and a memo.

Everything an engine session reuses across queries lives here, so
``queries.clear_caches()`` drains it with one :func:`clear` call
instead of enumerating per-module caches (a per-module cache that a
hand-written clear list forgets survives the clear and serves stale
state).

**Persisted plans** (:func:`persist`, :func:`register`). Operators
persist relations their (lazy) returned plans re-read — shingle and
signature tables, normalized vectors, CC labels, the sampler's
prefilter candidates. Entries are DEDUPED BY PLAN SEMANTICS (r12):
Spark's CacheManager already shares one cache entry across
semantically-equal plans, so a bench loop (or long-lived service)
re-invoking the same operator must NOT append a duplicate registry
entry — the duplicate's eventual eviction would unpersist the SHARED
entry out from under every other reference. That was a measured
production bug: the r12 registry growth pushed a full bench pass past
the old 32-entry bound, the eviction dropped the weighted-minhash
shingle cache between passes, and the row's pass-3 time went
0.9 s → 112 s (recompute of the O(L²) expansion once per downstream
consumer). A semantic hit refreshes the entry's position (LRU) and
returns the ALREADY-persisted frame; only genuinely distinct plans
grow the registry.

**Memo** (:data:`MEMO`). A plain dict for everything else a session
computes once and reuses: the registry's persisted sample, pair graphs
and merges, fitted ANN models, data-fitted oracle SQL, BPE merges,
vector widths, and the paths / catalog names of trees written under the
session tmp root. Every key is a tuple led by a kind string naming
what it holds (``("ivf_sql", sf_dir)``, ``("sample", app_id, sf_dir)``;
an ANN operator given ``model_cache=MEMO`` derives its keys from a
kind-tagged ``cache_key``), so entries of different kinds never
collide. :func:`clear` unpersists the DataFrame values and empties it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# LRU-bounded: a long-lived service calling persisting operators over
# ever-new inputs must not pin an unbounded set of cached blocks.
# Evicting the oldest entry only unpersists it — any plan still
# referencing it silently recomputes, so eviction is always safe (if
# slow); semantic dedup above keeps steady-state workloads far below
# the bound.
MAX_PERSISTED = 96  # one full bench pass registers 57 entries (r15
# probe) — the old 64 left a 7-entry margin before mid-pass FIFO
# eviction would re-trigger the measured r12 recompute bug; cached
# relations here are vocabulary/sample-bounded, so the wider bound
# costs no meaningful memory
_PERSISTED: list[tuple[int | None, DataFrame]] = []
MEMO: dict[tuple, object] = {}


def _evict_overflow() -> None:
    while len(_PERSISTED) > MAX_PERSISTED:
        _, old = _PERSISTED.pop(0)
        try:
            old.unpersist()
        except Exception:
            pass  # session may already be stopped


def _semantic_hit(df: DataFrame) -> DataFrame | None:
    """Return the registered frame semantically equal to ``df`` (and
    refresh its LRU position), or None. Hash first, then the exact
    ``sameSemantics`` check — equal hashes can collide.

    A hit additionally requires IDENTICAL OUTPUT COLUMN NAMES (r13):
    Spark's plan canonicalization normalizes aliases away, so two
    relations differing only in a final ``.alias(...)`` are
    "semantically equal" — but swapping one in for the other breaks
    downstream name resolution. Measured: the order-2 and order-3
    rarity models both persist ``vocab1 ⨯ total1`` with the token
    column aliased ``__w2`` vs ``__w3``; after the trigram row ran,
    the bigram row's score join failed with
    UNRESOLVED_USING_COLUMN_FOR_JOIN on ``__w2`` (full-sweep find).
    Name-checked, the two register as distinct entries — same
    correctness, one extra vocabulary-sized cache entry."""
    try:
        h = df.semanticHash()
    except Exception:
        return None
    for i, (hh, old) in enumerate(_PERSISTED):
        if hh == h:
            try:
                if old.columns == df.columns and old.sameSemantics(df):
                    _PERSISTED.append(_PERSISTED.pop(i))
                    return old
            except Exception:
                return None
    return None


def _hash_of(df: DataFrame) -> int | None:
    try:
        return df.semanticHash()
    except Exception:
        return None


def persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it for :func:`clear` — or return
    the already-persisted semantically-equal registrant."""
    hit = _semantic_hit(df)
    if hit is not None:
        return hit
    out = df.persist()
    _PERSISTED.append((_hash_of(out), out))
    _evict_overflow()
    return out


def register(df: DataFrame) -> DataFrame:
    """Register an already-persisted DataFrame for :func:`clear`."""
    hit = _semantic_hit(df)
    if hit is not None:
        return hit
    _PERSISTED.append((_hash_of(df), df))
    _evict_overflow()
    return df


def clear() -> None:
    """Unpersist every registered plan and every DataFrame in
    :data:`MEMO`, then empty both."""
    memo_dfs = [v for v in MEMO.values() if isinstance(v, DataFrame)]
    for df in [df for _, df in _PERSISTED] + memo_dfs:
        try:
            df.unpersist()
        except Exception:
            pass  # session may already be stopped
    _PERSISTED.clear()
    MEMO.clear()
