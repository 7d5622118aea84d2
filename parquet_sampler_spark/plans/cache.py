"""The package's one home for session state: a plan registry and a memo.

Everything an engine session reuses across queries lives here, so
``queries.clear_caches()`` drains it with one :func:`clear` call
instead of enumerating per-module caches (a per-module cache that a
hand-written clear list forgets survives the clear and serves stale
state). :func:`clear` is the only release: nothing here is evicted
before it.

**Persisted plans** (:func:`persist`, :func:`register`). Operators
persist relations their (lazy) returned plans re-read — shingle and
signature tables, normalized vectors, CC labels and PageRank
generations, the sampler's prefilter candidates — and so do the
registry's shared frames (the sample, both pair graphs, the merge).
The registry has NO BOUND: a frame stays persisted until :func:`clear`,
the lifetime :data:`MEMO` has. Evicting an entry would unpersist blocks
that live plans still read (r12: a bench row went 0.9 s → 112 s when a
count bound dropped its shingle cache), and the traffic never needs
one: a full sf0.01 ``bench.run_suite`` pass peaks at 61 entries,
4.3 MB of storage memory and 0 bytes on disk, and a perfbench star
request registers at most one entry. Under memory pressure Spark's
block manager spills the default ``MEMORY_AND_DISK`` blocks to disk.

Entries are DEDUPED BY PLAN SEMANTICS (r12): Spark's CacheManager
already shares one cache entry across semantically-equal plans, so
re-invoking the same operator returns the ALREADY-registered frame
instead of adding an entry. Only genuinely distinct plans grow the
registry, which is what makes no bound safe for a long-lived caller.

A ``localCheckpoint()`` frame (``plans/lineage.py``) keeps its blocks
in the checkpointed RDD of its ``LogicalRDD`` plan, not in a
CacheManager entry, so ``unpersist()`` does not reach them;
:func:`release` frees both kinds.

**Memo** (:data:`MEMO`). A plain dict for everything else a session
computes once and reuses: the registry's persisted sample, pair graphs
and merges, fitted ANN models, data-fitted oracle SQL, BPE merges,
vector widths, and the paths / catalog names of trees written under the
session tmp root. Every key is a tuple led by a kind string naming
what it holds (``("ivf_sql", sf_dir)``, ``("sample", app_id, sf_dir)``;
an ANN operator given a kind-tagged ``cache_key`` memoizes its fitted
model under that key and derives its other keys from it), so entries
of different kinds never collide. A DataFrame stored here is registered through :func:`persist`
first, so :func:`clear` releases it with the registry and then empties
the memo.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_PERSISTED: list[tuple[int | None, DataFrame]] = []
MEMO: dict[tuple, object] = {}


def _hash_of(df: DataFrame) -> int | None:
    try:
        return df.semanticHash()
    except Exception:
        return None


def _add(df: DataFrame) -> DataFrame:
    """Append ``df`` to the registry — or return the registered frame
    semantically equal to it. Hash first, then the exact
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
    h = _hash_of(df)
    if h is not None:
        for hh, old in _PERSISTED:
            if hh != h:
                continue
            try:
                if old.columns == df.columns and old.sameSemantics(df):
                    return old
            except Exception:
                break
    _PERSISTED.append((h, df))
    return df


def persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it for :func:`clear` — or return
    the already-registered semantically-equal frame."""
    out = _add(df)
    return df.persist() if out is df else out


def register(df: DataFrame) -> DataFrame:
    """Register an already-persisted or checkpointed DataFrame for
    :func:`clear` — or return the semantically-equal registrant."""
    return _add(df)


def release(df: DataFrame) -> None:
    """Free ``df``'s blocks: its cache entry and, for a
    ``localCheckpoint()`` frame, the checkpointed RDD's blocks."""
    try:
        df.unpersist()
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(True)
    except Exception:
        pass  # session may already be stopped


def clear() -> None:
    """Release every registered frame, then empty the registry and
    :data:`MEMO`."""
    for _, df in _PERSISTED:
        release(df)
    _PERSISTED.clear()
    MEMO.clear()
