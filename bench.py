"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced with ``force`` (full plan execution, no
driver-side collect overhead). A warmup query first absorbs JVM/codegen
startup so per-query times reflect steady-state execution. Setup rows
come from the one ``SETUPS`` table, which the scaling harnesses in
tools/ also read through ``time_cell``.

Median protocol (round 7, revised round 14): the whole suite runs
``$SPARK_GRAFT_BENCH_REPS`` times (default 3) in one session and each
query's recorded time is the MEDIAN across suite passes — the r5→r6
cross-round comparison showed a +14% drift on identical code that sat
inside the measured ±30% single-shot host-noise band, so single-shot
numbers can't tell a real regression from a noisy neighbor.

Setup rows (r14, VERDICT r13 "What's wrong #3"): session caches are
now CLEARED between passes (``clear_caches()``), so every pass re-pays
the one-time builds inside its ``setup_*`` rows and those rows take
the median like everything else — under the old "setup rows keep
pass-1" rule a noisy first pass (r13: calibration_cpu 4.67 s vs
2.51/2.71 in passes 2-3) inflated every setup row by protocol
accident. Non-setup rows still measure the same warm state as before:
the builds happen first within each pass, so registry rows always run
against a fully-warmed session. The two SESSION_WARM_ROWS
(setup_streaming, setup_ngram_warm) are the exception — they absorb
once-per-SESSION costs (state-store/listener init, whole-stage-codegen
JIT) that no cache reset can bring back, so pass 2+ would measure ~0
of what they exist to capture; they keep the pass-1 cost. Raw
per-pass times land in BENCH_LOCAL.json (``raw`` key) for mover
attribution.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path
from typing import Callable

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

from parquet_sampler_spark import queries as registry  # noqa: E402
from parquet_sampler_spark import queries_ext, queries_olap  # noqa: E402
from parquet_sampler_spark.streaming.sampling import (  # noqa: E402
    run_stream_to_memory,
)

# rows that absorb once-per-SESSION warmup (not cache builds): a cache
# reset cannot bring the cost back, so the median would record ~0 of
# what they exist to capture — they keep the pass-1 time
SESSION_WARM_ROWS = frozenset({"setup_streaming", "setup_ngram_warm"})


def force(df, name: str) -> int:
    """Execute registry row ``name``'s plan in full; return its row count.

    A bare ``count()`` on a row declared ``@row(..., full_eval=True)``
    lets Catalyst drop the expensive branch (with no right-side column
    consumed, the join against an aggregate-unique relation is
    eliminated — measured: dup_triangles 0.3 s counted vs 39 s
    materialized at sf10). A user of those rows materializes every
    column, so they are forced with a column-consuming hash fold
    (bit_xor: sum would overflow int64 under ANSI), counted in the
    same job."""
    if registry.rows()[name].full_eval:
        from pyspark.sql import functions as F

        return df.agg(F.count("*"), F.expr(
            "bit_xor(xxhash64(" + ", ".join(df.columns) + "))"
        )).first()[0]
    return df.count()


def _row_builder(fn):
    """Setup builder that runs registry row ``fn`` (``_q_<row>``) once,
    forced like the row itself."""
    row = fn.__name__.removeprefix("_q_")
    return lambda spark, sf_dir: force(fn(spark, sf_dir), row)


def _warm_streaming(spark, sf_dir: str) -> None:
    """Drain a minimal file stream over the tiny region table: the
    one-time Structured Streaming machinery (state store providers,
    streaming listener, checkpoint plumbing, ~5 s) belongs to session
    init, not to whichever streaming row runs first."""
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    warm = (
        spark.readStream.schema(region.schema)
        .option("pathGlobFilter", "region.parquet")
        .parquet(sf_dir)
        .groupBy("r_regionkey").count()
    )
    run_stream_to_memory(warm, "complete")


# Setup rows. State a session builds once and several rows then reuse
# (persisted pair graphs, fitted models, standing indexes, fixture
# trees written under the session tmp root) is timed in its own
# ``setup_*`` row, never charged to whichever consumer happens to run
# first after clear_caches(): an operator row times its own plan
# against warm state, the way a deployment reuses it. Each entry is
# ``setup: (builder(spark, sf_dir), consumers)``; ``consumers`` are the
# registry rows whose first call after clear_caches() would rebuild
# that state (tests/test_bench_setups.py checks that, after the
# builder, building them adds nothing to ``plans.cache.MEMO``). Most
# builders force one consumer once. The dict order is the bench's
# setup order; bench.run_suite and every scaling harness (time_cell)
# read this one table. SESSION_WARM_ROWS absorb once-per-session JVM
# costs instead and have no consumers.
SETUPS: dict[str, tuple[Callable, tuple[str, ...]]] = {
    "setup_pairs_graph": (
        lambda spark, sf_dir:
        queries_ext._jaccard_pairs_cached(spark, sf_dir).count(),
        ("jaccard_pairs",),
    ),
    "setup_dup_graph": (
        lambda spark, sf_dir:
        queries_ext._dup_graph_cached(spark, sf_dir).count(),
        ("minhash_pairs", "jaccard_dedup", "dup_clusters", "cluster_dedup",
         "cluster_dedup_best", "pagerank_dups", "dup_triangles"),
    ),
    "setup_bucketed_tables": (
        _row_builder(queries_ext._q_bucketed_join), ("bucketed_join",),
    ),
    "setup_merge_batch": (
        _row_builder(queries_olap._q_merge_upsert),
        ("merge_upsert", "diff_snapshots"),
    ),
    "setup_ivf_model": (
        _row_builder(queries_ext._q_ann_ivf), ("ann_ivf", "ivf_coreset"),
    ),
    "setup_pq_model": (_row_builder(queries_ext._q_ann_pq), ("ann_pq",)),
    "setup_ivfpq_model": (
        _row_builder(queries_ext._q_ann_ivfpq), ("ann_ivfpq",),
    ),
    "setup_ivfpqr_model": (
        _row_builder(queries_ext._q_ann_ivfpq_residual),
        ("ann_ivfpq_residual",),
    ),
    "setup_ivfpqr8_model": (
        _row_builder(queries_ext._q_ann_ivfpq_residual8),
        ("ann_ivfpq_residual8",),
    ),
    "setup_ivf_hier_model": (
        _row_builder(queries_ext._q_ann_ivf_hier), ("ann_ivf_hier",),
    ),
    "setup_ivf_sized_model": (
        _row_builder(queries_ext._q_ann_ivf_sized), ("ann_ivf_sized",),
    ),
    "setup_sem_model": (
        _row_builder(queries_ext._q_semantic_dedup), ("semantic_dedup",),
    ),
    # no session state: the plan's FIRST execution pays
    # whole-stage-codegen + first-shuffle costs ~3x its warm cost
    "setup_ngram_warm": (_row_builder(queries_ext._q_ngram_dup_spans), ()),
    "setup_bpe_model": (
        lambda spark, sf_dir: queries_ext._bpe_merges_cached(spark, sf_dir),
        ("bpe_merges", "bpe_encode", "bpe_roundtrip", "pack_sequences_bpe",
         "curation_pipeline_bpe"),
    ),
    "setup_bpe_holdout_model": (
        lambda spark, sf_dir: queries_ext._bpe_merges_cached(
            spark, sf_dir, queries_ext._BPE_TRAIN_SRC
        ),
        ("bpe_encode_holdout",),
    ),
    "setup_minhash_index": (
        _row_builder(queries_ext._q_minhash_incremental),
        ("minhash_incremental", "minhash_admit"),
    ),
    "setup_embneardup_index": (
        _row_builder(queries_ext._q_embedding_neardup_incremental),
        ("embedding_neardup_incremental", "embedding_admit"),
    ),
    "setup_embneardup_ivf_index": (
        _row_builder(queries_ext._q_embedding_neardup_incremental_ivf),
        ("embedding_neardup_incremental_ivf",),
    ),
    "setup_embneardup_ivf_sized_index": (
        _row_builder(queries_ext._q_embedding_neardup_incremental_ivf_sized),
        ("embedding_neardup_incremental_ivf_sized",),
    ),
    "setup_star_v1": (registry._star_v1_store, ("star_snapshot_refresh",)),
    "setup_zorder": (
        _row_builder(queries_ext._q_zorder_scan), ("zorder_scan",),
    ),
    "setup_compaction": (
        queries_ext._compacted_events_path,
        ("compaction_scan", "manifest_prune"),
    ),
    "setup_dpp": (_row_builder(queries_ext._q_dpp_scan), ("dpp_scan",)),
    "setup_stream_chunks": (
        queries_ext._stream_sample_staging, ("streaming_sample",),
    ),
    "setup_streaming": (_warm_streaming, ()),
}
SETUP_OF = {row: s for s, (_, rows) in SETUPS.items() for row in rows}


def with_setups(names) -> list[str]:
    """``names`` with each consumer's setup row placed before it (once):
    the row order of a scaling harness's table."""
    return list(dict.fromkeys(
        r for n in names for r in (SETUP_OF.get(n), n) if r
    ))


def time_cell(spark, qs, name: str, sf_dir: str
              ) -> tuple[float | None, float, int]:
    """Time registry row ``name`` from cold state: clear_caches(), a
    JVM GC, then the row's setup builder (timed, when ``name`` is a
    consumer in SETUPS) and ``force`` on the row (timed). The GC makes
    the ContextCleaner delete the previous cell's shuffle files now;
    in a long session they otherwise pile up until the JVM happens to
    collect (two sf100 runs died on No-space-left before it). Returns
    ``(setup_s or None, row_s, rows)``."""
    registry.clear_caches()
    spark.sparkContext._jvm.System.gc()
    setup_s = None
    if name in SETUP_OF:
        t0 = time.perf_counter()
        SETUPS[SETUP_OF[name]][0](spark, sf_dir)
        setup_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    rows = force(qs[name](spark, sf_dir), name)
    return setup_s, time.perf_counter() - t0, rows


def run_suite(spark, sf_dir: str) -> dict[str, float]:
    """One full pass over setup rows + every registry query + the
    composed reference workflow; returns {entry: seconds}."""
    times: dict[str, float] = {}

    # Host-noise calibration (r8 VERDICT #5): a fixed, data-independent
    # CPU + shuffle workload (seeded integer keys, 1M-key hash agg over
    # 40M generated rows) timed once per pass. Same-code bench totals
    # swing ×1.15 between runs on this host; cross-round comparisons
    # (tools/ab_compare.py) divide the common-subset ratio by this
    # row's ratio so host drift cancels out of the verdict. First in
    # the pass, so it samples the same scheduler epoch the pass runs in.
    t0 = time.perf_counter()
    (
        spark.range(0, 40_000_000, 1, 32)
        .selectExpr("(id * 2654435761) % 1000003 AS k", "id % 97 AS v")
        .groupBy("k").sum("v").selectExpr("sum(`sum(v)`)").collect()
    )
    times["calibration_cpu"] = round(time.perf_counter() - t0, 4)

    for setup, (build, _) in SETUPS.items():
        t0 = time.perf_counter()
        build(spark, sf_dir)
        times[setup] = round(time.perf_counter() - t0, 4)

    qs = registry.queries()
    # stable name order: the registry itself rotates per round (driver
    # capture rotation), which would otherwise scramble which query
    # absorbs session warm-up costs and make per-query times
    # incomparable across BENCH_r{N} artifacts
    for name, fn in sorted(qs.items()):
        t0 = time.perf_counter()
        force(fn(spark, sf_dir), name)
        times[name] = round(time.perf_counter() - t0, 4)

    # the reference's composed workflow end-to-end INCLUDING the sinks
    # (README.md:15-26: sample the fact, write it, reduce each dim
    # against it, write those) — the headline user journey
    import shutil
    import tempfile

    from parquet_sampler_spark.operators.semijoin import semi_join_reduce
    from parquet_sampler_spark.sources.io import write_parquet

    out_dir = tempfile.mkdtemp(prefix="psx_bench_")
    try:
        t0 = time.perf_counter()
        s = registry.lineitem_sample(spark, sf_dir)
        write_parquet(s, f"{out_dir}/lineitem_s.parquet")
        orders_red = registry.orders_reduced(spark, sf_dir)
        write_parquet(orders_red, f"{out_dir}/orders_red.parquet")
        for dim, key, fk in [("part", "p_partkey", "l_partkey"),
                             ("supplier", "s_suppkey", "l_suppkey")]:
            red = semi_join_reduce(
                registry.table(spark, sf_dir, dim), key, s, fk
            )
            write_parquet(red, f"{out_dir}/{dim}_red.parquet")
        times["workflow_e2e_with_sinks"] = round(
            time.perf_counter() - t0, 4
        )
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)

    return times


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))

    from parquet_sampler_spark.session import get_spark

    spark = get_spark("bench")

    # warmup: JVM + codegen + parquet footer caches
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    passes: list[dict[str, float]] = []
    for i in range(reps):
        if i:
            # r14 protocol: reset session caches so every pass re-pays
            # the one-time builds inside its setup rows — setup rows
            # then take the median like everything else instead of
            # inheriting whatever noise pass 1 had
            registry.clear_caches()
        passes.append(run_suite(spark, sf_dir))

    names = list(passes[0])
    times: dict[str, float] = {}
    for name in names:
        vals = [p[name] for p in passes]
        if name in SESSION_WARM_ROWS:
            # once-per-session costs (streaming machinery init, JIT):
            # no cache reset brings them back — pass 1 is the honest cost
            times[name] = vals[0]
        else:
            times[name] = round(statistics.median(vals), 4)

    # the calibration row measures the HOST, not the suite — report it
    # but keep the headline total a pure suite number
    total = round(
        sum(v for k, v in times.items() if k != "calibration_cpu"), 4
    )
    payload = {
        "metric": "query_suite_total",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": float(sf),
        "reps": reps,
        "protocol": ("median-of-reps, cache reset per pass "
                     "(session-warm rows: first pass)"),
    }
    print(json.dumps(payload))
    # the driver's tail capture truncates the front of the 100+-entry
    # per-query dict (BENCH_r04 lost half the history) — always persist
    # the FULL record to a file too; each round commits it as
    # BENCH_LOCAL_r{N}.json
    out_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT", str(REPO / "BENCH_LOCAL.json")
    )
    try:
        # temp file + atomic replace: a partial write must never leave a
        # stale/corrupt BENCH_LOCAL.json masquerading as this round's
        # result (the very data-loss mode this file exists to prevent)
        tmp_path = out_path + ".tmp"
        with open(tmp_path, "w") as f:
            json.dump({**payload, "raw": passes}, f, indent=1)
        os.replace(tmp_path, out_path)
    except OSError as ex:
        print(
            f"warning: failed to persist full bench record to "
            f"{out_path}: {ex}",
            file=sys.stderr,
        )
    # The per-query dict above now exceeds the driver's fixed tail-capture
    # window (BENCH_r03 recorded parsed:null); repeat the headline metric
    # as one compact line so the tail always contains a parseable record.
    print(json.dumps({
        "metric": "query_suite_total",
        "value": total,
        "unit": "sec",
        "n_queries": len(times),
        "sf": float(sf),
        "reps": reps,
    }))


if __name__ == "__main__":
    main()
