"""Decade-3 cells for the embedding ingest gates at CORPUS-SIZED
index settings (r13, VERDICT r12 #1 + #5).

The registered rows run the gates at gate-sf defaults (16 bits,
nlist 16). At scale the operators' own sizing rules apply —
sign-bit: ``lsh_bits ≳ log2(corpus) + 4`` (the r12 saturation rule,
found when 8-bit signatures blew past maxResultSize at a 1.14M-vector
corpus); IVF-routed: ``nlist ∝ corpus`` (cell population stays
constant, so candidates per batch row stay constant across decades —
the gate's Θ(batch) claim). This harness measures both gates across
sf10 (200k vectors) → sf100 (2M vectors) of the PLANTED-PAIR
embeddings fixture (tools/make_emb_planted.py) at those sized
settings, with the standing-state build (quantizer fit / hyperplane
signing of the corpus, cell assignment, normalized-vector persist)
charged to a SETUP cell and the warm per-batch probe timed
separately — the quantity a standing deployment pays per ingest
batch.

FIXTURE NOTE (this harness's own r13 finding): the first run pointed
at the standard .scratch/sfN jittered-copies embeddings slice and
measured 8,446,173 pairs at sf10 — every sf0.1 base vector's ~100
jittered descendants form a 0.92-threshold CLIQUE (cos of two
independent σ=0.02 jitters of one vector ≈ 0.995), so pair volume
grows ~copies² per base (~10⁹ extrapolated at sf100) and a decade
cell there measures the fixture's densification, not the operator —
the embedding-space analog of the r11 fixed-vocabulary census
finding that moved banded TEXT dedup onto the Heaps corpus. The
jittered slice remains right for ANN top-k/range (output k-bounded);
all NEAR-DUP decade cells use the planted fixture (Θ(rows) true
pairs by construction).

Batch construction mirrors the registered rows: every 7th corpus
vector, scaled ×2 (unit vector bit-identical -> its original is
always found), id-offset by 2^40 so ids never collide with the
amplified corpus ids. Batch grows with the corpus (a fixed corpus
fraction), so the honest per-batch exponent target is α ≈ 1 — the
linear-in-batch floor — NOT sub-linearity; what the cells must show
is that warm-probe cost tracks the BATCH, never the corpus² (the
saturation failure mode this family had at fixed widths).

``selfjoin`` additionally measures the SELF-JOIN form
(embedding_neardup, the corpus-wide near-dup sweep) at sized bits:
its default 8-bit banding saturates exactly like the r12 incremental
finding once the corpus outgrows 2^bits — at a 2.28M-vector corpus
the per-table bucket population would be ~8.9k rows and collision
candidates ~10^10 pairs. One cold cell per tier (there is no
standing/batch split in a self-sweep; the banded index of the whole
corpus IS the work).

Usage: SPARK_DRIVER_MEMORY=32g python tools/decade3_embgate_sized.py
       [signbit] [ivf] [selfjoin] [--scaled-partitions]
       (default: all three, fixed session partitions)

``--scaled-partitions`` (r14, VERDICT r13 #4): sets
``spark.sql.shuffle.partitions`` ∝ corpus per tier (32 at the 200k
tier, 320 at 2M — constant ~6.3k rows/partition) before each tier's
build + probe, modeling a cluster that sizes partitions with the
data. The r13 fixed-32 cells measured warm-probe α 1.26-1.41 against
a ×10 batch and attributed the residual above the 1.0 batch floor to
per-partition volume growing ×10 (GC/spill pressure), candidates/row
being constant by exact pair counts — this mode is the cell that
confirms or refutes that attribution.
"""

from __future__ import annotations

import json
import math
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

THRESHOLD = 0.92   # the registered rows' near-identical threshold
DUP_MOD = 7
ID_OFF = 1 << 40
TABLES = 8
NPROBE = 1         # exact-direction re-ingest: argmin cell suffices
TRAIN_PER_CELL = 8   # nlist ∝ corpus: bigger per-cell sketches would
                     # collect the whole corpus into the driver

# Cell POPULATION (corpus/nlist) sets the gate's verify budget:
# candidates per batch row = population × nprobe, and each verified
# pair ships two dim-64 unit vectors through the verify shuffle
# (~1 KB/pair with verify_broadcast=False). The first sized run used
# population 256 → ~73M candidates → ~73 GB of verify scratch at the
# sf100 tier, which filled the disk (the measured abort that set this
# constant). Population 32 keeps the verify ~9 GB while routing cost
# only grows ~3× (hierarchical routing is ~2·√nlist distances/row).
POPULATION = 32


def _sized_bits(n: int) -> int:
    return int(math.ceil(math.log2(n))) + 4


def _sized_nlist(n: int) -> int:
    return max(16, n // POPULATION)


def main() -> int:
    args = set(sys.argv[1:])
    scaled_parts = "--scaled-partitions" in args
    args.discard("--scaled-partitions")
    which = args or {"signbit", "ivf", "selfjoin"}
    from parquet_sampler_spark import queries as registry
    from parquet_sampler_spark.operators.similarity import (
        embedding_neardup_incremental,
        embedding_neardup_incremental_ivf,
        embedding_neardup_pairs,
    )
    from parquet_sampler_spark.session import get_spark

    spark = get_spark("decade3-embgate")
    spark.sparkContext.setLogLevel("WARN")

    def corpus_and_batch(sf_dir: str):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
            "vec_id", "embedding"
        )
        twins = emb.filter(F.col("vec_id") % DUP_MOD == 0).select(
            (F.col("vec_id") + ID_OFF).alias("vec_id"),
            F.transform(
                "embedding", lambda x: (x * F.lit(2.0)).cast("float")
            ).alias("embedding"),
        )
        return emb, twins

    def gate(kind: str, sf_dir: str, n: int):
        emb, twins = corpus_and_batch(sf_dir)
        if kind == "signbit":
            return embedding_neardup_incremental(
                emb, twins, "vec_id", "embedding",
                threshold=THRESHOLD, lsh_bits=_sized_bits(n),
                lsh_tables=TABLES,
            )
        # verify_broadcast=False: IVF candidates are population-sized
        # (~POPULATION per batch row at nlist = n/POPULATION; see the
        # constant above) — millions of pairs at sf100, far past
        # broadcast range; the verify joins shuffle instead (the
        # operator's documented escape, same as the sign-bit form's)
        return embedding_neardup_incremental_ivf(
            emb, twins, "vec_id", "embedding", threshold=THRESHOLD,
            nlist=_sized_nlist(n), nprobe=NPROBE,
            train_per_cell=TRAIN_PER_CELL, verify_broadcast=False,
            cache_key=("embgate_sized", sf_dir, _sized_nlist(n)),
        )

    tiers = []
    for sf in ("1", "10", "100"):
        d = REPO / ".scratch" / "emb_planted" / f"sf{sf}"
        if not (d / "embeddings.parquet").is_file():
            raise SystemExit(f"{d}/embeddings.parquet missing — run "
                             "tools/make_emb_planted.py first")
        n = spark.read.parquet(str(d / "embeddings.parquet")).count()
        tiers.append((sf, str(d), n))

    times: dict[str, dict[str, float]] = {}
    rows: dict[str, dict[str, int]] = {}
    if "selfjoin" in which:
        times["selfjoin"] = {}
        rows["selfjoin"] = {}
        for sf, sf_dir, n in tiers:
            registry.clear_caches()
            spark.sparkContext._jvm.System.gc()
            emb, twins = corpus_and_batch(sf_dir)
            aug = emb.unionByName(twins)
            t0 = time.perf_counter()
            cnt = embedding_neardup_pairs(
                aug, "vec_id", "embedding", threshold=THRESHOLD,
                method="lsh", lsh_bits=_sized_bits(n), lsh_tables=TABLES,
            ).count()
            dt = round(time.perf_counter() - t0, 3)
            if sf == "1":
                continue
            times["selfjoin"][sf] = dt
            rows["selfjoin"][sf] = cnt
            print(f"[cell] embgate_selfjoin sf{sf} n={n} "
                  f"bits={_sized_bits(n)} {dt}s pairs={cnt}", flush=True)
    sfx = "_scaledpart" if scaled_parts else ""
    for kind in ("signbit", "ivf"):
        if kind not in which:
            continue
        times[f"{kind}_setup{sfx}"] = {}
        times[f"{kind}_probe{sfx}"] = {}
        rows[kind] = {}
        for sf, sf_dir, n in tiers:
            registry.clear_caches()
            if scaled_parts:
                # partitions ∝ data: ~6.3k corpus rows per partition
                # (32 at the 200k tier), floor 32 — the persisted
                # index inherits this width at its repartition-before-
                # persist, so warm probes see constant rows/partition
                nparts = max(32, n // 6250)
                spark.conf.set("spark.sql.shuffle.partitions",
                               str(nparts))
                print(f"[conf] sf{sf}: shuffle.partitions={nparts}",
                      flush=True)
            spark.sparkContext._jvm.System.gc()
            t0 = time.perf_counter()
            gate(kind, sf_dir, n).count()   # standing-state build
            setup = round(time.perf_counter() - t0, 3)
            t0 = time.perf_counter()
            cnt = gate(kind, sf_dir, n).count()  # warm probe
            probe = round(time.perf_counter() - t0, 3)
            if sf == "1":   # plan warmup tier, untimed
                continue
            times[f"{kind}_setup{sfx}"][sf] = setup
            times[f"{kind}_probe{sfx}"][sf] = probe
            rows[kind][sf] = cnt
            extra = (f"bits={_sized_bits(n)}" if kind == "signbit"
                     else f"nlist={_sized_nlist(n)}")
            print(f"[cell] embgate_{kind}{sfx} sf{sf} n={n} {extra} "
                  f"setup={setup}s probe={probe}s pairs={cnt}",
                  flush=True)

    print("| cell | sf10 s | sf100 s | α(10→100) |")
    print("|---|---|---|---|")
    alphas = {}
    for name, t in times.items():
        a = round(math.log(t["100"] / t["10"]) / math.log(10.0), 2)
        alphas[name] = a
        print(f"| {name} | {t['10']} | {t['100']} | {a} |")
    print(json.dumps({"metric": "decade3_embgate_sized",
                      "times": times, "rows": rows, "alpha": alphas}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
