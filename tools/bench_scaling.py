"""Scale-trend bench: measure the heaviest suite queries across
sf0.001 / sf0.01 / sf0.1 in ONE session and report the wall-time
growth exponent per 10x data step.

SCALING.md argues each operator's asymptotics from its plan shape;
this tool MEASURES them. For each query and consecutive sf pair the
exponent is  alpha = log(t_hi/t_lo) / log(sf_hi/sf_lo)  — alpha of 1
is linear scaling, below 1 means fixed per-query overhead still
dominates, and alpha well above 1 at the largest step flags a plan
whose cost grows super-linearly in data volume (the 100 TB red flag).

Caveats: local[32] with JVM warm-up and noisy-neighbor variance (the
container shares a host); each timing is the min of REPS cold runs
of bench.time_cell (a consumer's setup_* build is its own row), and
only the largest step (sf0.01 -> sf0.1, 60k -> 600k lineitem rows) is
big enough for the exponent to mean much — the smaller step is
reported for trend only.

Usage: python tools/bench_scaling.py [query ...]
Prints a markdown table (for SCALING.md) and one JSON line.
"""

from __future__ import annotations

import json
import math
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from bench import SETUP_OF, time_cell, with_setups  # noqa: E402

SF_DIRS = [
    ("0.001", "/root/testdata/sf0.001"),
    ("0.01", "/root/testdata/sf0.01"),
    ("0.1", "/root/testdata/sf0.1"),
]

# locally-amplified sf1 (tools/make_sf1.py). Round-6 generators emit
# the full 10-table star; a .scratch/sf1 built by an older generator
# holds fewer tables, so the gate checks the FILES, not just the dir —
# a stale sf1 degrades to the 3-sf run instead of crashing mid-bench.
SF1_DIR = REPO / ".scratch" / "sf1"
SF1_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# the most expensive entries of BENCH_r02 — the queries whose growth
# behavior decides whether the suite survives a scale-up
DEFAULT_QUERIES = [
    "minhash_pairs",
    "simhash_pairs",
    "jaccard_pairs",
    "sample_lineitem",
    "corpus_pipeline",
    "embedding_neardup",
    "ann_ivf",
]

REPS = 2
SUPERLINEAR_ALPHA = 1.25


def main() -> None:
    names = sys.argv[1:] or DEFAULT_QUERIES

    from parquet_sampler_spark import queries as registry
    from parquet_sampler_spark.session import get_spark

    spark = get_spark("bench-scaling")
    qs = registry.queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    # warmup: JVM + codegen before any timed run
    spark.read.parquet(f"{SF_DIRS[0][1]}/lineitem.parquet").count()

    sf_dirs = list(SF_DIRS)
    with_sf1 = all(
        (SF1_DIR / f"{t}.parquet").is_file() for t in SF1_TABLES
    )
    if SF1_DIR.is_dir() and not with_sf1:
        print(
            "note: .scratch/sf1 present but stale/partial — skipping "
            "the sf1 column (re-run tools/make_sf1.py to refresh)",
            file=sys.stderr,
        )
    if with_sf1:
        sf_dirs.append(("1", str(SF1_DIR)))

    times: dict[str, dict[str, float]] = {n: {} for n in with_setups(names)}
    for sf, sf_dir in sf_dirs:
        for name in names:
            cells = [time_cell(spark, qs, name, sf_dir)
                     for _ in range(REPS)]
            times[name][sf] = round(min(c[1] for c in cells), 3)
            if name in SETUP_OF:
                times[SETUP_OF[name]][sf] = round(
                    min(c[0] for c in cells), 3)
    names = list(times)

    def alpha(lo_t: float, hi_t: float) -> float:
        return round(math.log(hi_t / lo_t) / math.log(10.0), 2)

    rows = []
    flagged = []
    for name in names:
        t = times[name]
        a_small = alpha(t["0.001"], t["0.01"])
        a_big = alpha(t["0.01"], t["0.1"])
        a_sf1 = alpha(t["0.1"], t["1"]) if "1" in t else None
        note = ""
        if max(a_big, a_sf1 or 0.0) > SUPERLINEAR_ALPHA:
            note = "SUPER-LINEAR"
            flagged.append(name)
        rows.append((name, t["0.001"], t["0.01"], t["0.1"],
                     t.get("1"), a_small, a_big, a_sf1, note))

    sf1_cols = " sf1 s |" if with_sf1 else ""
    sf1_alpha = " α(0.1→1) |" if with_sf1 else ""
    print(f"| query | sf0.001 s | sf0.01 s | sf0.1 s |{sf1_cols} "
          f"α(0.001→0.01) | α(0.01→0.1) |{sf1_alpha} flag |")
    print("|---|" + "---|" * (5 + (2 if with_sf1 else 0) + 1))
    for name, t001, t01, t1_, tsf1, a_s, a_b, a_1, note in rows:
        mid = f" {tsf1} |" if with_sf1 else ""
        tail = f" {a_1} |" if with_sf1 else ""
        print(f"| {name} | {t001} | {t01} | {t1_} |{mid} "
              f"{a_s} | {a_b} |{tail} {note} |")

    print(json.dumps({
        "metric": "scaling_exponents",
        "queries": {n: times[n] for n in names},
        "alpha_big_step": {r[0]: r[6] for r in rows},
        "alpha_sf1_step": {r[0]: r[7] for r in rows if r[7] is not None},
        "superlinear": flagged,
    }))
    sys.exit(1 if flagged else 0)


if __name__ == "__main__":
    main()
