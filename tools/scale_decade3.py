"""Third scale decade (sf10 → sf100): α(10→100) for the flat core
(r10, VERDICT r9 #5).

The sf100 slice (tools/make_sf100.py, ~24 GB) holds only lineitem /
orders / documents / events, so the default query set is the slice's
reason to exist: the reference workflow (sample_lineitem →
semijoin_orders), manifest_prune (events fixture), and the
documents-heavy LLM rows (ngram_dup_spans, bloom_decontaminate,
pack_sequences). Each cell is bench.time_cell, like the earlier
decades: a query that consumes a setup row (bench.SETUPS) splits into
setup + warm rows, so the operator exponent never charges the fixture
write.

Usage: python tools/scale_decade3.py [query ...]
(run tools/make_sf1.py, make_sf10.py, make_sf100.py first)
Prints a markdown table for SCALING.md and one JSON line.
"""

from __future__ import annotations

import json
import math
import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from bench import SETUP_OF, time_cell, with_setups  # noqa: E402

DEFAULT_QUERIES = [
    "sample_lineitem", "semijoin_orders", "manifest_prune",
    "ngram_dup_spans", "bloom_decontaminate", "pack_sequences",
]
# SPARK_GRAFT_SCALE_REPS=1 for multi-hundred-second rows (the banded
# dedup family at sf100) where 2 cold reps would double a multi-hour
# measurement for a best-of that host noise dominates anyway
REPS = int(os.environ.get("SPARK_GRAFT_SCALE_REPS", "2"))


def main() -> int:
    names = sys.argv[1:] or DEFAULT_QUERIES
    sf10 = REPO / ".scratch" / "sf10"
    sf100 = REPO / ".scratch" / "sf100"
    for d, gen in ((sf10, "make_sf10"), (sf100, "make_sf100")):
        if not d.is_dir():
            raise SystemExit(f"{d} missing — run tools/{gen}.py first")

    from parquet_sampler_spark import queries as registry
    from parquet_sampler_spark.session import get_spark

    spark = get_spark("scale-decade3")
    qs = registry.queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    spark.read.parquet(f"{sf10}/orders.parquet").count()  # warmup
    # plan-level warmup at sf1: the FIRST execution of a plan pays
    # whole-stage-codegen + first-shuffle costs ~3x its warm cost
    # (measured: minhash_pairs sf10 cold 96 s vs warm 29 s). At
    # REPS=1 the sf10 tier would pay it while the same-session sf100
    # tier ran warm, biasing every alpha DOWN — so warm each named
    # query once on the cheap sf1 slice before any timed cell.
    sf1 = REPO / ".scratch" / "sf1"
    if sf1.is_dir():
        for name in names:
            time_cell(spark, qs, name, str(sf1))

    times: dict[str, dict[str, float]] = {n: {} for n in with_setups(names)}
    for sf, sf_dir in (("10", str(sf10)), ("100", str(sf100))):
        for name in names:
            cells = [time_cell(spark, qs, name, sf_dir)
                     for _ in range(REPS)]
            best = round(min(c[1] for c in cells), 3)
            times[name][sf] = best
            setup = ""
            if name in SETUP_OF:
                times[SETUP_OF[name]][sf] = round(
                    min(c[0] for c in cells), 3)
                setup = f" setup={times[SETUP_OF[name]][sf]}s"
            # incremental cell print: a crash on a later (bigger)
            # query must not lose completed measurements
            print(f"[cell] {name} sf{sf} {best}s{setup}", flush=True)

    print("| query | sf10 s | sf100 s | α(10→100) |")
    print("|---|---|---|---|")
    alphas = {}
    for name in times:
        t10, t100 = times[name]["10"], times[name]["100"]
        a = round(math.log(t100 / t10) / math.log(10.0), 2)
        alphas[name] = a
        print(f"| {name} | {t10} | {t100} | {a} |")
    print(json.dumps({"metric": "scale_decade3", "times": times,
                      "alpha": alphas}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
