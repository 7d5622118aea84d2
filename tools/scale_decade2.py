"""Second scale decade (sf1 → sf10): α(1→10) for registry queries.

Grew out of VERDICT r07 #3 (the α ≥ 0.5 tail: tpch_q13,
sql_correlated_subquery, streaming_sessionize); r8 VERDICT #4 widens
it to the heavy families whose 100 TB story is the point — the dup
graph (jaccard_pairs_capped, minhash_pairs, cluster_dedup,
pagerank_dups), ANN (ann_lsh, ann_ivfpq) and the streaming sketch
rows — so the tool now takes query names on the command line.

An exponent near the noise floor at ONE decade can't distinguish
"approaching linear" from "fixed overhead still amortizing"; a second
measured decade closes the question: stable or falling exponents are
the sub-linear claim, α > 1 names a plan to fix.

Each cell is bench.time_cell: a query that consumes a setup row
(bench.SETUPS) is split into that setup row and a warm query row, so
the operator exponent never charges the fixture rewrite (r8 VERDICT
#3).

Usage: python tools/scale_decade2.py [query ...]
(defaults to the r07 tail; run tools/make_sf1.py + make_sf10.py first)
Prints a markdown table for SCALING.md and one JSON line.
"""

from __future__ import annotations

import json
import math
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from bench import SETUP_OF, time_cell, with_setups  # noqa: E402

DEFAULT_QUERIES = [
    "tpch_q13", "sql_correlated_subquery", "streaming_sessionize",
]
REPS = 2


def main() -> int:
    names = sys.argv[1:] or DEFAULT_QUERIES
    sf1 = REPO / ".scratch" / "sf1"
    sf10 = REPO / ".scratch" / "sf10"
    for d, gen in ((sf1, "make_sf1"), (sf10, "make_sf10")):
        if not d.is_dir():
            raise SystemExit(f"{d} missing — run tools/{gen}.py first")

    from parquet_sampler_spark import queries as registry
    from parquet_sampler_spark.session import get_spark

    spark = get_spark("scale-decade2")
    qs = registry.queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    spark.read.parquet(f"{sf1}/lineitem.parquet").count()  # warmup

    times: dict[str, dict[str, float]] = {n: {} for n in with_setups(names)}
    for sf, sf_dir in (("1", str(sf1)), ("10", str(sf10))):
        for name in names:
            cells = [time_cell(spark, qs, name, sf_dir)
                     for _ in range(REPS)]
            times[name][sf] = round(min(c[1] for c in cells), 3)
            if name in SETUP_OF:
                times[SETUP_OF[name]][sf] = round(
                    min(c[0] for c in cells), 3)

    print("| query | sf1 s | sf10 s | α(1→10) |")
    print("|---|---|---|---|")
    alphas = {}
    for name in times:
        t1, t10 = times[name]["1"], times[name]["10"]
        a = round(math.log(t10 / t1) / math.log(10.0), 2)
        alphas[name] = a
        print(f"| {name} | {t1} | {t10} | {a} |")
    print(json.dumps({"metric": "scale_decade2", "times": times,
                      "alpha": alphas}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
