"""Decade-3 cells for the banded dedup family on the Heaps-law
documents fixture (tools/make_docs_heaps.py) — the vocabulary grows
with the corpus, so the MinHash signature space does not saturate and
the cells measure the OPERATOR's exponent, not the standard fixture's
bounded-vocabulary artifact (see SCALING.md r11 census).

Protocol mirrors tools/scale_decade3.py: sf1-tier plan warmup (cold
first execution ≈ 3× warm), then one bench.time_cell per timed cell
(cache clear + forced shuffle-file GC first; SPARK_DRIVER_MEMORY=32g
recommended). Queries run the REGISTRY functions over the fixture
dirs — same code path as the gate rows. A query that consumes a setup
row (bench.SETUPS — e.g. the minhash_incremental/minhash_admit corpus
index) splits into setup + warm rows (r12 VERDICT #3: the Θ(batch)
probe claim needs a cell that does not carry the index build).

Usage: SPARK_DRIVER_MEMORY=32g python tools/scale_decade3_heaps.py \
    [query ...]   (default: minhash_pairs minhash_pairs_weighted_win)
"""

from __future__ import annotations

import json
import math
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from bench import SETUP_OF, time_cell, with_setups  # noqa: E402

DEFAULT = ["minhash_pairs", "minhash_pairs_weighted_win"]


def main() -> int:
    names = sys.argv[1:] or DEFAULT
    root = REPO / ".scratch" / "docs_heaps"
    for tier in ("sf1", "sf10", "sf100"):
        if not (root / tier / "documents.parquet").exists():
            raise SystemExit(
                f"{root / tier} missing — run tools/make_docs_heaps.py"
            )

    from parquet_sampler_spark import queries as registry
    from parquet_sampler_spark.session import get_spark

    spark = get_spark("scale-decade3-heaps")
    qs = registry.queries()

    times: dict[str, dict[str, float]] = {n: {} for n in with_setups(names)}
    rows: dict[str, dict[str, int]] = {n: {} for n in names}
    for name in names:
        time_cell(spark, qs, name, str(root / "sf1"))  # plan warmup
        for tier in ("sf10", "sf100"):
            setup, dt, cnt = time_cell(spark, qs, name, str(root / tier))
            times[name][tier] = round(dt, 3)
            rows[name][tier] = cnt
            note = ""
            if setup is not None:
                times[SETUP_OF[name]][tier] = round(setup, 3)
                note = f" setup={round(setup, 3)}s"
            print(f"[cell] {name} {tier} {round(dt, 3)}s rows={cnt}{note}",
                  flush=True)

    print("| query | sf10 s | sf100 s | α(10→100) | pairs sf10 → sf100 |")
    print("|---|---|---|---|---|")
    alphas = {}
    for n in times:
        t10, t100 = times[n]["sf10"], times[n]["sf100"]
        a = round(math.log(t100 / t10) / math.log(10.0), 2)
        alphas[n] = a
        nrows = (f"{rows[n]['sf10']} → {rows[n]['sf100']}"
                 if n in rows else "")
        print(f"| {n} | {t10} | {t100} | {a} | {nrows} |")
    print(json.dumps({"metric": "scale_decade3_heaps", "times": times,
                      "rows": rows, "alpha": alphas}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
