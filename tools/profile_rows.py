"""Per-row drilldown for the optimization rounds: time named registry
rows in isolation (noop sink per guide §1.4 — full-row evaluation, no
driver collect) and dump each row's ``explain("formatted")`` plan.

Usage:
    python tools/profile_rows.py [sf_dir] name [name ...]
        [--plans-dir plans/r14] [--suffix before] [--reps 2]

Each named row is run ``reps`` times against the noop sink (min time
reported — isolation runs want the best case, the suite median is the
bench's job) after one untimed warm pass of the FIRST rep absorbing
plan compilation. The formatted plan lands in
``<plans-dir>/<name>_<suffix>.txt``.

Setup rows (``setup_*``) are resolved through bench.SETUPS, so the
timed thing is exactly what the bench times (no plan is dumped for
them); registry rows come from the queries() registry. Caches are
cleared before each rep so fit-once state is re-paid — matching the
bench's cache-reset protocol, which charges it to the setup row: a
registry row that consumes one runs that setup's builder untimed
first.
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from bench import SETUP_OF, SETUPS  # noqa: E402


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> int:
    args = sys.argv[1:]
    plans_dir = None
    suffix = "before"
    reps = 2
    clear_between = True
    if "--plans-dir" in args:
        i = args.index("--plans-dir")
        plans_dir = Path(args[i + 1])
        args = args[:i] + args[i + 2:]
    if "--suffix" in args:
        i = args.index("--suffix")
        suffix = args[i + 1]
        args = args[:i] + args[i + 2:]
    if "--reps" in args:
        i = args.index("--reps")
        reps = int(args[i + 1])
        args = args[:i] + args[i + 2:]
    if "--no-clear" in args:
        clear_between = False
        args.remove("--no-clear")
    if not args:
        print(__doc__)
        return 2
    sf_dir = args[0] if os.path.isdir(args[0]) else "/root/testdata/sf0.1"
    names = args[1:] if os.path.isdir(args[0]) else args

    from parquet_sampler_spark import queries as registry
    from parquet_sampler_spark.queries import clear_caches
    from parquet_sampler_spark.session import get_spark

    spark = get_spark("profile_rows")
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    qs = registry.queries()
    out: dict[str, float] = {}
    for name in names:
        if name not in qs and name not in SETUPS:
            print(f"?? {name}: not in registry or bench.SETUPS",
                  file=sys.stderr)
            continue
        best = None
        plan_txt = None
        for r in range(reps):
            if clear_between:
                clear_caches()
            if name in SETUP_OF:
                SETUPS[SETUP_OF[name]][0](spark, sf_dir)
            spark.sparkContext.setJobDescription(f"profile:{name}#{r}")
            t0 = time.perf_counter()
            if name in SETUPS:
                SETUPS[name][0](spark, sf_dir)
            else:
                df = qs[name](spark, sf_dir)
                noop(df)
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
            if plan_txt is None and name in qs:
                plan_txt = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
            print(f"  rep{r}: {name} {dt:.3f}s", flush=True)
        spark.sparkContext.setJobDescription(None)
        out[name] = best
        if plans_dir and plan_txt is not None:
            plans_dir.mkdir(parents=True, exist_ok=True)
            (plans_dir / f"{name}_{suffix}.txt").write_text(plan_txt)
    print("\n== min-of-reps (noop sink) ==")
    for k, v in sorted(out.items(), key=lambda kv: -kv[1]):
        print(f"{v:8.3f}  {k}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
