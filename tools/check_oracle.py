"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB at a given sf dir, compare
row count, column names, and an order-insensitive value hash.

Usage: python tools/check_oracle.py [sf_dir] [name ...]
           [--conf key=value ...] [--json OUT_PATH]

``--conf`` (repeatable) sets a runtime SQL conf on the session before
the first row, e.g. ``--conf spark.sql.shuffle.partitions=7`` or
``--conf spark.sql.adaptive.enabled=false``: a row whose hash moves
under another partition count or plan depends on partitioning.
"""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path

import duckdb

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # full precision: the driver's hash may compare raw values, so
        # the local gate must not be more lenient (a last-ulp mismatch
        # in numpy-vs-SQL interpolation was once masked by rounding here)
        return repr(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, list):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def value_hash(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted(
        "|".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    usage = ("usage: check_oracle.py [sf_dir] [name ...] "
             "[--conf key=value ...] [--json OUT_PATH]")
    args = sys.argv[1:]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        if i + 1 >= len(args):
            print(usage, file=sys.stderr)
            return 2
        json_out = args[i + 1]
        args = args[:i] + args[i + 2:]
    confs = []
    while "--conf" in args:
        i = args.index("--conf")
        if i + 1 >= len(args) or "=" not in args[i + 1]:
            print(usage, file=sys.stderr)
            return 2
        confs.append(args[i + 1].split("=", 1))
        args = args[:i] + args[i + 2:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    # data-fitted oracles (ann_ivf) are built for this sf dir
    import os

    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir

    import __spark_entry__ as e
    from parquet_sampler_spark.queries import clear_caches
    from parquet_sampler_spark.session import get_spark

    spark = get_spark("check_oracle")
    for key, value in confs:
        spark.conf.set(key, value)
    # no state built under the session's own confs reaches a row
    clear_caches()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs, oracles = e.queries(), e.oracle_sql()
    failures = 0
    report: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:
            print(f"FAIL  {name}: spark error: {ex}")
            failures += 1
            report[name] = {"err": f"spark: {ex}"}
            continue
        if name not in oracles:
            print(f"weak  {name}: rows={len(srows)} (no oracle, rows-only)")
            report[name] = {
                "rows_match": None, "schema_match": None,
                "hash_match": None, "spark_rows": len(srows),
                "oracle_rows": None, "err": "no_oracle",
            }
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as ex:
            print(f"FAIL  {name}: oracle error: {ex}")
            failures += 1
            report[name] = {"err": f"oracle: {ex}"}
            continue
        ok_count = len(srows) == len(orows)
        ok_cols = sorted(scols) == sorted(ocols)
        ok_hash = value_hash(srows, scols) == value_hash(orows, ocols)
        report[name] = {
            "rows_match": ok_count, "schema_match": ok_cols,
            "hash_match": ok_hash, "spark_rows": len(srows),
            "oracle_rows": len(orows), "err": None,
        }
        status = "ok" if (ok_count and ok_cols and ok_hash) else "FAIL"
        if status == "FAIL":
            failures += 1
            print(
                f"FAIL  {name}: rows {len(srows)} vs {len(orows)}, "
                f"cols_match={ok_cols}, hash_match={ok_hash}"
            )
            if ok_count and ok_cols and not ok_hash:
                for sr, orr in list(zip(sorted(map(str, srows)), sorted(map(str, orows))))[:3]:
                    if sr != orr:
                        print(f"      spark:  {sr}\n      oracle: {orr}")
        else:
            print(f"ok    {name}: rows={len(srows)}")
    print(f"\n{failures} failures")
    if json_out:
        import json

        with open(json_out, "w") as f:
            json.dump({"sf_dir": sf_dir, "confs": dict(confs),
                       "n_queries": len(report),
                       "failures": failures, "queries": report}, f,
                      indent=1)
        print(f"wrote {json_out}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
