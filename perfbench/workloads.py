"""The benchmark's workloads: how each one builds its inputs, serves one
request, and checks that request's output against DuckDB.

* ``star_publish`` / ``bulk_sample`` — the reference journey: sample
  ``lineitem``, write it, then semi-join-reduce the six dimensions, each
  read back from its upstream file and written with ``write_parquet``.
* ``core_queries`` — registry rows (``fn(spark, sf_dir).count()``), a
  pass being ``clear_caches()`` followed by every row in seeded order.

Checks run outside the timed region.
"""

from __future__ import annotations

import importlib.util
import math
import os
import random
import shutil

import duckdb

import datagen

# lineitem 240 000 rows: at least sample._PREFILTER_MIN_ROWS (200 000),
# so the sampler takes its eager prefilter path
STAR_SF = 0.04
# bulk_sample needs k >= 2^18 for the threshold path: sf0.1 at 0.5
BULK_SF = 0.1
CORE_SF = 0.01
# Registry rows of one core pass (~2 s warm on 4 cores), sampler,
# projection, TPC-H and footer-count rows of similar cost (0.25-0.6 s)
# that share no state, so the median lands inside one cluster whatever
# the order. Left out: rows sharing the registry's cached lineitem
# sample (sample_lineitem, semijoin_*), whose first reader in a pass
# pays for it, which moved the median by 40% between seeds; and
# star_snapshot_sink, the cheapest row that persists through
# plans.cache, at 5-7 s per request: with it a pass took ~9 s, a window
# held three passes, and runs spread past their bound.
CORE_ROWS = [
    "sample_threshold", "sample_weighted", "projection_distinct",
    "tpch_q6", "metadata_counts",
]
# members of a published snapshot: (member, source table, key,
# upstream member, upstream key); lineitem_sample is first
STAR_CHAIN = [
    ("orders", "orders", "o_orderkey", "lineitem_sample", "l_orderkey"),
    ("customer", "customer", "c_custkey", "orders", "o_custkey"),
    ("nation", "nation", "n_nationkey", "customer", "c_nationkey"),
    ("region", "region", "r_regionkey", "nation", "n_regionkey"),
    ("part", "part", "p_partkey", "lineitem_sample", "l_partkey"),
    ("supplier", "supplier", "s_suppkey", "lineitem_sample", "l_suppkey"),
]
_RED = {"lineitem_sample": "lineitem_sample", "orders": "orders_red",
        "customer": "customer_red", "nation": "nation_red",
        "region": "region_red", "part": "part_red",
        "supplier": "supplier_red"}


def _files(path: str) -> str:
    return f"{path}/*.parquet" if os.path.isdir(path) else path


def request_seeds(seed: int, warmup: bool):
    """Per-request seeds: odd for the measured stream, even for
    warm-up, so the two never overlap."""
    rng = random.Random(f"{'warmup' if warmup else 'measure'}-{seed}")
    while True:
        yield 2 * rng.randrange(1, 2 ** 29) + (0 if warmup else 1)


class Star:
    """Sample + six reductions + publish, at sampling ``ratio`` of a
    star generated at scale ``sf``."""

    passes = False
    warmups = 1

    def __init__(self, ratio: float, sf: float):
        self.ratio = ratio
        self.sf = sf
        self.in_dir = None
        self._base = {}  # seed -> generated base tables, reused by set-ups

    def prepare(self, work: str, seed: int) -> None:
        self.in_dir = os.path.join(work, "star")
        if seed not in self._base:
            self._base[seed] = datagen.generate(
                self.sf, seed, only=datagen.STAR_TABLES)
        datagen.write_tables(self._base[seed], self.in_dir)
        from parquet_sampler_spark.sources.io import metadata_row_count
        self.rows = {t: metadata_row_count(self._in(t))
                     for t in ["lineitem"] + [c[1] for c in STAR_CHAIN]}
        self.out_root = os.path.join(work, "out")
        self.n = 0

    def _in(self, table: str) -> str:
        return os.path.join(self.in_dir, f"{table}.parquet")

    def names(self, seed: int, warmup: bool):
        return request_seeds(seed, warmup)

    def request(self, spark, req_seed: int, tracer=None) -> dict:
        from parquet_sampler_spark import queries
        from parquet_sampler_spark.operators import sample, semijoin
        from parquet_sampler_spark.sources import io

        self.n += 1
        out = os.path.join(self.out_root, f"r{self.n}")
        li_path = self._in("lineitem")
        n = io.metadata_row_count(li_path)
        s = sample.sample_exact(
            io.read_parquet(spark, li_path), self.ratio, seed=req_seed,
            key_cols=["l_orderkey", "l_linenumber"],
            tie_cols=queries._LINEITEM_TIE, total_rows=n)
        io.write_parquet(s, os.path.join(out, "lineitem_sample"))
        for member, table, key, up, up_key in STAR_CHAIN:
            red = semijoin.semi_join_reduce(
                io.read_parquet(spark, self._in(table)), key,
                io.read_parquet(spark, os.path.join(out, up)), up_key)
            io.write_parquet(red, os.path.join(out, member))
        return {"out": out, "seed": req_seed, "k": math.floor(n * self.ratio)}

    def check(self, ctx: dict, spark=None) -> dict:
        """Per-member row count and Lehmer fingerprint of the published
        files must equal DuckDB's over the generated inputs."""
        from parquet_sampler_spark import queries
        from parquet_sampler_spark.functions.hashing import lehmer_hash_sql

        con = duckdb.connect()
        for t in self.rows:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{_files(self._in(t))}')")
        for member, rel in _RED.items():
            con.execute(f"CREATE VIEW o_{rel} AS SELECT * FROM read_parquet("
                        f"'{_files(os.path.join(ctx['out'], member))}')")
        pr = lehmer_hash_sql(["l_orderkey", "l_linenumber"], ctx["seed"])
        tie = ", ".join(queries._LINEITEM_TIE)
        ctes = [
            "e_lineitem_sample AS (SELECT * EXCLUDE (psx_rn) FROM ("
            f"SELECT *, row_number() OVER (ORDER BY {pr}, {tie}) AS psx_rn "
            f"FROM lineitem) WHERE psx_rn <= {ctx['k']})"
        ]
        for member, table, key, up, up_key in STAR_CHAIN:
            ctes.append(
                f"e_{_RED[member]} AS (SELECT * FROM {table} d WHERE EXISTS "
                f"(SELECT 1 FROM e_{_RED[up]} u WHERE u.{up_key} = d.{key}))")
        want = con.execute(f"WITH {', '.join(ctes)} "
                           f"{queries._star_fp_union('e_')} ORDER BY tbl")
        want = want.fetchall()
        got = con.execute(
            f"{queries._star_fp_union('o_')} ORDER BY tbl").fetchall()
        con.close()
        shutil.rmtree(ctx["out"], ignore_errors=True)
        kept = {r[0]: r[1] for r in got}
        dims = [c[0] for c in STAR_CHAIN]
        return {
            "ok": got == want,
            "sample_rows": kept.get("lineitem_sample", 0),
            "dim_rows_kept": sum(kept.get(d, 0) for d in dims),
            "dim_rows_in": sum(self.rows[c[1]] for c in STAR_CHAIN),
            "input_rows": sum(self.rows.values()),
        }


class Registry:
    """Registry rows at a generated sf0.01, forced with ``.count()``."""

    passes = True  # the measured window ends on a pass boundary
    warmups = 1 + len(CORE_ROWS)  # one warm-up pass

    def __init__(self, rows: list[str]):
        self.rows = rows
        self.sf_dir = None
        self.fns = None
        # row name -> oracle row count, once its values were compared
        self._oracle: dict[str, int] = {}

    def prepare(self, work: str, seed: int) -> None:
        from parquet_sampler_spark import queries

        self.sf_dir = os.path.join(work, "sf")
        datagen.write_tables(datagen.generate(CORE_SF, seed), self.sf_dir)
        # the data-fitted ANN oracles are built for this directory
        os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = self.sf_dir
        if self.fns is None:  # building the registry takes ~2.6 s
            fns = queries.queries()
            self.fns = {k: fns[k] for k in self.rows}
            self.sql = queries.oracle_sql()
        self._oracle.clear()

    def names(self, seed: int, warmup: bool):
        """Passes over the rows, each in an order drawn from the seed,
        warm-up and measured orders from separate streams; ``None``
        marks the start of a pass, where caches are cleared."""
        rng = random.Random(f"{'warmup' if warmup else 'measure'}-{seed}")
        while True:
            order = list(self.rows)
            rng.shuffle(order)
            yield None
            yield from order

    def request(self, spark, name: str, tracer=None) -> dict:
        fn = self.fns[name]
        if tracer is None:
            n = fn(spark, self.sf_dir).count()
        else:
            with tracer.span("queries.build"):
                df = fn(spark, self.sf_dir)
            with tracer.span("queries.force"):
                n = df.count()
        return {"name": name, "count": n}

    def check(self, ctx: dict, spark) -> dict:
        """Row count against ``oracle_sql()`` on DuckDB for every
        request; the first request of each row in a run also compares
        all values by ``tools/check_oracle.value_hash``."""
        name = ctx["name"]
        if name not in self._oracle:
            con = duckdb.connect()
            for t in datagen.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{self.sf_dir}/{t}.parquet'")
            res = con.execute(self.sql[name])
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            con.close()
            df = self.fns[name](spark, self.sf_dir)
            got = value_hash([tuple(r) for r in df.collect()], df.columns)
            self._oracle[name] = len(rows)
            if got != value_hash(rows, cols):
                return {"ok": False}
        return {"ok": ctx["count"] == self._oracle[name]}


def value_hash(rows, cols) -> str:
    return _check_oracle().value_hash(rows, cols)


def _check_oracle():
    import sys
    mod = sys.modules.get("perfbench_check_oracle")
    if mod is None:
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        spec = importlib.util.spec_from_file_location(
            "perfbench_check_oracle",
            os.path.join(root, "tools", "check_oracle.py"))
        mod = importlib.util.module_from_spec(spec)
        sys.modules["perfbench_check_oracle"] = mod
        spec.loader.exec_module(mod)
    return mod


WORKLOADS = {
    "star_publish": lambda: Star(0.01, STAR_SF),
    "bulk_sample": lambda: Star(0.5, BULK_SF),
    "core_queries": lambda: Registry(CORE_ROWS),
}
