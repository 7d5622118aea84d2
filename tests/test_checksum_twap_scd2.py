"""Semantics pins for the r08-late additions beyond the oracle gate:
table_checksum (mutation sensitivity + partition-order invariance),
twap_events (hand-computed duration weighting), scd2_history (interval
chaining, tombstone close, reopen-after-delete), mixture_drift
(non-negativity + the zero-drift identity on a synthetic uniform mix).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from parquet_sampler_spark.queries_ext import (
    _q_mixture_drift,
    _q_scd2_history,
    _q_table_checksum,
    _q_twap_events,
)
from tests.conftest import SF_MED, SF_SMALL


# ---------------------------------------------------------------- checksum

def _checksum_map(spark, sf_dir):
    return {
        r["bucket"]: (r["n_rows"], r["xor_hash"], r["sum_hash"])
        for r in _q_table_checksum(spark, sf_dir).collect()
    }


def test_checksum_partition_order_invariant(spark, tmp_path):
    """The fingerprint must be a pure function of the SET of rows:
    rewriting the table with a different partitioning / row order
    cannot move any bucket."""
    base = _checksum_map(spark, SF_SMALL)
    shuffled = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet") \
        .orderBy(F.col("l_extendedprice").desc()).repartition(7)
    out = f"{tmp_path}/li_shuffled"
    shuffled.write.parquet(out)
    tmp_sf = f"{tmp_path}/sf"
    import os
    os.makedirs(tmp_sf, exist_ok=True)
    os.symlink(out, f"{tmp_sf}/lineitem.parquet")
    assert _checksum_map(spark, tmp_sf) == base


def test_checksum_detects_single_row_mutation(spark, tmp_path):
    """Flipping one measure in one row must move exactly that row's
    bucket (xor + sum), leaving the other 15 untouched — the
    localization property that makes bucket-level repair work."""
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    first = li.orderBy("l_orderkey", "l_linenumber").limit(1).collect()[0]
    k, ln = first["l_orderkey"], first["l_linenumber"]
    hit = (F.col("l_orderkey") == k) & (F.col("l_linenumber") == ln)
    mutated = li.withColumn(
        "l_quantity",
        F.when(hit, F.col("l_quantity") + 1.0).otherwise(F.col("l_quantity")),
    )
    out = f"{tmp_path}/li_mut"
    mutated.write.parquet(out)
    tmp_sf = f"{tmp_path}/sf"
    import os
    os.makedirs(tmp_sf, exist_ok=True)
    os.symlink(out, f"{tmp_sf}/lineitem.parquet")

    base = _checksum_map(spark, SF_SMALL)
    mut = _checksum_map(spark, tmp_sf)
    moved = [b for b in base if base[b] != mut[b]]
    assert moved == [k % 16]
    b = moved[0]
    # row count unchanged, both hash components moved
    assert base[b][0] == mut[b][0]
    assert base[b][1] != mut[b][1]
    assert base[b][2] != mut[b][2]


# ---------------------------------------------------------------- twap

def test_twap_matches_hand_fold(spark):
    """Recompute one user's TWAP with a plain pandas fold (sort by
    (ts, event_id), cents * exact-ms durations) and require bit
    equality with the operator's row."""
    res = _q_twap_events(spark, SF_SMALL)
    uid = res.orderBy("user_id").limit(1).collect()[0]["user_id"]
    got = res.filter(F.col("user_id") == uid).collect()[0]

    ev = (
        spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .filter(F.col("user_id") == uid)
        .select("event_id", "ts", "value")
        .toPandas()
        .sort_values(["ts", "event_id"])
        .reset_index(drop=True)
    )
    ts = pd.to_datetime(ev["ts"]).astype("int64")  # ns since epoch
    num = den = nseg = 0
    for i in range(len(ev) - 1):
        dur_ms = (ts[i + 1] - ts[i]) // 1_000_000
        ve2 = int(round(ev["value"][i] * 100))
        num += ve2 * dur_ms
        den += dur_ms
        nseg += 1
    assert got["n_segments"] == nseg
    assert got["total_ms"] == den
    assert got["twap"] == num / den / 100.0


def test_twap_weights_by_duration_not_rows(spark, tmp_path):
    """Synthetic 3-event user fed through the REAL operator (written
    as an events.parquet dir): value 10 held for 9s then value 100
    for 1s → TWAP 19.0, while the row mean of contributing values is
    55. Pins that _q_twap_events itself is duration-weighted."""
    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 7, 10.0),
            (2, "2024-01-01 00:00:09", 7, 100.0),
            (3, "2024-01-01 00:00:10", 7, 555.0),  # terminal, no weight
        ],
        "event_id long, ts string, user_id long, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df.write.parquet(f"{tmp_path}/events.parquet")
    row = _q_twap_events(spark, str(tmp_path)).collect()
    assert len(row) == 1
    row = row[0]
    assert row["n_segments"] == 2
    assert row["total_ms"] == 10_000
    assert row["twap"] == 19.0


# ---------------------------------------------------------------- scd2

def test_scd2_interval_chaining(spark):
    """Every key's surviving versions must chain [0,a) [a,b) ... [z,∞):
    valid_from strictly increasing, each valid_to equal to the next
    version's valid_from, exactly one current row per surviving key,
    and no interval may be empty."""
    hist = _q_scd2_history(spark, SF_MED).collect()
    by_key: dict = {}
    for r in hist:
        by_key.setdefault(r["c_custkey"], []).append(r)
    assert len(by_key) > 1000
    for rows in by_key.values():
        rows.sort(key=lambda r: r["valid_from"])
        n_current = sum(1 for r in rows if r["is_current"])
        # keys whose LAST version was tombstoned have no current row
        assert n_current <= 1
        for a, b in zip(rows, rows[1:]):
            assert a["valid_to"] is not None and a["valid_to"] > a["valid_from"]
        for r in rows:
            assert r["is_current"] == (r["valid_to"] is None)


def test_scd2_tombstone_and_reopen(spark, tmp_path):
    """Key classes pinned exactly — on an INJECTED customer corpus
    whose keyspace (0..4500) actually contains every class, because
    sf0.01's 0..1499 range has no reopen key (k % 1500 == 0, k > 0;
    found vacuous by review): %500∧¬%150 keys are tombstoned at
    epoch 1 closing [0,1) with no current row; %1500∧¬%450 keys
    reopen at epoch 2 after the tombstone; %150∧¬%100∧¬%450 keys
    skip epoch 1 entirely ([0,2) then [2,∞))."""
    rows = [(k, f"Customer#{k}", k % 25, float(k), "BUILDING")
            for k in range(0, 4501)]
    spark.createDataFrame(
        rows, "c_custkey long, c_name string, c_nationkey int, "
              "c_acctbal double, c_mktsegment string"
    ).write.parquet(f"{tmp_path}/customer.parquet")
    hist = _q_scd2_history(spark, str(tmp_path)).collect()
    by_key: dict = {}
    for r in hist:
        by_key.setdefault(r["c_custkey"], []).append(r)
    max_k = 4500

    deleted_only = [k for k in range(500, max_k + 1, 500)
                    if k % 150 != 0 and k % 250 == 0]
    assert deleted_only, "key class empty — corpus too small"
    for k in deleted_only:
        vs = sorted(by_key[k], key=lambda r: r["valid_from"])
        assert [(v["valid_from"], v["valid_to"]) for v in vs] == [(0, 1)]

    reopened = [k for k in range(1500, max_k + 1, 1500) if k % 450 != 0]
    assert reopened, "key class empty — corpus too small"
    for k in reopened:
        vs = sorted(by_key[k], key=lambda r: r["valid_from"])
        # e1 tombstone closed [0,1); e2 re-insert opens [2,∞) — the
        # [1,2) hole is the deleted span, correctly unrepresented
        assert [(v["valid_from"], v["valid_to"]) for v in vs] \
            == [(0, 1), (2, None)]
        assert vs[1]["is_current"]

    skip_e1 = [k for k in range(150, max_k + 1, 150)
               if k % 100 != 0 and k % 450 != 0]
    assert skip_e1, "key class empty — corpus too small"
    for k in skip_e1[:10]:
        vs = sorted(by_key[k], key=lambda r: r["valid_from"])
        assert [(v["valid_from"], v["valid_to"]) for v in vs] \
            == [(0, 2), (2, None)]


# ---------------------------------------------------------------- drift

def test_mixture_drift_nonnegative_and_additive(spark):
    res = _q_mixture_drift(spark, SF_MED).collect()
    assert len(res) == 20
    assert all(r["chi2"] >= 0.0 for r in res)
    assert sum(r["n_docs"] for r in res) == spark.read.parquet(
        f"{SF_MED}/documents.parquet"
    ).count()


def test_mixture_drift_zero_on_uniform_mix(spark, tmp_path):
    """A source whose language mix is exactly proportional to the
    corpus mix must score chi2 == 0.0 (d_l = T*c_l - t_s*g_l vanishes
    identically — integer, so EXACTLY zero, no epsilon)."""
    rows = [(i, f"t{i}", lang, f"src{i % 2}", 5)
            for i, lang in enumerate(["en", "de", "es", "fr", "zh"] * 8)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    out = f"{tmp_path}/documents.parquet"
    df.write.parquet(out)
    res = {r["source"]: r["chi2"]
           for r in _q_mixture_drift(spark, str(tmp_path)).collect()}
    assert res == {"src0": 0.0, "src1": 0.0}


# ---------------------------------------------------------------- dpp

def test_dpp_scan_prunes_partitions(spark):
    """The partitioned-fact join must carry a RUNTIME partition filter
    (dynamicpruningexpression in the scan's PartitionFilters) and every
    surviving row must come from the single matching partition
    directory — the 100 TB fact⋈dim read-only-matching-dirs property."""
    from parquet_sampler_spark.plans.cache import MEMO
    from parquet_sampler_spark.queries_ext import _q_dpp_scan
    from tests.conftest import SF_MED

    q = _q_dpp_scan(spark, SF_MED)
    plan = spark._jvm.PythonSQLUtils.explainString(
        q._jdf.queryExecution(), "formatted"
    )
    assert "dynamicpruningexpression" in plan

    fact_dir = MEMO[("dpp", spark.sparkContext.applicationId, SF_MED)]
    fact = spark.read.parquet(fact_dir)
    from pyspark.sql import functions as F
    dim = spark.createDataFrame([("3-MEDIUM",)], "priority string")
    files = (
        fact.join(F.broadcast(dim),
                  fact["o_orderpriority"] == dim["priority"])
        .select(F.input_file_name().alias("f")).distinct().collect()
    )
    assert files and all(
        "o_orderpriority=3-MEDIUM" in r["f"] for r in files
    )


def test_fingerprint_diff_localizes(spark, tmp_path):
    """fingerprint_diff of a table against itself is empty; against a
    copy with one mutated row it returns exactly the one affected
    bucket with both sides' components present."""
    from parquet_sampler_spark.operators.integrity import (
        fingerprint_diff,
        table_fingerprint,
    )

    def fp(df):
        return table_fingerprint(
            df,
            int_cols=[F.col("l_orderkey"), F.col("l_linenumber"),
                      F.col("l_partkey")],
            str_col=F.col("l_returnflag"),
            bucket_col="l_orderkey",
        )

    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    assert fingerprint_diff(fp(li), fp(li)).count() == 0

    first = li.orderBy("l_orderkey", "l_linenumber").limit(1).collect()[0]
    k, ln = first["l_orderkey"], first["l_linenumber"]
    hit = (F.col("l_orderkey") == k) & (F.col("l_linenumber") == ln)
    mutated = li.withColumn(
        "l_partkey",
        F.when(hit, F.col("l_partkey") + 1).otherwise(F.col("l_partkey")),
    )
    d = fingerprint_diff(fp(li), fp(mutated)).collect()
    assert [r["bucket"] for r in d] == [k % 16]
    assert d[0]["a_rows"] == d[0]["b_rows"]
    assert d[0]["a_xor"] != d[0]["b_xor"]


# ---------------------------------------------------------------- manifest

def test_manifest_prune_skips_files_losslessly(spark):
    """The footer-stats planner must actually DROP files on the
    4-file range-clustered layout (kept < total) and the pruned read
    + re-applied predicate must equal the unpruned filtered read —
    the necessary-not-sufficient contract."""
    from parquet_sampler_spark.queries_ext import (
        _MANIFEST_HI,
        _MANIFEST_LO,
        _compacted_events_path,
    )
    from parquet_sampler_spark.sources.io import plan_files_by_stats
    from tests.conftest import SF_MED

    path = _compacted_events_path(spark, SF_MED)
    kept, total = plan_files_by_stats(
        path, "user_id", _MANIFEST_LO, _MANIFEST_HI
    )
    assert total == 4
    assert 0 < len(kept) < total, (kept, total)

    pred = (F.col("user_id") >= _MANIFEST_LO) & \
        (F.col("user_id") <= _MANIFEST_HI)
    pruned = sorted(
        tuple(r) for r in
        spark.read.parquet(*kept).filter(pred)
        .select("event_id", "user_id", "value").collect()
    )
    full = sorted(
        tuple(r) for r in
        spark.read.parquet(path).filter(pred)
        .select("event_id", "user_id", "value").collect()
    )
    assert pruned == full and len(full) > 0


def test_manifest_planner_keeps_statless_files(spark, tmp_path):
    """A file with no usable stats for the column must be KEPT (the
    planner is conservative): files written with statistics disabled
    survive planning for any probe range."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_sampler_spark.sources.io import plan_files_by_stats

    t = pa.table({"k": pa.array([100, 200], pa.int64())})
    pq.write_table(t, str(tmp_path / "a.parquet"))
    pq.write_table(t, str(tmp_path / "b.parquet"),
                   write_statistics=False)
    kept, total = plan_files_by_stats(str(tmp_path), "k", 0, 1)
    assert total == 2
    # a.parquet (stats 100..200) prunes; b.parquet (no stats) is kept
    assert [k.endswith("b.parquet") for k in kept] == [True]


def test_twap_equal_timestamp_tiebreak(spark, tmp_path):
    """Two events at the SAME instant: the (ts, event_id) total order
    decides which value owns the following interval — the same tie
    lesson the sessionize family learned in r07, pinned here by
    construction. Events: (id 1, t0, v=10) and (id 2, t0, v=30) then
    (id 3, t0+10s, v=99). The id-2 row wins the 10 s interval (it
    sorts last at t0, so id 1's segment has zero duration); TWAP must
    be 30.0, not 10.0, not 20.0."""
    df = spark.createDataFrame(
        [
            (2, "2024-01-01 00:00:00", 5, 30.0),
            (1, "2024-01-01 00:00:00", 5, 10.0),
            (3, "2024-01-01 00:00:10", 5, 99.0),
        ],
        "event_id long, ts string, user_id long, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df.write.parquet(f"{tmp_path}/events.parquet")
    rows = _q_twap_events(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    # id-1 segment: 0 ms (tie); id-2 segment: 10_000 ms at value 30
    assert r["n_segments"] == 2
    assert r["total_ms"] == 10_000
    assert r["twap"] == 30.0
