"""Round-13 regression pins for the r12 ADVICE findings + the inline
vocabulary-cardinality guard (VERDICT r12 "Next round" #7)."""

from __future__ import annotations

import duckdb
import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# ADVICE medium: exact_dup_probe NULL-position / NULL-vs-empty aliasing
# ---------------------------------------------------------------------------

def test_exact_dup_probe_null_positions_not_duplicates(spark):
    """('a', NULL, 'c') vs ('a', 'c', NULL) must NOT collapse to one
    fingerprint (concat_ws silently skips NULLs — the encoding must
    tag nullness per column)."""
    from parquet_sampler_spark.operators.dedup import exact_dup_probe

    corpus = spark.createDataFrame(
        [Row(id=1, a="a", b=None, c="c")],
        "id bigint, a string, b string, c string",
    )
    batch = spark.createDataFrame(
        [Row(id=10, a="a", b="c", c=None),   # NULL in a different slot
         Row(id=11, a="a", b=None, c="c")],  # true verbatim copy
        "id bigint, a string, b string, c string",
    )
    got = {
        r["id"]: r["dup_of"]
        for r in exact_dup_probe(
            corpus, batch, "id", ["a", "b", "c"]
        ).collect()
    }
    assert got == {11: 1}


def test_exact_dup_probe_null_vs_empty_not_duplicates(spark):
    from parquet_sampler_spark.operators.dedup import exact_dup_probe

    corpus = spark.createDataFrame(
        [Row(id=1, t=None)], "id bigint, t string"
    )
    batch = spark.createDataFrame(
        [Row(id=10, t=""), Row(id=11, t=None)], "id bigint, t string"
    )
    got = {
        r["id"]: r["dup_of"]
        for r in exact_dup_probe(corpus, batch, "id", ["t"]).collect()
    }
    assert got == {11: 1}


# ---------------------------------------------------------------------------
# ADVICE low: lehmer_hash sign — negative keys must land in [0, M)
# ---------------------------------------------------------------------------

def test_lehmer_hash_negative_keys_in_range_and_portable(spark):
    """Negative key values used to produce NEGATIVE hashes (both
    engines' % keeps the dividend's sign), so any threshold `< t`
    admitted them at every ratio. Now: hash in [0, M) for any integer
    key, and Spark/DuckDB still agree value-for-value."""
    from parquet_sampler_spark.functions.hashing import (
        MODULUS,
        lehmer_hash,
        lehmer_hash_sql,
    )

    keys = [-(10**12), -48271, -1, 0, 1, 48271, 10**12]
    df = spark.createDataFrame([(k,) for k in keys], "k bigint")
    got = {
        r["k"]: r["h"]
        for r in df.select(
            "k", lehmer_hash(["k"], seed=7).alias("h")
        ).collect()
    }
    assert all(0 <= h < MODULUS for h in got.values())
    sql = lehmer_hash_sql(["k"], seed=7)
    con = duckdb.connect()
    for k in keys:
        (dh,) = con.execute(
            f"SELECT {sql} FROM (SELECT CAST({k} AS BIGINT) AS k)"
        ).fetchone()
        assert dh == got[k], f"engine mismatch at key {k}"


def test_sample_threshold_negative_keys_respect_ratio(spark):
    """Before the pmod fix, ALL negative-key rows passed any ratio.
    Now a tiny ratio keeps roughly ratio·n of them (binomial)."""
    from parquet_sampler_spark.operators.sample import sample_threshold

    df = spark.range(1, 20_001).select(
        (-F.col("id")).alias("k")
    )
    kept = sample_threshold(df, 0.01, ["k"], seed=3).count()
    # E[kept] = 200; a pre-fix run returns all 20000
    assert 0 < kept < 2_000


# ---------------------------------------------------------------------------
# ADVICE low: ngram_rarity order-2 broadcast_vocab escape
# ---------------------------------------------------------------------------

def test_bigram_backoff_shuffle_join_path_equal(spark):
    from parquet_sampler_spark.operators.quality import ngram_rarity

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the cat ran"),
            (3, "dogs bark loudly at night"),
            (4, "the mat sat"),
        ],
        "doc_id bigint, text string",
    )
    fit = docs.filter("doc_id <= 2")
    a = ngram_rarity(
        docs, "doc_id", "text", 2, fit_df=fit, broadcast_vocab=True
    ).orderBy("doc_id").collect()
    b = ngram_rarity(
        docs, "doc_id", "text", 2, fit_df=fit, broadcast_vocab=False
    ).orderBy("doc_id").collect()
    assert a == b
    # the escape drops the HINTS (size-based planning may still pick
    # broadcast at toy scale — that is the point of the escape: let
    # the optimizer decide from runtime sizes instead of forcing it)
    analyzed = ngram_rarity(
        docs, "doc_id", "text", 2, fit_df=fit, broadcast_vocab=False
    )._jdf.queryExecution().analyzed().toString()
    hinted = ngram_rarity(
        docs, "doc_id", "text", 2, fit_df=fit, broadcast_vocab=True
    )._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" in hinted
    assert analyzed.count("ResolvedHint") < hinted.count("ResolvedHint")


# ---------------------------------------------------------------------------
# VERDICT #7: inline vocabulary-cardinality guard
# ---------------------------------------------------------------------------

def test_inline_vocab_guard_raises_over_bound(spark, monkeypatch):
    from parquet_sampler_spark.operators import quality

    docs = spark.createDataFrame(
        [(i, f"tok{i} tok{i + 1} tok{i + 2}") for i in range(40)],
        "doc_id bigint, text string",
    )
    monkeypatch.setattr(quality, "INLINE_VOCAB_MAX_ROWS", 10)
    with pytest.raises(ValueError, match="join path"):
        quality.ngram_rarity(docs, "doc_id", "text", 1, inline=True)
    with pytest.raises(ValueError, match="join path"):
        quality.ngram_rarity(
            docs, "doc_id", "text", 2, inline=True
        )
    monkeypatch.setattr(quality, "INLINE_VOCAB_MAX_ROWS", 20_000_000)
    # under the bound both inline paths still run
    assert quality.ngram_rarity(
        docs.limit(3), "doc_id", "text", 1, inline=True
    ).count() == 3


# ---------------------------------------------------------------------------
# ADVICE low: _stream_sample_staging atomicity
# ---------------------------------------------------------------------------

def test_stream_sample_staging_ignores_partial_dir(spark):
    """A leftover partial .staging dir (simulating a failure between
    the two chunk writes) must be discarded and restaged; the done
    marker `data` only appears via atomic rename with BOTH chunks."""
    import os
    import shutil

    from parquet_sampler_spark.queries_ext import _stream_sample_staging

    sf = "/root/testdata/sf0.001"
    data = _stream_sample_staging(spark, sf)
    chunks = sorted(os.listdir(data))
    assert chunks == ["chunk0.parquet", "chunk1.parquet"]
    # simulate the crash window: partial staging left behind, no data
    shutil.rmtree(data)
    pend = data + ".staging"
    os.makedirs(pend)
    with open(os.path.join(pend, "chunk0.parquet"), "w") as f:
        f.write("junk")
    data2 = _stream_sample_staging(spark, sf)
    assert data2 == data
    assert sorted(os.listdir(data2)) == [
        "chunk0.parquet", "chunk1.parquet",
    ]
    assert not os.path.isdir(pend)
    assert os.path.getsize(os.path.join(data2, "chunk0.parquet")) > 100


# ---------------------------------------------------------------------------
# ADVICE low: _star_ctes template (no unprefixed relation names)
# ---------------------------------------------------------------------------

def test_star_ctes_prefixes_every_relation_name():
    import re

    from parquet_sampler_spark.queries import _star_ctes

    chain = _star_ctes("zz_", 42)
    for n in (
        "lineitem_sample", "orders_red", "customer_red", "nation_red",
        "region_red", "part_red", "supplier_red",
    ):
        # every occurrence must carry the prefix
        for m in re.finditer(rf"\b{n}\b", chain):
            start = m.start()
            assert chain[max(0, start - 3):start] == "zz_", (
                f"unprefixed {n} at offset {start}"
            )
    assert "{P}" not in chain
