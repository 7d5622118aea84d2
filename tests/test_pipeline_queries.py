"""Edge-case pins for the corpus-pipeline registry queries added in
round 6 (source_quota, bigram_novelty): the driver's oracle gate proves
value equality on the generated testdata, but that corpus contains no
NULL/empty/one-token documents — these tests run the SAME Spark plan
and DuckDB oracle SQL over a hostile corpus so the edge semantics
(NULL text, whitespace-only, sub-n-gram docs, under-quota sources)
can never drift between the engines."""

from __future__ import annotations

import math

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from parquet_sampler_spark import queries_ext as QX

HOSTILE_DOCS = [
    # (doc_id, text, source)
    (0, None, "s_small"),                       # NULL text
    (1, "", "s_small"),                         # empty
    (2, "   ", "s_small"),                      # whitespace only
    (3, "single", "s_small"),                   # one token: no bigram
    (4, "two tokens", "s_small"),               # exactly one bigram
    (5, "the cat sat on the mat", "s_big"),
    (6, "the cat sat on the mat", "s_big"),     # exact duplicate
    (7, "the dog sat on the mat", "s_big"),
    (8, "a  double  space run", "s_big"),       # multi-space tokens
    (9, "Mixed CASE Text here", "s_big"),
    (10, "the cat", "s_big"),
    (11, "on the mat again", "s_big"),
    (12, "totally novel phrasing indeed", "s_big"),
    (13, "xyzzy", "s_exact_cap"),
    (14, "plugh quux", "s_exact_cap"),
]


@pytest.fixture(scope="module")
def hostile_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("hostile_docs")
    t = pa.table(
        {
            "doc_id": pa.array([r[0] for r in HOSTILE_DOCS], pa.int64()),
            "text": pa.array([r[1] for r in HOSTILE_DOCS], pa.string()),
            "lang": pa.array(["en"] * len(HOSTILE_DOCS)),
            "source": pa.array([r[2] for r in HOSTILE_DOCS]),
            "n_chars": pa.array(
                [len(r[1] or "") for r in HOSTILE_DOCS], pa.int64()
            ),
        }
    )
    pq.write_table(t, str(d / "documents.parquet"))
    return str(d)


def _duck_rows(sql: str, docs_path: str):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{docs_path}/documents.parquet')"
    )
    return con.execute(sql).fetchall()


def _as_sorted(rows):
    return sorted(tuple(r) for r in rows)


def test_bigram_novelty_hostile_cross_engine(spark, hostile_dir):
    got = _as_sorted(
        tuple(r) for r in QX._q_bigram_novelty(spark, hostile_dir).collect()
    )
    want = _as_sorted(_duck_rows(QX._sql_bigram_novelty(), hostile_dir))
    assert got == want
    ids = {r[0] for r in got}
    # NULL / empty / whitespace / single-token docs have no bigrams and
    # must be ABSENT (not zero-row artifacts) in both engines
    assert ids.isdisjoint({0, 1, 2, 3})
    # identical duplicate docs score identically
    by_id = {r[0]: r for r in got}
    assert by_id[5][1:] == by_id[6][1:]
    # commonality is exactly sum_df / n_grams (one IEEE division)
    for _, n_grams, sum_df, commonality in got:
        assert commonality == sum_df / n_grams
        assert not math.isnan(commonality)


def test_source_quota_hostile_cross_engine(spark, hostile_dir):
    got = _as_sorted(
        tuple(r) for r in QX._q_source_quota(spark, hostile_dir).collect()
    )
    want = _as_sorted(_duck_rows(QX._sql_source_quota(), hostile_dir))
    assert got == want
    # under-quota sources keep every doc (including NULL-text rows:
    # the quota is a row sampler, not a text filter)
    per_source = {}
    for doc_id, source, rn in got:
        per_source.setdefault(source, []).append(rn)
    assert sorted(per_source["s_small"]) == [1, 2, 3, 4, 5]
    assert sorted(per_source["s_exact_cap"]) == [1, 2]
    # no source exceeds the cap and ranks are dense from 1
    for ranks in per_source.values():
        assert len(ranks) <= QX._QUOTA_CAP
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_source_quota_deterministic_under_repartition(spark, hostile_dir):
    a = _as_sorted(
        tuple(r) for r in QX._q_source_quota(spark, hostile_dir).collect()
    )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        b = _as_sorted(
            tuple(r)
            for r in QX._q_source_quota(spark, hostile_dir).collect()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert a == b


def test_bigram_novelty_salted_pinned_equal(spark, hostile_dir):
    # r11: the skew-safe two-phase-aggregate sibling must produce
    # bit-identical output to the window form — on the hostile corpus
    # too (NULL/empty/one-token docs, duplicate docs, multi-space)
    a = _as_sorted(
        tuple(r) for r in QX._q_bigram_novelty(spark, hostile_dir).collect()
    )
    b = _as_sorted(
        tuple(r)
        for r in QX._q_bigram_novelty_salted(spark, hostile_dir).collect()
    )
    assert a == b and len(a) > 0


def test_semijoin_shuffle_pinned_equal(spark):
    # r11: the forced shuffle-hash escape returns exactly the
    # broadcast plan's rows, and its physical plan really is the
    # non-broadcast one
    from parquet_sampler_spark import queries as R

    sf = "/root/testdata/sf0.001"
    a = _as_sorted(
        tuple(r) for r in R.queries()["semijoin_orders"](spark, sf).collect()
    )
    b = _as_sorted(
        tuple(r)
        for r in R.queries()["semijoin_orders_shuffle"](spark, sf).collect()
    )
    assert a == b and len(a) > 0
    plan = (
        R.queries()["semijoin_orders_shuffle"](spark, sf)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ShuffledHashJoin" in plan and "BroadcastExchange" not in plan


def test_semijoin_reduce_rejects_bad_strategy(spark):
    import pytest as _pytest

    from parquet_sampler_spark.operators.semijoin import semi_join_reduce

    df = spark.createDataFrame([(1,)], "k bigint")
    with _pytest.raises(ValueError):
        semi_join_reduce(df, "k", df, "k", broadcast="sortmerge")


def test_curation_bpe_witnesses_vocabulary_true_packing(spark):
    # r11 policy witness: the BPE-encoded composite must actually
    # CHANGE the packed layout vs whitespace counts (same survivors,
    # different n_tokens / sequence boundaries) — otherwise the hash
    # gate would only prove the shared curation machinery
    sf = "/root/testdata/sf0.001"
    ws = {r["doc_id"]: tuple(r) for r in QX._q_curation_pipeline(
        spark, sf
    ).collect()}
    bpe = {r["doc_id"]: tuple(r) for r in QX._q_curation_pipeline_bpe(
        spark, sf
    ).collect()}
    assert set(ws) == set(bpe)  # same curated survivors
    # the merge table collapses pairs, so SOME doc's vocabulary-true
    # token count differs from its whitespace count
    n_ws = {k: v[2] for k, v in ws.items()}
    n_bpe = {k: v[2] for k, v in bpe.items()}
    assert n_ws != n_bpe
    assert all(n_bpe[k] <= n_ws[k] for k in n_ws)  # merges only shrink


def test_persist_registry_dedups_semantically_equal_plans(spark):
    # r12: re-invoking a persisting operator must return the existing
    # registry entry, not append a duplicate — the registry has no
    # bound, so deduping by plan is what keeps repeated calls from
    # growing it
    from parquet_sampler_spark.plans import cache

    cache.clear()
    a = spark.range(50).selectExpr("id * 7 AS x")
    b = spark.range(50).selectExpr("id * 7 AS x")
    c = spark.range(50).selectExpr("id * 11 AS x")
    pa, pb, pc = cache.persist(a), cache.persist(b), cache.persist(c)
    assert pa is pb and pa is not pc
    assert len(cache._PERSISTED) == 2
    # r13: plans differing ONLY in a final alias canonicalize equal
    # (sameSemantics ignores names) but must NOT be interchanged —
    # the full-sweep find: the order-3 rarity model's __w3 backoff
    # table was handed to the order-2 scorer expecting __w2, and its
    # USING join failed to resolve. A hit requires identical columns.
    d = spark.range(50).selectExpr("id * 7 AS y")
    pd_ = cache.persist(d)
    assert pd_ is not pa
    assert pd_.columns == ["y"]
    cache.clear()
    assert not cache._PERSISTED


def test_curation_incremental_stage_accounting(spark):
    """Every batch doc is accounted for exactly once across the three
    stages: exact-gate loser, near-dup loser, or admitted-and-scored."""
    from parquet_sampler_spark.operators.dedup import (
        exact_dup_probe,
        minhash_admit_batch,
    )
    from parquet_sampler_spark.queries_ext import (
        _JACCARD_N,
        _JACCARD_T,
        _incremental_split,
        _q_curation_incremental,
    )

    sf = "/root/testdata/sf0.01"
    corpus, batch = _incremental_split(spark, sf)
    n_batch = batch.count()
    exact_losers = {
        r.doc_id
        for r in exact_dup_probe(corpus, batch, "doc_id", ["text"])
        .select("doc_id").distinct().collect()
    }
    scored = {r.doc_id for r in _q_curation_incremental(spark, sf).collect()}
    survivors = batch.filter(~batch.doc_id.isin(list(exact_losers)))
    admitted = {
        r.doc_id
        for r in minhash_admit_batch(
            corpus, survivors, "doc_id", "text",
            n=_JACCARD_N, threshold=_JACCARD_T, num_hashes=32, bands=8,
        ).collect()
    }
    assert scored == admitted
    assert exact_losers and scored
    assert not (exact_losers & scored)
    neardup_losers = n_batch - len(exact_losers) - len(scored)
    assert neardup_losers >= 0
