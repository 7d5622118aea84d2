"""Pins for operators/vocab.py bpe_merge_rounds — BPE trainer loop.

Pinned contract: every adjacent position counts (runs count overlaps);
winner = max count, ties to the lexicographically smallest pair;
rewrite merges greedily leftmost-first non-overlapping in token space
("a b a b" merges BOTH, "a a a" merges only the first); later rounds
see merged symbols as ordinary tokens.
"""

from __future__ import annotations

import pytest

from parquet_sampler_spark.operators.vocab import bpe_merge_rounds


def _merges(spark, texts, rounds):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    return [tuple(r) for r in
            bpe_merge_rounds(df, "doc_id", "text", rounds=rounds).collect()]


def test_canonical_three_round_trace(spark):
    got = _merges(spark, ["a b a b c", "a b x", "a a a"], 3)
    # r1: 'a b' appears 3x (both doc0 occurrences + doc1) and BOTH
    # doc0 occurrences merge; r2: the run 'a a a' counts (a,a) twice;
    # r3: four pairs tie at 1, 'a_a a' is lexicographically smallest
    assert got == [
        (1, "a b", "a_b", 3),
        (2, "a a", "a_a", 2),
        (3, "a_a a", "a_a_a", 1),
    ]


def test_run_merges_leftmost_only(spark):
    got = _merges(spark, ["a a a a"], 2)
    # round 1 counts 3 adjacent (a,a); rewrite -> 'a_a a_a' (leftmost
    # non-overlapping); round 2's winner is then (a_a, a_a)
    assert got[0] == (1, "a a", "a_a", 3)
    assert got[1] == (2, "a_a a_a", "a_a_a_a", 1)


def test_tie_breaks_to_smallest_pair(spark):
    got = _merges(spark, ["b c", "a d"], 1)
    assert got == [(1, "a d", "a_d", 1)]


def test_empty_and_single_token_docs_ignored(spark):
    got = _merges(spark, ["", "   ", "solo", "x y"], 1)
    assert got == [(1, "x y", "x_y", 1)]


def test_merged_symbol_feeds_later_rounds(spark):
    got = _merges(spark, ["p q r", "p q r", "p q s"], 2)
    assert got[0] == (1, "p q", "p_q", 3)
    assert got[1] == (2, "p_q r", "p_q_r", 2)


def test_bad_rounds_raises(spark):
    df = spark.createDataFrame([(1, "a b")], "doc_id bigint, text string")
    with pytest.raises(ValueError):
        bpe_merge_rounds(df, "doc_id", "text", rounds=0)


def test_no_pairs_returns_empty_merge_table(spark):
    got = _merges(spark, ["solo", "another"], 3)
    assert got == []


def _encode(spark, texts, merges):
    from pyspark.sql import functions as F

    from parquet_sampler_spark.operators.vocab import bpe_encode

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    out = bpe_encode(df, "text", merges).orderBy("doc_id")
    return [r["bpe_text"] for r in out.select("bpe_text").collect()]


def test_encode_canonical_greedy_leftmost(spark):
    # "a b a b" merges BOTH occurrences; "a a a" only the first pair
    assert _encode(spark, ["a b a b", "a a a"], ["a b", "a a"]) == [
        "a_b a_b", "a_a a"
    ]


def test_encode_applies_merges_in_order(spark):
    # merge 2 consumes merge 1's output symbol — order matters
    assert _encode(spark, ["a b c"], ["a b", "a_b c"]) == ["a_b_c"]
    # reversed order: 'a_b c' never matches before 'a b' exists
    assert _encode(spark, ["a b c"], ["a_b c", "a b"]) == ["a_b c"]


def test_encode_null_and_empty_text(spark):
    from parquet_sampler_spark.operators.vocab import bpe_encode

    df = spark.createDataFrame(
        [(0, None), (1, "   "), (2, "a b")], "doc_id bigint, text string"
    )
    got = {
        r["doc_id"]: r["bpe_text"]
        for r in bpe_encode(df, "text", ["a b"]).collect()
    }
    assert got == {0: None, 1: "", 2: "a_b"}


def test_encode_roundtrips_trainer_state(spark):
    """encode(corpus, merges[:k-1]) must equal the trainer's internal
    state after k-1 rewrites: the top adjacent pair of the ENCODED
    corpus (max count, ties to smallest pair) is exactly the round-k
    winner the trainer reported."""
    from collections import Counter

    texts = ["a b a b c d", "a b x c d", "a a a c d c d", "b c d a b"]
    rounds = 4
    merges = _merges(spark, texts, rounds)
    assert len(merges) == rounds
    encoded = _encode(spark, texts, [m[1] for m in merges[:-1]])
    counts: Counter = Counter()
    for t in encoded:
        tk = t.split(" ")
        for i in range(len(tk) - 1):
            counts[f"{tk[i]} {tk[i + 1]}"] += 1
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
    assert (rounds, top[0], top[0].replace(" ", "_"), top[1]) == merges[-1]


def test_encode_accepts_merge_dataframe(spark):
    from parquet_sampler_spark.operators.vocab import (
        bpe_encode,
        bpe_merge_rounds,
    )

    df = spark.createDataFrame(
        [(0, "a b a b"), (1, "a b c")], "doc_id bigint, text string"
    )
    mdf = bpe_merge_rounds(df, "doc_id", "text", rounds=2)
    got = {
        r["doc_id"]: r["bpe_text"]
        for r in bpe_encode(df, "text", mdf).collect()
    }
    # r1 winner 'a b' (3 occurrences), r2 winner then 'a_b a_b' or
    # ties — derive expectation from the trainer itself
    pairs = [r["pair"] for r in mdf.orderBy("round").collect()]
    assert got[0] == _encode(spark, ["a b a b"], pairs)[0]
    assert got[1] == _encode(spark, ["a b c"], pairs)[0]


def test_encode_holdout_unseen_symbols_pass_through(spark):
    # merges trained on one corpus applied to another: unseen symbols
    # pass through untouched, and only the exact ordered pair merges
    # (the train-once / apply-everywhere contract of the
    # bpe_encode_holdout registry row)
    from parquet_sampler_spark.operators.vocab import bpe_encode

    train = spark.createDataFrame(
        [(0, "a b a b"), (1, "a b c")], "doc_id bigint, text string"
    )
    merges = bpe_merge_rounds(train, "doc_id", "text", rounds=1)
    hold = spark.createDataFrame(
        [(10, "a b z"), (11, "z q"), (12, "b a")],
        "doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: r["bpe_text"]
        for r in bpe_encode(hold, "text", merges).collect()
    }
    assert got == {10: "a_b z", 11: "z q", 12: "b a"}


def test_bpe_merge_cache_keys_on_sfdir_and_filter(spark):
    # the session cache must key on (sf_dir, train filter): the
    # holdout fit (train half) and the full-corpus fit are different
    # tables, and repeat calls return the cached object, not a retrain
    from parquet_sampler_spark import queries_ext as qe
    from parquet_sampler_spark.plans.cache import MEMO

    def fits():
        return [k for k in MEMO if k[0] == "bpe_merges"]

    for k in fits():
        del MEMO[k]
    full = qe._bpe_merges_cached(spark, "/root/testdata/sf0.001")
    again = qe._bpe_merges_cached(spark, "/root/testdata/sf0.001")
    assert again is full
    half = qe._bpe_merges_cached(
        spark, "/root/testdata/sf0.001", qe._BPE_TRAIN_SRC
    )
    assert len(fits()) == 2
    assert len(full) == len(half) == qe._BPE_ROUNDS
    # counts must differ: the train half sees ~half the corpus tokens
    assert [r[3] for r in full] != [r[3] for r in half]
    for k in fits():
        del MEMO[k]


def test_bpe_decode_inverts_encode(spark):
    # decode must replay the merge table in reverse and restore
    # trim(text) exactly — including nested merges (a_b then a_b_c),
    # greedy-run pathologies ("a a a" merges only the first pair),
    # NULL -> NULL, and empty -> empty
    from parquet_sampler_spark.operators.vocab import (
        bpe_decode, bpe_encode,
    )

    rows = [
        (1, "a b c a b"),
        (2, "a a a"),
        (3, "  x y  "),
        (4, None),
        (5, ""),
        (6, "c c c c"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    # nested (second merge consumes the first) + a run merge ("c c")
    merges = ["a b", "a_b c", "c c", "a a"]
    enc = bpe_encode(df, "text", merges)
    dec = bpe_decode(enc, "bpe_text", merges, out_col="dec")
    got = {r["doc_id"]: (r["bpe_text"], r["dec"]) for r in dec.collect()}
    assert got[1][0] == "a_b_c a_b"          # nested merge applied
    assert got[2][0] == "a_a a"              # greedy leftmost only
    assert got[6][0] == "c_c c_c"            # non-overlapping run
    assert got[4] == (None, None)
    assert got[5] == ("", "")
    for i, text in [(1, "a b c a b"), (2, "a a a"), (3, "x y"),
                    (6, "c c c c")]:
        assert got[i][1] == text, i
