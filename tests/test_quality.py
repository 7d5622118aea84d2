"""Pins for operators/quality.py — unigram-LM rarity scoring and
fixed-point TF-IDF top terms (the CCNet-style corpus-statistics
quality gate).

Pinned contract: rarity(tok) = total_tokens DIV cnt(tok) (exact
integer inverse relative frequency); mean_rarity_scaled =
(scale * sum_rarity) DIV n_tokens; TF-IDF score_scaled =
tf * ((scale * n_docs) DIV df) with ties broken (score DESC, term
ASC); NULL / empty / whitespace-only documents contribute nothing
to either output.
"""

from __future__ import annotations

import pytest

from parquet_sampler_spark.operators.quality import (
    ngram_rarity,
    tfidf_top_terms,
)


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)],
        "doc_id bigint, text string",
    )


def test_rarity_hand_trace(spark):
    # corpus: 6 tokens total — cnt(a)=3, cnt(b)=2, cnt(c)=1
    # rarity: a -> 6 DIV 3 = 2, b -> 6 DIV 2 = 3, c -> 6 DIV 1 = 6
    df = _docs(spark, ["a a b", "a b c"])
    got = {
        r["doc_id"]: (r["n_tokens"], r["sum_rarity"], r["mean_rarity_scaled"])
        for r in ngram_rarity(df, "doc_id", "text", 1, scale=10).collect()
    }
    # doc0: 2+2+3 = 7, mean = 70 DIV 3 = 23; doc1: 2+3+6 = 11,
    # mean = 110 DIV 3 = 36
    assert got == {0: (3, 7, 23), 1: (3, 11, 36)}


def test_rarity_keep_threshold_and_empty_docs(spark):
    df = _docs(spark, ["a a b", "a b c", "", "   ", None])
    out = ngram_rarity(
        df, "doc_id", "text", 1, scale=10, keep_below=30
    ).collect()
    # empty/whitespace/NULL docs are excluded entirely
    assert sorted(r["doc_id"] for r in out) == [0, 1]
    kept = {r["doc_id"]: r["kept"] for r in out}
    assert kept == {0: True, 1: False}


def test_rarity_rejects_bad_scale(spark):
    df = _docs(spark, ["a"])
    with pytest.raises(ValueError):
        ngram_rarity(df, "doc_id", "text", 1, scale=0)


def test_rarity_shuffle_vocab_path_matches_broadcast(spark):
    df = _docs(spark, ["a a b x", "a b c", "c c y z"])
    b = sorted(
        tuple(r)
        for r in ngram_rarity(
            df, "doc_id", "text", 1, broadcast_vocab=True
        ).collect()
    )
    s = sorted(
        tuple(r)
        for r in ngram_rarity(
            df, "doc_id", "text", 1, broadcast_vocab=False
        ).collect()
    )
    assert b == s


def test_tfidf_hand_trace(spark):
    # docs: d0 = "a a b", d1 = "a c"; n_docs = 2
    # df: a -> 2, b -> 1, c -> 1
    # idf (scale 10): a -> 20 DIV 2 = 10, b -> 20 DIV 1 = 20, c -> 20
    # scores: d0: a = 2*10 = 20, b = 1*20 = 20 (tie -> 'a' first)
    #         d1: a = 1*10 = 10, c = 1*20 = 20
    df = _docs(spark, ["a a b", "a c"])
    got = sorted(
        (r["doc_id"], r["rank"], r["term"], r["tf"], r["score_scaled"])
        for r in tfidf_top_terms(
            df, "doc_id", "text", k=2, scale=10
        ).collect()
    )
    assert got == [
        (0, 1, "a", 2, 20),
        (0, 2, "b", 1, 20),
        (1, 1, "c", 1, 20),
        (1, 2, "a", 1, 10),
    ]


def test_tfidf_k_bounds_output(spark):
    df = _docs(spark, ["a b c d e", "a b"])
    out = tfidf_top_terms(df, "doc_id", "text", k=1).collect()
    assert sorted(r["doc_id"] for r in out) == [0, 1]
    assert all(r["rank"] == 1 for r in out)


def test_tfidf_rejects_bad_k(spark):
    df = _docs(spark, ["a"])
    with pytest.raises(ValueError):
        tfidf_top_terms(df, "doc_id", "text", k=0)


def test_mixture_keep_cols_carries_columns(spark):
    # keep_cols must carry extra columns verbatim while leaving the
    # kept-row set and summary columns identical to the default shape
    from parquet_sampler_spark.operators.sample import mixture_resample

    df = spark.createDataFrame(
        [(i, f"w{i} x y z", "a" if i % 2 else "b") for i in range(40)],
        "doc_id bigint, text string, source string",
    )
    weights = {"a": 2, "b": 1}
    base = mixture_resample(df, "doc_id", "text", "source", weights)
    ext = mixture_resample(
        df, "doc_id", "text", "source", weights, keep_cols=["text"]
    )
    assert ext.columns == ["doc_id", "source", "n_tokens", "text"]
    assert sorted(tuple(r) for r in base.collect()) == sorted(
        (r["doc_id"], r["source"], r["n_tokens"]) for r in ext.collect()
    )
    texts = {r["doc_id"]: r["text"] for r in ext.collect()}
    orig = {r["doc_id"]: r["text"] for r in df.collect()}
    assert all(orig[i] == t for i, t in texts.items())


def test_mixture_keep_cols_rejects_collision(spark):
    from parquet_sampler_spark.operators.sample import mixture_resample

    df = spark.createDataFrame(
        [(1, "a b", "a")], "doc_id bigint, text string, source string"
    )
    with pytest.raises(ValueError):
        mixture_resample(
            df, "doc_id", "text", "source", {"a": 1},
            keep_cols=["n_tokens"],
        )


def test_rarity_invariant_under_row_order_and_partitioning(spark):
    # corpus statistics must not depend on row order or physical
    # partitioning — the distributed-correctness property that makes
    # the value-hash oracle meaningful at any cluster size
    texts = [f"w{i % 7} common x{i % 3}" for i in range(60)]
    a = _docs(spark, texts)
    b = _docs(spark, texts).orderBy(F_desc_doc()).repartition(7)
    ra = sorted(tuple(r) for r in
                ngram_rarity(a, "doc_id", "text", 1).collect())
    rb = sorted(tuple(r) for r in
                ngram_rarity(b, "doc_id", "text", 1).collect())
    assert ra == rb
    ta = sorted(tuple(r) for r in
                tfidf_top_terms(a, "doc_id", "text").collect())
    tb = sorted(tuple(r) for r in
                tfidf_top_terms(b, "doc_id", "text").collect())
    assert ta == tb


def F_desc_doc():
    from pyspark.sql import functions as F

    return F.col("doc_id").desc()


def test_quality_family_matches_independent_reference(spark):
    # independent pure-Python reimplementation from the written
    # contract (not from the operator code) on a seeded corpus —
    # guards the agg/join plumbing beyond the tiny hand-traces
    import random

    rng = random.Random(1234)
    vocab = [f"t{i}" for i in range(50)]
    texts = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 30)))
        for _ in range(300)
    ]
    df = _docs(spark, texts)

    # --- reference rarity ---
    from collections import Counter

    tok_lists = [t.split(" ") for t in texts]
    cnt = Counter(t for toks in tok_lists for t in toks)
    total = sum(cnt.values())
    rar = {t: total // c for t, c in cnt.items()}
    exp_r = {}
    for i, toks in enumerate(tok_lists):
        n = len(toks)
        s = sum(rar[t] for t in toks)
        exp_r[i] = (n, s, (1000 * s) // n)
    got_r = {
        r["doc_id"]: (r["n_tokens"], r["sum_rarity"],
                      r["mean_rarity_scaled"])
        for r in ngram_rarity(df, "doc_id", "text", 1).collect()
    }
    assert got_r == exp_r

    # --- reference tf-idf top-3 ---
    n_docs = len(texts)
    dfreq = Counter()
    for toks in tok_lists:
        dfreq.update(set(toks))
    exp_t = set()
    for i, toks in enumerate(tok_lists):
        tf = Counter(toks)
        scored = sorted(
            ((t, c, c * ((1_000_000 * n_docs) // dfreq[t]))
             for t, c in tf.items()),
            key=lambda x: (-x[2], x[0]),
        )
        for rank, (t, c, sc) in enumerate(scored[:3], start=1):
            exp_t.add((i, t, c, sc, rank))
    got_t = {
        (r["doc_id"], r["term"], r["tf"], r["score_scaled"], r["rank"])
        for r in tfidf_top_terms(df, "doc_id", "text").collect()
    }
    assert got_t == exp_t


def test_rarity_inline_matches_join_path(spark):
    # the model-shipped inline scorer (no join, no shuffle) must be
    # bit-identical to the default join+agg path, including NULL /
    # empty / whitespace-only docs and the kept threshold
    texts = [f"w{i % 9} x{i % 4} common tail{i % 2}" for i in range(80)]
    texts += ["", "   ", None, "solo"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)],
        "doc_id bigint, text string",
    ).repartition(5)
    a = sorted(tuple(r) for r in ngram_rarity(
        df, "doc_id", "text", 1, scale=777, keep_below=5000
    ).collect())
    b = sorted(tuple(r) for r in ngram_rarity(
        df, "doc_id", "text", 1, scale=777, keep_below=5000, inline=True
    ).collect())
    assert a == b and len(a) == 81


def test_rarity_inline_nonspace_whitespace_parity(spark):
    # ADVICE r10: Spark F.trim strips SPACES only, so the inline
    # (pandas) path must strip ' ' — not all whitespace. A doc with
    # leading tab / embedded newline tokenizes identically on both
    # paths (tokens keep their tab/newline bytes).
    texts = ["\tc x", "a\nb a", " y z ", "p\tq", None, "  "]
    df = _docs(spark, texts)
    a = sorted(tuple(r) for r in ngram_rarity(
        df, "doc_id", "text", 1, scale=10
    ).collect())
    b = sorted(tuple(r) for r in ngram_rarity(
        df, "doc_id", "text", 1, scale=10, inline=True
    ).collect())
    assert a == b and len(a) == 4
    # '\tc' is its own token (F.trim left the tab alone)
    toks = {t for txt in texts[:4] for t in txt.strip(" ").split(" ")}
    assert "\tc" in toks and "a\nb" in toks


def test_rarity_holdout_oov_value_pinned(spark):
    # cross-corpus mode: fit on one corpus, score another that
    # provably contains unseen tokens. OOV rarity = total DIV 1 =
    # total (the max-rarity CCNet-style unknown-token policy).
    fit = _docs(spark, ["a a b", "a b c"])  # total=6; a->2, b->3, c->6
    new = spark.createDataFrame(
        [(100, "a z"), (101, "z z"), (102, "b c a")],
        "doc_id bigint, text string",
    )
    for kw in ({}, {"inline": True}, {"broadcast_vocab": False}):
        got = {
            r["doc_id"]: (r["n_tokens"], r["sum_rarity"],
                          r["mean_rarity_scaled"])
            for r in ngram_rarity(
                new, "doc_id", "text", 1, scale=10, fit_df=fit, **kw
            ).collect()
        }
        # doc100: 2 + 6(OOV) = 8, mean 40; doc101: 12, mean 60;
        # doc102: 3 + 6 + 2 = 11, mean 36
        assert got == {
            100: (2, 8, 40), 101: (2, 12, 60), 102: (3, 11, 36),
        }, kw


def test_rarity_holdout_join_and_inline_agree_at_scale(spark):
    # larger randomized holdout: both scoring paths bit-identical,
    # including docs that are entirely OOV
    fit_texts = [f"w{i % 7} x{i % 3} base" for i in range(60)]
    new_texts = [f"w{i % 11} q{i % 5} base novel{i % 2}" for i in range(50)]
    new_texts += ["totally unseen tokens only", "", None]
    fit = _docs(spark, fit_texts)
    new = spark.createDataFrame(
        [(1000 + i, t) for i, t in enumerate(new_texts)],
        "doc_id bigint, text string",
    ).repartition(4)
    a = sorted(tuple(r) for r in ngram_rarity(
        new, "doc_id", "text", 1, scale=321, keep_below=900, fit_df=fit
    ).collect())
    b = sorted(tuple(r) for r in ngram_rarity(
        new, "doc_id", "text", 1, scale=321, keep_below=900, fit_df=fit,
        inline=True,
    ).collect())
    assert a == b and len(a) == 51


def test_quality_rarity_holdout_registry_row_exercises_oov(spark):
    # the registered holdout row must PROVABLY score unseen tokens:
    # every doc_id % 4 == 0 doc carries an injected unk<id%3> token
    # absent from the train vocabulary, so its sum_rarity includes at
    # least one OOV contribution (= total train tokens, the max
    # rarity) — strictly larger than any in-vocab token's rarity
    from parquet_sampler_spark import queries_ext as QX
    from parquet_sampler_spark.operators.quality import _doc_grams

    import pyspark.sql.functions as F

    sf = "/root/testdata/sf0.001"
    d = spark.read.parquet(f"{sf}/documents.parquet")
    train = d.filter(F.col("source").isin(QX._BPE_TRAIN_SRC))
    total = _doc_grams(train, "doc_id", "text").count()
    rows = {r["doc_id"]: r for r in QX._q_quality_rarity_holdout(
        spark, sf
    ).collect()}
    injected = [r for i, r in rows.items() if i % 4 == 0]
    assert injected, "fixture must contain doc_id % 4 == 0 holdout docs"
    for r in injected:
        # the OOV token alone contributes `total`; in-vocab tokens on
        # this corpus are all far more frequent than singletons
        assert r["sum_rarity"] >= total


def test_inline_rarity_rejects_huge_fit_corpus(spark):
    # The float64-exactness invariant (every rarity value < 2^53) is
    # enforced, not just documented (ADVICE r11): a fit corpus at the
    # boundary fails loudly instead of silently corrupting OOV sums.
    import pytest

    from parquet_sampler_spark.operators.quality import _score_inline

    df = spark.createDataFrame([(1, "a b")], "doc_id bigint, text string")
    counts = spark.createDataFrame(
        [(1, "a", 2**53)], "__o int, __g string, __cnt bigint"
    )
    with pytest.raises(ValueError, match="2\\*\\*53"):
        _score_inline(df, "doc_id", "text", counts, 1, 1_000_000, 3)


@pytest.mark.parametrize("order", [1, 2, 3])
def test_inline_exactness_guard_at_each_order(spark, order):
    # the guard bounds p^(order-k) * total_k for EVERY backoff level k:
    # a unigram total just under 2^53 passes alone but trips the guard
    # once the order-n chain scales it by penalty^(n-1)
    from parquet_sampler_spark.operators.quality import _score_inline

    df = spark.createDataFrame([(1, "a b c")], "doc_id bigint, text string")
    p = 3
    total1 = -(-(2**53) // p ** (order - 1))  # least with p^(n-1)·t1 >= 2^53
    rows = [(1, "a", total1)] + [(k, "x", 1) for k in range(2, order + 1)]
    counts = spark.createDataFrame(rows, "__o int, __g string, __cnt bigint")
    with pytest.raises(ValueError, match="2\\*\\*53.*join path"):
        _score_inline(df, "doc_id", "text", counts, order, 1, p)
    # one unit below the bound the same model scores
    rows[0] = (1, "a", total1 - 1)
    counts = spark.createDataFrame(rows, "__o int, __g string, __cnt bigint")
    assert _score_inline(df, "doc_id", "text", counts, order, 1, p) \
        .count() == 1


# every input of the unigram / bigram / trigram inline-parity tests
# above, plus NULL, empty, space-only, tab and multi-space texts and
# docs shorter than the order
_PARITY_FIT = [
    "a b c a b c", "a b d", "c  a b", "a b a b", "a b c",
] + [f"w{i % 9} x{i % 4} common tail{i % 2}" for i in range(40)]
_PARITY_SCORE = [
    "a b x", "c c", "b  c a", "solo", None, "  ", "", "   ",
    "a b c d x", "x b c q", "just two", "a b c", "\tc x", "a\nb a",
    " y z ", "p\tq", "\t", "a\tb  c", "a   b", "a b c d e f",
] + [f"w{i % 11} q{i % 5} common novel{i % 2}" for i in range(30)]


@pytest.mark.parametrize("fit", ["self", "cross"])
@pytest.mark.parametrize("order", [1, 2, 3])
def test_ngram_rarity_join_shuffle_and_inline_agree(spark, order, fit):
    # the broadcast join path, the shuffle-join escape and the inline
    # scorer emit identical rows at every order, on a self-corpus fit
    # (inner join of the top-order table only) and on a cross-corpus
    # fit whose scored text carries OOV tokens and unseen grams
    score = spark.createDataFrame(
        list(enumerate(_PARITY_SCORE)), "doc_id bigint, text string"
    ).repartition(3)
    kw = dict(
        scale=777, penalty=3, keep_below=5000,
        fit_df=None if fit == "self" else _docs(spark, _PARITY_FIT),
    )

    def rows(**extra):
        return sorted(
            tuple(r) for r in ngram_rarity(
                score, "doc_id", "text", order, **kw, **extra
            ).collect()
        )

    hinted = rows()
    assert hinted == rows(broadcast_vocab=False) == rows(inline=True)
    scored = [t.strip(" ").split(" ") for t in _PARITY_SCORE
              if t is not None and t.strip(" ")]
    assert len(hinted) == sum(len(toks) >= order for toks in scored)


def test_ngram_rarity_rejects_bad_order(spark):
    df = _docs(spark, ["a b c"])
    for order in (0, 4):
        with pytest.raises(ValueError, match="order"):
            ngram_rarity(df, "doc_id", "text", order)


def test_gopher_rules_boundaries(spark):
    # each rule exercised at its boundary on crafted docs — the corpus
    # only discriminates on len_ok/stop_ok, so the other three rules
    # are pinned here
    from parquet_sampler_spark.operators.quality import gopher_rules

    good = "the cat and dog " + " ".join(f"word{i}" for i in range(20))
    rows = [
        (1, good),                                   # passes all
        (2, "the a"),                                # too short
        (3, "the of " + " ".join(["xx"] * 30)),      # mean len < 3
        (4, "the of " + " ".join(["x" * 11] * 30)),  # mean len > 10
        (5, "the of " + " ".join(["####"] * 30)),    # symbols > 10%
        (6, "the of " + " ".join(["1234"] * 30)),    # alpha < 80%
        (7, " ".join(f"word{i}" for i in range(30))),  # no stopwords
        (8, None),
        (9, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["doc_id"]: r.asDict() for r in
           gopher_rules(df, "doc_id", "text").collect()}
    assert got[1]["kept"]
    assert not got[2]["len_ok"] and got[2]["stop_ok"]
    assert not got[3]["word_len_ok"] and not got[3]["kept"]
    assert not got[4]["word_len_ok"]
    assert not got[5]["symbol_ok"]
    assert not got[6]["alpha_ok"]
    assert got[6]["symbol_ok"]       # digits are not symbols
    assert not got[7]["stop_ok"] and got[7]["len_ok"]
    for d in (8, 9):                 # degenerate: rejected by length
        assert got[d]["n_tokens"] == 0 and not got[d]["kept"]
        assert got[d]["word_len_ok"] and got[d]["symbol_ok"]


def test_cooccurrence_lift_hand_trace(spark):
    # 4 docs; x,y co-occur in 2 of them, each appearing in 3 docs:
    # lift = (2/4) / (3/4 * 3/4) = 8/9 -> scaled 888888 (DIV floors);
    # the always-together pair (p,q) maxes lift = 4/ (2/4*2/4) wait —
    # p,q each in 2 docs, together in 2: (2/4)/(2/4 * 2/4) = 2.0
    from parquet_sampler_spark.operators.quality import cooccurrence_topk

    rows = [
        (1, "x y p q"),
        (2, "x y p q"),
        (3, "x z"),
        (4, "y z"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {(r["tok_a"], r["tok_b"]): (r["pair_docs"], r["lift_scaled"])
           for r in cooccurrence_topk(df, "doc_id", "text", k=50,
                                      min_pair_docs=2).collect()}
    assert got[("p", "q")] == (2, 2_000_000)
    assert got[("x", "y")] == (2, (1_000_000 * 2 * 4) // (3 * 3))
    assert ("x", "z") not in got or got[("x", "z")][0] >= 2
    # min_pair_docs=2 drops the singleton pair (x,z)
    assert ("x", "z") not in got
    # ordering: highest lift first, deterministic ties
    top = cooccurrence_topk(df, "doc_id", "text", k=1,
                            min_pair_docs=2).collect()[0]
    assert top["lift_scaled"] == 2_000_000


def test_cooccurrence_token_df_cap_drops_hot_pairs_only(spark):
    # "the" is in every doc (df=3 > cap 2): pairs involving it vanish,
    # but the surviving pair's df DENOMINATORS are unchanged
    from parquet_sampler_spark.operators.quality import cooccurrence_topk

    rows = [(1, "the x y"), (2, "the x y"), (3, "the z")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {(r["tok_a"], r["tok_b"]): r["lift_scaled"]
           for r in cooccurrence_topk(df, "doc_id", "text", k=50,
                                      min_pair_docs=2,
                                      max_token_df=2).collect()}
    assert list(got) == [("x", "y")]
    # df(x)=df(y)=2 from the FULL corpus: (1e6*2*3)//(2*2)
    assert got[("x", "y")] == (1_000_000 * 2 * 3) // 4


# ---------------------------------------------------------------------------
# ccnet_buckets (r12): head/middle/tail perplexity tiles per language
# ---------------------------------------------------------------------------


def _buckets(spark, rows, **kw):
    from parquet_sampler_spark.operators.quality import ccnet_buckets

    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string"
    )
    out = ccnet_buckets(df, "doc_id", "text", "lang", **kw)
    return {r.doc_id: (r.lang, r.bucket, r.bucket_label)
            for r in out.collect()}


def test_ccnet_buckets_ntile_sizes_and_order(spark):
    # one language, 5 docs, 3 tiles -> NTILE sizes 2/2/1 by ascending
    # mean rarity. Token design: doc 1 uses only the corpus's most
    # common token; docs use progressively rarer vocabularies.
    rows = [
        (1, "c c c c c c c c", "en"),   # all-common -> lowest rarity
        (2, "c c c c c c c m", "en"),
        (3, "c c c c c m m m", "en"),
        (4, "c c m m m m r r", "en"),
        (5, "r r r r q q q q", "en"),   # rare singles -> highest
    ]
    got = _buckets(spark, rows)
    assert [got[i][1] for i in (1, 2, 3, 4, 5)] == [1, 1, 2, 2, 3]
    assert got[1][2] == "head" and got[3][2] == "middle"
    assert got[5][2] == "tail"


def test_ccnet_buckets_ties_break_by_doc_id_and_langs_split(spark):
    # docs 1-3 (en) are identical -> identical scores; NTILE ties must
    # break by doc_id (1 -> head, 2 -> middle, 3 -> tail for N=3).
    # The de corpus is independent: its single doc is tile 1.
    rows = [
        (1, "a a b", "en"),
        (2, "a a b", "en"),
        (3, "a a b", "en"),
        (4, "x y z", "de"),
    ]
    got = _buckets(spark, rows)
    assert [got[i] for i in (1, 2, 3)] == [
        ("en", 1, "head"), ("en", 2, "middle"), ("en", 3, "tail")
    ]
    assert got[4] == ("de", 1, "head")


def test_ccnet_buckets_fewer_docs_than_tiles(spark):
    # N < nbuckets: every doc lands in its own leading tile, no
    # division-by-zero from the empty-tile branch
    rows = [(1, "a a a", "en"), (2, "zq zq yy", "en")]
    got = _buckets(spark, rows)
    assert got[1][1] == 1 and got[2][1] == 2


def test_ccnet_buckets_cdf_broadcast_off_identical(spark):
    rows = [
        (i, "tok" + " tok" * (i % 4) + f" rare{i % 3}", "en")
        for i in range(1, 13)
    ] + [(20, "w w w", "fr"), (21, "v v w", "fr")]
    on = _buckets(spark, rows, cdf_broadcast=True)
    off = _buckets(spark, rows, cdf_broadcast=False)
    assert on == off and len(on) == 14


def test_ccnet_buckets_validation(spark):
    from parquet_sampler_spark.operators.quality import ccnet_buckets

    df = spark.createDataFrame(
        [(1, "a", "en")], "doc_id bigint, text string, lang string"
    )
    with pytest.raises(ValueError):
        ccnet_buckets(df, "doc_id", "text", "lang", nbuckets=0)


# ---------------------------------------------------------------------------
# dsir_affinity (r12): importance-to-target data selection
# ---------------------------------------------------------------------------


def _dsir(spark, raw_rows, tgt_ids, **kw):
    from pyspark.sql import functions as F

    from parquet_sampler_spark.operators.quality import dsir_affinity

    df = spark.createDataFrame(raw_rows, "doc_id bigint, text string")
    tgt = df.filter(F.col("doc_id").isin(tgt_ids))
    out = dsir_affinity(df, "doc_id", "text", tgt, **kw)
    return {r.doc_id: r.asDict() for r in out.collect()}


def test_dsir_affinity_hand_trace(spark):
    # raw corpus: doc 1 = "a a b", doc 2 = "c c c". target = doc 1.
    # raw totals: T_r=6, cnt a=2 b=1 c=3 -> rr(a)=3 rr(b)=6 rr(c)=2
    # target totals: T_t=3, cnt a=2 b=1 -> rt(a)=1 rt(b)=3; c OOV -> 3
    # doc1 aff = (3-1)+(3-1)+(6-3) = 7; mean*1000 = 7000//3 = 2333
    # doc2 aff = 3*(2-3) = -3; mean*1000 = -3000//3 = -1000
    rows = [(1, "a a b"), (2, "c c c")]
    got = _dsir(spark, rows, [1], scale=1000, select_at=0)
    assert got[1]["affinity_scaled"] == 2333 and got[1]["selected"]
    assert got[2]["affinity_scaled"] == -1000 and not got[2]["selected"]
    assert got[1]["n_tokens"] == 3


def test_dsir_affinity_negative_div_truncates_toward_zero(spark):
    # aff = -7 over n=2 tokens: (1000*-7) DIV 2 = -3500 exactly; but
    # a value like -7 DIV 2 must be -3 (toward zero), not -4 (floor) —
    # pin via scale=1: doc 2 of the hand-trace has aff=-3, n=3 ->
    # 1*-3 DIV 3 = -1; with n=2 docs we'd see the truncation. Use a
    # crafted corpus where scale*aff is not divisible by n.
    rows = [(1, "a a a a a"), (2, "z q")]
    # target = doc 1: T_t=5, a:5 -> rt(a)=1. raw: T_r=7, a:5 z:1 q:1
    # rr(a)=1, rr(z)=rr(q)=7; rt(z)=rt(q)=5 (OOV)
    # doc2 aff = (7-5)+(7-5) = 4 -> scale=3: 12 DIV 2 = 6
    # doc1 aff = 5*(1-1) = 0
    got = _dsir(spark, rows, [1], scale=3)
    assert got[2]["affinity_scaled"] == 6
    assert got[1]["affinity_scaled"] == 0
    assert "selected" not in got[1]  # no threshold -> no column


def test_dsir_affinity_broadcast_off_identical(spark):
    rows = [(i, f"w{i % 3} w{i % 5} common common") for i in range(20)]
    on = _dsir(spark, rows, [0, 1, 2], select_at=0)
    off = _dsir(spark, rows, [0, 1, 2], select_at=0,
                broadcast_vocab=False)
    assert on == off and len(on) == 20


def test_dsir_affinity_validation(spark):
    from parquet_sampler_spark.operators.quality import dsir_affinity

    df = spark.createDataFrame([(1, "a")], "doc_id bigint, text string")
    with pytest.raises(ValueError):
        dsir_affinity(df, "doc_id", "text", df, scale=0)


# ---------------------------------------------------------------------------
# ngram_diversity (r12): per-group distinct/total gram ratio
# ---------------------------------------------------------------------------


def _diversity(spark, rows, **kw):
    from parquet_sampler_spark.operators.quality import ngram_diversity

    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, source string"
    )
    out = ngram_diversity(df, "doc_id", "text", "source", **kw)
    return {r.source: (r.n_grams, r.n_distinct, r.diversity_scaled)
            for r in out.collect()}


def test_ngram_diversity_hand_trace(spark):
    # srcA: "a b a b" + "a b c" -> bigrams (a,b),(b,a),(a,b) and
    # (a,b),(b,c): total 5, distinct 3 -> ratio 600000 at scale 1e6.
    # srcB: one doc "x y z": 2 distinct of 2 -> 1000000.
    rows = [
        (1, "a b a b", "srcA"),
        (2, "a b c", "srcA"),
        (3, "x y z", "srcB"),
    ]
    got = _diversity(spark, rows)
    assert got == {
        "srcA": (5, 3, 600_000),
        "srcB": (2, 2, 1_000_000),
    }


def test_ngram_diversity_short_and_empty_docs_drop(spark):
    # one-token and empty docs yield no bigrams; a source with only
    # such docs is absent entirely
    rows = [
        (1, "solo", "srcA"),
        (2, "", "srcA"),
        (3, None, "srcA"),
        (4, "p q", "srcB"),
    ]
    got = _diversity(spark, rows)
    assert got == {"srcB": (1, 1, 1_000_000)}


def test_ngram_diversity_boilerplate_collapse_signal(spark):
    # a source that repeats one sentence everywhere scores far lower
    # than one with fresh text of the same volume
    boiler = [(i, "the same line again and again", "dup") for i in range(10)]
    fresh = [(100 + i, f"w{i}a w{i}b w{i}c w{i}d w{i}e w{i}f", "fresh")
             for i in range(10)]
    got = _diversity(spark, boiler + fresh)
    assert got["dup"][2] < 150_000 and got["fresh"][2] == 1_000_000


def test_ngram_diversity_validation(spark):
    from parquet_sampler_spark.operators.quality import ngram_diversity

    df = spark.createDataFrame(
        [(1, "a b", "s")], "doc_id bigint, text string, source string"
    )
    with pytest.raises(ValueError):
        ngram_diversity(df, "doc_id", "text", "source", n=0)
    with pytest.raises(ValueError):
        ngram_diversity(df, "doc_id", "text", "source", scale=0)


# ---------------------------------------------------------------------------
# ngram_rarity order 2 — bigram rarity with stupid-backoff
# ---------------------------------------------------------------------------

def test_bigram_rarity_hand_trace(spark):
    """Fit corpus: 'a b a b' + 'a b c'. Bigrams: (a b)x3, (b a)x1,
    (b c)x1 → total2=5. Unigrams: a:3 b:3 c:1 → total1=7.
    Score 'a b x': bigram 'a b' seen → 5 DIV 3 = 1; bigram 'b x':
    unseen, word 'x' unseen → penalty*total1 = 3*7 = 21.
    Score 'c c': bigram 'c c' unseen, 'c' seen → 3*(7 DIV 1) = 21."""
    from parquet_sampler_spark.operators.quality import ngram_rarity

    fit = _docs(spark, ["a b a b", "a b c"])
    score = spark.createDataFrame(
        [(10, "a b x"), (11, "c c")],
        "doc_id bigint, text string",
    )
    out = {
        r.doc_id: r
        for r in ngram_rarity(
            score, "doc_id", "text", 2, scale=100, penalty=3, fit_df=fit
        ).collect()
    }
    assert out[10].n_bigrams == 2
    assert out[10].sum_rarity == 1 + 21
    assert out[10].mean_rarity_scaled == (100 * 22) // 2
    assert out[11].n_bigrams == 1
    assert out[11].sum_rarity == 21


def test_bigram_rarity_excludes_short_docs(spark):
    from parquet_sampler_spark.operators.quality import ngram_rarity

    docs = _docs(spark, ["a b c d", "single", "", None, "  "])
    out = ngram_rarity(docs, "doc_id", "text", 2).collect()
    assert [r.doc_id for r in out] == [0]
    assert out[0].n_bigrams == 3


def test_bigram_rarity_rejects_bad_params(spark):
    from parquet_sampler_spark.operators.quality import ngram_rarity

    docs = _docs(spark, ["a b"])
    with pytest.raises(ValueError, match="scale"):
        ngram_rarity(docs, "doc_id", "text", 2, scale=0)
    with pytest.raises(ValueError, match="penalty"):
        ngram_rarity(docs, "doc_id", "text", 2, penalty=0)


def test_bigram_rarity_keep_threshold(spark):
    from parquet_sampler_spark.operators.quality import ngram_rarity

    docs = _docs(spark, ["a b a b a b", "z q w e r t"])
    out = {
        r.doc_id: r.kept
        for r in ngram_rarity(
            docs, "doc_id", "text", 2, scale=100, keep_below=500
        ).collect()
    }
    # self-fit: total2=10; doc0 = (a b)x3,(b a)x2 → mean 380;
    # doc1 = five singleton bigrams → mean 1000
    # repetitive doc = common bigrams = low rarity = kept;
    # every bigram of the second doc is a singleton = high rarity
    assert out[0] is True and out[1] is False


def test_bigram_inline_matches_join_path(spark):
    """inline=True is bit-identical to the join path — including
    multi-space token edges, OOV words, and unseen bigrams."""
    from parquet_sampler_spark.operators.quality import ngram_rarity

    fit = _docs(spark, ["a b a b", "a b c", "c  a b"])
    score = spark.createDataFrame(
        [(10, "a b x"), (11, "c c"), (12, "b  c a"), (13, "solo"),
         (14, None), (15, "  ")],
        "doc_id bigint, text string",
    )
    join_rows = sorted(
        tuple(r) for r in ngram_rarity(
            score, "doc_id", "text", 2, scale=100, penalty=3, fit_df=fit
        ).collect()
    )
    inline_rows = sorted(
        tuple(r) for r in ngram_rarity(
            score, "doc_id", "text", 2, scale=100, penalty=3, fit_df=fit,
            inline=True,
        ).collect()
    )
    assert join_rows == inline_rows and join_rows


# ---------------------------------------------------------------------------
# ngram_rarity order 3 (r13): the trigram stupid-backoff chain
# ---------------------------------------------------------------------------


def test_trigram_rarity_hand_trace_all_four_branches(spark):
    """Fit: 'a b c a b c' + 'a b d'.
    Trigrams: (a b c)x2, (b c a)x1, (c a b)x1, (a b d)x1 → total3=5.
    Bigrams: (a b)x3, (b c)x2, (c a)x1, (b d)x1 → total2=7.
    Unigrams: a:3 b:3 c:2 d:1 → total1=9. penalty=3.
    Score 'a b c d x':
      (a b c) seen        → 5 DIV 2 = 2
      (b c d) unseen, bigram (c d) unseen, word d seen
                          → 9 · (9 DIV 1) = 81
      (c d x) unseen, (d x) unseen, x unseen → 9 · 9 = 81
    Score 'x b c q':
      (x b c) unseen, trailing bigram (b c) SEEN
                          → 3 · (7 DIV 2) = 9
      (b c q) unseen, (c q) unseen, q unseen → 81
    """
    from parquet_sampler_spark.operators.quality import ngram_rarity

    fit = _docs(spark, ["a b c a b c", "a b d"])
    score = spark.createDataFrame(
        [(10, "a b c d x"), (11, "x b c q")],
        "doc_id bigint, text string",
    )
    out = {
        r.doc_id: r
        for r in ngram_rarity(
            score, "doc_id", "text", 3, scale=100, penalty=3, fit_df=fit
        ).collect()
    }
    assert out[10].n_trigrams == 3
    assert out[10].sum_rarity == 2 + 81 + 81
    assert out[10].mean_rarity_scaled == (100 * 164) // 3
    assert out[11].n_trigrams == 2
    assert out[11].sum_rarity == 9 + 81


def test_trigram_rarity_excludes_short_docs_and_validates(spark):
    from parquet_sampler_spark.operators.quality import ngram_rarity

    docs = _docs(spark, ["a b c d", "two toks", "one", "", None])
    out = ngram_rarity(docs, "doc_id", "text", 3).collect()
    assert [r.doc_id for r in out] == [0]
    assert out[0].n_trigrams == 2
    with pytest.raises(ValueError, match="scale"):
        ngram_rarity(docs, "doc_id", "text", 3, scale=0)
    with pytest.raises(ValueError, match="penalty"):
        ngram_rarity(docs, "doc_id", "text", 3, penalty=0)


def test_trigram_inline_matches_join_path(spark):
    """inline=True is bit-identical to the join path across all four
    backoff branches, multi-space tokens, and degenerate docs; the
    keep_below flag survives both paths."""
    from parquet_sampler_spark.operators.quality import ngram_rarity

    fit = _docs(spark, ["a b c a b c", "a b d", "c  a b"])
    score = spark.createDataFrame(
        [(10, "a b c d x"), (11, "x b c q"), (12, "b  c a"),
         (13, "just two"), (14, None), (15, "  "), (16, "a b c")],
        "doc_id bigint, text string",
    )
    kw = dict(scale=100, penalty=3, fit_df=fit, keep_below=5000)
    join_rows = sorted(
        tuple(r) for r in ngram_rarity(
            score, "doc_id", "text", 3, **kw
        ).collect()
    )
    inline_rows = sorted(
        tuple(r) for r in ngram_rarity(
            score, "doc_id", "text", 3, inline=True, **kw
        ).collect()
    )
    assert join_rows == inline_rows and join_rows


def test_trigram_shuffle_join_escape_equal(spark):
    from parquet_sampler_spark.operators.quality import ngram_rarity

    fit = _docs(spark, ["a b c a b c", "a b d"])
    score = spark.createDataFrame(
        [(10, "a b c d x"), (11, "x b c q")],
        "doc_id bigint, text string",
    )
    a = ngram_rarity(
        score, "doc_id", "text", 3, fit_df=fit, broadcast_vocab=True
    ).orderBy("doc_id").collect()
    b = ngram_rarity(
        score, "doc_id", "text", 3, fit_df=fit, broadcast_vocab=False
    ).orderBy("doc_id").collect()
    assert a == b
