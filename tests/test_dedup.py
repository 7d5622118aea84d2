"""Tests for dedup operators: exact, n-gram Jaccard, MinHash-LSH recall,
SimHash."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from parquet_sampler_spark.operators.dedup import (
    exact_dedup,
    jaccard_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def documents(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def dup_docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    near = "the quick brown fox jumps over the lazy cat again and again"
    other = "completely different words appear within this little sentence here"
    return spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, other), (5, base)],
        "doc_id long, text string",
    )


def test_exact_dedup_keeps_min_id(dup_docs):
    out = exact_dedup(dup_docs, ["text"], "doc_id")
    assert sorted(r.doc_id for r in out.collect()) == [1, 3, 4]


def test_jaccard_identical_docs_score_one(dup_docs):
    pairs = ngram_jaccard_pairs(dup_docs, "doc_id", "text", n=2,
                                threshold=0.9)
    exact = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
    assert exact[(1, 2)] == 1.0
    assert exact[(2, 5)] == 1.0


def test_jaccard_near_pair_detected(dup_docs):
    pairs = ngram_jaccard_pairs(dup_docs, "doc_id", "text", n=2,
                                threshold=0.5)
    keys = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 3) in keys          # one word differs
    assert (1, 4) not in keys      # unrelated


def test_jaccard_dedup_drops_juniors(dup_docs):
    out = jaccard_dedup(dup_docs, "doc_id", "text", n=2, threshold=0.5)
    # 2, 3, 5 all have senior neighbor 1 → only 1 and 4 survive
    assert sorted(r.doc_id for r in out.collect()) == [1, 4]


def test_minhash_recall_vs_exact(documents):
    """LSH candidates must recover ≥90% of true pairs at the threshold
    (with 32 hashes / 8 bands the s-curve is steep above 0.44)."""
    exact = {(r.id_a, r.id_b)
             for r in ngram_jaccard_pairs(documents, "doc_id", "text",
                                          n=2, threshold=0.5).collect()}
    approx = {(r.id_a, r.id_b)
              for r in minhash_lsh_pairs(documents, "doc_id", "text",
                                         n=2, threshold=0.5,
                                         num_hashes=32, bands=8).collect()}
    assert exact, "fixture should contain near-dup pairs"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"recall={recall}"
    # precision is exact by construction (candidates re-verified)
    assert approx <= exact


def test_simhash_identical_docs_distance_zero(dup_docs):
    pairs = simhash_pairs(dup_docs, "doc_id", "text", bits=32, bands=4,
                          max_hamming=3)
    got = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
    assert got[(1, 2)] == 0
    assert got[(2, 5)] == 0


def test_simhash_near_pair_low_distance(dup_docs):
    pairs = simhash_pairs(dup_docs, "doc_id", "text", bits=32, bands=4,
                          max_hamming=8)
    got = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
    assert (1, 3) in got and got[(1, 3)] <= 8


def test_prefix_filter_equals_naive(documents):
    """Prefix filtering is an exact optimization: identical pair set and
    jaccard values vs the naive inverted-index path."""
    naive = {(r.id_a, r.id_b): r.jaccard
             for r in ngram_jaccard_pairs(documents, "doc_id", "text",
                                          n=2, threshold=0.5,
                                          prefix_filter=False).collect()}
    fast = {(r.id_a, r.id_b): r.jaccard
            for r in ngram_jaccard_pairs(documents, "doc_id", "text",
                                         n=2, threshold=0.5,
                                         prefix_filter=True).collect()}
    assert naive == fast and naive


def test_simhash_udf_matches_jvm_expression(spark, dup_docs):
    """The vectorized numpy SimHash used by simhash_pairs must equal the
    public JVM-expression simhash() column bit-for-bit: same token
    hashes (JVM xxhash64), same vote-and-sign math."""
    import numpy as np
    from pyspark.sql import functions as F

    from parquet_sampler_spark.operators.dedup import simhash

    jvm = {r.doc_id: r.fp for r in dup_docs.select(
        "doc_id", simhash("text", bits=32).alias("fp")).collect()}

    token_hashes = {
        r.doc_id: r.th for r in dup_docs.select(
            "doc_id",
            F.transform(
                F.array_distinct(F.split(F.trim(F.col("text")), " ")),
                lambda t: F.xxhash64(t),
            ).alias("th"),
        ).collect()
    }
    shifts = np.arange(32, dtype=np.int64)
    for doc_id, th in token_hashes.items():
        h = np.asarray(th, dtype=np.int64)
        bits_m = (h[:, None] >> shifts[None, :]) & 1
        votes = (2 * bits_m - 1).sum(axis=0)
        fp = int(((votes > 0).astype(np.int64) << shifts).sum())
        assert fp == jvm[doc_id], doc_id


def test_duplicate_clusters_transitive_chain(spark):
    """Chain a—b, b—c (no a—c edge): clustering assigns all three to
    cluster a; greedy dedup would keep both a and c."""
    from parquet_sampler_spark.operators.dedup import (
        cluster_dedup,
        duplicate_clusters,
    )

    df = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "x"), (9, "y")], "doc_id long, t string"
    )
    pairs = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0)], "id_a long, id_b long, jaccard double"
    )
    labels = {r.doc_id: r.cluster
              for r in duplicate_clusters(df, pairs, "doc_id").collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 9: 9}
    kept = sorted(r.doc_id for r in
                  cluster_dedup(df, pairs, "doc_id").collect())
    assert kept == [1, 9]


def test_duplicate_clusters_matches_union_find(spark, documents):
    """CC labels on the real pair graph must equal a driver-side
    union-find over the same pairs."""
    from parquet_sampler_spark.operators.dedup import duplicate_clusters

    pairs = ngram_jaccard_pairs(documents, "doc_id", "text", n=2,
                                threshold=0.5)
    got = {r.doc_id: r.cluster
           for r in duplicate_clusters(documents, pairs, "doc_id")
           .collect()}

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    edges = [(r.id_a, r.id_b) for r in pairs.collect()]
    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want_nontrivial = {}
    for v in parent:
        want_nontrivial[v] = find(v)
    for v, c in want_nontrivial.items():
        assert got[v] == c, (v, c, got[v])
    # all other docs are singletons
    in_graph = set(want_nontrivial)
    for v, c in got.items():
        if v not in in_graph:
            assert c == v


def test_shingle_df_cap_collapses_hot_candidates(spark):
    """Zipfian corpus: one stop-shingle shared by EVERY doc. Without the
    cap the self-join forms the full O(n²) candidate set; with it, only
    pairs sharing a rare shingle survive — and their jaccard values are
    unchanged except for hot-only pairs (recall-only approximation)."""
    n = 60
    rows = [(i, f"common stop phrase unique{i} tail{i}") for i in range(n)]
    # two genuine near-dups sharing rare shingles
    rows += [(100, "common stop phrase rare pair body"),
             (101, "common stop phrase rare pair body")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # threshold→0 makes output == candidate set (any shared join shingle)
    uncapped = ngram_jaccard_pairs(docs, "doc_id", "text", n=1,
                                   threshold=0.01).count()
    capped_df = ngram_jaccard_pairs(docs, "doc_id", "text", n=1,
                                    threshold=0.01, max_shingle_df=5)
    capped = capped_df.count()
    # every doc shares the 3 stop tokens → uncapped is the full n²/2 set
    assert uncapped == (n + 2) * (n + 1) // 2
    # capped: only the planted pair shares sub-cap shingles
    assert capped == 1
    (pair,) = capped_df.collect()
    assert (pair.id_a, pair.id_b) == (100, 101)
    # the intersection counts only sub-cap shingles (3 of 6 shared
    # tokens) while the denominator stays exact → an under-estimate,
    # never an over-estimate (precision-exact, recall-approximate)
    assert pair.jaccard == pytest.approx(3 / 9)


def test_shingle_df_cap_conflicts_with_prefix_filter(spark, documents):
    with pytest.raises(ValueError, match="alternative"):
        ngram_jaccard_pairs(documents, "doc_id", "text",
                            prefix_filter=True, max_shingle_df=5)


def test_duplicate_clusters_nonconverged_raises(spark):
    """A 12-node chain needs ~11 rounds; max_iterations=2 must not
    silently return partially-merged labels."""
    from parquet_sampler_spark.operators.dedup import duplicate_clusters

    nodes = spark.createDataFrame(
        [(i, "x") for i in range(12)], "doc_id long, t string"
    )
    chain = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(11)],
        "id_a long, id_b long, jaccard double",
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        duplicate_clusters(nodes, chain, "doc_id", max_iterations=2)
    with pytest.warns(RuntimeWarning, match="did not converge"):
        out = duplicate_clusters(nodes, chain, "doc_id", max_iterations=2,
                                 on_nonconverged="warn")
        out.count()


def test_duplicate_clusters_lineage_bounded(spark):
    """localCheckpoint every `checkpoint_interval` rounds keeps the plan
    from accreting one join per round: a long chain (many rounds) must
    not produce a logical plan orders of magnitude deeper than a short
    one."""
    from parquet_sampler_spark.operators.dedup import duplicate_clusters

    def plan_len(n_nodes):
        nodes = spark.createDataFrame(
            [(i, "x") for i in range(n_nodes)], "doc_id long, t string"
        )
        chain = spark.createDataFrame(
            [(i, i + 1, 1.0) for i in range(n_nodes - 1)],
            "id_a long, id_b long, jaccard double",
        )
        out = duplicate_clusters(nodes, chain, "doc_id",
                                 checkpoint_interval=3)
        assert out.filter(F.col("cluster") != 0).count() == 0
        return len(out._jdf.queryExecution().optimizedPlan().toString())

    short, long_ = plan_len(4), plan_len(16)
    # without checkpointing the 16-node chain's plan is ~5× the 4-node
    # one; with it, both end within one checkpoint window of each other
    assert long_ < short * 3, (short, long_)


def test_decontaminate_drops_benchmark_overlap(spark):
    """A training doc that substantially overlaps a benchmark doc is
    dropped; unrelated docs survive; the benchmark itself is untouched."""
    from parquet_sampler_spark.operators.dedup import (
        cross_ngram_jaccard_pairs,
        decontaminate,
    )

    bench = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog"),   # exact
         (101, "a completely different training sentence here"),
         (102, "the quick brown fox jumps over the sleepy dog")],  # near
        "doc_id long, text string",
    )
    pairs = {(r.id_a, r.id_b): r.jaccard
             for r in cross_ngram_jaccard_pairs(
                 corpus, bench, "doc_id", "text", n=2,
                 threshold=0.5).collect()}
    assert (100, 1) in pairs and pairs[(100, 1)] == 1.0
    assert (102, 1) in pairs  # shares 6 of 10 distinct bigrams
    kept = sorted(r.doc_id for r in decontaminate(
        corpus, bench, "doc_id", "text", n=2, threshold=0.5).collect())
    assert kept == [101]


def test_minhash_query_params_recall_is_one(documents):
    """The minhash_pairs driver oracle is the exact threshold-pairs SQL,
    valid because recall at the REGISTERED query's parameters is
    deterministically 1 on this corpus (seeded signatures, no RNG). Pin
    the full equality — including jaccard values — so parameter or data
    drift fails here before it fails the driver gate."""
    from parquet_sampler_spark.queries_ext import _JACCARD_N, _JACCARD_T

    exact = {(r.id_a, r.id_b, r.jaccard)
             for r in ngram_jaccard_pairs(
                 documents, "doc_id", "text",
                 n=_JACCARD_N, threshold=_JACCARD_T).collect()}
    approx = {(r.id_a, r.id_b, r.jaccard)
              for r in minhash_lsh_pairs(
                  documents, "doc_id", "text",
                  n=_JACCARD_N, threshold=_JACCARD_T,
                  num_hashes=32, bands=8).collect()}
    assert approx == exact


def test_clusters_reliable_checkpoint_dir(spark, tmp_path):
    """duplicate_clusters with checkpoint_dir: same labels as the
    localCheckpoint path on a chain graph long enough to cross the
    checkpoint_interval boundary."""
    from parquet_sampler_spark.operators.dedup import duplicate_clusters

    n = 12
    df = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    fast = {
        r.doc_id: r.cluster
        for r in duplicate_clusters(
            df, pairs, "doc_id", checkpoint_interval=2
        ).collect()
    }
    reliable = {
        r.doc_id: r.cluster
        for r in duplicate_clusters(
            df, pairs, "doc_id", checkpoint_interval=2,
            checkpoint_dir=str(tmp_path / "ckpt"),
        ).collect()
    }
    assert fast == reliable == {i: 0 for i in range(n)}


def test_simhash_band_df_cap_subset_and_identity(documents):
    """max_band_df (the banding analog of max_shingle_df): a huge cap
    changes nothing; a tight cap only removes pairs (precision and
    emitted Hamming distances stay exact on the survivors)."""
    base = {(r.id_a, r.id_b): r.hamming
            for r in simhash_pairs(documents, "doc_id", "text",
                                   max_hamming=3).collect()}
    huge = {(r.id_a, r.id_b): r.hamming
            for r in simhash_pairs(documents, "doc_id", "text",
                                   max_hamming=3,
                                   max_band_df=10**9).collect()}
    assert huge == base
    capped = {(r.id_a, r.id_b): r.hamming
              for r in simhash_pairs(documents, "doc_id", "text",
                                     max_hamming=3,
                                     max_band_df=8).collect()}
    assert set(capped) <= set(base)
    for k, v in capped.items():
        assert v == base[k]


def test_shingle_df_cap_underestimates_never_false_pairs(documents):
    """max_shingle_df's contract (the jaccard_pairs_capped surface):
    per-pair emitted jaccard is an UNDER-estimate of the exact value
    (cap prunes the intersection count only; the union denominator
    stays exact), so the capped pair set is a SUBSET of the exact one
    — precision is structurally exact, recall is what the cap
    trades."""
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            documents, "doc_id", "text", n=2, threshold=0.5
        ).collect()
    }
    capped = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            documents, "doc_id", "text", n=2, threshold=0.5,
            max_shingle_df=42,
        ).collect()
    }
    assert set(capped) <= set(exact)
    for pair, j in capped.items():
        assert j <= exact[pair] + 1e-12
    # the sf0.01 corpus's df ceiling is 46, so 42 BINDS: at least one
    # pair's jaccard must actually drop (else the registered capped
    # row would be exercising nothing)
    assert any(j < exact[p] - 1e-12 for p, j in capped.items())


def test_lsh_pair_graph_matches_exact_pairs(spark):
    """The shared dup-pair graph (LSH candidates + exact verify) and
    the exact inverted-index join produce the same qualifying pairs on
    this corpus: the empirical equivalence the minhash_pairs oracle
    pins, and the comparison to run when a graph consumer goes red on
    a new corpus."""
    from parquet_sampler_spark import queries_ext as QX

    sf = "/root/testdata/sf0.001"

    def pairs(df):
        return {(r.id_a, r.id_b) for r in df.collect()}

    lsh = pairs(QX._dup_graph_cached(spark, sf))
    exact = pairs(QX._jaccard_pairs_cached(spark, sf))
    assert lsh == exact and lsh


def test_registered_dup_clusters_reliable_checkpoint_e2e(
    spark, monkeypatch, tmp_path
):
    """End-to-end reliable checkpointing on the REGISTERED query
    (VERDICT r06 task 6): PSX_CHECKPOINT_DIR + PSX_CHECKPOINT_INTERVAL=1
    route dup_clusters' label-propagation truncation through real
    checkpoint() files to fixpoint. Asserts (a) identical labels vs the
    default localCheckpoint run and (b) RDD checkpoint blocks actually
    landed in the requested dir — proof the reliable path executed, not
    just that the flag parsed."""
    from parquet_sampler_spark import queries_ext as QX

    sf = "/root/testdata/sf0.001"
    monkeypatch.delenv("PSX_CHECKPOINT_DIR", raising=False)
    monkeypatch.delenv("PSX_CHECKPOINT_INTERVAL", raising=False)
    base = {
        r.doc_id: r.cluster
        for r in QX._q_dup_clusters(spark, sf).collect()
    }

    ckpt = tmp_path / "reliable_ckpt"
    monkeypatch.setenv("PSX_CHECKPOINT_DIR", str(ckpt))
    monkeypatch.setenv("PSX_CHECKPOINT_INTERVAL", "1")
    reliable = {
        r.doc_id: r.cluster
        for r in QX._q_dup_clusters(spark, sf).collect()
    }
    assert reliable == base and base

    blocks = [p for p in ckpt.rglob("*") if p.is_file()]
    assert blocks, "no checkpoint blocks written under PSX_CHECKPOINT_DIR"


# ---------------------------------------------------------------------------
# ngram_dup_spans (r09): cross-document repeated-n-gram spans
# ---------------------------------------------------------------------------


def _spans(spark, rows, n=4, min_df=2):
    from parquet_sampler_spark.operators.dedup import ngram_dup_spans

    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = ngram_dup_spans(df, "doc_id", "text", n=n, min_df=min_df)
    return sorted(
        (r.doc_id, r.span_start, r.span_end, r.span_tokens, r.n_dup_windows)
        for r in out.collect()
    )


def test_ngram_dup_spans_shared_run_bounds(spark):
    # docs 1 and 2 share the exact 6-token run "a b c d e f" at
    # different offsets; doc 3 is unrelated. With n=4 the duplicated
    # windows in doc 1 start at positions 3..5 (1-based), merging into
    # one span covering tokens 3..8 — exactly the shared run.
    rows = [
        (1, "x y a b c d e f q r"),
        (2, "a b c d e f z w v u"),
        (3, "totally unrelated words that never repeat anywhere else okay"),
    ]
    got = _spans(spark, rows, n=4)
    assert got == [
        (1, 3, 8, 6, 3),  # windows at 3,4,5 -> span tokens 3..8
        (2, 1, 6, 6, 3),
    ]


def test_ngram_dup_spans_two_separated_runs_make_two_spans(spark):
    # doc 1 shares run A with doc 2 and run B with doc 3; the runs sit
    # far enough apart (> n tokens gap) that they must NOT merge.
    run_a = "alpha beta gamma delta"
    run_b = "omega psi chi phi"
    rows = [
        (1, f"{run_a} f1 f2 f3 f4 f5 f6 {run_b}"),
        (2, f"{run_a} junk1 junk2 junk3 junk4 junk5 junk6 junk7"),
        (3, f"pad1 pad2 pad3 pad4 pad5 pad6 pad7 {run_b}"),
    ]
    got = _spans(spark, rows, n=4)
    assert got == [
        (1, 1, 4, 4, 1),
        (1, 11, 14, 4, 1),
        (2, 1, 4, 4, 1),
        (3, 8, 11, 4, 1),
    ]


def test_ngram_dup_spans_touching_windows_merge(spark):
    # duplicated windows at positions p and p+n touch (no token gap):
    # they must merge into ONE span even though they share no window.
    shared = "s1 s2 s3 s4 s5 s6 s7 s8"  # 8 tokens = two touching 4-windows
    rows = [
        (1, f"{shared} tail1 tail2"),
        (2, f"lead1 lead2 {shared}"),
    ]
    got = _spans(spark, rows, n=4)
    # all 5 sliding windows over the 8-token run are duplicated -> one
    # span covering the whole run in each doc
    assert got == [
        (1, 1, 8, 8, 5),
        (2, 3, 10, 8, 5),
    ]


def test_ngram_dup_spans_within_doc_repetition_not_flagged(spark):
    # the 4-gram repeats INSIDE doc 1 only — min_df counts distinct
    # docs, so nothing is emitted.
    rows = [
        (1, "r1 r2 r3 r4 mid1 mid2 r1 r2 r3 r4"),
        (2, "nothing in common with the other document at all here"),
    ]
    assert _spans(spark, rows, n=4) == []


def test_ngram_dup_spans_short_docs_and_validation(spark):
    from parquet_sampler_spark.operators.dedup import ngram_dup_spans

    rows = [(1, "a b c"), (2, "a b c")]  # shorter than n=4 -> no windows
    assert _spans(spark, rows, n=4) == []
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with pytest.raises(ValueError):
        ngram_dup_spans(df, "doc_id", "text", n=0)
    with pytest.raises(ValueError):
        ngram_dup_spans(df, "doc_id", "text", n=4, min_df=1)


# ---------------------------------------------------------------------------
# contaminated_spans (r12): cross-corpus span-level decontamination
# ---------------------------------------------------------------------------


def _contam_spans(spark, train_rows, bench_rows, n=4, **kw):
    from parquet_sampler_spark.operators.dedup import contaminated_spans

    train = spark.createDataFrame(train_rows, "doc_id long, text string")
    bench = spark.createDataFrame(bench_rows, "doc_id long, text string")
    out = contaminated_spans(train, bench, "doc_id", "text", n=n, **kw)
    return sorted(
        (r.doc_id, r.span_start, r.span_end, r.span_tokens,
         r.n_contam_windows)
        for r in out.collect()
    )


def test_contaminated_spans_flags_benchmark_quotes_only(spark):
    # train doc 10 quotes the benchmark's 6-token run at offset 2;
    # doc 11 shares a run with doc 10 but NOT with the benchmark —
    # cross-TRAIN duplication must not be flagged (that is
    # ngram_dup_spans's job, not decontamination's).
    bench = [(1, "a b c d e f")]
    train = [
        (10, "x y a b c d e f q r"),
        (11, "x y shared run only with other train docs here now"),
        (12, "shared run only with other train docs appears again too"),
    ]
    got = _contam_spans(spark, train, bench, n=4)
    assert got == [(10, 3, 8, 6, 3)]


def test_contaminated_spans_separated_quotes_make_two_spans(spark):
    bench = [(1, "alpha beta gamma delta"), (2, "omega psi chi phi")]
    train = [(10, "alpha beta gamma delta f1 f2 f3 f4 f5 omega psi chi phi")]
    got = _contam_spans(spark, train, bench, n=4)
    assert got == [(10, 1, 4, 4, 1), (10, 10, 13, 4, 1)]


def test_contaminated_spans_broadcast_off_identical(spark):
    bench = [(1, "a b c d e f"), (2, "alpha beta gamma delta epsilon")]
    train = [
        (10, "x y a b c d e f q r"),
        (11, "pad1 alpha beta gamma delta epsilon pad2"),
        (12, "clean document sharing nothing with the benchmark corpus"),
    ]
    on = _contam_spans(spark, train, bench, n=4, bench_broadcast=True)
    off = _contam_spans(spark, train, bench, n=4, bench_broadcast=False)
    assert on == off and len(on) == 2


def test_contaminated_spans_short_docs_and_validation(spark):
    from parquet_sampler_spark.operators.dedup import contaminated_spans

    bench = [(1, "a b c")]
    train = [(10, "a b c")]  # both shorter than n=4 -> no windows
    assert _contam_spans(spark, train, bench, n=4) == []
    tdf = spark.createDataFrame(train, "doc_id long, text string")
    bdf = spark.createDataFrame(bench, "doc_id long, text string")
    with pytest.raises(ValueError):
        contaminated_spans(tdf, bdf, "doc_id", "text", n=0)


# ---------------------------------------------------------------------------
# bloom_decontaminate (r09)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def bloom_corpora(spark):
    bench = spark.createDataFrame(
        [(i, f"benchmark question number {i} with unique phrasing {i*7}")
         for i in range(10)],
        "doc_id long, text string",
    )
    clean = [(100 + i, f"ordinary training document body {i} entirely novel")
             for i in range(50)]
    # contaminated: exact copies of bench docs 2, 5, 9 under new ids
    dirty = [(1000 + i, f"benchmark question number {i} with unique "
              f"phrasing {i*7}") for i in (2, 5, 9)]
    corpus = spark.createDataFrame(
        clean + dirty, "doc_id long, text string"
    )
    return corpus, bench


def test_bloom_decontaminate_removes_exact_matches(spark, bloom_corpora):
    from parquet_sampler_spark.operators.dedup import bloom_decontaminate

    corpus, bench = bloom_corpora
    out = bloom_decontaminate(corpus, bench, "doc_id", "text")
    kept = sorted(r.doc_id for r in out.collect())
    assert kept == [100 + i for i in range(50)]


def test_bloom_decontaminate_probe_paths_agree(spark, bloom_corpora):
    from parquet_sampler_spark.operators.dedup import bloom_decontaminate

    corpus, bench = bloom_corpora
    a = bloom_decontaminate(corpus, bench, "doc_id", "text", probe="expr")
    b = bloom_decontaminate(corpus, bench, "doc_id", "text", probe="pandas")
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert ra == rb and len(ra) == 50


def test_bloom_prefilter_no_false_negatives_and_prunes(spark, bloom_corpora):
    # every true contaminant must pass the bloom expression (the k
    # probes of an identical fingerprint are identical), and the
    # filter must actually prune: with 10 bench docs x 4 probes in
    # 2^16 bits, clean docs are overwhelmingly rejected.
    from parquet_sampler_spark.functions.text import fingerprint
    from parquet_sampler_spark.operators.dedup import (
        _BLOOM_PROBES, _bloom_positions,
    )
    from parquet_sampler_spark.functions.hashing import MODULUS

    corpus, bench = bloom_corpora
    nbits = 1 << 16
    bench_pos = set()
    for r in bench.select(fingerprint("text").alias("fp")).collect():
        for a, c in _BLOOM_PROBES:
            bench_pos.add((int(r.fp) * a + c) % MODULUS % nbits)
    hits = 0
    for r in corpus.select(
        "doc_id", fingerprint("text").alias("fp")
    ).collect():
        probe = {(int(r.fp) * a + c) % MODULUS % nbits
                 for a, c in _BLOOM_PROBES}
        if probe <= bench_pos:
            hits += 1
        if r.doc_id >= 1000:  # true contaminant: must hit
            assert probe <= bench_pos
    assert hits <= 5  # 3 true + at most a couple false positives


def test_bloom_decontaminate_validation(spark, bloom_corpora):
    from parquet_sampler_spark.operators.dedup import bloom_decontaminate

    corpus, bench = bloom_corpora
    with pytest.raises(ValueError):
        bloom_decontaminate(corpus, bench, "doc_id", "text", nbits=100)
    with pytest.raises(ValueError):
        bloom_decontaminate(corpus, bench, "doc_id", "text", probe="nope")


def test_np_poly_fps_matches_jvm_fingerprint(spark):
    # the mapInPandas candidates path hashes with numpy; the bench
    # side and the oracle hash with the JVM/DuckDB expression — they
    # must agree on every string class or a true contaminant could
    # silently survive (false negative).
    import pandas as pd

    from parquet_sampler_spark.functions.hashing import MODULUS
    from parquet_sampler_spark.functions.text import fingerprint
    from parquet_sampler_spark.operators.dedup import _np_poly_fps

    cases = [
        "",              # empty -> 0
        "   ",           # spaces-only trims to empty -> 0
        "a",
        "  padded  ",    # trim parity
        "hello world",
        "x" * 5000,      # multi-chunk (chunk=1024) path
        ("abc " * 700).strip(),
        "café naïve 中文",  # non-ascii ord path
        "tab\tand\nnewline kept",             # only spaces trim
    ]
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cases)], "i long, text string"
    )
    jvm = {
        r.i: r.fp
        for r in df.select("i", fingerprint("text").alias("fp")).collect()
    }
    nps = _np_poly_fps(pd.Series(cases), MODULUS)
    for i, c in enumerate(cases):
        assert nps[i] == jvm[i], f"fp mismatch on case {i}: {c!r}"
    assert _np_poly_fps(pd.Series([None, "a"]), MODULUS)[0] == -1


def test_weighted_minhash_multiplicity_semantics(spark):
    # weighted Jaccard = sum(min tf)/sum(max tf): a doc repeating a
    # term is NOT identical to one mentioning it once (set Jaccard
    # would say 1.0); hand trace: A="x x x y", B="x y" ->
    # min: x:1+? -> sum(min)=1+1=2; max: 3+1=4 -> 0.5
    from parquet_sampler_spark.operators.dedup import minhash_lsh_pairs

    df = spark.createDataFrame(
        [(1, "x x x y"), (2, "x y")], "doc_id bigint, text string"
    )
    got = minhash_lsh_pairs(
        df, "doc_id", "text", threshold=0.4, weighted=True
    ).collect()
    assert len(got) == 1 and abs(got[0]["jaccard"] - 0.5) < 1e-12
    # the SET form calls them identical — the weighted row exists
    # precisely to separate these
    set_form = minhash_lsh_pairs(
        df, "doc_id", "text", threshold=0.4
    ).collect()
    assert len(set_form) == 1 and set_form[0]["jaccard"] == 1.0


def test_weighted_minhash_bigram_multiplicity(spark):
    # n=2 weighted (the registered shape): bigram multiset Jaccard.
    # A = "a b a b a" -> bigrams [ab, ba, ab, ba]: ab:2, ba:2
    # B = "a b a"     -> bigrams [ab, ba]:          ab:1, ba:1
    # sum(min) = 2, sum(max) = 4 -> j_w = 0.5 (the SET bigram form
    # would say 1.0 — both docs have exactly {ab, ba})
    from parquet_sampler_spark.operators.dedup import minhash_lsh_pairs

    df = spark.createDataFrame(
        [(1, "a b a b a"), (2, "a b a")], "doc_id bigint, text string"
    )
    got = minhash_lsh_pairs(
        df, "doc_id", "text", n=2, threshold=0.4, weighted=True
    ).collect()
    assert len(got) == 1 and abs(got[0]["jaccard"] - 0.5) < 1e-12
    set_form = minhash_lsh_pairs(
        df, "doc_id", "text", n=2, threshold=0.4
    ).collect()
    assert len(set_form) == 1 and set_form[0]["jaccard"] == 1.0


def test_weighted_minhash_windowed_matches_expression_path(spark):
    # weighted="windowed" (the long-document escape: row_number over
    # the exploded gram stream instead of the O(L^2) per-row
    # occurrence-index expression) must produce the IDENTICAL pair set
    # and jaccard values — including on docs long enough that the
    # quadratic path is the one being escaped, and on repeated-token
    # pathologies where occurrence indexes matter most
    import random

    from parquet_sampler_spark.operators.dedup import minhash_lsh_pairs

    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(30)]
    # 400 tokens: long enough that occurrence indexes repeat heavily
    # (13x per token on a 30-word vocab) yet the O(L^2) expression
    # path still terminates in test time
    long_a = " ".join(rng.choice(vocab) for _ in range(400))
    long_b = long_a.split(" ")
    # perturb 5% of positions -> a genuine near-dup of a LONG doc
    for i in rng.sample(range(400), 20):
        long_b[i] = rng.choice(vocab)
    rows = [
        (1, long_a),
        (2, " ".join(long_b)),
        (3, "x x x y"),
        (4, "x y"),
        (5, "boiler " * 50 + "plate"),
        (6, "boiler plate"),
        (7, None),
        (8, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    for kw in ({"n": 1, "threshold": 0.3}, {"n": 2, "threshold": 0.3}):
        expr = sorted(
            tuple(r) for r in minhash_lsh_pairs(
                df, "doc_id", "text", weighted=True, **kw
            ).collect()
        )
        win = sorted(
            tuple(r) for r in minhash_lsh_pairs(
                df, "doc_id", "text", weighted="windowed", **kw
            ).collect()
        )
        grp = sorted(
            tuple(r) for r in minhash_lsh_pairs(
                df, "doc_id", "text", weighted="grouped", **kw
            ).collect()
        )
        assert expr == win, kw
        assert win == grp, kw  # "windowed" is an alias of "grouped"
        assert any(p[:2] == (1, 2) for p in expr), kw  # long pair found


def test_weighted_rejects_unknown_strategy_string(spark):
    # a typo like "window" must error, not silently take the O(L^2)
    # expression path (ADVICE r11)
    import pytest

    from parquet_sampler_spark.operators.dedup import minhash_lsh_pairs

    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b")], "doc_id bigint, text string"
    )
    with pytest.raises(ValueError, match="windowed"):
        minhash_lsh_pairs(df, "doc_id", "text", weighted="window")


def test_windowed_verify_broadcast_escape(spark):
    # verify_broadcast=False must apply to windowed mode too (ADVICE
    # r11): same output, and the windowed verify plan carries no
    # broadcast-hinted candidate join when the escape is on
    from parquet_sampler_spark.operators.dedup import minhash_lsh_pairs

    rows = [
        (1, "a b c d e f"),
        (2, "a b c d e g"),
        (3, "x y z"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    kw = dict(n=1, threshold=0.3, weighted="windowed")
    hinted = minhash_lsh_pairs(df, "doc_id", "text", **kw)
    escaped = minhash_lsh_pairs(
        df, "doc_id", "text", verify_broadcast=False, **kw
    )
    got_h = sorted(tuple(r) for r in hinted.collect())
    got_e = sorted(tuple(r) for r in escaped.collect())
    assert got_h == got_e and any(p[:2] == (1, 2) for p in got_h)
    # the hinted plan broadcasts; the escaped one must not (AQE may
    # still CHOOSE a broadcast at this toy size, so pin the logical
    # hint, not the physical join): ResolvedHint appears only with
    # verify_broadcast=True
    assert "broadcast" in hinted._jdf.queryExecution().logical().toString().lower()
    assert "broadcast" not in escaped._jdf.queryExecution().logical().toString().lower()


def test_containment_catches_subsumption_jaccard_misses(spark):
    # the asymmetric case this operator exists for: a short doc quoted
    # wholesale inside a much longer one — containment ~1.0, jaccard
    # tiny — plus the cap contract (denominators exact, under-count
    # only) and direction semantics (cont_a = how much of A is in B)
    from parquet_sampler_spark.operators.dedup import (
        containment_pairs, ngram_jaccard_pairs,
    )

    quote = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i}" for i in range(60))
    rows = [
        (1, quote),                       # the short doc
        (2, filler + " " + quote),        # quotes doc 1 wholesale
        (3, "unrelated text entirely"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = containment_pairs(df, "doc_id", "text", n=2,
                            threshold=0.9).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["id_a"], r["id_b"]) == (1, 2)
    # all 5 of doc 1's 2-gram shingles appear in doc 2
    assert r["cont_a"] == 1.0
    assert r["cont_b"] < 0.2
    assert r["containment"] == 1.0
    # jaccard at the same threshold structurally misses it
    jac = ngram_jaccard_pairs(df, "doc_id", "text", n=2,
                              threshold=0.5).collect()
    assert jac == []
    # df cap: common shingles over the cap leave the join only —
    # under-estimate, never over-estimate
    capped = containment_pairs(df, "doc_id", "text", n=2, threshold=0.0,
                               max_shingle_df=1).collect()
    assert all(c["containment"] == 0.0 or c["cont_a"] <= 1.0
               for c in capped)
    assert not any(c["containment"] >= 0.9 for c in capped)


# ---------------------------------------------------------------------------
# winnow_pairs (r12): MOSS winnowing fingerprint candidates
# ---------------------------------------------------------------------------


def _winnow(spark, rows, **kw):
    from parquet_sampler_spark.operators.dedup import winnow_pairs

    df = spark.createDataFrame(rows, "doc_id long, text string")
    return sorted(
        (r.id_a, r.id_b, r.n_shared)
        for r in winnow_pairs(df, "doc_id", "text", **kw).collect()
    )


def test_winnow_guarantee_shared_run_detected(spark):
    # winnowing guarantees any shared token run of length >= w+k-1
    # (= 7 at k=4, w=4) yields at least one shared fingerprint
    run = "s1 s2 s3 s4 s5 s6 s7"
    rows = [
        (1, f"apple pear {run} cherry plum"),
        (2, f"{run} melon grape kiwi fig date"),
        (3, "entirely different words with no common run at all here"),
    ]
    got = _winnow(spark, rows, min_shared=1)
    ids = {(a, b) for a, b, _ in got}
    assert (1, 2) in ids
    assert not any(3 in p for p in ids)


def test_winnow_identical_docs_share_all_fingerprints(spark):
    text = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    rows = [(1, text), (2, text)]
    got = _winnow(spark, rows, min_shared=1)
    assert len(got) == 1
    a, b, n = got[0]
    # every fingerprint of doc 1 is shared; count equals the doc's
    # own deduped fingerprint count (positive, <= number of windows)
    assert (a, b) == (1, 2) and 1 <= n <= 4


def test_winnow_max_fp_df_cap_drops_hot_fingerprints(spark):
    # the same 7-token run in THREE docs: each pair shares its
    # fingerprints (df=3). Cap at 2 removes them from pair formation.
    run = "h1 h2 h3 h4 h5 h6 h7"
    rows = [
        (1, f"{run} a1 a2 a3"),
        (2, f"{run} b1 b2 b3"),
        (3, f"{run} c1 c2 c3"),
    ]
    uncapped = _winnow(spark, rows, min_shared=1)
    assert {(a, b) for a, b, _ in uncapped} == {(1, 2), (1, 3), (2, 3)}
    capped = _winnow(spark, rows, min_shared=1, max_fp_df=2)
    assert capped == []


def test_winnow_short_docs_and_validation(spark):
    from parquet_sampler_spark.operators.dedup import winnow_pairs

    rows = [(1, "a b c d e f"), (2, "a b c d e f")]  # < k+w-1 tokens
    assert _winnow(spark, rows, min_shared=1) == []
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for bad in (dict(k=0), dict(w=0), dict(min_shared=0),
                dict(max_fp_df="p99")):
        with pytest.raises(ValueError):
            winnow_pairs(df, "doc_id", "text", **bad)


def test_winnow_census_cap_equals_explicit_cap(spark):
    """r13 (VERDICT r12 #2): max_fp_df='census' must equal the
    explicit cap at the census's own recommendation on a planted
    corpus — a boilerplate run shared by ALL docs (the df head the
    census exists to cut) over a base of docs with a single genuine
    near-dup pair."""
    from parquet_sampler_spark.operators.dedup import (
        winnow_fp_census,
        winnow_pairs,
    )

    # 1000 docs so the fp population is large enough that the p99.9
    # rank sits BELOW the boilerplate head (a p99.9 census needs
    # ~1000+ observations before the top 0.1% is a real tail)
    boiler = "cookie banner accept terms privacy policy footer nav"
    pair_run = "p1 p2 p3 p4 p5 p6 p7 p8"
    rows = []
    for i in range(1, 1001):
        rows.append(
            (i, f"{boiler} u{i}a u{i}b u{i}c u{i}d u{i}e u{i}f u{i}g")
        )
    rows.append((2000, f"{pair_run} x1 x2 x3"))
    rows.append((2001, f"{pair_run} y1 y2 y3"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    census = winnow_fp_census(df, "doc_id", "text")
    # the boilerplate prints sit at df=1000 — strictly above the
    # p99.9 of the (mostly df=1) distribution, so the cap excludes
    # them from pair formation
    assert census["recommended_cap"] < census["max_df"] == 1000

    censused = _winnow(spark, rows, min_shared=1, max_fp_df="census")
    explicit = _winnow(
        spark, rows, min_shared=1,
        max_fp_df=census["recommended_cap"],
    )
    assert censused == explicit
    ids = {(a, b) for a, b, _ in censused}
    assert (2000, 2001) in ids         # the genuine pair survives
    assert not any(a <= 1000 and b <= 1000 for a, b in ids), (
        "boilerplate-only pairs must be cut by the censused cap"
    )


# ---------------------------------------------------------------------------
# scrub_contaminated_spans (r12): the cleaned-text write side
# ---------------------------------------------------------------------------


def _scrub(spark, train_rows, bench_rows, n=4, **kw):
    from parquet_sampler_spark.operators.dedup import (
        scrub_contaminated_spans,
    )

    train = spark.createDataFrame(train_rows, "doc_id long, text string")
    bench = spark.createDataFrame(bench_rows, "doc_id long, text string")
    out = scrub_contaminated_spans(train, bench, "doc_id", "text",
                                   n=n, **kw)
    return {r.doc_id: (r.n_tokens, r.n_kept, r.scrubbed_text)
            for r in out.collect()}


def test_scrub_cuts_exactly_the_span(spark):
    # doc 10 quotes the benchmark's 6-token run at positions 3-8 of
    # 10 tokens: scrubbed text = tokens 1,2,9,10 in order
    bench = [(1, "a b c d e f")]
    train = [
        (10, "x y a b c d e f q r"),
        (11, "clean doc sharing nothing with the benchmark corpus here"),
    ]
    got = _scrub(spark, train, bench, n=4)
    assert got[10] == (10, 4, "x y q r")
    assert got[11][0] == got[11][1] and got[11][2].startswith("clean doc")


def test_scrub_fully_contaminated_doc_empties(spark):
    bench = [(1, "a b c d e f")]
    train = [(10, "a b c d e f")]
    got = _scrub(spark, train, bench, n=4)
    assert got[10] == (6, 0, "")


def test_scrub_two_spans_keep_middle(spark):
    bench = [(1, "alpha beta gamma delta"), (2, "omega psi chi phi")]
    train = [(10, "alpha beta gamma delta m1 m2 m3 m4 m5 omega psi chi phi")]
    got = _scrub(spark, train, bench, n=4)
    assert got[10] == (13, 5, "m1 m2 m3 m4 m5")


def test_scrub_order_preserved_across_partitions(spark):
    # a longer doc repartitioned: the ordered reassembly must restore
    # original token order regardless of physical layout
    bench = [(1, "cut1 cut2 cut3 cut4")]
    toks = [f"t{i}" for i in range(30)]
    text = " ".join(toks[:10] + "cut1 cut2 cut3 cut4".split() + toks[10:])
    train_df_rows = [(10, text), (11, "unrelated filler text entirely")]
    got = _scrub(spark, train_df_rows, bench, n=4)
    assert got[10] == (34, 30, " ".join(toks))


# ---------------------------------------------------------------------------
# Incremental (batch-vs-index) MinHash
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def split_docs(spark):
    """Corpus (ids 1-4) and a new batch (ids 10-12): one batch doc is a
    verbatim re-crawl of corpus doc 1, one is a near-dup of corpus doc
    3, one is novel. Corpus also has an internal dup pair (1, 2) that
    must NOT appear in the cross output."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    near = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near2 = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    other = "completely different words appear within this little sentence here"
    novel = "nothing in the standing corpus resembles this fresh document text"
    corpus = spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, other)],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(10, base), (11, near2), (12, novel)],
        "doc_id long, text string",
    )
    return corpus, batch


def test_minhash_probe_finds_cross_pairs_only(split_docs):
    from parquet_sampler_spark.operators.dedup import minhash_probe_pairs

    corpus, batch = split_docs
    pairs = minhash_probe_pairs(
        corpus, batch, "doc_id", "text", n=2, threshold=0.5,
        num_hashes=32, bands=8,
    ).collect()
    got = {(r.id_a, r.id_b): r.jaccard for r in pairs}
    # verbatim re-crawl: jaccard exactly 1.0 against BOTH corpus copies
    assert got[(1, 10)] == 1.0 and got[(2, 10)] == 1.0
    # near-dup across the split is recalled and verified
    assert (3, 11) in got and 0.5 <= got[(3, 11)] < 1.0
    # novel batch doc pairs with nothing; corpus-internal dup (1,2)
    # and corpus ids never appear on the batch side
    assert all(b in (10, 11, 12) and a in (1, 2, 3, 4) for a, b in got)
    assert not any(b == 12 for _, b in got)


def test_minhash_index_matches_self_join_candidates(documents):
    """Recall parity contract: cross-split probe pairs == the
    cross-split subset of the whole-corpus LSH pairs (identical
    signatures, identical band condition)."""
    from parquet_sampler_spark.operators.dedup import minhash_probe_pairs

    is_batch = F.pmod(F.col("doc_id"), F.lit(10)) == 0
    cross = minhash_probe_pairs(
        documents.filter(~is_batch), documents.filter(is_batch),
        "doc_id", "text", n=2, threshold=0.5, num_hashes=32, bands=8,
    )
    full = minhash_lsh_pairs(
        documents, "doc_id", "text", n=2, threshold=0.5,
        num_hashes=32, bands=8,
    )
    want = {
        (r.id_a, r.id_b) if r.id_b % 10 == 0 else (r.id_b, r.id_a)
        for r in full.collect()
        if (r.id_a % 10 == 0) != (r.id_b % 10 == 0)
    }
    got = {(r.id_a, r.id_b) for r in cross.collect()}
    assert got == want


def test_minhash_admit_batch_rules(split_docs, spark):
    """Admission: corpus-dups and junior batch-internal dups rejected;
    novel docs admitted; the senior of a batch-internal pair survives
    even though its junior is rejected."""
    from parquet_sampler_spark.operators.dedup import minhash_admit_batch

    corpus, batch = split_docs
    novel = "nothing in the standing corpus resembles this fresh document text"
    batch2 = batch.unionAll(
        spark.createDataFrame([(13, novel)], "doc_id long, text string")
    )
    admitted = sorted(
        r.doc_id
        for r in minhash_admit_batch(
            corpus, batch2, "doc_id", "text",
            n=2, threshold=0.5, num_hashes=32, bands=8,
        ).collect()
    )
    # 10 dups corpus 1/2; 11 dups corpus 3; 13 dups senior 12 -> only
    # 12 (the novel senior) is admitted
    assert admitted == [12]


def test_exact_dup_probe_semantics(spark):
    """Verbatim batch copies map to the SMALLEST matching corpus id;
    multi-column fingerprints cannot alias across the separator."""
    from parquet_sampler_spark.operators.dedup import exact_dup_probe

    corpus = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(10, "same text"), (11, "novel")],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.dup_of)
        for r in exact_dup_probe(corpus, batch, "doc_id", ["text"])
        .collect()
    }
    assert got == {(10, 1)}  # min corpus id wins; novel emits nothing

    c2 = spark.createDataFrame(
        [(1, "ab", "c")], "doc_id long, a string, b string"
    )
    b2 = spark.createDataFrame(
        [(10, "a", "bc"), (11, "ab", "c")],
        "doc_id long, a string, b string",
    )
    got2 = {
        (r.doc_id, r.dup_of)
        for r in exact_dup_probe(c2, b2, "doc_id", ["a", "b"]).collect()
    }
    assert got2 == {(11, 1)}  # ("a","bc") must NOT alias ("ab","c")
