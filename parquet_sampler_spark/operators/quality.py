"""Corpus-statistics quality scoring: n-gram-LM rarity filtering and
fixed-point TF-IDF term extraction.

Reference parity note: the reference engine (andreaskipf/parquet-sampler,
lib.rs:13-134) has no corpus-statistics operator — this module is part
of the mandated beyond-reference LLM-pipeline scope. Semantics follow
the CCNet recipe (Wenzek et al. 2020, "CCNet: Extracting High Quality
Monolingual Datasets from Web Crawl Data"): score every document by a
language-model statistic computed against corpus-wide gram
frequencies, then keep/drop at a threshold. A true KenLM perplexity is
a transcendental (sum of logs); both engines' ``ln`` differ in the last
ulp, so the value-hash contract instead uses the EXACT-ARITHMETIC
analog: per-gram rarity ``total DIV cnt(gram)`` (the integer part of
inverse relative frequency — monotone in -log p) with integer
stupid-backoff (:func:`ngram_rarity`), summed per document in bigint.
Every number either engine produces is an integer, so the oracle
comparison is exact at any row order.

All plans are DataFrame-native (explode fused into the scan, map-side
partial aggregation, broadcast of the vocabulary-sized statistics
table) — no Python UDFs, no driver collects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from parquet_sampler_spark.functions.text import word_ngrams
from parquet_sampler_spark.plans.cache import persist as _persist
from parquet_sampler_spark.plans.skew import drop_hot_keys


# Driver-safety bound for the inline (model-shipped) scoring path: a
# CPython dict costs ~100 bytes/entry, so 2·10^7 entries ≈ 2 GB of
# driver heap — past that the model no longer "ships everywhere" and
# the broadcast/shuffle JOIN path is the right plan. The guard exists
# because the 2^53 assert bounds value MAGNITUDE, not dictionary
# CARDINALITY (r12 VERDICT): a boilerplate-free web corpus's bigram
# vocabulary would OOM the driver before any magnitude assert fired.
INLINE_VOCAB_MAX_ROWS = 20_000_000

_COUNT_COL = {1: "n_tokens", 2: "n_bigrams", 3: "n_trigrams"}


def _guard_inline_vocab(model: DataFrame, what: str) -> None:
    """Raise before a driver ``.collect()`` of a model table whose row
    count exceeds the driver-safe bound, naming the join path as the
    escape. One cheap ``count()`` per (persisted) model table. The
    bound is read at call time so deployments (and tests) can adjust
    ``INLINE_VOCAB_MAX_ROWS`` module-wide."""
    n = model.count()
    if n > INLINE_VOCAB_MAX_ROWS:
        raise ValueError(
            f"{what} has {n} rows > inline bound {INLINE_VOCAB_MAX_ROWS}; "
            "collecting it would exhaust driver memory — use the join "
            "path (inline=False), which broadcasts or shuffle-joins the "
            "model instead of shipping it through the driver"
        )


def _doc_grams(
    df: DataFrame, id_col: str, text_col: str, n: int = 1, alias: str = "tok"
) -> DataFrame:
    """One row per consecutive ``n``-token gram ``(id_col, alias)``
    (space-joined, from the shared gram builder functions/text.
    word_ngrams — same tokenize/slide/short-doc semantics as every
    shingle in the repo; ``n=1`` is one row per token occurrence).
    NULL / empty / whitespace-only documents and documents with fewer
    than ``n`` tokens contribute nothing (matching ``token_count``'s
    zero for them)."""
    t = F.trim(F.col(text_col))
    return (
        df.filter(t.isNotNull() & (F.length(t) > 0))
        .select(
            F.col(id_col),
            F.explode(word_ngrams(text_col, n)).alias(alias),
        )
    )


def ngram_rarity(
    df: DataFrame,
    id_col: str,
    text_col: str,
    order: int,
    *,
    scale: int = 1000,
    penalty: int = 3,
    keep_below: int | None = None,
    fit_df: DataFrame | None = None,
    inline: bool = False,
    broadcast_vocab: bool = True,
) -> DataFrame:
    """CCNet-style n-gram-LM quality scores (``order`` 1, 2 or 3),
    exact-arithmetic variant with integer stupid-backoff.

    Model (fit corpus): for every order k ≤ ``order`` the gram counts
    ``cnt_k`` and ``total_k = Σ cnt_k``; a gram's rarity is ``r_k =
    total_k DIV cnt_k`` (bigint — inverse relative frequency, the
    exact-integer analog of surprisal). Each gram ``w1…wn`` of the
    scored corpus scores

        ``coalesce(r_n(w1…wn), p·r_{n−1}(w2…wn), …, p^{n−1}·r_1(wn),
        p^{n−1}·total_1)``

    with ``p = penalty`` — the integer analog of stupid backoff
    (Brants et al. 2007: score λ·S(suffix) when the gram is unseen;
    ``penalty`` ≈ 1/λ, an integer so both engines agree exactly). The
    last term is the CCNet-style out-of-vocabulary rarity: an unseen
    token is maximally surprising (rarer than any observed singleton,
    whose rarity is ``total_1 DIV 1`` too; the integer analog of
    KenLM's unknown-token penalty). At ``order=1`` the rule is
    ``coalesce(r_1, total_1)``.

    Output per document with ≥ ``order`` tokens:

    * ``n_tokens`` / ``n_bigrams`` / ``n_trigrams`` — grams in the
      document,
    * ``sum_rarity`` — Σ score over its grams,
    * ``mean_rarity_scaled`` — ``(scale * sum_rarity) DIV n`` (fixed-
      point mean; high = rare/unusual text = the documents a
      perplexity filter drops),
    * ``kept`` — ``mean_rarity_scaled <= keep_below`` when a threshold
      is given (CCNet keeps the low-perplexity head/middle).

    ``fit_df`` (cross-corpus / holdout mode) fits the model on a
    DIFFERENT corpus than the one being scored — the tokenizer
    lifecycle (fit once, apply to every new corpus). Without it the
    model is fit on ``df`` itself, every scored top-order gram is in
    the model, and the join scorer inner-joins the top-order table
    only — no backoff joins, no OOV branch in the plan.

    Plan shape (the 100 TB contract): ONE scan of the fit corpus feeds
    ONE ``(order, gram)`` hash aggregate (map-side partial — cost ∝
    corpus tokens, output ∝ vocabulary); its rarity table is broadcast
    back onto the scored gram stream once per backoff level (back-off
    keys are per-row string expressions on the same stream — no extra
    corpus pass), then ONE per-document aggregation. The corpus text
    itself is never shuffled. A web-scale bigram/trigram vocabulary
    (~10⁸ rows) can exceed broadcast — pass ``broadcast_vocab=False``
    to drop the hints and let AQE pick shuffle joins.

    ``inline=True`` switches scoring to the CCNet-at-scale shape: the
    model tables are collected (bounded by VOCABULARY size — the
    model, not the corpus; each order guarded at
    ``INLINE_VOCAB_MAX_ROWS``) and shipped into an Arrow-batched
    ``mapInPandas`` scorer that scores each document in place — NO
    join, NO shuffle of anything, the way CCNet distributes its KenLM
    model to every worker. Same output, pinned equal to the join path
    by test. Use it when a downstream stage would otherwise join the
    per-doc verdict back to the corpus (the verdict list is
    corpus-sized and stops broadcasting around ~10^8 docs). It is NOT
    the escape for a model past broadcast capacity: it collects the
    model to the driver, so there the shuffle-join path is the only
    correct plan.
    """
    if order not in _COUNT_COL:
        raise ValueError(f"order must be 1, 2 or 3, got {order}")
    if scale < 1:
        raise ValueError(f"scale must be >= 1, got {scale}")
    if penalty < 1:
        raise ValueError(f"penalty must be >= 1, got {penalty}")
    counts = _fit_counts(df if fit_df is None else fit_df, text_col, order)
    if inline:
        scored = _score_inline(
            df, id_col, text_col, counts, order, scale, penalty
        )
    else:
        scored = _score_join(
            df, id_col, text_col, counts, order, scale, penalty,
            self_fit=fit_df is None, broadcast_vocab=broadcast_vocab,
        )
    if keep_below is not None:
        scored = scored.withColumn(
            "kept", F.col("mean_rarity_scaled") <= F.lit(keep_below)
        )
    return scored


def _fit_counts(fit: DataFrame, text_col: str, order: int) -> DataFrame:
    """The fitted model: one ``(__o, __g, __cnt)`` row per distinct
    gram of every order 1..``order``.

    ONE tokenize pass fits all model orders (r14 optimization round,
    guide §2.3 "aggregate before you shuffle" / §1.2): deriving each
    order's vocabulary with its own scan→explode→aggregate pipeline
    costs one full corpus scan per order. Here every order's grams
    explode from one scan as (order, gram) rows into ONE hash
    aggregate, so the corpus is read once and shuffled once. Counts
    per (order, gram) are identical to the per-order pipelines', so
    the fitted model — and every scored row — is value-identical."""

    def tagged(k):
        return F.transform(
            word_ngrams(text_col, k),
            lambda g: F.struct(F.lit(k).alias("o"), g.alias("g")),
        )

    t = F.trim(F.col(text_col))
    return (
        fit.filter(t.isNotNull() & (F.length(t) > 0))
        .select(
            F.explode(
                F.concat(*[tagged(k) for k in range(1, order + 1)])
            ).alias("og")
        )
        .select(F.col("og.o").alias("__o"), F.col("og.g").alias("__g"))
        .groupBy("__o", "__g")
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )


def _score_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    counts: DataFrame,
    order: int,
    scale: int,
    penalty: int,
    *,
    self_fit: bool,
    broadcast_vocab: bool,
) -> DataFrame:
    """Join scorer: the rarity table LEFT-joined once per backoff level
    on the scored gram's length-k suffix ``__g{k}`` (``__g{order}`` is
    the gram itself), then the coalesce chain and one per-document
    aggregation. A self-corpus fit joins the top level only, INNER:
    every scored gram is in the model.

    ONE rarity table serves every level: a k-gram holds exactly k−1
    spaces (tokens never hold one), so a length-k key can only match
    an order-k row. Every consumer reads ``counts`` unfiltered — a
    per-order filter would push through the aggregate and fork one
    fit-corpus scan per order — so the totals, the rarity table and
    every level's join share the one aggregate's exchange."""
    n_col = _COUNT_COL[order]
    totals = F.broadcast(counts.groupBy().agg(*[
        F.sum(F.when(F.col("__o") == k, F.col("__cnt")))
        .cast("bigint")
        .alias(f"__t{k}")
        for k in range(1, order + 1)
    ]))
    t_k = ", ".join(f"__t{k}" for k in range(1, order + 1))
    rar = counts.crossJoin(totals).select(
        "__g",
        F.expr(f"element_at(array({t_k}), __o) DIV __cnt")
        .cast("bigint")
        .alias("__r"),
    )
    if broadcast_vocab:
        rar = F.broadcast(rar)
    levels = [order] if self_fit else list(range(order, 0, -1))
    toks = F.split(F.col(f"__g{order}"), " ")
    grams = _doc_grams(df, id_col, text_col, order, f"__g{order}").select(
        "*",
        *[
            F.concat_ws(" ", F.slice(toks, order - k + 1, k)).alias(f"__g{k}")
            for k in levels[1:]
        ],
    )
    for k in levels:
        grams = grams.join(
            rar.select(
                F.col("__g").alias(f"__g{k}"), F.col("__r").alias(f"__r{k}")
            ),
            f"__g{k}",
            "inner" if self_fit else "left",
        )
    if self_fit:
        r = F.col(f"__r{order}")
    else:
        grams = grams.crossJoin(totals)
        r = F.coalesce(
            *[F.lit(penalty ** (order - k)) * F.col(f"__r{k}") for k in levels],
            F.lit(penalty ** (order - 1)) * F.col("__t1"),
        )
    return (
        grams.select(id_col, r.alias("__r"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias(n_col),
            F.sum("__r").cast("bigint").alias("sum_rarity"),
        )
        .select(
            id_col,
            n_col,
            "sum_rarity",
            F.expr(f"({scale} * sum_rarity) DIV {n_col}")
            .cast("bigint")
            .alias("mean_rarity_scaled"),
        )
    )


def _score_inline(
    df: DataFrame,
    id_col: str,
    text_col: str,
    counts: DataFrame,
    order: int,
    scale: int,
    penalty: int,
) -> DataFrame:
    """Inline (model-shipped) scoring: collect the ``(__o, __g,
    __cnt)`` model (each order cardinality-guarded), derive the
    rarity dict and per-order totals driver-side, and score every
    document in one Arrow-batched ``mapInPandas`` pass — no join, no
    shuffle. Integer arithmetic only, so the result is bit-identical
    to the join path at any batch split (pinned by test).

    Tokenization parity with the join path (``_doc_grams``): Spark's
    ``F.trim`` strips SPACES only, so the pandas side strips ``' '`` —
    not all whitespace — before splitting (a doc like ``'\\tc x'``
    must tokenize identically on both paths). The scoring pass is
    columnar pandas (split / explode / shift / dict-map / coalesce /
    groupby-sum) — no Python-level per-document loop.

    Exactness contract: every mapped value must survive the float64
    round-trip through ``Series.map``/``fillna``; the largest score
    reachable at backoff level k is ``p^{order−k}·total_k``, so each
    is asserted < 2^53 (fail loudly rather than corrupt sums), and the
    per-document sums accumulate in int64."""
    import pandas as pd

    from pyspark.sql import types as T

    # persisted: the guard counts and the collect each re-read it
    counts = _persist(counts)
    for k in range(1, order + 1):
        _guard_inline_vocab(
            counts.filter(F.col("__o") == k), f"order-{k} model"
        )
    rows = counts.collect()
    totals = [0] * (order + 1)
    for o, _, c in rows:
        totals[o] += c
    if any(
        penalty ** (order - k) * totals[k] >= 2**53
        for k in range(1, order + 1)
    ):
        raise ValueError(
            f"fit corpus too large: penalty**(order-k) * total_k >= 2**53 "
            f"(totals {totals[1:]}); inline scoring would lose exactness "
            "through float64 — use the join path"
        )
    # one dict for every order, as in the join path: a k-gram holds
    # exactly k−1 spaces, so keys of different orders never collide
    rar = {g: totals[o] // c for o, g, c in rows}
    n_col = _COUNT_COL[order]
    cols = [id_col, n_col, "sum_rarity", "mean_rarity_scaled"]
    schema = T.StructType(
        [df.schema[id_col]]
        + [T.StructField(c, T.LongType(), False) for c in cols[1:]]
    )

    def score(batches):
        for pdf in batches:
            t = pdf[text_col].dropna().str.strip(" ")
            ex = t[t != ""].str.split(" ").explode()
            w = pd.DataFrame({"row": ex.index, "w0": ex.values})
            # consecutive grams via order−1 GLOBAL shifts + a
            # same-document mask: a position starts a gram iff the
            # next order−1 positions belong to the same document, so
            # masking on the shifted row label is exactly the per-doc
            # shift without pandas' groupby.shift (measured 4.5×
            # slower than the join path at sf10; the groupby was the
            # hot spot — the global-shift form is pure vectorized ops)
            same = pd.Series(True, index=w.index)
            for j in range(1, order):
                w[f"w{j}"] = w["w0"].shift(-j)
                same &= w["row"].eq(w["row"].shift(-j))
            w = w[same]
            if w.empty:
                yield pd.DataFrame(columns=cols).astype(
                    {c: "int64" for c in cols[1:]}
                )
                continue
            # the backoff chain folded from the shortest suffix up:
            # Series.map(dict) yields NaN for an unseen key, which
            # fillna replaces with the next-shorter level's score
            key = w[f"w{order - 1}"]
            r = key.map(rar).fillna(totals[1]) * penalty ** (order - 1)
            for k in range(2, order + 1):
                key = w[f"w{order - k}"] + " " + key
                r = key.map(rar).mul(penalty ** (order - k)).fillna(r)
            s = r.astype("int64").groupby(w["row"]).sum()
            n = w.groupby("row").size().astype("int64")
            out = pd.DataFrame(
                {
                    id_col: pdf[id_col].loc[s.index],
                    n_col: n,
                    "sum_rarity": s,
                    "mean_rarity_scaled": (scale * s) // n,
                }
            )
            yield out[cols]

    return df.select(id_col, text_col).mapInPandas(score, schema)


def tfidf_top_terms(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    scale: int = 1_000_000,
    broadcast_vocab: bool = True,
) -> DataFrame:
    """Top-``k`` terms per document by fixed-point TF-IDF.

    ``tf(d, t)`` is the term's occurrence count in the document;
    ``idf`` uses the exact-integer fixed-point form
    ``(scale * n_docs) DIV df(t)`` (inverse document-frequency ratio —
    monotone in the classic ``ln(N/df)``, but transcendental-free so
    both engines agree bit-for-bit); ``score_scaled = tf * idf``.
    Per document the top ``k`` terms by ``(score_scaled DESC, term
    ASC)`` are kept with their 1-based ``rank`` — the deterministic
    tie-break makes the output value-hash stable.

    Output: ``(id_col, term, tf, score_scaled, rank)``. Documents with
    zero tokens contribute nothing.

    Plan shape (the 100 TB contract): ONE (doc, term) hash-aggregation
    over the exploded token stream (map-side partial), the term-level
    document-frequency table derived from it (output ∝ vocabulary) and
    broadcast back (``broadcast_vocab=False`` = AQE shuffle-join
    escape), the 1-row corpus document count broadcast-crossed, and
    ONE per-document window for the top-k — every shuffle carries
    (id, term) pairs, never document text.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if scale < 1:
        raise ValueError(f"scale must be >= 1, got {scale}")
    toks = _doc_grams(df, id_col, text_col)
    tf = (
        toks.groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    docfreq = tf.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("__df")
    )
    ndocs = tf.select(id_col).distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("__n")
    )
    idf = (
        docfreq.crossJoin(F.broadcast(ndocs))
        .select(
            "tok",
            F.expr(f"({scale} * __n) DIV __df")
            .cast("bigint")
            .alias("__idf"),
        )
    )
    if broadcast_vocab:
        idf = F.broadcast(idf)
    w = Window.partitionBy(id_col).orderBy(
        F.col("score_scaled").desc(), F.col("term").asc()
    )
    return (
        tf.join(idf, "tok")
        .select(
            id_col,
            F.col("tok").alias("term"),
            "tf",
            (F.col("tf") * F.col("__idf"))
            .cast("bigint")
            .alias("score_scaled"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def gopher_rules(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_tokens: int = 20,
    max_tokens: int = 100_000,
    min_word_len: int = 3,
    max_word_len: int = 10,
    max_symbol_pct: int = 10,
    min_alpha_pct: int = 80,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Gopher-style document-quality RULE filter (Rae et al. 2021,
    "Scaling Language Models: Methods, Analysis & Insights from
    Training Gopher", App. A1.1, adapted): per-rule boolean flags plus
    their conjunction, so the caller sees WHY a document was dropped,
    not just that it was — the standard pre-training heuristic gate
    that complements the model-based rarity filter
    (:func:`ngram_rarity`).

    Rules (every comparison INTEGER arithmetic — thresholds applied as
    rational multiples, e.g. mean word length ``3 <= chars/n <= 10``
    is tested as ``3·n <= chars AND chars <= 10·n`` — so the oracle is
    exact at any row order, no float division anywhere):

    - ``len_ok``      token count in [min_tokens, max_tokens]
    - ``word_len_ok`` mean non-space chars per token in
                      [min_word_len, max_word_len]
    - ``symbol_ok``   non-alphanumeric characters <= max_symbol_pct %
                      of non-space characters
    - ``alpha_ok``    >= min_alpha_pct % of tokens contain a letter
    - ``stop_ok``     >= min_stop_hits DISTINCT English stopwords
                      present (Gopher's "contains at least two of ...")
    - ``kept``        the conjunction

    Empty/NULL documents: n = 0, chars = 0 — the degenerate rules
    evaluate true on 0 <= 0 comparisons and ``len_ok`` alone rejects
    the doc. One scan, pure row expressions, no shuffle: the 100 TB
    shape of a rule gate.
    """
    from parquet_sampler_spark.functions.text import (
        STOPWORDS, token_count,
    )

    t = F.trim(F.coalesce(F.col(text_col), F.lit("")))
    toks = F.when(F.length(t) == 0, F.array().cast("array<string>")) \
        .otherwise(F.split(t, " "))
    n = token_count(F.col(text_col))
    chars = F.length(F.translate(t, " ", "")).cast("bigint")
    symbols = F.length(
        F.regexp_replace(F.translate(t, " ", ""), "[a-zA-Z0-9]", "")
    ).cast("bigint")
    alpha_words = F.size(
        F.filter(toks, lambda w: w.rlike("[a-zA-Z]"))
    ).cast("bigint")
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(toks),
            F.array(*[F.lit(w) for w in STOPWORDS["en"]]),
        )
    ).cast("bigint")
    len_ok = (n >= min_tokens) & (n <= max_tokens)
    word_len_ok = (F.lit(min_word_len) * n <= chars) & (
        chars <= F.lit(max_word_len) * n
    )
    symbol_ok = F.lit(100) * symbols <= F.lit(max_symbol_pct) * chars
    alpha_ok = F.lit(100) * alpha_words >= F.lit(min_alpha_pct) * n
    stop_ok = stop_hits >= min_stop_hits
    return df.select(
        id_col,
        n.alias("n_tokens"),
        len_ok.alias("len_ok"),
        word_len_ok.alias("word_len_ok"),
        symbol_ok.alias("symbol_ok"),
        alpha_ok.alias("alpha_ok"),
        stop_ok.alias("stop_ok"),
        (len_ok & word_len_ok & symbol_ok & alpha_ok & stop_ok)
        .alias("kept"),
    )


def cooccurrence_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 20,
    scale: int = 1_000_000,
    min_pair_docs: int = 2,
    max_token_df: int | None = None,
) -> DataFrame:
    """Top-``k`` token associations by fixed-point LIFT — the PMI
    argument ``P(x,y) / (P(x)·P(y))`` over document-level
    co-occurrence, kept transcendental-free as
    ``(scale · pair_docs · n_docs) DIV (df(x) · df(y))`` (monotone in
    PMI = its log; exact integers in both engines — the corpus-
    statistics convention of :func:`ngram_rarity` / tf-idf).
    Collocation mining for corpus analysis: which token pairs travel
    together far more than chance.

    Semantics: a document contributes each DISTINCT unordered token
    pair once (``tok_a < tok_b``); ``df`` counts are document
    frequencies from the full corpus. ``min_pair_docs`` drops
    singleton-pair noise. ``max_token_df`` excludes ultra-common
    tokens from PAIR FORMATION ONLY (df denominators stay exact) —
    the hot-token guard with the same contract (and the same
    :func:`~parquet_sampler_spark.plans.skew.drop_hot_keys`) as the
    dedup family's ``max_shingle_df``: a token in d docs forms Θ(d·u)
    pair rows, and stop-tokens carry no association signal.

    Plan: doc-distinct token relation (one aggregate), per-doc
    self-join for pair counts (Θ(docs · u²), u = distinct tokens per
    doc — bounded by doc length; cap u via ``max_token_df`` on
    Zipf-heavy corpora), vocabulary-sized df table broadcast back,
    global top-k as orderBy+limit (TakeOrderedAndProject — never a
    full sort). Overflow: the triple product runs in DECIMAL(38,0) /
    HUGEINT; the quotient is <= scale · n_docs, back in bigint range.

    Output: ``tok_a, tok_b, pair_docs, lift_scaled``.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    toks = _doc_grams(df, id_col, text_col).distinct()
    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("__df"))
    n_docs = toks.select(id_col).distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("__ndocs")
    )
    join_toks = drop_hot_keys(toks, "tok", max_token_df)
    a = join_toks.select(F.col(id_col), F.col("tok").alias("tok_a"))
    b = join_toks.select(F.col(id_col), F.col("tok").alias("tok_b"))
    pairs = (
        a.join(b, id_col)
        .filter(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("pair_docs"))
        .filter(F.col("pair_docs") >= min_pair_docs)
    )
    scored = (
        pairs
        .join(F.broadcast(dfreq.select(F.col("tok").alias("tok_a"),
                                       F.col("__df").alias("__dfa"))),
              "tok_a")
        .join(F.broadcast(dfreq.select(F.col("tok").alias("tok_b"),
                                       F.col("__df").alias("__dfb"))),
              "tok_b")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "tok_a", "tok_b", "pair_docs",
            F.expr(
                f"CAST((CAST({scale} AS DECIMAL(38,0)) * pair_docs "
                "* __ndocs) DIV (CAST(__dfa AS DECIMAL(38,0)) * __dfb) "
                "AS BIGINT)"
            ).alias("lift_scaled"),
        )
    )
    return scored.orderBy(
        F.col("lift_scaled").desc(), "tok_a", "tok_b"
    ).limit(k)


def ccnet_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    lang_col: str,
    nbuckets: int = 3,
    scale: int = 1000,
    cdf_broadcast: bool = True,
) -> DataFrame:
    """CCNet head/middle/tail perplexity buckets (Wenzek et al. 2020):
    per language, split documents into ``nbuckets`` equal-count tiles
    by ascending unigram-LM score (low mean rarity = fluent/common =
    "head" — what CCNet keeps for training; high = "tail"). Output:
    ``(id_col, lang, mean_rarity_scaled, bucket, bucket_label)`` with
    ``bucket`` the 1-based tile and ``bucket_label`` head/middle/tail
    when ``nbuckets == 3`` (the tile index as a string otherwise).

    Tile semantics are EXACTLY SQL ``NTILE(nbuckets) OVER (PARTITION
    BY lang ORDER BY score, id)`` — the first ``N mod nbuckets`` tiles
    get the extra row — but the PLAN never sorts raw documents inside
    a whole-language window (at 100 TB a language is most of the
    corpus — one task). Instead the exact rank decomposes:

    1. per-(lang, score) doc counts — ONE hash aggregate, output
       Θ(distinct scores), map-side combined;
    2. the language CDF (running count below each score) — a window
       over that AGGREGATE, Θ(distinct scores per lang) rows per task,
       never Θ(docs);
    3. the CDF joins back (broadcast by default — fixed-point scores
       collide heavily, keeping the table ≪ corpus;
       ``cdf_broadcast=False`` = AQE shuffle escape) and each doc's
       exact rank = cum_before + its row_number within its (lang,
       score) TIE GROUP — a window whose partitions are tie-sized,
       not language-sized (hot ties on quantized scores are the
       residual skew surface; raise ``scale`` to spread them);
    4. the NTILE tile from the rank in pure integer arithmetic.

    The per-doc scores come from :func:`ngram_rarity` (self-corpus
    fit); the language column rides a narrow (id, lang) join — text
    never shuffles.
    """
    if nbuckets < 1:
        raise ValueError(f"nbuckets must be >= 1, got {nbuckets}")
    scored = ngram_rarity(df, id_col, text_col, 1, scale=scale)
    langs = df.select(F.col(id_col), F.col(lang_col).alias("lang"))
    s = scored.join(langs, id_col).select(
        id_col, "lang", "mean_rarity_scaled"
    )
    g = s.groupBy("lang", "mean_rarity_scaled").agg(
        F.count(F.lit(1)).cast("bigint").alias("__c")
    )
    w_cdf = Window.partitionBy("lang").orderBy("mean_rarity_scaled")
    cdf = g.withColumn(
        "__cum_before",
        F.coalesce(
            F.sum("__c").over(
                w_cdf.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).cast("bigint"),
    )
    totals = g.groupBy("lang").agg(
        F.sum("__c").cast("bigint").alias("__n")
    )
    cdf = cdf.join(F.broadcast(totals), "lang").select(
        "lang", "mean_rarity_scaled", "__cum_before", "__n"
    )
    if cdf_broadcast:
        cdf = F.broadcast(cdf)
    w_tie = Window.partitionBy("lang", "mean_rarity_scaled").orderBy(
        id_col
    )
    ranked = (
        s.join(cdf, ["lang", "mean_rarity_scaled"])
        .withColumn(
            "__rank",
            F.col("__cum_before")
            + F.row_number().over(w_tie).cast("bigint"),
        )
    )
    nb = nbuckets
    # NTILE: size = N div nb, rem = N mod nb; the first `rem` tiles
    # take size+1 rows. greatest(size, 1) only guards the never-taken
    # branch when N < nb (every rank falls in the size+1 region).
    bucket = F.expr(
        f"CASE WHEN __rank <= (__n % {nb}) * (__n DIV {nb} + 1) "
        f"THEN (__rank - 1) DIV (__n DIV {nb} + 1) + 1 "
        f"ELSE (__n % {nb}) + (__rank - (__n % {nb}) * (__n DIV {nb} + 1) - 1) "
        f"DIV greatest(__n DIV {nb}, 1) + 1 END"
    ).cast("int")
    out = ranked.withColumn("bucket", bucket)
    if nbuckets == 3:
        label = (
            F.when(F.col("bucket") == 1, F.lit("head"))
            .when(F.col("bucket") == 2, F.lit("middle"))
            .otherwise(F.lit("tail"))
        )
    else:
        label = F.col("bucket").cast("string")
    return out.select(
        id_col, "lang", "mean_rarity_scaled",
        "bucket", label.alias("bucket_label"),
    )


def dsir_affinity(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_df: DataFrame,
    scale: int = 1000,
    select_at: int | None = None,
    broadcast_vocab: bool = True,
) -> DataFrame:
    """DSIR-style data selection by importance to a TARGET distribution
    (Xie et al. 2023, "Data Selection for Language Models via
    Importance Resampling"), exact-arithmetic variant: fit unigram
    models on the target corpus and on the raw corpus, score every raw
    document by how much more target-like than raw-like its tokens
    are, select the high-affinity slice.

    DSIR's log importance weight is Σ_tok [log p_target(tok) − log
    p_raw(tok)] — transcendental, so (the :func:`ngram_rarity`
    convention) this uses the exact-integer surrogate

        affinity = Σ_tok [rarity_raw(tok) − rarity_target(tok)]

    with ``rarity_X = total_X DIV cnt_X(tok)`` (integer inverse
    relative frequency, monotone in surprisal; tokens ABSENT from the
    target model take the max rarity ``total_target`` — the OOV rule
    shared with holdout rarity scoring). A token common under the
    target but rare under the raw corpus contributes positively —
    documents that look like the target score high. Per-token the
    surrogate is monotone in the likelihood ratio; the SUM is a
    defined, hash-exact statistic of its own, not the literal DSIR
    product (which no integer arithmetic reproduces).

    Output: ``(id_col, n_tokens, affinity_scaled, selected?)`` with
    ``affinity_scaled = (scale · Σ) DIV n_tokens`` (fixed-point mean,
    may be negative — DIV truncates toward zero identically in Spark
    and DuckDB, ORACLE_PORTABILITY.md) and ``selected =
    affinity_scaled >= select_at`` when a threshold is given.

    Plan shape (the 100 TB contract): TWO token hash-aggregations
    (raw corpus + target corpus — the target is benchmark-/wiki-sized
    in practice, far smaller), their 1-row totals broadcast-crossed,
    the combined (tok, rarity_raw, rarity_target) table — vocabulary-
    sized, the model — broadcast back onto the raw token stream
    (``broadcast_vocab=False`` = AQE shuffle escape), ONE per-doc
    aggregation. Document text never shuffles.
    """
    if scale < 1:
        raise ValueError(f"scale must be >= 1, got {scale}")
    toks = _doc_grams(df, id_col, text_col)
    ttoks = _doc_grams(target_df, id_col, text_col)
    rawv = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("__cr"))
    tgtv = ttoks.groupBy("tok").agg(F.count(F.lit(1)).alias("__ct"))
    rtot = rawv.agg(F.sum("__cr").cast("bigint").alias("__tr"))
    ttot = tgtv.agg(F.sum("__ct").cast("bigint").alias("__tt"))
    tab = (
        rawv.join(tgtv, "tok", "left")
        .crossJoin(F.broadcast(rtot))
        .crossJoin(F.broadcast(ttot))
        .select(
            "tok",
            (
                F.expr("__tr DIV __cr").cast("bigint")
                - F.coalesce(
                    F.expr("__tt DIV __ct").cast("bigint"),
                    F.col("__tt"),
                )
            ).alias("__d"),
        )
    )
    if broadcast_vocab:
        tab = F.broadcast(tab)
    out = (
        toks.join(tab, "tok")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("__d").cast("bigint").alias("__aff"),
        )
        .select(
            id_col,
            "n_tokens",
            F.expr(f"({scale} * __aff) DIV n_tokens")
            .cast("bigint")
            .alias("affinity_scaled"),
        )
    )
    if select_at is not None:
        out = out.withColumn(
            "selected", F.col("affinity_scaled") >= F.lit(select_at)
        )
    return out


def ngram_diversity(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    n: int = 2,
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-group corpus n-gram diversity: distinct n-grams over total
    n-gram occurrences — the corpus-level inverse of the per-document
    Gopher repetition score (:func:`repetition_score` catches one doc
    looping; THIS catches a whole SOURCE collapsing to boilerplate —
    the self-BLEU-style diversity monitor a mixture pipeline watches
    per domain/crawl before the mix poisons training).

    Output: ``(group_col, n_grams, n_distinct, diversity_scaled)``
    with ``diversity_scaled = (scale · n_distinct) DIV n_grams``
    (fixed-point ratio, exact in both engines). Groups whose docs all
    tokenize empty are absent.

    Plan shape: ONE aggregation per (group, gram-hash) — the partial
    phase dedups per partition so a boilerplate gram ships one row
    per partition, never its occurrence count — then ONE per-group
    rollup of Θ(distinct grams) rows. Grams travel as 64-bit hashes
    (xxhash64 — a collision UNDER-counts distinct by 1 in both
    engines identically only if the colliding grams share a group;
    the oracle hashes identically so the value hash still matches).
    Exact distincts, not approx_count_distinct: the two-level
    aggregate IS the scale-sane exact shape, and the oracle needs
    bit-equality.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if scale < 1:
        raise ValueError(f"scale must be >= 1, got {scale}")
    from parquet_sampler_spark.functions.hashing import (
        MODULUS,
        mixed_string_hash,
    )
    from parquet_sampler_spark.plans.layout import spread

    tk = F.split(F.trim(F.col(text_col)), " ")
    th = F.transform(tk, lambda t: mixed_string_hash(t))
    gh = (
        f"transform(sequence(1, size(__th) - {n - 1}), "
        f"i -> aggregate(slice(__th, i, {n}), 0L, "
        f"(acc, x) -> (acc * 31 + x) % {MODULUS}L))"
    )
    grams = (
        spread(df)
        .select(F.col(group_col).alias("grp"), th.alias("__th"))
        .filter(F.size("__th") >= n)
        .select("grp", F.explode(F.expr(gh)).alias("__gh"))
    )
    per_gram = grams.groupBy("grp", "__gh").agg(
        F.count(F.lit(1)).cast("bigint").alias("__c")
    )
    return (
        per_gram.groupBy("grp")
        .agg(
            F.sum("__c").cast("bigint").alias("n_grams"),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        )
        .select(
            F.col("grp").alias(group_col),
            "n_grams",
            "n_distinct",
            F.expr(f"({scale} * n_distinct) DIV n_grams")
            .cast("bigint")
            .alias("diversity_scaled"),
        )
    )
