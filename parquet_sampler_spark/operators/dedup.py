"""Deduplication operators for training-data pipelines.

Every pair operator here is a key join, built from four shared pieces:

* :func:`shingle_table` — the one persisted ``(id, xxhash64(shingle))``
  inverted-index relation of the n-gram joins.
* :func:`_pair_counts` — the one pair join: an equi-join on a key
  (shingle, band key, SimHash chunk, winnowed fingerprint; self-joins
  keep ``id_a < id_b``) ending in one ``groupBy(id_a, id_b)`` count.
  Pairs form only where a key is shared, never the cross product.
* :func:`~parquet_sampler_spark.plans.skew.drop_hot_keys` — the one
  hot-key cap (``max_shingle_df``, ``max_band_df``, ``max_fp_df``).
* :func:`_verify_sets` — the one exact set-Jaccard verify of MinHash
  candidates.

Each public operator keeps only its own score and filter: exact
n-gram Jaccard (:func:`ngram_jaccard_pairs`, bipartite
:func:`cross_ngram_jaccard_pairs`), Broder containment
(:func:`containment_pairs`), MinHash + banded LSH
(:func:`minhash_lsh_pairs`, batch-vs-index :func:`minhash_probe_pairs`),
SimHash banding with a Hamming verify (:func:`simhash_pairs`) and
winnowing fingerprints (:func:`winnow_pairs`). Exact dedup, span
detection, Bloom decontamination and duplicate clustering sit beside
them; embedding near-dup lives in ``operators/similarity.py`` (cosine).

Keeper rule for all dedup variants: a row is dropped iff a *similar* row
with a smaller id exists (greedy min-id survivor). One pass, deterministic,
SQL-expressible — and the standard practical choice vs full
connected-components clustering (which needs iteration; documented
trade-off).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

_RN = "__psx_rn"

# operator-persisted relations are registered with the shared
# session-lifetime registry (plans/cache.py)
from parquet_sampler_spark.plans.cache import (  # noqa: E402
    persist as _persist,
    register,
    release,
)
from parquet_sampler_spark.plans.lineage import (  # noqa: E402
    truncate_lineage as _truncate_lineage,
)
from parquet_sampler_spark.plans.skew import drop_hot_keys  # noqa: E402


def exact_dedup(
    df: DataFrame, cols: list[str], id_col: str
) -> DataFrame:
    """Exact dedup on ``cols``: keep the row with the smallest ``id_col``
    per duplicate group (deterministic, unlike ``dropDuplicates`` which
    keeps an arbitrary row). One shuffle on ``cols``."""
    w = Window.partitionBy(*cols).orderBy(F.col(id_col))
    return (
        df.withColumn(_RN, F.row_number().over(w))
        .filter(F.col(_RN) == 1)
        .drop(_RN)
    )


def _word_ngrams(text_col: str, n: int):
    """Distinct word n-grams (shingles); delegates to the shared gram
    builder in functions/text.py so shingling and repetition stats can
    never drift apart."""
    from parquet_sampler_spark.functions.text import word_ngrams

    return word_ngrams(text_col, n, distinct=True)


def shingle_table(
    df: DataFrame, id_col: str, text_col: str, n: int = 1
) -> DataFrame:
    """The persisted inverted-index relation ``(id_col, shingle)`` of
    the n-gram joins: one row per distinct word n-gram per doc, the
    shingle as its ``xxhash64`` (fixed-width keys shuffle and compare
    much faster than ~n-word strings; a collision at any realistic
    distinct-shingle count is < 2^-40). Persisted because every
    consumer reads it at least twice (both join sides and the set
    sizes), so tokenize/shingle/hash runs once. Input is spread across
    cores first — a small single-split file would otherwise explode on
    one thread."""
    from parquet_sampler_spark.plans.layout import spread

    return _persist(
        spread(df)
        .select(F.col(id_col),
                F.explode(_word_ngrams(text_col, n)).alias("shingle"))
        .select(id_col, F.xxhash64("shingle").alias("shingle"))
    )


def _pair_counts(
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    keys: list[str],
    self_join: bool,
) -> DataFrame:
    """``(id_a, id_b, common)``: every pair of a ``left`` and a
    ``right`` id that share at least one ``keys`` value, with the
    number of shared key rows. An equi-join on ``keys`` (a self-join
    keeps ``id_a < id_b``), then one ``groupBy(id_a, id_b)`` count —
    candidates only where a key is shared, never the cross product.
    A key held by d docs forms d² join rows (:func:`drop_hot_keys`
    caps them)."""
    a = left.select(F.col(id_col).alias("id_a"), *keys)
    b = right.select(F.col(id_col).alias("id_b"), *keys)
    joined = a.join(b, keys)
    if self_join:
        joined = joined.filter(F.col("id_a") < F.col("id_b"))
    return joined.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).alias("common")
    )


def _with_sizes(
    pairs: DataFrame, sh_a: DataFrame, sh_b: DataFrame, id_col: str
) -> DataFrame:
    """``pairs`` with each side's set size (its row count in the
    shingle relation ``sh_a`` / ``sh_b``) as ``size_a`` / ``size_b``.
    Sizes always come from the FULL shingle relations: a hot-key cap
    prunes the pair join only, so denominators stay exact."""
    def sizes(sh, side):
        return (
            sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"))
            .select(F.col(id_col).alias(f"id_{side}"),
                    F.col("__n").alias(f"size_{side}"))
        )

    return pairs.join(sizes(sh_a, "a"), "id_a").join(
        sizes(sh_b, "b"), "id_b"
    )


def _jaccard(pairs: DataFrame, threshold: float) -> DataFrame:
    """``(id_a, id_b, jaccard)`` at ``jaccard >= threshold`` from
    sized pair counts, by inclusion-exclusion."""
    return (
        pairs.withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("size_a") + F.col("size_b")
               - F.col("common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _verify_sets(
    cand: DataFrame, sets_a: DataFrame, sets_b: DataFrame, broadcast: bool
) -> DataFrame:
    """Exact set Jaccard (intersection size over union size of the
    two set arrays) of the candidate pairs ``cand`` ``(id_a, id_b)``;
    ``sets_a`` and ``sets_b`` are ``(id, set array)`` relations of each
    side. Returns ``(id_a, id_b, jaccard)``, one row per candidate.

    The candidate list is Θ(near-dup candidates) — small relative to
    the corpus on a well-banded design — so with ``broadcast`` it is
    the broadcast side of the first join and the set tables STREAM (no
    shuffle). Without the hint, a candidate list a few MB past
    spark.sql.autoBroadcastJoinThreshold silently flips both joins to
    sort-merge, shuffling the full array table twice (measured at
    sf100: >70 GB of scratch). The hint cuts the other way when the
    BANDING is underwater: this corpus's 31-token vocabulary puts ~60M
    candidates (≈1 GB — over spark.driver.maxResultSize) into the
    set-form band join at 5M docs, so ``broadcast=False``
    (``verify_broadcast=False`` on the operators) restores the shuffle
    join for candidate-heavy corpora — whose real fix is a
    banding/threshold/cap redesign (SCALING.md r11), not a bigger
    driver."""
    side = F.broadcast(cand) if broadcast else cand
    return (
        side.join(sets_a.toDF("id_a", "sh_a"), "id_a")
        .join(sets_b.toDF("id_b", "sh_b"), "id_b")
        .select(
            "id_a", "id_b",
            (F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
             / F.size(F.array_union("sh_a", "sh_b")).cast("double"))
            .alias("jaccard"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 1,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram-set Jaccard similarity join: all pairs (id_a < id_b)
    with ``|A∩B| / |A∪B| >= threshold``.

    Plan: :func:`shingle_table` self-joined by :func:`_pair_counts` →
    per-pair intersection counts → inclusion-exclusion with set sizes.

    ``max_shingle_df`` drops shingles whose DOCUMENT FREQUENCY exceeds
    the cap from the self-join (not from the Jaccard denominator) via
    :func:`~parquet_sampler_spark.plans.skew.drop_hot_keys` — the
    standard guard against quadratic hot-shingle join groups on Zipfian
    corpora: a shingle appearing in d docs generates O(d²) candidate
    rows, and stop-shingles carry almost no similarity signal. The
    result is recall-only approximate, and the effective statistic is
    ``|sub-cap overlap| / |exact union|``: a pair survives iff that
    UNDER-estimate still clears the threshold, so pairs whose
    similarity rests mostly on over-cap (stop) shingles are dropped —
    size the cap so genuinely similar docs share enough rare shingles.
    Emitted jaccard values are likewise under-estimates; precision
    (no false pairs) is exact.

    Output columns: ``id_a, id_b, jaccard``.
    """
    sh = shingle_table(df, id_col, text_col, n)
    join_sh = drop_hot_keys(sh, "shingle", max_shingle_df)
    pairs = _pair_counts(join_sh, join_sh, id_col, ["shingle"],
                         self_join=True)
    return _jaccard(_with_sizes(pairs, sh, sh, id_col), threshold)


def cross_ngram_jaccard_pairs(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard pairs BETWEEN two corpora (bipartite, not
    self-join): every (corpus id, benchmark id) pair with overlap ≥
    threshold. The decontamination primitive — find training documents
    that substantially overlap an evaluation/benchmark set. Same
    inverted-index plan as :func:`ngram_jaccard_pairs`: candidates only
    where a shingle is shared, never the cross product.

    ``max_shingle_df`` caps the CORPUS-side document frequency of join
    shingles (:func:`~parquet_sampler_spark.plans.skew.drop_hot_keys`;
    a stop-shingle in d corpus docs × most benchmark docs is the
    bipartite blow-up, quadratic in d) — same contract as the
    self-join variant: denominators stay exact, overlap is
    under-counted, so recall-only approximation with exact precision.

    Output: ``id_a`` (corpus), ``id_b`` (benchmark), ``jaccard``.
    """
    sh_a = shingle_table(corpus, id_col, text_col, n)
    sh_b = shingle_table(benchmark, id_col, text_col, n)
    pairs = _pair_counts(
        drop_hot_keys(sh_a, "shingle", max_shingle_df), sh_b,
        id_col, ["shingle"], self_join=False,
    )
    return _jaccard(_with_sizes(pairs, sh_a, sh_b, id_col), threshold)


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 1,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact Broder CONTAINMENT similarity join: all pairs
    (id_a < id_b) where ``max(|A∩B|/|A|, |A∩B|/|B|) >= threshold``
    over the n-gram shingle sets.

    Containment is the ASYMMETRIC near-dup statistic: a short document
    quoted wholesale inside a long one scores ~1.0 containment while
    its Jaccard is tiny (the union is dominated by the long doc), so
    resemblance joins — :func:`ngram_jaccard_pairs`,
    :func:`minhash_lsh_pairs` — never see it. This is the
    boilerplate/subsumption detector: template pages, quoted posts,
    documents embedded in aggregations. Output carries BOTH directions
    (``cont_a`` = |A∩B|/|A| — how much of A sits inside B — and
    ``cont_b``) plus their max as ``containment``; the caller decides
    which side is the "contained" duplicate (cluster-dedup by keeping
    the superset doc is the usual policy).

    Plan: the same shingle self-join and sizes as
    :func:`ngram_jaccard_pairs`, with the same ``max_shingle_df``
    contract (:func:`~parquet_sampler_spark.plans.skew.drop_hot_keys`):
    over-cap shingles leave the self-join ONLY, denominators stay
    exact, so emitted values are under-estimates (recall-approximate,
    precision-exact) — containment inherits the resemblance join's
    candidate economics wholesale.

    Output columns: ``id_a, id_b, cont_a, cont_b, containment``.
    """
    sh = shingle_table(df, id_col, text_col, n)
    join_sh = drop_hot_keys(sh, "shingle", max_shingle_df)
    pairs = _pair_counts(join_sh, join_sh, id_col, ["shingle"],
                         self_join=True)
    common = F.col("common").cast("double")
    return (
        _with_sizes(pairs, sh, sh, id_col)
        .withColumn("cont_a", common / F.col("size_a").cast("double"))
        .withColumn("cont_b", common / F.col("size_b").cast("double"))
        .withColumn("containment", F.greatest("cont_a", "cont_b"))
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "cont_a", "cont_b", "containment")
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Drop every corpus document whose n-gram Jaccard overlap with ANY
    benchmark document reaches ``threshold`` — the standard guard
    against evaluation contamination in a training corpus."""
    hits = cross_ngram_jaccard_pairs(
        corpus, benchmark, id_col, text_col, n, threshold,
        max_shingle_df=max_shingle_df,
    ).select(F.col("id_a").alias(id_col)).distinct()
    return corpus.join(hits, id_col, "left_anti")


def jaccard_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 1,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dedup by exact n-gram Jaccard: drop every row that has a
    more-senior (smaller-id) neighbor at ``jaccard >= threshold``."""
    pairs = ngram_jaccard_pairs(df, id_col, text_col, n, threshold)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

# 31-bit prime hash space: h < 2^31 and a < 2^31 keep a·h + b < 2^62,
# inside BIGINT under Spark's ANSI overflow checking (on by default in 4.x).
_MINHASH_P = 2_147_483_647


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 1,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    seed: int = 42,
    weighted: bool | str = False,
    verify_broadcast: bool = True,
) -> DataFrame:
    """Approximate Jaccard similarity join: MinHash signatures → banded
    LSH blocking → exact-Jaccard verification of candidates.

    ``weighted=True`` computes the INTEGER-WEIGHTED Jaccard
    ``Σ_g min(tf_A, tf_B) / Σ_g max(tf_A, tf_B)`` over the n-grams
    instead of the set form — repeated grams count with multiplicity,
    so a document that repeats boilerplate 50× no longer looks
    identical to one mentioning it once. Mechanism: each gram's k-th
    occurrence expands to a distinct element ``gram#k`` (the
    exact-integer multiset encoding — the set Jaccard of the
    expansions IS the weighted Jaccard, the classic reduction that
    underlies consistent weighted sampling approximations, kept exact
    here because tf weights are integers). The expansion is a pure
    per-row array expression (occurrence index = count of equal grams
    before position i) — no extra shuffle; the signature/band/verify
    pipeline is IDENTICAL, so the scale story (O(docs × bands)
    blocking, never all-pairs) carries over verbatim. Two measured
    caveats (SCALING.md): (1) the LSH banding must sit ABOVE the
    corpus's background weighted similarity — unigram multiplicity
    over a tiny shared vocabulary put the all-pairs background (~0.55)
    inside the 32/8 s-curve and candidate generation degenerated
    quadratic (α 1.81 at sf0.1→1); n=2 collapses the background to
    <0.1 and restores the LSH shape (α 0.95, linear in docs). Pick n
    so that UNRELATED documents score near 0 under the weighted
    statistic. (2) The occurrence-index expression is O(L²) string
    compares per document (L = grams) — linear and partition-parallel
    at this corpus's ~200-token docs, but a LONG-document corpus
    (10⁴+ tokens) should pass ``weighted="grouped"``: occurrence indexes come by COUNT, not by sort — a per-(doc, gram)
    ``groupBy().count()`` (map-side partial combine; the one shuffle
    carries narrow Θ(doc·distinct-gram) tf rows) followed by a pure
    ``sequence``-explode map emitting ``gram#0..gram#(tf-1)``. The
    multiset encoding only needs SOME bijection of occurrences onto
    indexes, so the element SET — all MinHash or Jaccard ever sees —
    is identical to the positional expression path's, and the
    pipeline stays ROW-SHAPED: signatures aggregate the hashed
    element stream (which exists only as an unshuffled map over tf,
    consumed once), and verification computes Σ min(tf_A, tf_B)
    straight off the tf table, so no per-doc array (the other thing
    a 10⁴-token doc breaks) is ever materialized. Output is
    IDENTICAL to the expression path (pinned equal by test). The r11
    form of this escape used ``row_number`` over a sorted window —
    its decade-3 cell measured α 1.16 because all four consumers
    re-SORTED the Θ(tokens) element stream from the shared exchange
    (SCALING.md r11/r12); the grouped form deletes every sort.
    ``weighted=True`` keeps the per-row expression path.

    With r = num_hashes/bands rows per band, a pair at similarity s is
    a candidate with probability ``1 - (1 - s^r)^bands`` (s-curve; with
    32/8 the 50% point is ≈ 0.44). Verification makes the output
    precision-exact; only recall is approximate.

    Scale: signatures run ENTIRELY JVM-side — explode shingles, hash
    once with ``xxhash64``, then ``groupBy(id).agg(num_hashes ×
    min(a_i·h + b_i mod P))``: the hash aggregate partial-combines
    map-side, so the shuffle carries one ``num_hashes``-wide row per
    doc, never the exploded shingles. (An earlier Arrow/numpy
    pandas-UDF kernel computed the same signatures ~1.5× slower
    single-shot — Arrow transfer of the hash arrays plus Python worker
    spin-up exceeded the compute it vectorized, VERDICT r02 'What's
    wrong' #2.) Band keys are ``xxhash64`` of each band's r signature
    values — collision iff the whole band agrees, as with any fold.
    Blocking shuffles (doc, band) tuples — O(docs × bands), independent
    of pair count; verification joins token sets only for candidate
    pairs. Docs with no shingles have no signature and emit nothing
    (previously they shared a sentinel signature, collided with each
    other, and were then discarded by the 0/0-Jaccard verify — same
    output, wasted candidates).
    """
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    if isinstance(weighted, str) and weighted != "grouped":
        # a typo like "group" is truthy and would silently fall
        # through to the O(L^2) expression path (ADVICE r11) — the
        # same validation semi_join_reduce applies to its strategy
        # strings
        raise ValueError(
            f"weighted={weighted!r}: expected False, True or 'grouped'"
        )
    from parquet_sampler_spark.plans.layout import spread

    # shingled feeds both the signature pipeline and the verify joins —
    # persist so split/shingle runs once (measured faster than
    # re-deriving even single-shot: the verify side reads it twice).
    tf = None
    if weighted == "grouped":
        # long-document escape: occurrence indexes by COUNT, not by
        # sort. The multiset encoding only needs SOME bijection of
        # each gram's occurrences onto gram#0..gram#(tf-1) — the
        # element SET per doc (which is all MinHash or Jaccard ever
        # sees) is identical whichever occurrence gets which index —
        # so positional row_number over a sorted window buys nothing.
        # A per-(doc, gram) count aggregate produces the same encoding
        # with no Window, no Sort anywhere: groupBy partial-combines
        # map-side, so the one shuffle carries Θ(doc·distinct-gram)
        # narrow (id, gram, tf) rows instead of the Θ(corpus tokens)
        # element stream. (r11 shipped this mode as a row_number
        # window, and its decade-3 cell came in at α 1.16: the four
        # consumers shared the window's exchange via ReuseExchange but each RE-SORTED
        # the 600M-row stream from shuffle files. The grouped form
        # removes the sorts AND shrinks what any consumer re-reads to
        # the tf table; verification never touches elements at all —
        # Σ min(tf_a, tf_b) over a (gram)-equality join of candidate
        # docs' tf rows IS the multiset intersection.) Per-doc arrays
        # are never materialized: a 10⁴-token doc as a collect_list
        # array is exactly the row width this mode exists to avoid (a
        # first cut re-assembled arrays and OOMed the 500k-doc decade
        # run the expression path survives).
        from parquet_sampler_spark.functions.text import word_ngrams

        grams = word_ngrams(text_col, n, distinct=False)
        ex0 = spread(df).select(
            F.col(id_col), F.explode(grams).alias("__g")
        )
        # NOT persisted: Θ(doc·distinct-gram) can still be corpus-
        # sized. All four consumers (signatures, sizes, both verify
        # sides) share the identical aggregate subtree, so
        # ReuseExchange runs the scan→explode→partial-agg map stage
        # ONCE and the consumers re-run only the final hash aggregate
        # from the same shuffle files — no sort in any of them.
        tf = ex0.groupBy(id_col, "__g").agg(
            F.count(F.lit(1)).alias("__tf")
        )
        shingled = None
    else:
        if weighted:
            from parquet_sampler_spark.functions.text import word_ngrams

            # The gram array is BOUND TO A COLUMN before the
            # occurrence-index transform runs over it (r14
            # optimization round, guide §1.2 "per-task work"): with
            # the ngram expression inlined, every lambda element
            # re-evaluated the whole split→ngram tree — O(L)
            # tokenize work × L elements = O(L²) tokenizations per
            # document, measured 7.5 s for the sf0.1 expansion build
            # vs 0.4 s with the array staged as a column (the lambda
            # then references a materialized value). The encoding
            # itself is unchanged — identical output arrays, element
            # for element.
            staged = spread(df).select(
                F.col(id_col),
                word_ngrams(text_col, n, distinct=False).alias("__g"),
            )
            g = F.col("__g")
            sh_expr = F.transform(
                g,
                lambda x, i: F.concat(
                    x,
                    F.lit("#"),
                    F.size(
                        F.filter(
                            F.slice(g, F.lit(1), i), lambda y: y == x
                        )
                    ).cast("string"),
                ),
            )
            shingled = _persist(staged.select(
                F.col(id_col), sh_expr.alias("__sh")
            ))
        else:
            shingled = _persist(spread(df).select(
                F.col(id_col), _word_ngrams(text_col, n).alias("__sh")
            ))

    # h < 2^31 and a < 2^31 keep a·h + b < 2^62: exact in BIGINT under
    # ANSI overflow checking, no wraparound anywhere.
    if tf is not None:
        # expand each (gram, tf) to the hashed elements gram#0..
        # gram#(tf-1) — a pure map over the tf table, no shuffle; the
        # Θ(corpus tokens) element stream exists only here and is
        # consumed exactly once (by the signature aggregate, which
        # partial-combines map-side into one num_hashes-wide row per
        # doc per partition)
        ex = tf.select(
            F.col(id_col),
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.col("__tf") - 1),
                    lambda k: F.abs(
                        F.xxhash64(
                            F.concat(
                                F.col("__g"),
                                F.lit("#"),
                                k.cast("string"),
                            )
                        )
                        % F.lit(_MINHASH_P)
                    ),
                )
            ).alias("__h"),
        )
    else:
        ex = shingled.select(
            id_col, F.explode("__sh").alias("__s")
        ).select(
            id_col,
            F.abs(F.xxhash64("__s") % F.lit(_MINHASH_P)).alias("__h"),
        )
    banded = _persist(_minhash_bands(ex, id_col, num_hashes, bands, seed))

    # a pair is a candidate when it shares at least one band
    cand = _pair_counts(
        banded, banded, id_col, ["band", "bh"], self_join=True
    ).select("id_a", "id_b")
    if tf is not None:
        # Row-shaped exact verification (grouped mode): the multiset
        # intersection is Σ_g min(tf_A, tf_B) over the common grams —
        # computed straight off the tf table, so verification never
        # touches the element stream at all. The gram-equality join
        # probes Θ(cand · distinct-grams) rows (vs the r11 windowed
        # form's Θ(cand · L) element-equality probe); union =
        # |A| + |B| − |A∩B| with |X| = Σ tf.
        sizes = tf.groupBy(id_col).agg(
            F.sum("__tf").alias("__n")
        )
        ta = tf.select(F.col(id_col).alias("id_a"), "__g",
                       F.col("__tf").alias("__tfa"))
        tb = tf.select(F.col(id_col).alias("id_b"), "__g",
                       F.col("__tf").alias("__tfb"))
        # cand (and everything Θ(cand) derived from it) is hinted as
        # the broadcast side wherever it meets a corpus-sized stream;
        # the one remaining big exchange is the (id_b, gram) equality
        # join — the irreducible intersection work.
        # verify_broadcast=False drops the hints here exactly as on
        # the array path (ADVICE r11: the escape for candidate-heavy
        # corpora must exist in BOTH verify modes — a candidate list
        # past driver maxResultSize kills either one).
        _hint = F.broadcast if verify_broadcast else (lambda d: d)
        inter = (
            _hint(cand).join(ta, "id_a")
            .join(tb, ["id_b", "__g"])
            .groupBy("id_a", "id_b")
            .agg(F.sum(F.least("__tfa", "__tfb")).alias("__i"))
        )
        i = F.coalesce(F.col("__i"), F.lit(0))
        scored = _hint(cand.join(inter, ["id_a", "id_b"], "left"))
        verified = (
            _hint(
                scored.join(
                    sizes.select(F.col(id_col).alias("id_a"),
                                 F.col("__n").alias("__na")), "id_a")
            )
            .join(sizes.select(F.col(id_col).alias("id_b"),
                               F.col("__n").alias("__nb")), "id_b")
            .withColumn(
                "jaccard",
                i.cast("double")
                / (F.col("__na") + F.col("__nb") - i).cast("double"),
            )
        )
    else:
        verified = _verify_sets(cand, shingled, shingled, verify_broadcast)
    return verified.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", "jaccard"
    )


def minhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    **kwargs,
) -> DataFrame:
    """Near-dedup via MinHash-LSH candidate pairs (greedy min-id
    survivor, same rule as :func:`jaccard_dedup`)."""
    pairs = minhash_lsh_pairs(df, id_col, text_col, **kwargs)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------------
# Incremental (batch-vs-index) MinHash dedup
# ---------------------------------------------------------------------------

def _minhash_params(num_hashes: int, seed: int):
    """The (a_i, b_i) permutation coefficients — one shared generator so
    an index built yesterday and a probe banded today agree bit-for-bit
    (same coefficients ⇒ same signatures ⇒ same band keys)."""
    import random

    rng = random.Random(seed)
    A = [rng.randrange(1, _MINHASH_P) for _ in range(num_hashes)]
    B = [rng.randrange(0, _MINHASH_P) for _ in range(num_hashes)]
    return A, B


def _minhash_bands(
    ex: DataFrame, id_col: str, num_hashes: int, bands: int, seed: int
) -> DataFrame:
    """The one signature pipeline from the hashed element stream
    ``(id, __h)`` to the band table ``(id, band, bh)``, shared by
    :func:`minhash_lsh_pairs` and :func:`minhash_index` so the index
    and the self-join agree bit-for-bit: ``num_hashes`` min-aggregates
    of ``(a_i·h + b_i) mod P`` (partial-combined map-side), then each
    band's r signature values folded with ``xxhash64``. The band table
    carries no shingle arrays: the explode multiplies rows by
    ``bands``, and carrying a large string array through that (and the
    join shuffle) would multiply I/O by the same factor."""
    r = num_hashes // bands
    A, B = _minhash_params(num_hashes, seed)
    sig = ex.groupBy(id_col).agg(*[
        F.min(
            F.pmod(F.col("__h") * F.lit(A[i]) + F.lit(B[i]),
                   F.lit(_MINHASH_P))
        ).alias(f"__m{i}")
        for i in range(num_hashes)
    ])
    band_keys = [
        F.xxhash64(*[F.col(f"__m{j * r + i}") for i in range(r)])
        for j in range(bands)
    ]
    return sig.select(
        id_col, F.posexplode(F.array(*band_keys)).alias("band", "bh")
    )


def minhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 1,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Banded MinHash signature INDEX of a corpus: one narrow
    ``(id, band, bh)`` row per (doc, band) — the persistable artifact
    incremental dedup probes against, so admitting a new crawl batch
    costs Θ(batch), never Θ(corpus).

    This is the standing-state half of the production dedup loop (the
    reference's whole-corpus pairing, like :func:`minhash_lsh_pairs`,
    is the bootstrap that builds the first index): at 100 TB the index
    is written once to storage partitioned/bucketed by ``(band, bh)``
    so each batch probe is a bucket-local join — the corpus never
    re-shuffles. Signatures are deterministic per row (seeded
    coefficients via :func:`_minhash_params`, ``xxhash64`` element
    hashes), so index rows built in different jobs/sessions are
    identical — the property incrementality rests on.

    The element stream of :func:`minhash_lsh_pairs`' set path
    (explode distinct shingles, hash to the 31-bit prime space — exact
    in BIGINT under ANSI) feeds the same :func:`_minhash_bands`
    signature/band pipeline. Docs with no shingles emit nothing.
    """
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    from parquet_sampler_spark.plans.layout import spread

    ex = (
        spread(df)
        .select(F.col(id_col), F.explode(_word_ngrams(text_col, n)).alias("__s"))
        .select(
            id_col,
            F.abs(F.xxhash64("__s") % F.lit(_MINHASH_P)).alias("__h"),
        )
    )
    return _minhash_bands(ex, id_col, num_hashes, bands, seed)


def minhash_probe_pairs(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 1,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    seed: int = 42,
    verify_broadcast: bool = True,
) -> DataFrame:
    """Incremental near-dup detection: which documents of a NEW
    ``batch`` duplicate something already in ``corpus``? Bands the
    batch with the same seeded pipeline as :func:`minhash_index`,
    joins batch bands against the corpus index, and exact-Jaccard
    verifies candidates — emitting ``(id_a=corpus doc, id_b=batch doc,
    jaccard)`` pairs at ``jaccard >= threshold``.

    The production 100 TB shape: the corpus index and its shingle
    relation are standing state (bucketed by ``(band, bh)`` /
    ``id``); per-batch cost is Θ(batch × bands) band rows + the
    candidate verifies — never Θ(corpus), and the corpus text is
    touched only for the candidate ids' shingle rows (storage-pruned
    on a bucketed layout). Batch-internal duplicates are the existing
    whole-set problem (:func:`minhash_lsh_pairs` on the batch alone —
    batches are small, so that join is cheap).

    Contract: ids are unique across ``corpus ∪ batch``. A batch doc
    whose text already appears verbatim in the corpus pairs with it at
    jaccard 1.0 — the "already ingested" signal. No ``id_a < id_b``
    constraint: the sides are disjoint relations, so orientation is
    (corpus, batch) by construction.

    Recall equals the self-join form's: a (corpus, batch) pair is a
    candidate iff the two docs share a band — the identical condition
    :func:`minhash_lsh_pairs` applies, on identical (deterministic)
    signatures — so any pair the whole-corpus form recalls is recalled
    here when its endpoints straddle the split. Precision is exact
    (every emitted pair is verified).
    """
    from parquet_sampler_spark.plans.layout import spread

    # pre-partitioned on the band-join keys (r13): a warm probe whose
    # band list exceeds the broadcast threshold otherwise drags the
    # corpus-sized index through an Exchange per batch (see
    # similarity.embedding_neardup_incremental's identical note) —
    # the in-memory analog of the bucketed-by-(band, bh) layout the
    # docstring's deployment stores.
    idx = _persist(
        minhash_index(corpus, id_col, text_col, n=n,
                      num_hashes=num_hashes, bands=bands, seed=seed)
        .repartition("band", "bh")
    )
    probe = minhash_index(batch, id_col, text_col, n=n,
                          num_hashes=num_hashes, bands=bands, seed=seed)
    cand = _pair_counts(
        idx, probe, id_col, ["band", "bh"], self_join=False
    ).select("id_a", "id_b")
    # Exact-set verification (:func:`_verify_sets`, the same tail and
    # escape hatch as minhash_lsh_pairs). The corpus
    # shingle relation is persisted alongside the index — it is the
    # other half of the standing state a production deployment stores
    # (or storage-prunes to candidate ids on a bucketed layout), so a
    # warm-index probe costs Θ(batch) + candidates, never a corpus
    # text re-scan.
    # ... and pre-partitioned on the verify-join key (r14: the
    # verify_broadcast=False path otherwise drags this corpus-sized
    # relation through an Exchange per batch — the embedding gates'
    # scaled-partitions decade cell measured the identical class)
    sh_a = _persist(spread(corpus).select(
        F.col(id_col).alias("id_a"),
        _word_ngrams(text_col, n).alias("sh_a"),
    ).repartition("id_a"))
    sh_b = spread(batch).select(
        F.col(id_col).alias("id_b"),
        _word_ngrams(text_col, n).alias("sh_b"),
    )
    verified = _verify_sets(cand, sh_a, sh_b, verify_broadcast)
    return verified.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", "jaccard"
    )


def exact_dup_probe(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    cols: list[str],
) -> DataFrame:
    """Incremental EXACT dedup: which batch rows are verbatim copies
    (on ``cols``) of something already in the corpus? Emits
    ``(batch id under id_col, dup_of = smallest matching corpus id)``
    — the cheapest gate in the incremental-ingest stack, run before
    the near-dup probes.

    Scale shape: the corpus side collapses to one (fingerprint,
    min id) row per DISTINCT value — the standing exact-dup index, a
    map-side-partial aggregate whose output is bounded by distinct
    content, persisted like the MinHash index. The join ships
    128-bit MD5 fingerprints, never the content columns themselves
    (at 100 TB the text column is the thing you cannot afford to
    shuffle; an md5 collision is ~2^-64 at any realistic corpus).
    """
    # Per-column nullness is encoded explicitly ('v'+value vs 'n')
    # BEFORE the unit-separator join: concat_ws silently skips NULLs
    # in both engines, so without the tag ('a',NULL,'c') and
    # ('a','c',NULL) — and NULL vs '' — would collapse to one
    # fingerprint (r12 ADVICE). The separator still prevents
    # cross-boundary aliasing (("ab","c") vs ("a","bc")); every
    # encoded column is non-null, so all positions survive the join.
    fp = F.md5(
        F.concat_ws(
            chr(31),
            *[
                F.coalesce(
                    F.concat(F.lit("v"), F.col(c).cast("string")),
                    F.lit("n"),
                )
                for c in cols
            ],
        )
    )
    # the fingerprint aggregate already leaves the index hash-
    # partitioned on __fp (the groupBy key = the probe join key), so
    # a warm probe only shuffles the batch side — no explicit
    # repartition needed (unlike the banded indexes, r13)
    idx = _persist(
        corpus.select(fp.alias("__fp"), F.col(id_col))
        .groupBy("__fp")
        .agg(F.min(id_col).alias("dup_of"))
    )
    return (
        batch.select(F.col(id_col), fp.alias("__fp"))
        .join(idx, "__fp")
        .select(F.col(id_col), "dup_of")
    )


def minhash_admit_batch(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    **kwargs,
) -> DataFrame:
    """Admission filter for a new crawl batch against a standing
    corpus — the full incremental-ingest decision: a batch document is
    REJECTED iff it near-duplicates something already in the corpus
    (:func:`minhash_probe_pairs`) or a SENIOR (smaller-id) document
    within the batch itself (:func:`minhash_lsh_pairs` on the batch —
    batches are small, so the self-join is cheap); everything else is
    returned, full rows, ready to append.

    Keeper rule is the repo-wide greedy min-id survivor: a batch doc
    is dropped when a similar senior exists, regardless of whether
    that senior is itself admitted (same documented rule as
    :func:`jaccard_dedup` — one pass, deterministic, SQL-expressible;
    the alternative "recursive" admission needs iteration and changes
    results only for similarity chains that straddle the threshold).

    Scale: probe cost Θ(batch × bands) against the persisted index +
    candidate verifies; the batch self-join is the whole-corpus
    problem at batch size. Two anti-joins against id-only loser lists
    (broadcastable at any realistic batch size) — the batch text
    never shuffles.
    """
    cross = minhash_probe_pairs(
        corpus, batch, id_col, text_col, **kwargs
    )
    internal = minhash_lsh_pairs(batch, id_col, text_col, **kwargs)
    losers = (
        cross.select(F.col("id_b").alias(id_col))
        .unionAll(internal.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    return batch.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(text_col: str, bits: int = 32, hash_fn=None) -> "F.Column":
    """Charikar SimHash over whitespace tokens: bit j of the fingerprint
    is the sign of Σ_tokens (±1 depending on bit j of hash(token),
    default ``xxhash64``).

    Single-pass formulation: one traversal of the token hashes with a
    ``bits``-wide vote accumulator (the naive per-bit version re-scans
    the array ``bits`` times). Per-row map, no shuffle."""
    if hash_fn is None:
        hash_fn = F.xxhash64
    tokens = F.array_distinct(F.split(F.trim(F.col(text_col)), " "))
    hashes = F.transform(tokens, lambda t: hash_fn(t))

    def step(acc, h):
        votes = F.array(*[
            F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
            for j in range(bits)
        ])
        return F.zip_with(acc, votes, lambda a, v: a + v)

    vote_acc = F.aggregate(
        hashes, F.array_repeat(F.lit(0).cast("bigint"), bits), step
    )
    bit_vals = F.zip_with(
        vote_acc,
        F.array(*[F.lit(1 << j).cast("bigint") for j in range(bits)]),
        lambda v, w: F.when(v > 0, w).otherwise(F.lit(0).cast("bigint")),
    )
    return F.aggregate(
        bit_vals, F.lit(0).cast("bigint"), lambda s, x: s + x
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
    hash_fn=None,
    max_band_df: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash: band the fingerprint into ``bands``
    chunks, block on exact chunk match (any pair within Hamming distance
    < bands shares ≥ 1 chunk — pigeonhole), verify Hamming ≤
    ``max_hamming``. Output: ``id_a, id_b, hamming``.

    ``hash_fn``: Column→Column token hash; default ``xxhash64`` (fastest
    JVM path). Pass ``functions.hashing.polynomial_string_hash`` for a
    hash a SQL oracle can recompute character-by-character — it yields
    31 usable bits, so with bits=32 the top bit is constantly 0 (both
    signatures agree there; Hamming values are unaffected, the top band
    just blocks slightly more).

    ``max_band_df`` is the hot-bucket cap — the banding analog of
    ``ngram_jaccard_pairs``'s ``max_shingle_df``. Each band chunk has
    only ``2^(bits/bands)`` possible values, so on a highly
    self-similar corpus bucket populations grow linearly with corpus
    size and the blocking join's candidate count quadratically (the
    measured sf1 super-linearity in SCALING.md). The cap drops
    (band, chunk) buckets holding more than ``max_band_df`` docs from
    candidate generation (:func:`~parquet_sampler_spark.plans.skew.drop_hot_keys`):
    recall-only approximate — a qualifying pair survives iff it agrees
    on at least one UNDER-cap band — and deterministic, so an oracle
    can replicate it. Precision and the
    emitted Hamming distances stay exact (verification is unchanged)."""
    if bits % bands != 0:
        raise ValueError("bits must be divisible by bands")
    if hash_fn is None:
        hash_fn = F.xxhash64
    w = bits // bands
    mask = (1 << w) - 1

    from parquet_sampler_spark.plans.layout import spread

    @F.pandas_udf(T.LongType())
    def simhash_udf(hashes: pd.Series) -> pd.Series:
        # vectorized vote-and-sign: bit j of each token hash extracted
        # via shifts; votes summed over tokens (same math as simhash(),
        # moved to numpy — signatures are internal, not oracle-facing)
        out = np.zeros(len(hashes), dtype=np.int64)
        shifts = np.arange(bits, dtype=np.int64)
        for i, arr in enumerate(hashes):
            h = np.asarray(arr, dtype=np.int64)
            if h.size == 0:
                continue
            bits_m = (h[:, None] >> shifts[None, :]) & 1   # (n, bits)
            votes = (2 * bits_m - 1).sum(axis=0)
            out[i] = int(((votes > 0).astype(np.int64) << shifts).sum())
        return pd.Series(out)

    # one path for every hash_fn: tokens hashed JVM-side, then the
    # numpy vote kernel (measured ~1.5x faster than the pure-JVM
    # per-bit vote expression for the portable rolling hash; kernel
    # bit-equality is pinned in tests/test_dedup.py). The repartition
    # between the two projections is a required EXCHANGE BARRIER, not a
    # load-balancing nicety: without it CollapseProject nests the
    # hash-HOF lambda under the pandas UDF, which whole-stage codegen
    # cannot compile (INTERNAL_ERROR in the banded self-join). The
    # shuffled payload is just (id, array<int64> token hashes) — tiny.
    tokens_hashed = spread(df).select(
        F.col(id_col),
        F.transform(
            F.array_distinct(F.split(F.trim(F.col(text_col)), " ")),
            lambda t: hash_fn(t),
        ).alias("__th"),
    )
    n_parts = max(
        df.sparkSession.sparkContext.defaultParallelism, 8
    )
    # The kernel never returns NULL, and coalesce tells the optimizer
    # so: the Hamming filter below reads the fingerprint out of the pair
    # ids, and would otherwise make it infer IS NOT NULL on the
    # fingerprint and push that filter through the barrier into the
    # hashing projection — the uncompilable nesting above.
    fp = tokens_hashed.repartition(n_parts).select(
        F.col(id_col),
        F.coalesce(simhash_udf(F.col("__th")), F.lit(0)).alias("__fp"),
    )
    # the fingerprint rides in the pair id: it is a function of the id,
    # so pairs of (id, fp) structs are pairs of ids, and the struct
    # order (id first) is the id order
    banded = fp.select(
        F.struct(F.col(id_col).alias("id"), "__fp").alias("__doc"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band"),
                    F.shiftright("__fp", i * w).bitwiseAND(F.lit(mask)).alias("chunk"),
                )
                for i in range(bands)
            ])
        ).alias("b"),
    ).select("__doc", "b.band", "b.chunk")
    # a NULL id never pairs (NULL < x is NULL), but a struct holding
    # one compares below every other struct
    banded = drop_hot_keys(banded, ["band", "chunk"], max_band_df).filter(
        F.col("__doc.id").isNotNull()
    )
    pairs = _pair_counts(banded, banded, "__doc", ["band", "chunk"],
                         self_join=True)
    return pairs.select(
        F.col("id_a.id").alias("id_a"),
        F.col("id_b.id").alias("id_b"),
        F.bit_count(F.col("id_a.__fp").bitwiseXOR(F.col("id_b.__fp")))
        .alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)

# ---------------------------------------------------------------------------
# Connected-components duplicate clustering
# ---------------------------------------------------------------------------

def duplicate_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    max_iterations: int = 50,
    checkpoint_interval: int = 5,
    on_nonconverged: str = "raise",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Transitive-closure duplicate clusters: label every row with the
    MINIMUM id reachable through the similarity graph (``pairs`` from
    any pair generator — exact Jaccard, MinHash, SimHash, embedding).

    Unlike the greedy min-id rule (drop if ANY smaller-id neighbor),
    clustering gives one canonical representative per *component*: for a
    chain a—b—c, greedy keeps a and c (c has no smaller direct
    neighbor), clustering keeps only a.

    Algorithm: iterative min-label propagation to fixpoint —
    ``label(v) ← min(label(v), min label(u) over neighbors u)`` — the
    standard large-scale CC formulation (each round = one join + one
    aggregate, all shuffles on id; rounds needed = graph diameter,
    which for near-dup graphs is tiny). Each round persists its labels
    and the loop stops when no label changes (driver-side count).

    Every ``checkpoint_interval`` rounds the label relation is
    checkpointed: without truncation, round r's plan contains ALL prior
    rounds' joins, so lineage (and optimizer time) grows linearly — the
    standard guard for iterative Spark algorithms. By default the
    truncation is ``localCheckpoint()`` (executor-storage blocks — fast,
    but LOST if an executor dies, which on a real cluster kills the
    job mid-iteration with no recompute path). Pass ``checkpoint_dir``
    (an HDFS/object-store path on a cluster) to use reliable
    ``checkpoint()`` instead — blocks land in fault-tolerant storage at
    the cost of a write per truncation. The 100 TB default should be a
    reliable dir; local benches keep the fast path.

    If the fixpoint is not reached within ``max_iterations``, labels are
    only partially merged; ``on_nonconverged`` controls the signal:
    ``"raise"`` (default — unconverged output is silently wrong for
    dedup), ``"warn"``, or ``"ignore"``.

    Output: ``(id_col, cluster)`` for every input row; singletons
    cluster to themselves.
    """
    if on_nonconverged not in ("raise", "warn", "ignore"):
        raise ValueError(f"bad on_nonconverged: {on_nonconverged!r}")
    if max_iterations < 1:
        # 0 iterations would return identity labels that are only
        # coincidentally correct (edgeless graph) — never meaningful
        raise ValueError("max_iterations must be >= 1")
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()

    labels = df.select(
        F.col(id_col), F.col(id_col).alias("cluster")
    ).persist()
    cached = labels  # df actually holding the persisted blocks
    # the latest checkpointed generation: the persisted generations
    # after it recompute from its blocks, so it lives until the next one
    ckpt = None

    changed = -1
    for i in range(max_iterations):
        neigh_min = (
            sym.join(labels, sym["dst"] == labels[id_col])
            .groupBy("src")
            .agg(F.min("cluster").alias("__nmin"))
        )
        # Labels are monotone non-increasing, so "changed" is simply
        # new < old — computable inline, which lets ONE action both
        # materialize the round's labels and return the changed count
        # (the old self-join + count() cost 2 extra jobs per round).
        upd = F.least(
            F.col("cluster"), F.coalesce(F.col("__nmin"), F.col("cluster"))
        )
        new_full = (
            labels.join(
                neigh_min, labels[id_col] == neigh_min["src"], "left"
            )
            .select(
                labels[id_col],
                upd.alias("cluster"),
                (upd < F.col("cluster")).cast("long").alias("__chg"),
            )
        )
        truncate = (i + 1) % checkpoint_interval == 0
        if truncate:
            # truncate lineage: materializes eagerly and replaces the
            # logical plan with the stored blocks
            new_full = _truncate_lineage(new_full, checkpoint_dir)
        else:
            new_full = new_full.persist()
        changed = new_full.agg(F.sum("__chg")).first()[0] or 0
        if cached is not ckpt:
            cached.unpersist()
        if truncate:
            if ckpt is not None:
                release(ckpt)
            ckpt = new_full
        cached = new_full
        labels = new_full.drop("__chg")
        if changed == 0:
            break
    sym.unpersist()
    if changed != 0:
        msg = (
            f"duplicate_clusters did not converge within "
            f"{max_iterations} iterations ({changed} labels still "
            f"changing) — output labels are PARTIALLY merged"
        )
        if on_nonconverged == "raise":
            raise RuntimeError(msg)
        if on_nonconverged == "warn":
            import warnings

            warnings.warn(msg, RuntimeWarning, stacklevel=2)
    # the final label relation (and the checkpoint it recomputes from)
    # stays persisted for the caller's plan; register the dfs that own
    # the blocks so clear_caches() releases them
    register(cached)
    if ckpt is not None and ckpt is not cached:
        register(ckpt)
    return labels


def cluster_dedup(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    **clusters_kwargs,
) -> DataFrame:
    """Keep exactly one row (the min-id representative) per duplicate
    cluster — the transitive-closure analog of :func:`jaccard_dedup`.
    Extra keyword args (``checkpoint_dir``, ``checkpoint_interval``,
    ``max_iterations``, ``on_nonconverged``) pass through to
    :func:`duplicate_clusters`."""
    labels = duplicate_clusters(df, pairs, id_col, **clusters_kwargs)
    keep = labels.filter(F.col(id_col) == F.col("cluster")).select(id_col)
    return df.join(keep, id_col, "left_semi")


def cluster_dedup_best(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    score_col: str,
    **clusters_kwargs,
) -> DataFrame:
    """Keep the BEST-scoring row per duplicate cluster (ties → min
    ``id_col``) — the keeper policy production dedup actually wants:
    of N near-identical copies, keep the highest-quality one, not the
    accidental min-id (:func:`cluster_dedup`'s policy, kept as the
    cheaper sibling when no score exists). ``score_col`` is any
    per-row quality signal already on ``df``.

    Plan shape: the label relation joins back by ``id_col`` (key +
    score + cluster — never text) and one per-cluster
    ``row_number`` window picks the argmax; both exchanges carry
    id-sized rows, and the window compiles to WindowGroupLimit
    (1 row per cluster survives the partial pass). Extra keyword args
    pass through to :func:`duplicate_clusters`."""
    labels = duplicate_clusters(df, pairs, id_col, **clusters_kwargs)
    slim = df.select(id_col, score_col)
    w = Window.partitionBy("cluster").orderBy(
        F.col(score_col).desc(), F.col(id_col)
    )
    keep = (
        slim.join(labels, id_col)
        .withColumn(_RN, F.row_number().over(w))
        .filter(F.col(_RN) == 1)
        .select(id_col)
    )
    return df.join(keep, id_col, "left_semi")



def ngram_dup_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_df: int = 2,
) -> DataFrame:
    """Cross-document repeated-n-gram SPAN detection — the substring-
    dedup signal of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better"): find, per document, the maximal token
    spans covered by sliding ``n``-token windows whose window text
    occurs in at least ``min_df`` DISTINCT documents. Those spans are
    what a substring-level dedup pass cuts from the training corpus
    (doc-level dedup misses boilerplate shared across otherwise-distinct
    pages; this finds it).

    Output: ``(id_col, span_start, span_end, span_tokens,
    n_dup_windows)`` with 1-based inclusive token positions.
    Overlapping and touching duplicated windows merge into one span
    (gaps-and-islands: a window starting more than ``n`` positions
    after its predecessor starts a new span). Within-document-only
    repetition is NOT flagged (frequency counts distinct documents).

    Plan shape (the 100 TB contract): windows are generated by a
    per-row map (``posexplode`` of the shared ``word_ngrams`` builder)
    fused into the scan — O(total tokens) rows. Duplicated grams are
    found by ONE count-distinct hash aggregation on the gram hash:
    the partial phase dedups on (gram, doc) per partition, so the
    shuffle carries at most one row per distinct (gram, doc) pair per
    partition — for a boilerplate gram in millions of docs that is
    rows ∝ its document frequency (never ∝ its total occurrence
    count, and never the quadratic df² a pair self-join would pay).
    Flagging is a shuffle semi-join on the same hash, and spans form
    with ONE window pass per document. No self-join anywhere — unlike the
    pair-join dedup family there is no quadratic hot-shingle term, so
    no df cap is needed. Grams travel as 31-bit integer hashes, never
    as strings: each token's characters are hashed ONCE per document
    (:func:`~parquet_sampler_spark.functions.hashing.
    mixed_string_hash`), and a window's hash is the base-31 polynomial
    fold of its n token hashes mod the Mersenne prime — the window
    STRING is never materialized, so per-window work is n integer ops
    instead of building and re-folding an ~n·token_len-character
    string. End-to-end at sf0.1 this is a wash (measured: the
    count-distinct shuffle and semi-join dominate, not the hashing) —
    the win is allocation volume at scale, where every window
    otherwise carries a ~50-char string through the explode. A hash
    collision can only over-flag a window (identically in the DuckDB
    oracle, which replicates the same two-stage hash).
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if min_df < 2:
        raise ValueError(f"min_df must be >= 2, got {min_df}")

    windows = _gram_hash_windows(df, id_col, text_col, n)
    dup_grams = (
        windows.groupBy("gh")
        .agg(F.count_distinct(F.col(id_col)).alias("__ndocs"))
        .filter(F.col("__ndocs") >= min_df)
        .select("gh")
    )
    dup_windows = windows.join(dup_grams, "gh", "left_semi")
    return _merge_window_spans(dup_windows, id_col, n, "n_dup_windows")


def _gram_hash_windows(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """Sliding n-token window hashes, one row per window position:
    ``(id_col, pos, gh)`` with 1-based ``pos`` — the shared front end
    of the span-level dedup family. Each token's characters are hashed
    ONCE per document (:func:`mixed_string_hash`); a window's hash is
    the base-31 polynomial fold of its n token hashes mod the Mersenne
    prime, so the window STRING never materializes. Pure per-row map
    fused into the scan — O(total tokens) rows, no shuffle."""
    from parquet_sampler_spark.functions.hashing import (
        MODULUS,
        mixed_string_hash,
    )
    from parquet_sampler_spark.plans.layout import spread

    tk = F.split(F.trim(F.col(text_col)), " ")
    th = F.transform(tk, lambda t: mixed_string_hash(t))
    gh_windows = (
        f"transform(sequence(1, size(__th) - {n - 1}), "
        f"i -> aggregate(slice(__th, i, {n}), 0L, "
        f"(acc, x) -> (acc * 31 + x) % {MODULUS}L))"
    )
    return (
        spread(df).select(F.col(id_col), th.alias("__th"))
        # guard: sequence(1, k) with k <= 0 is a DESCENDING sequence
        .filter(F.size("__th") >= n)
        .select(
            F.col(id_col),
            F.posexplode(F.expr(gh_windows)).alias("__pos0", "gh"),
        )
        .select(
            F.col(id_col),
            (F.col("__pos0") + 1).cast("bigint").alias("pos"),
            "gh",
        )
    )


def _merge_window_spans(
    flagged: DataFrame, id_col: str, n: int, count_alias: str
) -> DataFrame:
    """Gaps-and-islands merge of flagged window positions into maximal
    spans: a window starting more than ``n`` positions after its
    predecessor opens a new span (touching/overlapping windows merge).
    ONE per-document window pass."""
    w_doc = Window.partitionBy(id_col).orderBy("pos")
    brk = F.when(
        F.col("pos") - F.lag("pos").over(w_doc) > n, F.lit(1)
    ).otherwise(F.lit(0))
    islands = flagged.withColumn("__brk", brk).withColumn(
        "__island",
        F.sum("__brk").over(
            w_doc.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return islands.groupBy(id_col, "__island").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + n - 1).alias("span_end"),
        (F.max("pos") + n - F.min("pos")).alias("span_tokens"),
        F.count(F.lit(1)).alias(count_alias),
    ).drop("__island")


def contaminated_spans(
    train_df: DataFrame,
    bench_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 4,
    bench_broadcast: bool = True,
) -> DataFrame:
    """Cross-corpus SPAN-level decontamination: per training document,
    the maximal token spans covered by sliding ``n``-token windows
    whose window text occurs ANYWHERE in the benchmark corpus — the
    span-level analog of n-gram decontamination (doc-level removal
    like :func:`decontaminate` throws away a whole page for one
    quoted benchmark line; this localizes exactly which tokens to cut,
    the convention of GPT-3 App. C / PaLM-style n-gram overlap
    scrubbing).

    Output: ``(id_col, span_start, span_end, span_tokens,
    n_contam_windows)`` — 1-based inclusive token positions; touching
    or overlapping contaminated windows merge into one span
    (gaps-and-islands, shared with :func:`ngram_dup_spans`).

    Plan shape (the 100 TB contract): the benchmark gram-hash set is
    Θ(benchmark tokens) — bounded by the BENCHMARK, never the corpus —
    deduplicated and (by default) BROADCAST into a semi-join against
    the training window stream, so the corpus-sized side never
    shuffles (the bloom_decontaminate argument, without the bitmap:
    benchmark suites are MBs where corpora are TBs).
    ``bench_broadcast=False`` is the escape to a shuffle semi-join for
    an unusually large benchmark side. Grams travel as 31-bit integer
    hashes (a collision can only over-flag a window — identically in
    the DuckDB oracle, which replicates the same two-stage hash).
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    windows = _gram_hash_windows(train_df, id_col, text_col, n)
    bench_grams = (
        _gram_hash_windows(bench_df, id_col, text_col, n)
        .select("gh").distinct()
    )
    if bench_broadcast:
        bench_grams = F.broadcast(bench_grams)
    flagged = windows.join(bench_grams, "gh", "left_semi")
    return _merge_window_spans(flagged, id_col, n, "n_contam_windows")


# Bloom-filter decontamination: k probe-position derivations reuse the
# Lehmer column multipliers; constants are shared with the SQL-free
# probe expression and the pytest false-negative proof.
_BLOOM_PROBES = ((48_271, 65_537), (69_069, 12_345),
                 (22_695_477, 7), (12_820_163, 101))


def _bloom_positions(fp, nbits: int):
    """The k probe bit-positions of a 31-bit fingerprint column (JVM
    expression): ``(fp * a_j + c_j) % M % nbits``. The mod-M mixing
    round keeps each probe a bijection of the fingerprint space before
    the truncation to nbits (fp*a alone would leave probes of nearby
    fingerprints correlated)."""
    from parquet_sampler_spark.functions.hashing import MODULUS

    return [
        ((fp * F.lit(a) + F.lit(c)) % F.lit(MODULUS)) % F.lit(nbits)
        for a, c in _BLOOM_PROBES
    ]


def _np_poly_fps(texts, modulus: int):
    """Vectorized numpy twin of ``functions.text.fingerprint``: the
    rolling polynomial ``h = (h*31 + codepoint) % M`` over the
    space-trimmed text, computed per Arrow batch as a chunked
    dot-product against a precomputed 31-power table (each <=1024-char
    chunk's term sum stays below 2^62, so plain int64 arithmetic is
    exact — the identical value the JVM expression and the DuckDB
    oracle produce, pytest-pinned on ascii/unicode/edge strings).
    Returns int64 fps with -1 for null texts. ~100x faster than the
    JVM higher-order-function form, which evaluates an interpreted
    per-character substring fold (~11 us/char measured)."""
    import numpy as np

    n = len(texts)
    out = np.full(n, -1, dtype=np.int64)
    vals = texts.tolist()
    max_len = 0
    for t in vals:
        if t is not None and len(t) > max_len:
            max_len = len(t)
    pows = np.ones(max_len + 2, dtype=np.int64)
    for i in range(1, max_len + 2):
        pows[i] = (pows[i - 1] * 31) % modulus
    chunk = 1024
    for j, t in enumerate(vals):
        if t is None:
            continue
        s = t.strip(" ")
        L = len(s)
        if L == 0:
            out[j] = 0
            continue
        if s.isascii():
            codes = np.frombuffer(s.encode("ascii"), dtype=np.uint8)
            codes = codes.astype(np.int64)
        else:
            codes = np.fromiter(map(ord, s), dtype=np.int64, count=L)
        h = 0
        for off in range(0, L, chunk):
            part = codes[off:off + chunk]
            lc = len(part)
            ch = int(np.dot(part, pows[lc - 1::-1])) % modulus
            h = (h * int(pows[lc]) + ch) % modulus
        out[j] = h
    return out


def bloom_decontaminate(
    corpus: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    nbits: int = 1 << 16,
    probe: str = "auto",
) -> DataFrame:
    """EXACT-duplicate decontamination through a Bloom prefilter: drop
    every corpus row whose text fingerprint appears in ``bench`` —
    bit-identical to the plain anti-join, but the corpus-side work is a
    scan plus k integer probes against kilobytes of broadcast state
    instead of a join touching every row.

    Plan (the 100 TB contract): the benchmark side folds into an
    ``nbits``-bit Bloom bitmap (k=4 seeded Lehmer probes per
    fingerprint; the distinct-position collect is bounded by
    min(nbits, 4·|bench|) rows — O(kilobytes), never corpus- or
    bench-fingerprint-sized). The corpus pass keeps only rows whose k
    bits ALL hit (the Bloom guarantee: every true contaminant hits, so
    no false negatives); that candidate sliver — true contaminants
    plus the ~(load)^k false positives — is exact-verified with one
    semi-join against the (never-collected, distributed) bench
    fingerprints, and the confirmed ids broadcast-anti-join back onto
    the corpus. The corpus itself never shuffles.

    ``probe="pandas"`` (the default via ``"auto"``) runs the whole
    fingerprint+probe pass as ONE Arrow-batched ``mapInPandas`` that
    emits only candidate ``(id, fingerprint)`` rows: the polynomial
    hash is a vectorized numpy chunked dot-product
    (:func:`_np_poly_fps`) — measured ~100x faster than the JVM
    higher-order-function fingerprint, whose per-character fold is
    interpreted (~11 us/char), and opaque to predicate pushdown so the
    expensive pass cannot sink below the ``spread()`` repartition onto
    a narrow local scan. ``probe="expr"`` keeps the pure-JVM
    expression path (bitmap as a literal int-word array probed with
    element_at/bit masks) as the no-Python capability surface. Both
    paths are value-identical (pytest-pinned), and the numpy/JVM/
    DuckDB fingerprint parity is pinned on edge strings.
    """
    from parquet_sampler_spark.functions.text import fingerprint
    from parquet_sampler_spark.plans.layout import spread

    if nbits < 64 or nbits & (nbits - 1):
        raise ValueError(f"nbits must be a power of two >= 64, got {nbits}")
    if probe not in ("auto", "expr", "pandas"):
        raise ValueError(f"unknown probe mode {probe!r}")
    if probe == "auto":
        probe = "pandas"

    # NULL text has no fingerprint and contaminates nothing: dropped
    # here so the bitmap fold below never collects a NULL position
    # (int(None) crash) — matching the corpus side, where a NULL text
    # is never a candidate (fps >= 0 guard / NULL probe expression)
    bench_fp = bench.filter(F.col(text_col).isNotNull()).select(
        fingerprint(text_col).alias("__bfp")
    ).distinct()
    # fold the bench side into the bitmap: explode the k positions,
    # distinct, collect — bounded by min(nbits, 4·|bench|), kilobytes.
    pos_rows = (
        bench_fp.select(
            F.explode(
                F.array(*_bloom_positions(F.col("__bfp"), nbits))
            ).alias("p")
        )
        .distinct()
        .collect()
    )
    nwords = nbits // 32
    words = [0] * nwords
    for r in pos_rows:
        p = int(r.p)
        words[p // 32] |= 1 << (p % 32)

    if probe == "expr":
        # one O(text)-cost fingerprint per row, computed ONCE and
        # carried as a column through probe + exact verify (inlining
        # it into each of the 4 probe expressions would recompute the
        # per-character fold 4x); spread() widens a small single-file
        # input to all cores before the expensive map work (a no-op on
        # any real multi-split table — no shuffle at scale)
        base = spread(corpus).withColumn("__fp", fingerprint(text_col))
        fp = F.col("__fp")
        # 32-bit words as signed int literals: fold the sign bit in
        signed = [w - (1 << 32) if w >= 1 << 31 else w for w in words]
        bitmap = F.array(*[F.lit(w).cast("int") for w in signed])
        hit = F.lit(True)
        for pcol in _bloom_positions(fp, nbits):
            word = F.element_at(bitmap, (pcol / 32).cast("int") + 1)
            # mask = 2^(p%32) is exact in double for exponents <= 31;
            # the 0xFFFFFFFF widen keeps the probe of bit 31 correct
            # on the signed 32-bit words
            mask = F.pow(F.lit(2.0), (pcol % 32).cast("int")).cast("bigint")
            word_u = word.cast("bigint").bitwiseAND(F.lit(0xFFFFFFFF))
            hit = hit & (word_u.bitwiseAND(mask) != 0)
        candidates = (
            base.filter(hit).select(id_col, "__fp")
        )
    else:
        import numpy as np

        from parquet_sampler_spark.functions.hashing import MODULUS

        bits = np.zeros(nwords, dtype=np.uint32)
        for i, w in enumerate(words):
            bits[i] = np.uint32(w & 0xFFFFFFFF)
        sc = corpus.sparkSession.sparkContext
        bbits = sc.broadcast(bits)
        probes = list(_BLOOM_PROBES)
        out_schema = T.StructType(
            [corpus.schema[id_col], T.StructField("__fp", T.LongType())]
        )
        tcol, icol = text_col, id_col

        def _candidates(batches):
            arr = None
            for pdf in batches:
                if arr is None:
                    arr = bbits.value
                nb = len(arr) * 32
                fps = _np_poly_fps(pdf[tcol], MODULUS)
                hit = fps >= 0
                for a, c in probes:
                    p = ((fps * a + c) % MODULUS) % nb
                    hit &= ((arr[p // 32] >> (p % 32)) & 1) == 1
                out = pdf.loc[hit, [icol]].copy()
                out["__fp"] = fps[hit]
                yield out

        candidates = spread(corpus).mapInPandas(_candidates, out_schema)

    confirmed = (
        candidates.join(
            F.broadcast(bench_fp),
            F.col("__fp") == F.col("__bfp"),
            "left_semi",
        )
        .select(id_col)
    )
    return corpus.join(F.broadcast(confirmed), id_col, "left_anti")


def _winnow_fps(
    df: DataFrame, id_col: str, text_col: str, k: int, w: int
) -> DataFrame:
    """The winnowed-fingerprint relation ``(id_col, f)`` shared by
    :func:`winnow_pairs` and :func:`winnow_fp_census`: hash every
    ``k``-token gram, keep each ``w``-window's minimum, dedup per doc.
    One per-row expression chain fused into the scan — no shuffle."""
    from parquet_sampler_spark.functions.hashing import (
        MODULUS,
        mixed_string_hash,
    )
    from parquet_sampler_spark.plans.layout import spread

    tk = F.split(F.trim(F.col(text_col)), " ")
    th = F.transform(tk, lambda t: mixed_string_hash(t))
    gh = (
        f"transform(sequence(1, size(__th) - {k - 1}), "
        f"i -> aggregate(slice(__th, i, {k}), 0L, "
        f"(acc, x) -> (acc * 31 + x) % {MODULUS}L))"
    )
    wins = (
        f"transform(sequence(1, size(__gh) - {w - 1}), "
        f"i -> array_min(slice(__gh, i, {w})))"
    )
    return (
        spread(df).select(F.col(id_col), th.alias("__th"))
        .filter(F.size("__th") >= k + w - 1)
        .select(F.col(id_col), F.expr(gh).alias("__gh"))
        .select(
            F.col(id_col),
            F.explode(F.expr(f"array_distinct({wins})")).alias("f"),
        )
    )


def winnow_fp_census(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 4,
    w: int = 4,
    p: float = 0.999,
    _fp: DataFrame | None = None,
) -> dict:
    """Cheap document-frequency census of the winnowed fingerprint
    stream — the "calibrate, don't default" tool for
    :func:`winnow_pairs`'s ``max_fp_df`` (r12 measured the need: the
    uncapped hot-fp head grew 195 → 1,812 across the Heaps decade and
    drove pair output to α 1.07; the right cap is a corpus property,
    not a constant).

    Cost: ONE df aggregation over the fingerprint stream plus the df
    HISTOGRAM collapse (``groupBy(df).count()`` — bounded by distinct
    df VALUES, a few thousand rows at any corpus size), from which the
    exact tail quantile is derived driver-side. No sort of the
    fingerprint table, nothing corpus-sized collected.

    Returns ``{"n_fps", "max_df", "p_df", "recommended_cap"}`` where
    ``p_df`` is the EXACT p-quantile of fingerprint dfs (value at rank
    ``ceil(p·n)`` of the ascending df list — deterministic, and
    replicated verbatim by the SQL oracle of the censused query) and
    ``recommended_cap = max(p_df, 2)``: everything above the p99.9 df
    is head-of-distribution boilerplate whose pairs grow Σdf²; the
    floor keeps a degenerate all-singleton census from capping below
    any shareable fingerprint.
    """
    import math

    if not (0 < p < 1):
        raise ValueError(f"p must be in (0, 1), got {p}")
    fp = _fp if _fp is not None else _winnow_fps(
        df, id_col, text_col, k, w
    )
    hist = (
        fp.groupBy("f")
        .agg(F.count(F.lit(1)).alias("__df"))
        .groupBy("__df")
        .agg(F.count(F.lit(1)).alias("__n"))
        .collect()
    )
    items = sorted((r["__df"], r["__n"]) for r in hist)
    if not items:
        return {
            "n_fps": 0, "max_df": 0, "p_df": 0, "recommended_cap": 2,
        }
    n = sum(c for _, c in items)
    target = math.ceil(p * n)
    cum = 0
    p_df = items[-1][0]
    for v, c in items:
        cum += c
        if cum >= target:
            p_df = v
            break
    return {
        "n_fps": n,
        "max_df": items[-1][0],
        "p_df": p_df,
        "recommended_cap": max(p_df, 2),
    }


def winnow_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 4,
    w: int = 4,
    min_shared: int = 2,
    max_fp_df: int | str | None = None,
) -> DataFrame:
    """Winnowing-fingerprint candidate pairs (Schleimer, Wilkerson &
    Aiken 2003 — the MOSS algorithm): document pairs sharing at least
    ``min_shared`` winnowed fingerprints, with the shared count.

    Winnowing is the bandwidth-reduced relative of the full-window
    machinery in :func:`ngram_dup_spans`: hash every ``k``-token gram,
    slide a ``w``-gram window over the hash stream, keep each window's
    MINIMUM hash, dedup per document. The selected set has expected
    density ``2/(w+1)`` of the gram stream (the paper's bound) yet
    GUARANTEES any shared token run of length >= ``w + k - 1`` yields
    a shared fingerprint — position-aware substring detection at a
    fraction of the index size, where MinHash answers whole-document
    set similarity and ngram_dup_spans ships every window into its
    aggregate.

    Output: ``(id_a, id_b, n_shared)`` with ``id_a < id_b``.

    Plan shape (the 100 TB contract): token hashing, gram folding,
    window minima, and per-doc dedup are ONE per-row expression chain
    fused into the scan (no shuffle until fingerprints exist —
    Θ(2·tokens/(w+1)) rows); pairs come from an inverted-index
    self-join on the fingerprint. Like every inverted-index join in
    this family it has a Σdf² hot-key term — ``max_fp_df`` drops
    fingerprints above a document-frequency cap from PAIR FORMATION
    ONLY (:func:`~parquet_sampler_spark.plans.skew.drop_hot_keys`) (``n_shared`` then under-counts by the dropped fingerprints,
    precision of the emitted pairs stays exact — the
    ``jaccard_pairs_capped`` contract, replicated in the oracle via
    GROUP BY…HAVING). A boilerplate run shared by d docs is d·(d−1)/2
    pairs BY DEFINITION — cap or pre-dedup when that is not the
    question being asked. ``max_fp_df="census"`` calibrates the cap
    from the corpus itself (:func:`winnow_fp_census`: the exact p99.9
    of the fingerprint df distribution, one extra aggregate) — the
    right default when the corpus's boilerplate head is unknown.

    Ties inside a window keep one value (minima compare VALUES; equal
    minima in overlapping windows dedup away) — both engines take
    ``min`` over the same integers, so selection is identical.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if w < 1:
        raise ValueError(f"w must be >= 1, got {w}")
    if min_shared < 1:
        raise ValueError(f"min_shared must be >= 1, got {min_shared}")
    if isinstance(max_fp_df, str) and max_fp_df != "census":
        raise ValueError(
            f"max_fp_df must be an int, None, or 'census'; "
            f"got {max_fp_df!r}"
        )

    fp = _winnow_fps(df, id_col, text_col, k, w)
    if max_fp_df == "census":
        fp = _persist(fp)  # census + pair join share one computation
        max_fp_df = winnow_fp_census(
            df, id_col, text_col, k=k, w=w, _fp=fp
        )["recommended_cap"]
    join_fp = drop_hot_keys(fp, "f", max_fp_df)
    return (
        _pair_counts(join_fp, join_fp, id_col, ["f"], self_join=True)
        .withColumnRenamed("common", "n_shared")
        .filter(F.col("n_shared") >= min_shared)
    )


def scrub_contaminated_spans(
    train_df: DataFrame,
    bench_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 4,
    bench_broadcast: bool = True,
) -> DataFrame:
    """The WRITE side of :func:`contaminated_spans`: return the
    training corpus with every contaminated span CUT OUT — the
    scrubbed text a decontamination pass actually publishes (the
    span table is the audit artifact; this is the artifact that
    trains).

    Output: ``(id_col, n_tokens, n_kept, scrubbed_text)`` — token
    counts before/after, and the surviving tokens re-joined with
    single spaces in original order (empty string when a document is
    entirely contaminated). Documents with no flagged span pass
    through with ``n_kept == n_tokens``; docs that tokenize empty are
    absent (no defined token stream), matching the span operator.

    Plan shape: the span table's covered token positions explode to a
    ``(id, pos)`` relation (Θ(contaminated tokens) — bounded by the
    flagged material, typically ≪ corpus) that LEFT ANTI-joins the
    corpus token stream; surviving tokens re-assemble per doc with ONE
    aggregation using ``array_sort(collect_list(struct(pos, tok)))``
    (order restored inside the aggregate — no window, no second
    shuffle: Spark's collect_list is partial-aggregated per partition
    and the sort runs on the assembled per-doc array). Everything
    upstream (window hashing, bench-gram broadcast semi-join,
    gaps-and-islands) is the shared span machinery.
    """
    spans = contaminated_spans(
        train_df, bench_df, id_col, text_col, n=n,
        bench_broadcast=bench_broadcast,
    )
    covered = spans.select(
        F.col(id_col),
        F.explode(
            F.sequence(F.col("span_start"), F.col("span_end"))
        ).alias("pos"),
    ).dropDuplicates([id_col, "pos"])

    t = F.trim(F.col(text_col))
    toks = (
        train_df.filter(t.isNotNull() & (F.length(t) > 0))
        .select(
            F.col(id_col),
            F.posexplode(F.split(t, " ")).alias("__p0", "tok"),
        )
        .select(
            F.col(id_col),
            (F.col("__p0") + 1).cast("bigint").alias("pos"),
            "tok",
        )
    )
    kept = toks.join(covered, [id_col, "pos"], "left_anti")
    totals = toks.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens")
    )
    reassembled = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s.getField("tok"),
            ),
        ).alias("scrubbed_text"),
    )
    return (
        totals.join(reassembled, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
            F.coalesce(F.col("scrubbed_text"), F.lit("")).alias(
                "scrubbed_text"
            ),
        )
    )
