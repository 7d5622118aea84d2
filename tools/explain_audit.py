"""Plan audit: dump formatted physical plans for the headline operators
and grep them for the properties SCALING.md promises (broadcast
semi-joins, pushed filters, pruned schemas, top-k instead of global
sort, no Exchange on bucketed joins).

Usage: python tools/explain_audit.py [sf_dir] > PLANS.txt
Exit code 1 if any asserted plan property is missing.
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from pyspark.sql import functions as F

    from parquet_sampler_spark import queries as R
    from parquet_sampler_spark.session import get_spark

    spark = get_spark("explain_audit")
    qs = R.queries()
    failures = []

    def check(name, df, must_contain=(), must_not=()):
        p = plan_of(df)
        print(f"\n{'=' * 70}\n{name}\n{'=' * 70}")
        df.explain("formatted")
        for frag in must_contain:
            ok = frag in p
            print(f"  [{'ok' if ok else 'MISSING'}] expects {frag!r}")
            if not ok:
                failures.append((name, frag))
        for frag in must_not:
            ok = frag not in p
            print(f"  [{'ok' if ok else 'PRESENT'}] forbids {frag!r}")
            if not ok:
                failures.append((name, f"!{frag}"))

    # 1. semi-join reduction: broadcast, no probe shuffle, and the
    # build keys broadcast as projected (no de-duplicating aggregate:
    # it would cost a shuffle-map job the semi-join does not need)
    check(
        "semijoin_orders",
        qs["semijoin_orders"](spark, sf_dir),
        must_contain=["BroadcastHashJoin", "LeftSemi"],
        must_not=["HashAggregate"],
    )
    # 1b. non-broadcast semi-join escape (r11): past the broadcast
    # ceiling the reduction must take a shuffled-hash join — both
    # sides exchange on the key, NO BroadcastExchange anywhere
    check(
        "semijoin_orders_shuffle",
        qs["semijoin_orders_shuffle"](spark, sf_dir),
        must_contain=["ShuffledHashJoin", "LeftSemi"],
        must_not=["BroadcastExchange", "BroadcastHashJoin"],
    )
    # 2. sampler: top-k heap, not a global sort (and never the
    # single-partition window the row_number() formulation degraded to)
    check(
        "sample_lineitem",
        qs["sample_lineitem"](spark, sf_dir),
        must_contain=["TakeOrderedAndProject"],
        must_not=["Window", "SinglePartition"],
    )
    # 3. projected scan: column pruning reaches the reader
    pruned = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey"
    )
    check("projected_scan", pruned, must_not=["l_partkey"])
    # 4. predicate pushdown on tpch_q6
    check(
        "tpch_q6",
        qs["tpch_q6"](spark, sf_dir),
        must_contain=["PushedFilters: ["],
    )
    # 5. multi-join: joins resolve to broadcast at this sf (nation by
    # hint, orders/customer by AQE runtime sizing — no hint, so the same
    # plan shuffles at 100 TB instead of broadcasting a fact table)
    check(
        "revenue_per_nation",
        qs["revenue_per_nation"](spark, sf_dir),
        must_contain=["BroadcastHashJoin"],
        must_not=["SortMergeJoin"],
    )
    # 6. embedding near-dup: the registered (high-threshold) query must
    # take the sub-quadratic sign-bit LSH plan — no block-GEMM grid
    # (FlatMapGroupsInPandas), no nested loop / cartesian; the loose-
    # threshold sibling is the one allowed to spend exact block FLOPs
    check(
        "embedding_neardup",
        qs["embedding_neardup"](spark, sf_dir),
        must_not=[
            "FlatMapGroupsInPandas",
            "BroadcastNestedLoopJoin",
            "CartesianProduct",
        ],
    )
    check(
        "embedding_neardup_block",
        qs["embedding_neardup_block"](spark, sf_dir),
        must_contain=["FlatMapGroupsInPandas"],
        must_not=["BroadcastNestedLoopJoin", "CartesianProduct"],
    )
    # 7. disjunctive-predicate query still prunes columns + pushes the
    # join-side IsNotNull conjuncts
    check(
        "tpch_q19",
        qs["tpch_q19"](spark, sf_dir),
        must_contain=["PushedFilters: ["],
        must_not=["l_shipdate"],  # unused column never read
    )

    # 8. hive-partitioned sink: a filter on the partition column must
    # prune at the DIRECTORY level (PartitionFilters), not row level
    import tempfile

    from parquet_sampler_spark.sources.io import write_parquet

    part_out = f"{tempfile.gettempdir()}/psx_audit_part/orders"
    write_parquet(
        spark.read.parquet(f"{sf_dir}/orders.parquet"), part_out,
        partition_by=["o_orderpriority"],
    )
    pruned_part = spark.read.parquet(part_out).filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    check(
        "partition_pruning",
        pruned_part,
        must_contain=["PartitionFilters: [isnotnull(o_orderpriority"],
    )

    # 9. grouped top-k: the rn <= k filter must rewrite into
    # WindowGroupLimit (per-partition k-heaps before the shuffle) —
    # without it every event row moves in the window exchange
    check(
        "grouped_topk",
        qs["grouped_topk"](spark, sf_dir),
        must_contain=["WindowGroupLimit"],
    )
    # 10. weighted sampler: top-k heap + merge, not a global sort
    check(
        "sample_weighted",
        qs["sample_weighted"](spark, sf_dir),
        must_contain=["TakeOrderedAndProject"],
        must_not=["Window"],
    )
    # 11. interval join (bucket strategy): an equi hash join on the
    # bucket key — never a nested-loop/cartesian over the fact side
    check(
        "range_join_events",
        qs["range_join_events"](spark, sf_dir),
        must_not=["BroadcastNestedLoopJoin", "CartesianProduct"],
    )

    # 12. q8's 7-relation tree: dims broadcast, no nested loop anywhere
    check(
        "tpch_q8",
        qs["tpch_q8"](spark, sf_dir),
        must_contain=["BroadcastHashJoin"],
        must_not=["BroadcastNestedLoopJoin", "CartesianProduct"],
    )
    # 13. q20's nested-IN + correlated scalar agg must decorrelate to
    # semi joins + aggregates — never a per-row nested loop
    check(
        "tpch_q20",
        qs["tpch_q20"](spark, sf_dir),
        must_contain=["LeftSemi"],
        must_not=["BroadcastNestedLoopJoin", "CartesianProduct"],
    )
    # 14. q21's EXISTS / NOT EXISTS pair decorrelates to semi + anti
    check(
        "tpch_q21",
        qs["tpch_q21"](spark, sf_dir),
        must_contain=["LeftSemi", "LeftAnti"],
        must_not=["BroadcastNestedLoopJoin", "CartesianProduct"],
    )
    # 15. mixture resampling is a pure scan-side filter: zero exchanges
    check(
        "corpus_mixture",
        qs["corpus_mixture"](spark, sf_dir),
        must_not=["Exchange"],
    )
    # 16. sequence packing windows per (lang, shard), never a global
    # single-partition sort
    check(
        "sequence_pack",
        qs["sequence_pack"](spark, sf_dir),
        must_contain=["Window"],
        must_not=["SinglePartition"],
    )
    # 17. heavy hitters: the verify pass must join the bounded
    # candidate set by BROADCAST (the raw token stream never shuffles
    # on the key for the join), and the one aggregation partial-combines
    check(
        "heavy_hitters",
        qs["heavy_hitters"](spark, sf_dir),
        must_contain=["BroadcastHashJoin", "HashAggregate"],
        must_not=["SortMergeJoin"],
    )
    # 18. source quota: one window over the per-source partitioning with
    # the rn <= cap filter rewritten into per-partition k-heaps
    # (WindowGroupLimit), never a single global partition
    check(
        "source_quota",
        qs["source_quota"](spark, sf_dir),
        must_contain=["WindowGroupLimit"],
        must_not=["SinglePartition"],
    )
    # 19. bigram novelty: the per-gram df comes from a whole-partition
    # window (one hash exchange on gram), not a groupBy + self-join
    # (which would tokenize twice and add a third shuffle)
    check(
        "bigram_novelty",
        qs["bigram_novelty"](spark, sf_dir),
        must_contain=["Window"],
        must_not=["SortMergeJoin", "BroadcastHashJoin"],
    )

    # 20. capped Jaccard (r07): the df-cap prune and the inverted-index
    # self-join must both stay pure equi-joins — the cap is a groupBy +
    # join filter, never a nested loop; per-shingle join groups are
    # bounded at cap² by construction so an equi plan is all it needs
    check(
        "jaccard_pairs_capped",
        qs["jaccard_pairs_capped"](spark, sf_dir),
        must_contain=["HashAggregate"],
        must_not=["BroadcastNestedLoopJoin", "CartesianProduct"],
    )

    # 23. data-quality gate (r07): FK checks must plan as anti joins
    # (one pass per check), never a per-row nested loop
    check(
        "dq_checks",
        qs["dq_checks"](spark, sf_dir),
        must_contain=["LeftAnti"],
        must_not=["BroadcastNestedLoopJoin", "CartesianProduct"],
    )

    # 22. z-ordered scan (r07): both box conjuncts must reach the
    # parquet reader (PushedFilters) — that is what turns the Morton
    # layout's per-file min/max ranges into actual skipped IO
    check(
        "zorder_scan",
        qs["zorder_scan"](spark, sf_dir),
        must_contain=["PushedFilters: ["],
    )

    # 21. PQ ANN (r07): the ADC scan is DELIBERATELY a broadcast
    # nested-loop of tiny query LUTs against the coded corpus (that IS
    # the PQ linear scan); what must hold is that top-R selection
    # rewrites into per-partition R-heaps (WindowGroupLimit) and the
    # scan never degrades to a non-broadcast cartesian
    check(
        "ann_pq",
        qs["ann_pq"](spark, sf_dir),
        must_contain=["WindowGroupLimit"],
        must_not=["CartesianProduct"],
    )

    # 22. DQ quarantine (r08): the FK membership probe must broadcast
    # the deduped dim keys (never shuffle the dirty fact), and the
    # multi-check fan-out must be the explode of a reasons array (one
    # scan), not a union of per-check passes
    check(
        "dq_quarantine",
        qs["dq_quarantine"](spark, sf_dir),
        must_contain=["BroadcastHashJoin", "Generate"],
        must_not=["SortMergeJoin", "CartesianProduct"],
    )

    # 23. AQP estimate (r08): both the sampled and exact sides must
    # aggregate partially before their exchange (map-side combine on
    # the cents sums), and nothing may degrade to a cartesian
    check(
        "aqp_revenue",
        qs["aqp_revenue"](spark, sf_dir),
        must_contain=["partial_sum"],
        must_not=["CartesianProduct"],
    )

    # 24. table checksum (r08): the per-bucket fingerprint must combine
    # map-side (partial count/xor/sum before the 16-key exchange) and
    # the row hash must stay whole-stage-codegen JVM expressions
    check(
        "table_checksum",
        qs["table_checksum"](spark, sf_dir),
        must_contain=["partial_count", "HashAggregate"],
        must_not=["CartesianProduct", "BatchEvalPython"],
    )

    # 25. mixture drift (r08): the corpus-totals side is a 1-row
    # aggregate joined back by broadcast nested loop (the ONLY
    # legitimate cross join shape) — never a shuffled join; the
    # per-source conditional counts must partially aggregate
    check(
        "mixture_drift",
        qs["mixture_drift"](spark, sf_dir),
        must_contain=["BroadcastNestedLoopJoin", "partial_count"],
        must_not=["SortMergeJoin", "CartesianProduct"],
    )

    # 26. TWAP (r08): lead() over (user, ts, id) then the per-user
    # fold — the aggregate must combine map-side after the single
    # user_id exchange; no Python evaluation anywhere
    check(
        "twap_events",
        qs["twap_events"](spark, sf_dir),
        must_contain=["Window", "partial_sum"],
        must_not=["BatchEvalPython", "CartesianProduct"],
    )

    # 27. dynamic partition pruning (r08): the partitioned fact scan
    # must carry a RUNTIME partition filter injected from the dim side
    # (dynamicpruningexpression) — a static filter would be constant
    # folding, no filter would scan all five directories; and the dim
    # join must be a broadcast, never a shuffle
    check(
        "dpp_scan",
        qs["dpp_scan"](spark, sf_dir),
        must_contain=["dynamicpruningexpression", "BroadcastHashJoin"],
        must_not=["SortMergeJoin", "CartesianProduct"],
    )

    # 28. sequence packing (r09): one cumulative-sum window per hash
    # shard, all-JVM integer arithmetic — no Python evaluation, no
    # join, no single-partition global window (the scale failure mode
    # of an unsharded cumsum)
    check(
        "pack_sequences",
        qs["pack_sequences"](spark, sf_dir),
        must_contain=["Window"],
        must_not=["BatchEvalPython", "ArrowEvalPython",
                  "SinglePartition", "SortMergeJoin"],
    )

    # 29. mixture resampling (r09): the threshold table joins back as a
    # BROADCAST and the corpus is filtered in place — a shuffle join
    # here would move the whole corpus to thin it. (The per-source
    # token aggregation runs eagerly at construction time — its
    # map-side partial is a separate sub-job, not in this plan.)
    check(
        "mixture_resample",
        qs["mixture_resample"](spark, sf_dir),
        must_contain=["BroadcastHashJoin"],
        must_not=["SortMergeJoin", "CartesianProduct",
                  "BatchEvalPython"],
    )

    # 30. SemDeDup (r09): the within-cell scorer must be the Arrow-
    # batched per-cell pandas pass (cells bound the quadratic term) —
    # never a nested-loop/cartesian pair join; the final keep is a
    # broadcast anti-join
    check(
        "semantic_dedup",
        qs["semantic_dedup"](spark, sf_dir),
        must_contain=["FlatMapGroupsInPandas"],
        must_not=["BroadcastNestedLoopJoin", "CartesianProduct"],
    )

    # 31. BPE pair counting (r09): the per-round scan must stay
    # all-JVM (generate + partial count + TakeOrdered), with no
    # Python evaluation and no global sort — bpe_merge_rounds returns
    # a tiny local merge table, so audit the round-1 counting plan
    # directly
    from pyspark.sql import functions as _F

    _docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        _F.trim("text").alias("__t")
    ).filter(_F.length("__t") > 0).select(
        _F.split(_F.col("__t"), " ").alias("__tk")
    )
    _pairs = _F.expr(
        "transform(sequence(1, size(__tk) - 1), "
        "i -> concat(__tk[i-1], ' ', __tk[i]))"
    )
    check(
        "bpe_pair_count_round",
        _docs.filter(_F.size(_F.col("__tk")) >= 2)
        .select(_F.explode(_pairs).alias("__p"))
        .groupBy("__p").agg(_F.count(_F.lit(1)).alias("__c"))
        .orderBy(_F.col("__c").desc(), _F.col("__p")).limit(1),
        must_contain=["TakeOrderedAndProject", "partial_count"],
        must_not=["BatchEvalPython", "ArrowEvalPython", "Sort "],
    )

    # 32. residual IVFPQ (r10): probe + ADC + rerank must stay
    # broadcast-joined (queries ≪ corpus) with the ADC fold JVM-side —
    # Python appears only in the Arrow-batched model UDFs, never as
    # row-at-a-time eval; no cartesian (the LUT×corpus pairing is an
    # equi-join on the probed cell, unlike flat PQ's deliberate
    # broadcast nested loop)
    check(
        "ann_ivfpq_residual",
        qs["ann_ivfpq_residual"](spark, sf_dir),
        must_contain=["BroadcastHashJoin"],
        must_not=["CartesianProduct", "BatchEvalPython",
                  "SortMergeJoin"],
    )

    # 33. hierarchical IVF (r10): same contract at nlist=128 — the
    # routed probe is inside the Arrow UDF; the candidate join stays a
    # broadcast equi-join on the cell id
    check(
        "ann_ivf_hier",
        qs["ann_ivf_hier"](spark, sf_dir),
        must_contain=["BroadcastHashJoin"],
        must_not=["CartesianProduct", "BatchEvalPython",
                  "SortMergeJoin"],
    )

    # 34. BPE encode (r10): the K-merge apply is a pure stacked string
    # expression fused into the scan — no shuffle at all (the trainer
    # rounds that PRECEDE it in the registered row are audited as
    # check 31; here the apply plan itself is built directly)
    from parquet_sampler_spark.operators.vocab import bpe_encode as _enc

    check(
        "bpe_encode_apply",
        _enc(
            spark.read.parquet(f"{sf_dir}/documents.parquet"),
            "text", ["a b", "a_b c"],
        ),
        must_not=["Exchange", "BatchEvalPython", "ArrowEvalPython",
                  "Sort "],
    )

    # 34b. salted bigram novelty (r11): the hot-gram skew-safe sibling
    # — per-gram df via two-phase aggregate (map-side partial = the
    # (gram, salt) phase) broadcast back; NO window operator, so no
    # whole-group-in-one-task skew surface exists in the plan
    check(
        "bigram_novelty_salted",
        qs["bigram_novelty_salted"](spark, sf_dir),
        must_contain=["BroadcastHashJoin"],
        must_not=["Window", "CartesianProduct", "BatchEvalPython",
                  "ArrowEvalPython"],
    )

    # 35. unigram rarity (r10): the vocabulary statistics table joins
    # back onto the token stream by BROADCAST (never a corpus
    # shuffle-join), everything JVM-side
    check(
        "quality_rarity",
        qs["quality_rarity"](spark, sf_dir),
        must_contain=["BroadcastHashJoin"],
        must_not=["CartesianProduct", "BatchEvalPython",
                  "ArrowEvalPython", "SortMergeJoin"],
    )

    # 36. TF-IDF top-k (r10): document-frequency table broadcast back;
    # the per-doc top-k window is partitioned by doc_id AND carries the
    # WindowGroupLimit rank pushdown (k rows per doc survive the
    # partial pass — not a full materialized rank). The plan's one
    # SinglePartition exchange is the bounded 1-row corpus doc-count
    # aggregate, so it is not forbidden here.
    check(
        "tfidf_topk",
        qs["tfidf_topk"](spark, sf_dir),
        must_contain=["BroadcastHashJoin", "WindowGroupLimit"],
        must_not=["CartesianProduct", "BatchEvalPython",
                  "ArrowEvalPython", "SortMergeJoin"],
    )

    # 37c. weighted minhash (r10): the multiset-expansion path must
    # keep the unweighted pipeline's contract — banded equi-join
    # blocking, no cartesian candidate generation, no Python anywhere
    check(
        "minhash_pairs_weighted",
        qs["minhash_pairs_weighted"](spark, sf_dir),
        must_not=["CartesianProduct", "BatchEvalPython",
                  "ArrowEvalPython"],
    )

    # 37d. grouped weighted minhash (r11 'windowed', redesigned r12):
    # the long-document escape — same no-cartesian/no-Python contract
    # as the expression path, and occurrence indexes now come by
    # COUNT (per-(doc,gram) hash aggregate), so the plan must carry
    # NO window operator at all (the r11 row_number form's 4× re-sort
    # of the element stream was the measured α 1.16 term)
    check(
        "minhash_pairs_weighted_win",
        qs["minhash_pairs_weighted_win"](spark, sf_dir),
        must_not=["Window", "CartesianProduct", "BatchEvalPython",
                  "ArrowEvalPython", "SinglePartition"],
    )

    # 37b. inline rarity scorer (r10): the model-shipped path — the
    # vocabulary collects at plan-build time, so the executed plan is
    # scan -> Arrow scorer -> project with NO join and NO exchange of
    # any kind (the whole point of the 10^9-doc shape)
    check(
        "quality_rarity_inline",
        qs["quality_rarity_inline"](spark, sf_dir),
        must_not=["Exchange", "BroadcastHashJoin", "SortMergeJoin",
                  "CartesianProduct", "BatchEvalPython"],
    )

    # 37e. holdout rarity scorer (r11): cross-corpus inline scoring —
    # the model collects from the TRAIN half at plan-build time; the
    # executed scoring plan over the held-out half must stay the
    # zero-Exchange shape (scan -> project -> Arrow scorer), OOV
    # handling inside the shipped dict
    check(
        "quality_rarity_holdout",
        qs["quality_rarity_holdout"](spark, sf_dir),
        must_not=["Exchange", "BroadcastHashJoin", "SortMergeJoin",
                  "CartesianProduct", "BatchEvalPython"],
    )

    # 37f. vocabulary-true curation composite (r11): the BPE encode
    # stage is stacked pure-string expressions — the full chain keeps
    # curation_pipeline's contract (broadcast thresholds/vocab, no
    # cartesian, no Python) with zero added joins for the encode
    check(
        "curation_pipeline_bpe",
        qs["curation_pipeline_bpe"](spark, sf_dir),
        must_contain=["BroadcastHashJoin"],
        must_not=["CartesianProduct", "BatchEvalPython",
                  "ArrowEvalPython"],
    )

    # 37. curation composite (r10): quality filter -> dedup ->
    # mixture -> pack as one plan — mixture thresholds and the rarity
    # vocabulary must both resolve to broadcast joins; no cartesian,
    # no Python anywhere in the chain
    check(
        "curation_pipeline",
        qs["curation_pipeline"](spark, sf_dir),
        must_contain=["BroadcastHashJoin"],
        must_not=["CartesianProduct", "BatchEvalPython",
                  "ArrowEvalPython"],
    )

    # 38. radius search (r12): the query set broadcasts and the corpus
    # streams through one scan — a broadcast nested-loop by design
    # (inequality join condition), never a shuffle join, never a
    # window, never Python
    check(
        "ann_range",
        qs["ann_range"](spark, sf_dir),
        must_contain=["BroadcastNestedLoopJoin"],
        must_not=["SortMergeJoin", "ShuffledHashJoin", "Window",
                  "CartesianProduct", "BatchEvalPython",
                  "ArrowEvalPython"],
    )

    # 39b. span scrub (r12): bench grams broadcast; covered positions
    # anti-join the token stream; reassembly is ONE aggregation (no
    # Window operator anywhere); no Python
    check(
        "decontaminate_scrub",
        qs["decontaminate_scrub"](spark, sf_dir),
        must_contain=["BroadcastHashJoin", "LeftAnti"],
        must_not=["CartesianProduct", "BatchEvalPython",
                  "ArrowEvalPython"],
    )

    # 39. span decontamination (r12): the benchmark gram set is
    # Θ(benchmark tokens) and must BROADCAST into the flagging
    # semi-join — the corpus-sized window stream never shuffles for
    # it (the one Exchange left is the per-doc span window); no
    # Python anywhere
    check(
        "decontaminate_spans",
        qs["decontaminate_spans"](spark, sf_dir),
        must_contain=["BroadcastHashJoin", "LeftSemi"],
        must_not=["SortMergeJoin", "CartesianProduct",
                  "BatchEvalPython", "ArrowEvalPython"],
    )

    # 40g. JL projected top-k (r12): the projection is pure per-row
    # expressions (no Python anywhere); queries broadcast in both the
    # shortlist and rerank joins
    check(
        "ann_jl",
        qs["ann_jl"](spark, sf_dir),
        must_contain=["BroadcastNestedLoopJoin"],
        must_not=["CartesianProduct", "BatchEvalPython",
                  "ArrowEvalPython"],
    )

    # 40f. IVF coreset (r12): one Arrow map pass + a per-cell top-m
    # that must compile to WindowGroupLimit (rank pushdown — a cell
    # is corpus/nlist-sized); no join anywhere
    check(
        "ivf_coreset",
        qs["ivf_coreset"](spark, sf_dir),
        must_contain=["WindowGroupLimit"],
        must_not=["Join", "CartesianProduct"],
    )

    # 40e2. capped winnowing (r12): the hot-fingerprint cap must ship
    # as a broadcast ANTI-join of the tiny over-cap head — a keep-side
    # broadcast is Θ(corpus tokens) and died at the 8 GiB ceiling on
    # the sf100 tier
    check(
        "winnow_pairs_capped",
        qs["winnow_pairs_capped"](spark, sf_dir),
        must_contain=["BroadcastHashJoin", "LeftAnti"],
        must_not=["CartesianProduct", "Window",
                  "BatchEvalPython", "ArrowEvalPython"],
    )

    # 40e. winnowing pairs (r12): fingerprint selection is pure
    # per-row expressions fused into the scan (no Python anywhere);
    # the self-join is the one exchange
    check(
        "winnow_pairs",
        qs["winnow_pairs"](spark, sf_dir),
        must_contain=["HashAggregate"],
        must_not=["CartesianProduct", "Window",
                  "BatchEvalPython", "ArrowEvalPython"],
    )

    # 40d. n-gram diversity (r12): two stacked hash aggregates, no
    # join of any kind, no Python — the whole plan is scan -> explode
    # -> agg -> agg
    check(
        "ngram_diversity",
        qs["ngram_diversity"](spark, sf_dir),
        must_contain=["HashAggregate"],
        must_not=["Join", "CartesianProduct", "Window",
                  "BatchEvalPython", "ArrowEvalPython"],
    )

    # 40c. BM25 retrieval (r12): top-k must compile to
    # TakeOrderedAndProject (never a global Sort+Limit over the
    # corpus); the df table broadcasts; no Python
    check(
        "bm25_topk",
        qs["bm25_topk"](spark, sf_dir),
        must_contain=["TakeOrderedAndProject", "BroadcastHashJoin"],
        must_not=["BatchEvalPython", "ArrowEvalPython"],
    )

    # 40b. DSIR selection (r12): the combined rarity model broadcasts
    # back onto the token stream; no Python, no cartesian beyond the
    # broadcast 1-row totals
    check(
        "dsir_select",
        qs["dsir_select"](spark, sf_dir),
        must_contain=["BroadcastHashJoin"],
        must_not=["CartesianProduct", "BatchEvalPython",
                  "ArrowEvalPython"],
    )

    # 40. ccnet buckets (r12): vocabulary and CDF tables broadcast
    # back (the only big exchanges are the token agg and the narrow
    # (id, lang) join); exact NTILE in pure integer expressions — no
    # Python, no cartesian
    check(
        "ccnet_buckets",
        qs["ccnet_buckets"](spark, sf_dir),
        must_contain=["BroadcastHashJoin"],
        must_not=["CartesianProduct", "BatchEvalPython",
                  "ArrowEvalPython"],
    )

    # 41. star snapshot (r12): the composed reference workflow — every
    # dimension reduction is a broadcast semi-join; the persisted
    # sample is read from cache (InMemoryTableScan), never re-sampled
    # per branch; manifest rows are partial-aggregated (no Window, no
    # global sort anywhere)
    check(
        "star_snapshot",
        qs["star_snapshot"](spark, sf_dir),
        must_contain=["BroadcastHashJoin", "LeftSemi",
                      "InMemoryTableScan"],
        must_not=["SortMergeJoin", "CartesianProduct", "Window"],
    )

    # 42. incremental dedup (r12): batch-vs-index probe — band join +
    # broadcast candidate verify; NEVER an all-pairs shape, no Python
    check(
        "minhash_incremental",
        qs["minhash_incremental"](spark, sf_dir),
        must_not=["CartesianProduct", "BroadcastNestedLoopJoin",
                  "BatchEvalPython", "ArrowEvalPython"],
    )

    # 42b. admission decision (r12): loser lists are id-only
    # anti-joins; never all-pairs, no Python in the decision path
    check(
        "minhash_admit",
        qs["minhash_admit"](spark, sf_dir),
        must_contain=["LeftAnti"],
        must_not=["CartesianProduct", "BroadcastNestedLoopJoin",
                  "BatchEvalPython", "ArrowEvalPython"],
    )

    # 42c. embedding ingest gate (r12): bucket-collision candidates +
    # exact verify — the Arrow-batched signature UDF is the only
    # Python (same contract as embedding_neardup's LSH path); never a
    # nested-loop/cartesian all-pairs shape
    check(
        "embedding_neardup_incremental",
        qs["embedding_neardup_incremental"](spark, sf_dir),
        must_not=["CartesianProduct", "BroadcastNestedLoopJoin",
                  "FlatMapGroupsInPandas", "BatchEvalPython"],
    )

    # 42c-ivf. IVF-routed ingest gate (r13): cell-equality candidates
    # + exact verify — Arrow-batched routing UDFs are the only
    # Python; never a nested-loop/cartesian all-pairs shape, and no
    # dedup Exchange after the candidate join (a corpus row lives in
    # exactly one cell, so pairs are unique by construction)
    check(
        "embedding_neardup_incremental_ivf",
        qs["embedding_neardup_incremental_ivf"](spark, sf_dir),
        must_not=["CartesianProduct", "BroadcastNestedLoopJoin",
                  "FlatMapGroupsInPandas", "BatchEvalPython"],
    )

    # 42c-sized. sized IVF top-k (r14): the INDEX — cell assignments
    # + normalized corpus vectors — is standing state read from cache
    # (InMemoryTableScan), never recomputed per query (the Θ(n·√nlist)
    # assignment re-pay measured as warm α 1.82 at the 2.28M tier);
    # probe stays a cell equi-join, never all-pairs
    check(
        "ann_ivf_sized",
        qs["ann_ivf_sized"](spark, sf_dir),
        must_contain=["InMemoryTableScan"],
        must_not=["CartesianProduct", "BroadcastNestedLoopJoin",
                  "FlatMapGroupsInPandas", "BatchEvalPython"],
    )

    # 43b. inline order-2 scorer (r12): the model collects at
    # plan-build time; the executed scoring plan must be the
    # zero-Exchange shape (scan -> project -> Arrow scorer)
    check(
        "quality_rarity_bigram_inline",
        qs["quality_rarity_bigram_inline"](spark, sf_dir),
        must_not=["Exchange", "BroadcastHashJoin", "SortMergeJoin",
                  "CartesianProduct", "BatchEvalPython"],
    )

    # 42d. exact verbatim gate (r12): probe joins the PERSISTED
    # (md5, min id) index — fingerprints only, no text shuffle, no
    # Python anywhere
    check(
        "dedup_exact_incremental",
        qs["dedup_exact_incremental"](spark, sf_dir),
        must_contain=["InMemoryTableScan"],
        must_not=["CartesianProduct", "BatchEvalPython",
                  "ArrowEvalPython", "SortMergeJoin"],
    )

    # 42e. snapshot drift (r12): both manifests keep star_snapshot's
    # broadcast semi-join shape; the diff is a 7-row full-outer join —
    # nothing may degrade to sort-merge/cartesian
    check(
        "star_snapshot_drift",
        qs["star_snapshot_drift"](spark, sf_dir),
        must_contain=["BroadcastHashJoin", "LeftSemi"],
        must_not=["CartesianProduct", "BatchEvalPython",
                  "ArrowEvalPython"],
    )

    # 42f. selective refresh (r12): reads back the merged store and
    # fingerprints it — the read-back manifest must stay a pure
    # scan + partial-agg union, no joins of any kind
    check(
        "star_snapshot_refresh",
        qs["star_snapshot_refresh"](spark, sf_dir),
        must_not=["CartesianProduct", "SortMergeJoin",
                  "BatchEvalPython", "ArrowEvalPython", "Window"],
    )

    # 43. bigram rarity with backoff (r12): both model tables broadcast
    # back onto the per-row bigram stream; no Python, no cartesian
    # beyond the broadcast 1-row totals
    check(
        "quality_rarity_bigram",
        qs["quality_rarity_bigram"](spark, sf_dir),
        must_contain=["BroadcastHashJoin"],
        must_not=["CartesianProduct", "BatchEvalPython",
                  "ArrowEvalPython"],
    )

    print(f"\n{len(failures)} plan-property failures")
    for f in failures:
        print("  FAIL", f)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
