#!/usr/bin/env python3
"""Regenerate PLANS.md: formatted physical plans of the flagship pipeline
and the scale-critical operators, with the shape annotations the plan
tests pin. Run from the repo root: python scripts/dump_plans.py"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF = "/root/testdata/sf0.001"


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def summarize(plan: str) -> str:
    """Operator-count summary line for quick reading."""
    counts = {}
    for m in re.finditer(r"\(\d+\) ([A-Za-z]+)", plan):
        counts[m.group(1)] = counts.get(m.group(1), 0) + 1
    keys = [
        "Exchange", "MapInPandas", "HashAggregate", "ObjectHashAggregate",
        "SortAggregate", "Sort", "Window", "BroadcastHashJoin",
        "SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin",
    ]
    return ", ".join(f"{k}={counts.get(k, 0)}" for k in keys if counts.get(k))


def _locators_wide(spark, pipeline, QamdConfig):
    from qamd_spark import report

    lab = pipeline.label(
        spark.read.parquet(f"{SF}/documents.parquet").selectExpr(
            "cast(doc_id as string) conv_id",
            "cast(0 as int) turn_idx",
            "'user' role",
            "text",
            "cast(null as string) tool",
            "timestamp_seconds(doc_id) ts",
        ),
        QamdConfig(),
    )
    return report.locators(lab.repartition(130))

def main() -> None:
    from qamd_spark import pipeline, session
    from qamd_spark.config import QamdConfig
    import __spark_entry__ as E
    from qamd_spark.ops.graph import pagerank as graph_pagerank

    spark = session.get_spark("plan-dump", master="local[4]", shuffle_partitions=4)
    docs = spark.read.parquet(f"{SF}/documents.parquet")

    from qamd_spark.ops import dedup as dd
    from qamd_spark.ops import similarity as sim
    from qamd_spark.ops import text as tx

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")

    sections = [
        (
            "transcript pipeline (pipeline.label)",
            "Exactly ONE MapInPandas (the Arrow-batched scoring stage), "
            "narrow cross-row joins first, partial+final hash aggregates, "
            "wide score columns born post-shuffle; the ts_regression lag "
            "window is bounded per conversation.",
            pipeline.label(
                spark.read.parquet(f"{SF}/documents.parquet").selectExpr(
                    "cast(doc_id as string) conv_id",
                    "cast(0 as int) turn_idx",
                    "'user' role",
                    "text",
                    "cast(null as string) tool",
                    # a real ts column: a NULL literal here lets Catalyst
                    # constant-fold the ts_regression window out entirely
                    "timestamp_seconds(doc_id) ts",
                ),
                QamdConfig(),
            ),
        ),
        (
            "minhash_duplicates",
            "Min-per-bucket hash aggregate + join back — no all-pairs "
            "bucket self-join; bands persisted across the two branches.",
            dd.minhash_duplicates(docs),
        ),
        (
            "simhash_neardups",
            "4x16-bit banded equi-join; two-phase bounded top-P bucket "
            "candidates (salted partial-min, collect_list bounded by the "
            "salt count); bit_count verify over candidates only.",
            dd.simhash_neardups(docs),
        ),
        (
            "winnow_containment",
            "fp-bucket-min candidates (hash agg), exact distinct-fp "
            "intersection only over candidate pairs; all equi-joins.",
            tx.winnow_containment(docs),
        ),
        (
            "cross_corpus_contamination",
            "Benchmark decontamination: min-ref-per-bucket candidates "
            "(hash agg), exact-Jaccard verify over candidates only — "
            "never |docs| x |ref|.",
            dd.cross_corpus_contamination(
                docs.filter("doc_id % 10 != 0"), docs.filter("doc_id % 10 = 0")
            ),
        ),
        (
            "span_dedup",
            "C4-style duplicate-span removal: span-granularity explode, "
            "fully hash-aggregated keep-first ((count, min doc) stats "
            "pass with map-side combine; positional tie-break only over "
            "dup spans), bounded per-doc reassembly — zero SortAggregate.",
            dd.span_dedup(docs),
        ),
        (
            "grouped_topk (quality_topk_lang)",
            "Window-free exact per-group top-k: partition-local sorted "
            "slice then a merge over <= k x partitions structs.",
            E.q_quality_topk_lang(spark, SF),
        ),
        (
            "range_join",
            "2-bin probe explode + asymmetric exact filter — each pair "
            "emitted once, no dedup aggregate.",
            E.q_range_join(spark, SF),
        ),
        (
            "token_budget_sample",
            "Range-chunked two-phase prefix sum: chunk offsets from a "
            "window over the tiny (group, chunk) aggregate; the raw-row "
            "running sum partitions on (group, chunk), never group alone.",
            E.q_token_budget_sample(spark, SF),
        ),
        (
            "gopher_repetition",
            "Pure narrow scan: per-row sorted-n-gram run-length folds, "
            "whole-stage codegen, zero Exchange.",
            E.q_gopher_repetition(spark, SF),
        ),
        (
            "source_divergence",
            "Two token-level hash aggregates; global vocab broadcast "
            "against per-source totals; exact-integer TV numerator.",
            E.q_source_divergence(spark, SF),
        ),
        (
            "dsir_resample (scoring + Gumbel-top-k)",
            "ONE Arrow stage (the Gumbel noise rides in the scoring "
            "stage); global top-k is TakeOrderedAndProject — partition "
            "heaps + a k-row driver merge, never a full Sort; the "
            "<=16k-bucket count pass ran at plan-build time (bounded "
            "driver collect).",
            E.q_dsir_resample(spark, SF),
        ),
        (
            "refusal_scan",
            "Pure-JVM contains panel over the lowercased text, one "
            "partial+final hash aggregate — zero Python stages.",
            E.q_refusal_scan(spark, SF),
        ),
        (
            "phash_neardup",
            "One MapInPandas (the decode); signature packing, banding, "
            "min-per-bucket resolution and bit_count verify all JVM.",
            E.q_phash_neardup(spark, SF),
        ),
        (
            "sketch_profile",
            "Exact distinct (expand) next to two fixed-size mergeable "
            "sketch aggregates (HLL++ / DataSketches HLL) — the sketches "
            "are the 100 TB path.",
            E.q_sketch_profile(spark, SF),
        ),
        (
            "echo_detect",
            "One Exchange on conv (the lag window's partitioning); the "
            "ASCII projection, levenshtein and the integer echo flag are "
            "all post-shuffle Columns — no Python, no second shuffle.",
            E.q_echo_detect(spark, SF),
        ),
        (
            "quality_gate_by_source",
            "Per-source exact-percentile cutoffs (source-count-sized "
            "aggregate) BROADCAST back to the probe — no SortMergeJoin; "
            "gate comparisons on round-9 values.",
            E.q_quality_gate_by_source(spark, SF),
        ),
        (
            "zipf_profile",
            "Vocab reduced by partial+final hash agg; head selected by "
            "TakeOrderedAndProject; the rank/prefix-sum Window runs on "
            "the 100-row head only (single tiny partition by design).",
            E.q_zipf_profile(spark, SF),
        ),
        (
            "conv_context_fit",
            "Reverse prefix sum: one Exchange on conv, running-total "
            "window bounded per conversation, exact-int token counts.",
            E.q_conv_context_fit(spark, SF),
        ),
        (
            "chunk_text",
            "Zero-shuffle: one FileScan + Generate(explode(sequence)) — "
            "chunking is a pure projection at any scale.",
            E.q_chunk_text(spark, SF),
        ),
        (
            "soft_dedup",
            "Count side reduced by partial+final hash agg on the md5 "
            "digest before the join — the full text shuffles at most "
            "once; weight is one IEEE division of the exact count.",
            E.q_soft_dedup(spark, SF),
        ),
        (
            "source_overlap",
            "distinct (kind, source, digest) reduced and PERSISTED "
            "(feeds both join branches); digest equi-join fan-out "
            "bounded by source cardinality.",
            E.q_source_overlap(spark, SF),
        ),
        (
            "embedding_quantize",
            "Zero-shuffle projection over the embeddings scan; all "
            "float reductions are left folds / order-free maxima.",
            E.q_embedding_quantize(spark, SF),
        ),
        (
            "rule_ablation",
            "All rule flags in ONE fused scan projection; partial+final "
            "hash agg to a single row; stack() pivot — no per-rule "
            "scans, no shuffle of raw rows beyond the 1-row agg.",
            E.q_rule_ablation(spark, SF),
        ),
        (
            "token_concentration",
            "Two STACKED partial+final hash aggregates (source x tok, "
            "then source) — hot tokens collapse map-side; Simpson and "
            "inv-Simpson are single divisions of exact bigints.",
            E.q_token_concentration(spark, SF),
        ),
        (
            "collocations",
            "Bigrams by JVM slice+arrays_zip explode (no Python); "
            "support filter shrinks the bigram table BEFORE the two "
            "unigram joins; head is TakeOrderedAndProject — partition "
            "heaps, never a global Sort.",
            E.q_collocations(spark, SF),
        ),
        (
            "lang_source_chi2",
            "One corpus-wide hash aggregate; the contingency grid and "
            "every float term live on the broadcast-sized "
            "(langs x sources) cross — left-fold chi2 sum.",
            E.q_lang_source_chi2(spark, SF),
        ),
        (
            "compression_ratio",
            "One narrow Arrow map stage over (doc_id, text), zero "
            "Exchange; both flags are integer-side comparisons gated on "
            "min_bytes.",
            E.q_compression_ratio(spark, SF),
        ),
        (
            "url_dedup",
            "Canonicalization is a pure projection; keep-first is one "
            "partial+final hash aggregate on the canon key; domain "
            "re-extracted post-agg (min(string) would SortAggregate).",
            E.q_url_dedup(spark, SF),
        ),
        (
            "injection_scan",
            "Stamp + first-match marker are codegen projections; one "
            "(role, marker) hash aggregate; totals joined back broadcast.",
            E.q_injection_scan(spark, SF),
        ),
        (
            "tool_error_cascade",
            "One lag window (single exchange on conv) over the tool-turn "
            "subset; per-tool hash aggregate; every probability and the "
            "lift are single divisions of exact integer counts.",
            E.q_tool_error_cascade(spark, SF),
        ),
        (
            "locators (report.locators, 130-partition input)",
            "Per-rule first-cap failing (conv_id, turn_idx): phase-1 "
            "partial top-k per (rule, scan partition), then a fan-in-64 "
            "TREE of combine aggregates — at 130 input partitions one "
            "combine round appears between the partials and the final "
            "per-rule aggregate, so no task ever holds more than "
            "FANIN x cap structs (a single-round phase 2 would "
            "concentrate cap x #partitions into one task at 10^6 "
            "scan partitions).",
            _locators_wide(spark, pipeline, QamdConfig),
        ),
        (
            "prefix_neardup",
            "Blocked edit-distance linkage: hash-aggregate block minima, "
            "two equi-joins (block key, keeper id), levenshtein verify "
            "capped at 240^2 per candidate — no all-pairs bucket join.",
            E.q_prefix_neardup(spark, SF),
        ),
        (
            "lm_score",
            "Train + apply in one plan: JVM Generate for gram extraction, "
            "partial+final hash aggregates for the LM table, doc-gram -> "
            "table shuffle equi-join (unique-key build side, AQE "
            "skew-splittable), integer-exact per-doc rollup.",
            E.q_lm_score(spark, SF),
        ),
        (
            "key_skew",
            "Shuffle-skew advisor: one partial+final hash aggregate per "
            "key histogram, second tiny aggregate for max/count — no "
            "window, no Python, exact-int skew factor.",
            E.q_key_skew(spark, SF),
        ),
        (
            "join_cardinality",
            "Join-fanout audit: two key-histogram aggregates + an "
            "equi-join of the tiny histogram tables; exact int64 "
            "products predict output cardinality without touching wide "
            "rows.",
            E.q_join_cardinality(spark, SF),
        ),
        (
            "triangles",
            "Degree-ordered wedge enumeration: oriented edge table "
            "cached once, wedge equi-join on the low-rank corner, "
            "closure probe equi-join, partial+final corner counts — "
            "no nested loop anywhere.",
            E.q_triangles(spark, SF),
        ),
        (
            "pagerank",
            "Integer fixed-point PageRank (2 of 10 iterations shown by "
            "lineage truncation): per round one shuffle equi-join on src "
            "+ one partial+final hash aggregate on dst; localCheckpoint "
            "flattens the plan so round N+1 starts from a leaf. Dumped "
            "with materialize=False (the query's default eagerly "
            "checkpoints the result and releases the caches).",
            graph_pagerank(
                E._pr_edges(spark, SF), iters=10, materialize=False
            ),
        ),
        (
            "bm25_search",
            "BM25 ranking: the persisted tf table feeds dl/df/probe "
            "(InMemoryTableScan x3), query set + query-term df broadcast, "
            "one shuffle equi-join on doc_id, term-ordered fold, "
            "window-free grouped_topk top-10.",
            E.q_bm25_search(spark, SF),
        ),
        (
            "view_maintain",
            "Incremental view maintenance: base and delta partial "
            "aggregates merge through ONE full-outer equi-join on the "
            "group key — the delta side scans only the new partition.",
            E.q_view_maintain(spark, SF),
        ),
        (
            "concurrency_profile",
            "Sweep-line peak concurrency: the running edge sum is the "
            "range-chunked two-phase prefix sum — both Windows at "
            "(type, hour-chunk) grain, edges persisted once, peak via "
            "grouped_topk (no row_number).",
            E.q_concurrency_profile(spark, SF),
        ),
        (
            "scd2_build",
            "SCD Type 2: one scan, ONE Exchange — the user_id shuffle "
            "feeds the ordered window that derives validity intervals, "
            "versions and is_current in a single pass.",
            E.q_scd2_build(spark, SF),
        ),
        (
            "typo_mine",
            "FastSS deletion-neighborhood edit join: variant explode is "
            "pure higher-order-function SQL (codegen), the self-join is "
            "an EQUI-join on the variant string, candidates collapse "
            "through a distinct agg BEFORE the levenshtein verify — no "
            "cartesian/NLJ anywhere.",
            E.q_typo_mine(spark, SF),
        ),
        (
            "quantile_norm",
            "Rank-based quantile normalization with NO global "
            "row_number: per-source windows over one exchange; the "
            "pooled side aggregates to distinct values before its "
            "one-partition cumulative window; broadcast range probe "
            "(one match per row) instead of a sort-merge range join.",
            E.q_quantile_norm(spark, SF),
        ),
        (
            "header_footer_strip",
            "Positional boilerplate strip: two (source, line) hash "
            "aggregates + per-source totals equi-joined back onto docs; "
            "the strip is one codegen slice/array_join projection — no "
            "windows, no self-join.",
            E.q_header_footer_strip(spark, SF),
        ),
        (
            "threshold_sweep",
            "Operating-point grid: the x9 explode collapses through a "
            "partial+final hash aggregate map-side (the explode never "
            "shuffles); P/R/F1 are single divisions of exact bigints.",
            E.q_threshold_sweep(spark, SF),
        ),
        (
            "response_rouge",
            "Clipped-multiset ROUGE-1/2: per-pair n-gram counts are "
            "partial+final hash aggregates keyed (conv, turn_idx, gram); "
            "clip joins equi-keyed by the same triple — bounded per "
            "pair, AQE-splittable; no Python stage.",
            E.q_response_rouge(spark, SF),
        ),
        (
            "special_tokens",
            "ONE fused projection computes every panel counter in the "
            "same codegen stage; ONE single-row aggregate (2 "
            "HashAggregates, 1 Exchange); per-token rows are an explode "
            "over the aggregated row — panel width grows codegen, "
            "never shuffle.",
            E.q_special_tokens(spark, SF),
        ),
        (
            "blocklist_phrases",
            "Token-boundary phrase matching: tokenize-once projection, "
            "positional n-gram explode, BROADCAST hash join against the "
            "phrase dimension (shuffle join at 10^6-phrase panels); "
            "int lex-rank keeps the per-doc rollup a partial+final "
            "HashAggregate (no SortAggregate over strings).",
            E.q_blocklist_phrases(spark, SF),
        ),
        (
            "dangling_tools",
            "Tool-call pairing audit: lead+lag share ONE Window operator "
            "(single exchange on conv), then a partial+final hash "
            "aggregate; all outputs exact ints/bools.",
            E.q_dangling_tools(spark, SF),
        ),
        (
            "watermark_scan",
            "Green-list watermark z-test: the whole detector (tokenize, "
            "adjacent-pair md5, green count, z, flag) is ONE fused "
            "codegen projection — zero Exchange, zero aggregate, no "
            "Python stage, no explode.",
            E.q_watermark_scan(spark, SF),
        ),
        (
            "citation_check",
            "Grounded-citation audit: one filter + one partial+final "
            "hash aggregate (2 HashAggregates, 1 Exchange); the "
            "seen-result count is analytic on the canonical loop, a "
            "running-sum window on real transcripts.",
            E.q_citation_check(spark, SF),
        ),
        (
            "tool_args_valid",
            "JSON-validity audit: args synthesis + parse check fuse "
            "into one codegen projection; one partial+final hash "
            "aggregate per conversation.",
            E.q_tool_args_valid(spark, SF),
        ),
        (
            "bot_detect",
            "Inter-arrival regularity: row_number + lag share ONE "
            "Window (single exchange on user_id); cv-squared and the "
            "bot gate are exact-bigint arithmetic after a partial+final "
            "hash aggregate.",
            E.q_bot_detect(spark, SF),
        ),
        (
            "conv_fork_detect",
            "Regenerated-branch detection: two partial+final hash "
            "aggregates (conv prefix pivot via max(when), then "
            "prefix-hash family) — dedup_exact's shape lifted from "
            "rows to conversations; no window, no join.",
            E.q_conv_fork_detect(spark, SF),
        ),
        (
            "homoglyph_scan",
            "Mixed-script confusable scan: ONE fused codegen "
            "projection (split + two higher-order rlike filters) — "
            "zero Exchange, no explode, no Python stage.",
            E.q_homoglyph_scan(spark, SF),
        ),
        (
            "kendall_tau",
            "Histogram-decomposed tau-b: one hash aggregate to the "
            "16x16 grid, then all pair math on the bounded aggregated "
            "table (broadcast-able self-join + marginal aggs); raw "
            "rows are touched exactly once.",
            E.q_kendall_tau(spark, SF),
        ),
        (
            "km_survival",
            "Kaplan-Meier: one hash agg per user (single exchange), "
            "then the KM fold on the <=n_durations aggregated table "
            "(scalar-bounded single-partition window, the locators-cap "
            "shape); survival is an exact left-fold product.",
            E.q_km_survival(spark, SF),
        ),
        (
            "toxicity_escalation",
            "Within-conversation trend: panel contains + slope sums "
            "fuse into one projection; one partial+final hash "
            "aggregate; slope is one division of exact bigints.",
            E.q_toxicity_escalation(spark, SF),
        ),
        (
            "wilson_winrate",
            "Preference ranking: each match explodes to its two "
            "(model, win) rows — one scan — then a partial+final hash "
            "aggregate; the Wilson bound is post-aggregate float math.",
            E.q_wilson_winrate(spark, SF),
        ),
        (
            "mann_whitney",
            "Histogram-decomposed rank test: one hash aggregate to the "
            "(source, value) histogram (persisted, three consumers), "
            "bounded windows over distinct values, broadcast join; "
            "raw rows touched once.",
            E.q_mann_whitney(spark, SF),
        ),
        (
            "dp_release",
            "Geometric-mechanism release: one partial+final hash "
            "aggregate; the 256-entry noise-table lookup runs on "
            "aggregated rows only.",
            E.q_dp_release(spark, SF),
        ),
        (
            "bh_fdr",
            "Two-phase BH step-up: distinct-p agg, bounded coarse-"
            "bucket offsets, in-bucket ranks PARTITIONED BY BUCKET "
            "(no global single-partition window), one MAX broadcast "
            "back to rows; all-integer comparisons.",
            E.q_bh_fdr(spark, SF),
        ),
        (
            "mcnemar",
            "Paired gate A/B: both versions evaluate in one fused "
            "projection; one partial+final hash aggregate per source.",
            E.q_mcnemar(spark, SF),
        ),
        (
            "theil_sen",
            "Median-of-pairwise-slopes: daily grid aggregates once "
            "(persisted, both self-join sides), bounded pair join, "
            "ranked window per type.",
            E.q_theil_sen(spark, SF),
        ),
        (
            "mann_kendall",
            "Nonparametric trend test: persisted daily grid feeds the "
            "sign-pair join, tie histogram, and day counts; all heavy "
            "terms exact bigints.",
            E.q_mann_kendall(spark, SF),
        ),
        (
            "krippendorff_alpha",
            "Missingness-correct agreement: votes + per-unit tallies "
            "fuse into one projection; one partial+final hash "
            "aggregate per source; alpha one exact-int division.",
            E.q_krippendorff_alpha(spark, SF),
        ),
        (
            "shapley_rules",
            "OR-game Shapley attribution: one fused projection + one "
            "single-row aggregate + stack (rule_ablation's shape); "
            "phi*12 stays integer via 12 div k.",
            E.q_shapley_rules(spark, SF),
        ),
        (
            "user_retry_detect",
            "Adjacent-user-turn near-repeat: bigram shingles + set "
            "algebra fused in codegen (zip_with, no explode); one lag "
            "window on conv, one partial+final hash aggregate.",
            E.q_user_retry_detect(spark, SF),
        ),
        (
            "pii_echo",
            "Scrubber-completeness echo audit: per-conv email via "
            "min_by hash agg, broadcast-able join to assistant turns, "
            "final agg; no raw-row window.",
            E.q_pii_echo(spark, SF),
        ),
        (
            "emd_drift",
            "ECDF-area drift: persisted histogram; source x support "
            "grid via broadcast of the tiny source dim; windows over "
            "the bounded grid; exact-bigint numerator.",
            E.q_emd_drift(spark, SF),
        ),
        (
            "weekday_profile",
            "Exposure-correct seasonality: persisted (type, day) grid "
            "feeds weekday rollup + totals; integer deviation gate.",
            E.q_weekday_profile(spark, SF),
        ),
        (
            "autocorr_lag1",
            "Serial dependence: persisted daily grid, one lag window "
            "per type, final agg; all sums exact bigints.",
            E.q_autocorr_lag1(spark, SF),
        ),
        (
            "runs_test",
            "Order-structure audit: one lag window per source (single "
            "exchange) + partial+final hash aggregate; closed-form "
            "moments over exact ints.",
            E.q_runs_test(spark, SF),
        ),
        (
            "markdown_audit",
            "Structural QA: split counts + regexp_extract_all sizes "
            "in one fused projection — zero Exchange, no Python.",
            E.q_markdown_audit(spark, SF),
        ),
        (
            "number_grounding",
            "Numeric grounding: explode + hash agg tool-number pool "
            "(one exchange on conv), equi-join, final agg; multiset-"
            "exact filter, no array_except dedup.",
            E.q_number_grounding(spark, SF),
        ),
        (
            "conformal_gate",
            "Order statistic without a global sort: calibration "
            "histogram, bounded coarse-bucket offsets, in-bucket "
            "ranks partitioned by bucket, one MIN broadcast to test "
            "rows.",
            E.q_conformal_gate(spark, SF),
        ),
        (
            "dedup_survivorship",
            "Survivorship flow: dedup_exact's skew-safe agg+join "
            "(aliased aggregated side), keeper-source join, one "
            "final hash aggregate.",
            E.q_dedup_survivorship(spark, SF),
        ),
        (
            "rule_phi",
            "Redundancy matrix: one fused projection + ONE single-row "
            "aggregate; the 6 pair rows explode from literals on that "
            "row — no second scan.",
            E.q_rule_phi(spark, SF),
        ),
        (
            "leet_scan",
            "Evasion scan: translate + two contains panels fused into "
            "one codegen projection — zero Exchange, zero Python.",
            E.q_leet_scan(spark, SF),
        ),
        (
            "conv_quality_card",
            "Trajectory card: seven bounded per-conv aggregates "
            "joined on the conv dimension — every join side "
            "post-aggregate (AQE broadcasts them); no raw-row join.",
            E.q_conv_quality_card(spark, SF),
        ),
        (
            "t_closeness",
            "Distribution-distance privacy gate in scaled integers: "
            "class-value hash agg, then BROADCAST joins of the tiny "
            "class-size / global-count / 1-row-total sides (the "
            "BroadcastNestedLoopJoin is the 1-row crossJoin), then one "
            "partial+final agg per class. No window, no theta join.",
            E.q_t_closeness(spark, SF),
        ),
        (
            "fleiss_kappa",
            "Inter-rater agreement: ONE fused CASE projection (all three "
            "raters + agreement pattern in the same codegen stage) + ONE "
            "partial+final hash aggregate per source — 2 HashAggregates, "
            "1 Exchange, no join, no window; kappa is one bigint "
            "division.",
            E.q_fleiss_kappa(spark, SF),
        ),
        (
            "fd_mine",
            "Whole FD panel in one pass: per-row explode to (fd, det, "
            "dep), partial+final hash agg on (fd, det) (count_distinct "
            "Expand bounded by the 4-entry panel), tiny per-fd rollup.",
            E.q_fd_mine(spark, SF),
        ),
        (
            "cdc_dedup",
            "Content-defined chunking: ONE narrow Arrow map stage "
            "(vectorized closed-form gear hash), broadcast join back to "
            "the source dim, two partial+final hash aggregates — chunk "
            "dedup never compares pairs.",
            E.q_cdc_dedup(spark, SF),
        ),
        (
            "ann_pq (ADC ranking stage)",
            "PQ asymmetric-distance ranking: the scan reads the m-int "
            "CODE relation (not raw vectors); the |Q|*m*32 lookup is a "
            "broadcast hash join; per-(qid, neighbor) distance is an "
            "order-free int64 sum; top-k windows over bounded per-qid "
            "sets.",
            sim.pq_adc_topk(
                emb,
                emb.filter("vec_id % 25 = 0").selectExpr(
                    "vec_id as qid", "embedding as qe"
                ),
                sim.pq_train(emb, m=8, k=16, n_iters=1),
                k=10,
            ),
        ),
        (
            "char_entropy",
            "Codepoint explode feeding TWO stacked partial+final hash "
            "aggregates — the (doc, ch) key is alphabet-bounded per doc "
            "so the first shuffle carries pre-aggregated rows; the "
            "left join back to the doc list is by unique doc_id (no "
            "skew).",
            E.q_char_entropy(spark, SF),
        ),
        (
            "levenshtein_neardup",
            "Ed-Join prefix blocking composite-keyed with the length "
            "bin (r4): the gram-frequency table rides a BROADCAST hash "
            "join (trigram types bounded at 95^3 whatever the corpus "
            "size), pair enumeration is an equi-join on (rare gram, "
            "bin) with the asymmetric keep rule, pairs collapse "
            "through a distinct agg BEFORE the verify; levenshtein "
            "runs only on candidates that already passed the |Δlen| "
            "and per-char counting gates. sf1 growth exponent 1.83 -> "
            "1.03 (BENCH/ANALYSIS.md).",
            E.q_levenshtein_neardup(spark, SF),
        ),
        (
            "shuffle_quality",
            "Three bounded hash aggregates off one scan + a broadcast "
            "shards×sources frame join; chi2 terms are e6-scaled "
            "BIGINTs so the final per-shard sum is order-free exact.",
            E.q_shuffle_quality(spark, SF),
        ),
        (
            "winsorized_stats",
            "Per-source rank window (bounded by the group, the "
            "percentile_profile precedent), broadcast bounds join back, "
            "exact integer clamp-sum + one division.",
            E.q_winsorized_stats(spark, SF),
        ),
        (
            "response_rouge_l",
            "lead()-paired turns (one Exchange on conv), then ONE Arrow "
            "MapInPandas carrying the capped LCS DP — no second "
            "shuffle, no driver loop.",
            E.q_response_rouge_l(spark, SF),
        ),
        (
            "split_leakage_semantic",
            "Two signature MapInPandas stages under shared hyperplanes, "
            "direct (tbl, sig) equi-join (probe side small → broadcast "
            "at scale), exact-cosine verify, best-match partial+final "
            "aggregate.",
            E.q_split_leakage_semantic(spark, SF),
        ),
        (
            "source_vocab_overlap",
            "Distinct (source, token) FIRST, so the token-keyed "
            "self-join is bounded by sources² per token — never docs²; "
            "broadcast size joins close it out.",
            E.q_source_vocab_overlap(spark, SF),
        ),
        (
            "ngram_entropy",
            "One bigram count table (explode + partial+final hash agg) "
            "feeds both entropy terms — the first-word counts are a "
            "rollup of it, not a second scan.",
            E.q_ngram_entropy(spark, SF),
        ),
        (
            "entropy_secrets",
            "Distinct (doc, token) bounds the char explode by the "
            "key-shaped vocabulary; stacked hash aggregates, left join "
            "back on unique doc_id.",
            E.q_entropy_secrets(spark, SF),
        ),
        (
            "chunk_anomaly",
            "Chunk explode is projection+generator; the gram→LM join is "
            "the lm_score shuffle equi-join (AQE splits hot grams); the "
            "worst-chunk identity is a second bounded aggregate, not a "
            "window over the corpus.",
            E.q_chunk_anomaly(spark, SF),
        ),
        (
            "ann_multiprobe_topk",
            "Probe explode on the broadcast QUERY side only — the corpus "
            "signature MapInPandas stage is identical to ann_lsh_topk; "
            "candidates dedupe before one exact rescore.",
            E.q_ann_multiprobe_topk(spark, SF),
        ),
        (
            "lpa_communities (per-round shape)",
            "Per round: ONE shuffle equi-join (labels→edges) + two "
            "partial+final hash aggregates; localCheckpoint truncates "
            "lineage so the plan below stays this size at any round "
            "count.",
            E.q_lpa_communities(spark, SF),
        ),
    ]
    out = [
        "# PLANS.md — physical plans of the scale-critical paths",
        "",
        "Generated by `python scripts/dump_plans.py` (sf0.001 inputs, the",
        "plan SHAPES are input-size independent). The shapes quoted here",
        "are pinned by tests/test_plan_quality.py; regenerate after plan-",
        "affecting changes.",
        "",
    ]
    for title, note, df in sections:
        plan = formatted(df)
        out.append(f"## {title}")
        out.append("")
        out.append(note)
        out.append("")
        out.append(f"Operator counts: {summarize(plan)}")
        out.append("")
        out.append("```")
        # keep the operator tree; drop the verbose per-node detail blocks
        tree_end = plan.index("\n\n") if "\n\n" in plan else len(plan)
        out.append(plan[:tree_end].rstrip())
        out.append("```")
        out.append("")
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
