"""Physical-plan quality assertions — the 100TB-readiness checks.

These pin the *plan shape*, not results: filters reach the parquet scan
(PushedFilters), projections prune the read schema (ReadSchema), small
dimension joins broadcast, and the labeling pipeline keeps its aggregations
out of Python (only the one mapInPandas scoring stage touches Python).
A plan regression (e.g. an accidental UDF wrapping a filter column, or a
join losing its broadcast hint) fails here long before it shows up as a
10x slowdown at scale.
"""

import re

from pyspark.sql import functions as F

from qamd_spark import pipeline
from qamd_spark.config import QamdConfig


def _fmt_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushed_to_parquet_scan(spark, synth_path):
    df = (
        spark.read.parquet(synth_path)
        .filter(F.col("conv_id") == "conv00007")
        .select("conv_id", "turn_idx")
    )
    plan = _fmt_plan(df)
    assert "PushedFilters" in plan
    assert re.search(r"PushedFilters:.*EqualTo\(conv_id", plan), plan


def test_projection_prunes_read_schema(spark, synth_path):
    df = spark.read.parquet(synth_path).select("conv_id", "turn_idx")
    plan = _fmt_plan(df)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    # text/role/tool/ts must NOT be read for a 2-column projection
    assert cols == {"conv_id", "turn_idx"}, cols


def test_small_dim_join_broadcasts(spark, synth_path):
    turns = spark.read.parquet(synth_path)
    dim = spark.createDataFrame(
        [("user", 1), ("assistant", 2)], "role string, role_code int"
    )
    plan = _fmt_plan(turns.join(F.broadcast(dim), "role"))
    assert "BroadcastHashJoin" in plan


def test_pipeline_has_single_python_stage(spark, synth_path):
    """Exactly one Python boundary: the mapInPandas scoring stage. The
    dedup/conv aggregations and all rule columns are JVM-side (codegen)."""
    labeled = pipeline.label(spark.read.parquet(synth_path), QamdConfig())
    plan = _fmt_plan(labeled)
    # formatted explain prints each operator twice (tree + detail section)
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1, plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python UDFs
    assert "ArrowEvalPython" not in plan  # no scalar-UDF stages either


def test_summary_plan_reads_only_labeled(spark, synth_path):
    """The summary is one aggregate over the labeled frame: no literal
    table (LocalTableScan / ExistingRDD) is read and nothing is joined."""
    from qamd_spark import report

    labeled = spark.read.parquet(synth_path).withColumn(
        "rule_hits", F.array(F.col("role"))
    )
    plan = _fmt_plan(report.summarize(labeled, QamdConfig()))
    assert "LocalTableScan" not in plan, plan
    assert "ExistingRDD" not in plan, plan
    assert "Join" not in plan, plan
    assert "Scan parquet" in plan, plan


def test_pipeline_aggregates_are_partial_final(spark, synth_path):
    """text/conv stats must be partial+final hash aggregates (map-side
    combine before the shuffle — a hot duplicate text collapses locally)."""
    stats = pipeline.text_stats(spark.read.parquet(synth_path))
    plan = _fmt_plan(stats)
    assert plan.count("HashAggregate") >= 2, plan
    # partial agg emits partial_min/partial_count before the exchange
    assert "partial_" in plan, plan


def test_dedup_op_plans_are_partial_agg_and_bounded(spark):
    """Near-dup operators: bucket resolution must be partial+final hash
    aggregation (map-side combine collapses hot buckets), plan size stays
    bounded, and the only SortAggregates are the final min-over-struct
    picks over VERIFIED candidates (bounded input). The signature
    mapInPandas appears on both branches (groupBy + join-back) — a
    documented recompute-over-persist tradeoff for a narrow CPU stage."""
    from qamd_spark.ops import dedup as dd

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cases = {
        "minhash": (dd.minhash_duplicates(docs), 2, 0),
        "simhash_neardups": (dd.simhash_neardups(docs), 3, 2),
        # span_dedup: pure JVM; keeper resolution must stay hash-aggregated
        # (a min-over-struct formulation regresses to a SortAggregate over
        # every span — pinned to zero here)
        "span_dedup": (dd.span_dedup(docs), 0, 0),
        # substr_dedup: same hash-only keep-first discipline at sliding-
        # window grain; coverage removal is a JVM higher-order filter
        "substr_dedup": (dd.substr_dedup(docs), 0, 0),
    }
    for name, (df, max_py, max_sort) in cases.items():
        plan = _fmt_plan(df)
        assert "partial_" in plan, name
        assert plan.count(") HashAggregate") >= 2, name
        assert len(re.findall(r"\(\d+\) MapInPandas", plan)) <= max_py, name
        assert plan.count(") SortAggregate") <= max_sort, (name, plan)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
        assert len(plan) < 40_000, (name, len(plan))


def test_bucketed_join_has_no_exchange(spark, synth_path, tmp_path):
    """Two tables bucketed on conv_id join WITHOUT any shuffle: the
    bucketing metadata satisfies the join's distribution requirement, so
    the plan has zero Exchange — the co-located-join strategy that removes
    the dominant shuffle at 10^12-turn scale."""
    from qamd_spark import io as qio

    df = spark.read.parquet(synth_path)
    left = df.select("conv_id", "turn_idx", "text")
    right = df.groupBy("conv_id").count()
    qio.write_bucketed_table(left, "bt_left", str(tmp_path / "l"), n_buckets=8)
    qio.write_bucketed_table(right, "bt_right", str(tmp_path / "r"), n_buckets=8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("bt_left").join(spark.table("bt_right"), "conv_id")
        plan = _fmt_plan(j)
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bt_left")
        spark.sql("DROP TABLE IF EXISTS bt_right")


def test_aqe_splits_skewed_join(spark):
    """The skew story relies on AQE's skew-join for the joins the salting
    doesn't cover: verify it actually engages. A hot key (50k of 60k rows)
    under lowered thresholds must produce skew=true sides in the EXECUTED
    adaptive SortMergeJoin plan."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(0, 60000).select(
            F.when(F.col("id") < 50000, 0).otherwise(F.col("id") % 100).alias("k"),
            F.concat(F.lit("x" * 200), F.col("id").cast("string")).alias("pay"),
        )
        right = spark.range(0, 100).select(
            F.col("id").alias("k"), F.lit("dim").alias("d")
        )
        j = left.join(right, "k")
        assert len(j.collect()) == 60000
        plan = _fmt_plan(j)
        assert "isFinalPlan=true" in plan
        assert len(re.findall(r"skew=true", plan)) >= 1, plan
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_grouped_topk_has_no_window(spark):
    """grouped_topk must be the two-phase partial-agg shape — no Window
    operator (a window over PARTITION BY group pins every row of a hot
    group to one task) and both aggregates partial+final."""
    import __spark_entry__ as E

    df = E.q_quality_topk_lang(spark, "/root/testdata/sf0.001")
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "Window" not in plan, plan
    assert "partial_" in plan or "ObjectHashAggregate" in plan, plan


def test_new_ops_plans_have_no_nested_loop_joins(spark):
    """winnow_containment and duplicate_clusters are join-heavy; every
    join must stay an equi-join (hash/sort-merge/broadcast-hash) — a
    BroadcastNestedLoopJoin or CartesianProduct in these plans would be
    an all-pairs scale-killer."""
    from qamd_spark.ops import dedup as dd
    from qamd_spark.ops import text as tx

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    labels = spark.createDataFrame([(1, 1), (2, 1)], "v long, lbl long")
    edges = spark.createDataFrame([(1, 2), (2, 1)], "a long, b long")
    for df in [
        tx.winnow_containment(docs),
        dd.minhash_duplicates(docs),
        dd._propagate_labels(labels, edges),  # duplicate_clusters round
    ]:
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan


def test_corpus_transform_fuses_repair_and_scrub_into_span_dedup(spark):
    """corpus_transform = mojibake repair -> span_dedup -> PII scrub as
    ONE declarative composition: Catalyst must fuse the repair chain and
    scrub regexes into span_dedup's projections — same Exchange count as
    bare span_dedup, still zero SortAggregates and zero Python stages."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    a = _fmt_plan(E.q_span_dedup(spark, sf))
    b = _fmt_plan(E.q_corpus_transform(spark, sf))
    assert b.count(") Exchange") == a.count(") Exchange"), (
        b.count(") Exchange"),
        a.count(") Exchange"),
    )
    assert ") SortAggregate" not in b
    assert "MapInPandas" not in b and "BatchEvalPython" not in b


def test_tfidf_topk_plan(spark):
    """tfidf_topk must broadcast the vocab-sized df table and stay
    Window-free (grouped_topk two-phase shape)."""
    import __spark_entry__ as E

    tf = _fmt_plan(E.q_tfidf_topk(spark, "/root/testdata/sf0.001"))
    assert "Window" not in tf, tf
    assert "BroadcastHashJoin" in tf, tf
    assert "MapInPandas" not in tf and "BatchEvalPython" not in tf


def test_quality_gate_broadcasts_cutoffs_and_echo_has_one_exchange(spark):
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    # per-source cutoffs are a source-count-sized table: must broadcast
    plan = _fmt_plan(E.q_quality_gate_by_source(spark, sf))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # echo_detect: exactly one Exchange (the conv hash partitioning for
    # the lag window) — levenshtein and the flag are post-shuffle Columns
    plan = _fmt_plan(E.q_echo_detect(spark, sf))
    # formatted plans put the partitioning on the operator's detail line
    n_exchange = len(re.findall(r"Arguments: hashpartitioning\(conv", plan))
    assert n_exchange == 1, plan
    assert plan.count("(3) Exchange") == 1 or plan.count("Exchange") == 1, plan


def test_zipf_head_window_runs_on_takeordered_result(spark):
    # the rank/prefix-sum window must sit ABOVE the TakeOrdered head
    # selection (100 rows), never over the full vocabulary
    import __spark_entry__ as E

    plan = _fmt_plan(E.q_zipf_profile(spark, "/root/testdata/sf0.001"))
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.index("Window") < plan.index("TakeOrderedAndProject"), plan
    # (formatted plans print top-down: the Window consumes the head)


def test_collocations_and_concentration_plans(spark):
    """The new corpus-QA queries stay JVM-side with bounded heads:
    collocations' top-30 is a TakeOrderedAndProject (partition heaps,
    no global Sort of the scored bigram table) and its joins are all
    equi-joins; token_concentration is pure stacked hash aggregates —
    no Python stage, no SortAggregate, no window anywhere."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    plan = _fmt_plan(E.q_collocations(spark, sf))
    assert "TakeOrderedAndProject" in plan, plan
    assert ") Sort " not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "MapInPandas" not in plan and "EvalPython" not in plan, plan

    plan = _fmt_plan(E.q_token_concentration(spark, sf))
    assert ") SortAggregate" not in plan, plan
    assert ") Window" not in plan, plan
    assert "MapInPandas" not in plan and "EvalPython" not in plan, plan
    assert ") HashAggregate" in plan, plan


def test_tool_usage_and_split_leakage_plans(spark):
    """Agent-trace analytics stay JVM-side: tool_usage is two stacked
    partial+final hash aggregates (the (tool, conv) pre-aggregate kills
    the count-distinct Expand); split_leakage's membership flags are
    plain max() aggregates over (kind, key) — no Expand, no Window, no
    SortAggregate, no Python stage in either plan."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    for q in (E.q_tool_usage, E.q_split_leakage):
        plan = _fmt_plan(q(spark, sf))
        assert ") Expand" not in plan, plan
        assert ") Window" not in plan, plan
        assert ") SortAggregate" not in plan, plan
        assert "MapInPandas" not in plan and "EvalPython" not in plan, plan
        assert ") HashAggregate" in plan, plan


def test_turn_integrity_and_loop_detect_plans(spark):
    """turn_integrity is two stacked hash aggregates (no count-distinct
    Expand, no Window); agent_loop_detect's two windows share ONE
    exchange on conv (the per-(conv,sig) window re-sorts locally but
    must not reshuffle) and its aggregates are hash aggregates."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    plan = _fmt_plan(E.q_turn_integrity(spark, sf))
    assert ") Expand" not in plan, plan
    assert ") Window" not in plan, plan
    assert "MapInPandas" not in plan and "EvalPython" not in plan, plan

    plan = _fmt_plan(E.q_agent_loop_detect(spark, sf))
    assert "MapInPandas" not in plan and "EvalPython" not in plan, plan
    assert ") SortAggregate" not in plan, plan
    n_exch = len(re.findall(r"\) Exchange", plan))
    # one exchange feeds both windows (same conv hash partitioning);
    # the run aggregate re-partitions on (conv, sig, grp)
    assert n_exch <= 2, plan


def test_compression_ratio_is_single_narrow_python_stage(spark):
    """compression_ratio has exactly one MapInPandas over a 2-column
    scan — the payload never reaches a shuffle."""
    import __spark_entry__ as E

    plan = _fmt_plan(E.q_compression_ratio(spark, "/root/testdata/sf0.001"))
    assert plan.count(") MapInPandas") == 1, plan
    assert ") Exchange" not in plan, plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"doc_id", "text"}, cols


def test_license_readability_urldedup_plans(spark):
    """license_scan and readability are pure codegen projections (no
    Exchange, no Python); url_dedup is one partial+final hash aggregate
    over the canonical key — no Window, no SortAggregate."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    for q in (E.q_license_scan, E.q_readability):
        plan = _fmt_plan(q(spark, sf))
        assert ") Exchange" not in plan, plan
        assert "MapInPandas" not in plan and "EvalPython" not in plan, plan

    plan = _fmt_plan(E.q_url_dedup(spark, sf))
    assert ") Window" not in plan, plan
    assert ") SortAggregate" not in plan, plan
    assert "MapInPandas" not in plan and "EvalPython" not in plan, plan
    assert ") HashAggregate" in plan, plan


def test_pii_rollup_and_cascade_plans(spark):
    """conv_pii_rollup is one partial+final hash aggregate (no Expand,
    no Window); tool_error_cascade has exactly one Window (the lag) fed
    by one exchange on conv, and hash aggregates only."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    plan = _fmt_plan(E.q_conv_pii_rollup(spark, sf))
    assert ") Expand" not in plan and ") Window" not in plan, plan
    assert ") SortAggregate" not in plan, plan
    assert "MapInPandas" not in plan and "EvalPython" not in plan, plan
    assert ") HashAggregate" in plan, plan

    plan = _fmt_plan(E.q_tool_error_cascade(spark, sf))
    assert plan.count(") Window") == 1, plan
    assert ") SortAggregate" not in plan, plan
    assert "MapInPandas" not in plan and "EvalPython" not in plan, plan


def test_jackknife_keep_plan(spark):
    """jackknife_keep broadcasts its 1-row totals — never a
    CartesianProduct."""
    import __spark_entry__ as E

    plan = _fmt_plan(E.q_jackknife_keep(spark, "/root/testdata/sf0.001"))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert ") HashAggregate" in plan, plan


def test_injection_code_vocab_plans(spark):
    """injection_scan is two stacked hash aggregates + a broadcast join
    back (no Window); code_detect is a pure projection (no Exchange, no
    Python); vocab_coverage is the two-level (source, tok) aggregate —
    no count-distinct Expand anywhere."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    plan = _fmt_plan(E.q_injection_scan(spark, sf))
    assert ") Window" not in plan and ") Expand" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "MapInPandas" not in plan and "EvalPython" not in plan, plan

    plan = _fmt_plan(E.q_code_detect(spark, sf))
    assert ") Exchange" not in plan, plan
    assert "MapInPandas" not in plan and "EvalPython" not in plan, plan

    plan = _fmt_plan(E.q_vocab_coverage(spark, sf))
    assert ") Expand" not in plan and ") Window" not in plan, plan
    assert ") SortAggregate" not in plan, plan
    assert plan.count(") HashAggregate") >= 4, plan


def test_tool_chains_and_year_mentions_plans(spark):
    """tool_chains: one lag window (single conv exchange) + hash
    aggregates + broadcast totals join; year_mentions: explode + two
    stacked hash aggregates + broadcast totals — no SortAggregate, no
    Python stage in either."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    plan = _fmt_plan(E.q_tool_chains(spark, sf))
    # the totals join recomputes the lag branch (recompute-over-persist
    # for a narrow JVM stage) — two Window nodes, same single shape
    assert plan.count(") Window") <= 2, plan
    assert ") SortAggregate" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "MapInPandas" not in plan and "EvalPython" not in plan, plan

    plan = _fmt_plan(E.q_year_mentions(spark, sf))
    assert ") Window" not in plan and ") SortAggregate" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "MapInPandas" not in plan and "EvalPython" not in plan, plan


def test_linkage_lm_and_topk_plans(spark):
    """prefix_neardup: blocked linkage must stay equi-join (hash or
    broadcast-hash, never a nested-loop over pairs) with hash-aggregate
    block minima; ngram_lm: trigram extraction is one JVM Generate (no
    Python, no position self-join), counts partial+final."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    plan = _fmt_plan(E.q_prefix_neardup(spark, sf))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan, plan
    assert "HashJoin" in plan, plan
    assert ") SortAggregate" not in plan, plan
    assert "MapInPandas" not in plan and "EvalPython" not in plan, plan

    plan = _fmt_plan(E.q_ngram_lm(spark, sf))
    assert ") Generate" in plan, plan  # higher-order transform + explode
    assert "MapInPandas" not in plan and "EvalPython" not in plan, plan
    assert plan.count("HashAggregate") >= 4 and "partial_" in plan, plan
    assert ") Window" not in plan and ") SortAggregate" not in plan, plan


def test_lm_score_plan_is_jvm_hash_agg_join(spark):
    """lm_score: train + apply in one plan — gram extraction is JVM
    Generate, table build and per-doc rollup are partial+final hash
    aggregates, and the doc-gram → LM-table join is an equi-join (no
    nested loop, no Python stage, no SortAggregate)."""
    import __spark_entry__ as E

    plan = _fmt_plan(E.q_lm_score(spark, "/root/testdata/sf0.001"))
    assert ") Generate" in plan, plan
    assert "MapInPandas" not in plan and "EvalPython" not in plan, plan
    assert plan.count("HashAggregate") >= 6 and "partial_" in plan, plan
    assert ") SortAggregate" not in plan and ") Window" not in plan, plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan, plan


def test_curriculum_and_shard_plans(spark):
    """curriculum_buckets: exact percentile = ObjectHashAggregate bounded
    by the source grid, thresholds broadcast back, staging is a codegen
    CASE — no Python; shard_plan: the two-phase prefix sum shows exactly
    two Windows (the ungrouped offsets one runs over the <=256-row
    aggregated chunk table, the other is chunk-partitioned over raw
    rows), partial+final chunk sums, offsets broadcast — never a global
    raw-row window."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    plan = _fmt_plan(E.q_curriculum_buckets(spark, sf))
    assert "ObjectHashAggregate" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert ") Window" not in plan, plan
    assert "MapInPandas" not in plan and "EvalPython" not in plan, plan

    plan = _fmt_plan(E.q_shard_plan(spark, sf))
    assert plan.count(") Window") == 2, plan
    assert "BroadcastHashJoin" in plan and "HashAggregate" in plan, plan
    assert "MapInPandas" not in plan and "EvalPython" not in plan, plan
    # the raw-row window must be chunk-partitioned, not global
    assert re.search(r"Window.*partitionBy.*_chunk|PartitionSpec.*_chunk|"
                     r"windowspecdefinition\(_chunk", plan), plan


def test_merge_upsert_and_cube_counts_plans(spark):
    """merge_upsert: one FULL OUTER equi-join, no Python;
    cube_counts: Spark expands rows to their grouping-set memberships
    BEFORE the partial aggregate (Expand + partial_, one scan) — never a
    union of rescans."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    plan = _fmt_plan(E.q_merge_upsert(spark, sf))
    assert "FullOuter" in plan, plan
    assert "MapInPandas" not in plan and "EvalPython" not in plan, plan

    plan = _fmt_plan(E.q_cube_counts(spark, sf))
    assert "Expand" in plan and "partial_" in plan, plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "MapInPandas" not in plan and "EvalPython" not in plan, plan


def test_inverted_index_plan_bounds_collect_list(spark):
    """inverted_index: the df gate (partial+final HashAggregate) runs
    BEFORE the posting-list collect_list, and the persisted distinct
    (term, doc) table feeds both branches (InMemoryTableScan twice) —
    so the ObjectHashAggregate only ever sees df<=40 groups and the
    parquet scan happens once. No Python anywhere."""
    import __spark_entry__ as E

    plan = _fmt_plan(E.q_inverted_index(spark, "/root/testdata/sf0.001"))
    assert "ObjectHashAggregate" in plan, plan
    assert "partial_count" in plan, plan
    assert plan.count("InMemoryTableScan") >= 2, plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) <= 1, plan
    assert "MapInPandas" not in plan and "EvalPython" not in plan, plan


def test_triangles_plan_is_equi_join_only(spark):
    """triangles: degree-ordered wedge enumeration must stay equi-join
    (rank filter applied post-join on the bounded wedge set) — no
    nested loop, no cartesian, no Python, no window; counting is
    partial+final hash aggregates; the oriented edge table is cached
    (InMemory) because it feeds three plan branches."""
    import __spark_entry__ as E

    plan = _fmt_plan(E.q_triangles(spark, "/root/testdata/sf0.001"))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan, plan
    assert "MapInPandas" not in plan and "EvalPython" not in plan, plan
    assert ") Window" not in plan and ") SortAggregate" not in plan, plan
    assert plan.count("HashAggregate") >= 4 and "partial_" in plan, plan
    assert "InMemoryTableScan" in plan, plan


def test_unicode_nfc_plan_single_arrow_stage_no_shuffle(spark):
    """unicode_nfc: exactly one Arrow-vectorized Python stage (Spark SQL
    has no NFC builtin) and zero Exchange — a narrow per-row repair."""
    import __spark_entry__ as E

    plan = _fmt_plan(E.q_unicode_nfc(spark, "/root/testdata/sf0.001"))
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 1, plan
    assert ") Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_bm25_search_plan(spark):
    """bm25_search reuses one persisted tf table for dl/df/probe and
    broadcasts the query set; no Python stage."""
    import __spark_entry__ as E

    plan = _fmt_plan(E.q_bm25_search(spark, "/root/testdata/sf0.001"))
    assert plan.count("InMemoryTableScan") >= 3, plan  # tf feeds 3 branches
    assert "BroadcastHashJoin" in plan, plan  # query set + df broadcast
    assert "partial_" in plan, plan
    assert "MapInPandas" not in plan and "EvalPython" not in plan, plan
    assert ") Window" not in plan, plan  # top-10 is grouped_topk


def test_spearman_signals_plan(spark):
    """spearman_signals: ranks must come from prefix sums over the
    aggregated (source, value) grids — every Window sits ABOVE a
    HashAggregate (agg-below-window), so
    no whole-source raw-row window task exists; no Python stage."""
    import __spark_entry__ as E

    plan = _fmt_plan(E.q_spearman_signals(spark, "/root/testdata/sf0.001"))
    win_ids = [int(m) for m in re.findall(r"\((\d+)\) Window\b", plan)]
    agg_ids = [int(m) for m in re.findall(r"\((\d+)\) HashAggregate", plan)]
    assert win_ids and agg_ids, plan
    assert min(agg_ids) < min(win_ids), plan
    assert "partial_" in plan, plan
    assert "MapInPandas" not in plan and "EvalPython" not in plan, plan


def test_weighted_sample_is_take_ordered(spark):
    """weighted_sample: the top-k must compile to TakeOrderedAndProject
    (per-task k-row heaps, k rows per partition to the driver merge) —
    never a global Sort/Exchange — and the priority math stays JVM-side
    over the pruned 3-column scan."""
    import __spark_entry__ as E

    plan = _fmt_plan(E.q_weighted_sample(spark, "/root/testdata/sf0.001"))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange" not in plan, plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(c.split(":")[0] for c in m.group(1).split(",")) == {
        "doc_id", "text", "n_chars"
    }, plan
    assert "MapInPandas" not in plan and "EvalPython" not in plan, plan


def test_skyline_plan_is_grid_window_plus_broadcast(spark):
    """skyline_docs: the O(N^2) NOT-EXISTS oracle must NOT be the Spark
    plan — instead a partial+final hash aggregate builds the
    (toks -> min chars) grid BELOW the single Window, and the frontier
    broadcast-joins back onto the docs (no sort-merge join, no
    nested-loop join)."""
    import __spark_entry__ as E

    plan = _fmt_plan(E.q_skyline_docs(spark, "/root/testdata/sf0.001"))
    assert plan.count(") Window") == 1, plan
    assert "partial_min" in plan, plan
    win_ids = [int(m) for m in re.findall(r"\((\d+)\) Window\b", plan)]
    agg_ids = [int(m) for m in re.findall(r"\((\d+)\) HashAggregate", plan)]
    assert min(agg_ids) < min(win_ids), plan
    assert "BroadcastHashJoin" in plan, plan
    assert "NestedLoop" not in plan and "SortMergeJoin" not in plan, plan
    assert "MapInPandas" not in plan and "EvalPython" not in plan, plan


def test_tool_assoc_plan_distinct_before_pair_join(spark):
    """tool_assoc: the conv self-join must consume the DISTINCT
    (conv, tool) aggregate, not raw turns — both join inputs sit above
    hash aggregates — and the per-tool counts + 1-row total attach as
    broadcasts; divisions stay JVM-side."""
    import __spark_entry__ as E

    plan = _fmt_plan(E.q_tool_assoc(spark, "/root/testdata/sf0.001"))
    assert "partial_" in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan
    join_ids = [
        int(m)
        for m in re.findall(
            r"\((\d+)\) (?:Broadcast|Shuffled)HashJoin", plan
        )
    ]
    agg_ids = [int(m) for m in re.findall(r"\((\d+)\) HashAggregate", plan)]
    # in "formatted" explain, larger id = deeper in the tree; the
    # deepest operator family here must be the distinct aggregates
    assert max(agg_ids) > max(join_ids), plan
    assert "MapInPandas" not in plan and "EvalPython" not in plan, plan


def test_setsim_join_plan_is_prefix_filtered(spark):
    """setsim_join: the candidate join must consume EXPLODED PREFIXES
    (slice of the frequency-ranked shingle array -> Generate nodes),
    candidates must collapse through a distinct hash aggregate BEFORE
    the verify joins, and everything stays JVM-side (no Python eval).
    The all-pairs shape (a cartesian/nested-loop join) must not appear."""
    import __spark_entry__ as E

    plan = _fmt_plan(E.q_setsim_join(spark, "/root/testdata/sf0.001"))
    assert "Generate" in plan and "explode" in plan, plan
    assert "slice(" in plan, plan
    assert "partial_" in plan, plan
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan
    assert "MapInPandas" not in plan and "EvalPython" not in plan, plan
    # the keys of some HashAggregate are exactly the candidate pair ids
    assert re.search(r"Keys \[2\]: \[doc_a#\d+L?, doc_b#\d+L?\]", plan), plan
    # the ranked-shingle relation feeds 4 consumers and MUST be pinned —
    # without the persist the scan+shingle+rank pipeline re-runs 12x.
    # (every "Scan parquet" in this explain sits INSIDE the cached
    # relation's printed build plan; live reads all go through the
    # InMemoryTableScans, one per consumer branch)
    assert plan.count("InMemoryTableScan") >= 4, plan


def test_quantile_norm_plan_no_global_row_number(spark):
    """quantile_norm: the per-doc side must only window PARTITION BY
    source (never a global row_number over all docs); the pooled
    cumulative table is the one unpartitioned window, built ABOVE a
    partial+final hash aggregate that collapses to distinct length
    values first; the probe is a broadcast nested-loop against that
    value-cardinality-bounded relation (each row matches exactly one
    stripe), never a sort-merge or cartesian."""
    import __spark_entry__ as E

    plan = _fmt_plan(E.q_quantile_norm(spark, "/root/testdata/sf0.001"))
    # rank + per-source count plan as two source-partitioned Windows
    # over ONE exchange; the third is the value-level cumulative sum
    assert plan.count(") Window") == 3, plan
    # the doc-side window carries its source partitioning;
    # the value-side window sits above the distinct-value aggregate
    assert "partial_count" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "MapInPandas" not in plan and "EvalPython" not in plan, plan
    # window-over-N guard: every row_number window must name a
    # partition expression (the global-sort variant has none)
    for spec in re.findall(r"row_number\(\)[^,\]]*", plan):
        assert "windowspecdefinition(source" in spec or "source" in spec, plan


def test_typo_mine_plan_is_equi_join_with_distinct_before_verify(spark):
    """typo_mine: variant self-join is an equi-join; candidates collapse
    through a distinct aggregate BEFORE the levenshtein verify; counts
    attach by equi-joins. No cartesian/nested-loop anywhere."""
    import __spark_entry__ as E

    plan = _fmt_plan(E.q_typo_mine(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "levenshtein" in plan, plan
    agg_ids = [int(m) for m in re.findall(r"\((\d+)\) HashAggregate", plan)]
    lev_at = plan.find("levenshtein")
    assert agg_ids and lev_at > -1, plan
    assert "MapInPandas" not in plan and "EvalPython" not in plan, plan


def test_response_rouge_and_special_tokens_plans(spark):
    """response_rouge: every n-gram count is a partial+final hash
    aggregate keyed by (conv, turn_idx, gram), clip joins are
    equi-joins, no Python stage; special_tokens: ONE aggregate over a
    fused projection (all panel counters in the same codegen stage) —
    the explode runs over the single aggregated row, so the plan has
    exactly one Exchange (the 1-row final-agg gather), no join, no
    window."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    plan = _fmt_plan(E.q_response_rouge(spark, sf))
    assert "CartesianProduct" not in plan, plan
    assert "MapInPandas" not in plan and "EvalPython" not in plan, plan
    assert "HashAggregate" in plan, plan

    plan = _fmt_plan(E.q_special_tokens(spark, sf))
    assert plan.count(") HashAggregate") == 2, plan  # partial + final
    assert plan.count(") Exchange") == 1, plan  # the 1-row gather
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan
    assert "MapInPandas" not in plan and "EvalPython" not in plan, plan


def test_bootstrap_keep_plan_collapses_map_side(spark):
    """The x32 replicate explode must collapse through a partial+final
    hash aggregate (only 32 rows shuffle) with no join and no Python —
    the one-pass online-bootstrap contract."""
    import __spark_entry__ as E

    plan = _fmt_plan(E.q_bootstrap_keep(spark, "/root/testdata/sf0.001"))
    assert plan.count(") HashAggregate") == 2, plan
    assert plan.count(") Exchange") == 1, plan
    assert "Join" not in plan, plan
    assert "MapInPandas" not in plan and "EvalPython" not in plan, plan
    assert ") Generate" in plan, plan  # the replicate explode


def test_fused_scan_ops_have_no_exchange(spark):
    """watermark_scan / homoglyph_scan / markdown_audit claim to be ONE
    fused codegen projection — zero shuffles, zero Python, no explode."""
    import __spark_entry__ as entry

    for q in (
        entry.q_watermark_scan,
        entry.q_homoglyph_scan,
        entry.q_markdown_audit,
    ):
        plan = _fmt_plan(q(spark, "/root/testdata/sf0.001"))
        assert "Exchange" not in plan, (q.__name__, plan[:2000])
        assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
        assert "Generate" not in plan  # no explode


def test_single_agg_audits_have_one_exchange(spark):
    """citation_check / tool_args_valid / toxicity_escalation / mcnemar /
    krippendorff_alpha: one fused projection + one partial+final hash
    aggregate = exactly one Exchange, two HashAggregate prints per agg."""
    import __spark_entry__ as entry

    for q in (
        entry.q_citation_check,
        entry.q_tool_args_valid,
        entry.q_toxicity_escalation,
        entry.q_mcnemar,
        entry.q_krippendorff_alpha,
    ):
        plan = _fmt_plan(q(spark, "/root/testdata/sf0.001"))
        import re as _re

        n_exchange = len(_re.findall(r"\(\d+\) Exchange", plan))
        assert n_exchange == 1, (q.__name__, n_exchange)
        assert "SortAggregate" not in plan, q.__name__
        assert "MapInPandas" not in plan, q.__name__


def test_bh_fdr_and_conformal_have_no_unpartitioned_raw_window(spark):
    """The two-phase order-statistic ops must never sort ALL raw rows in
    one partition: every Window's partitioning is either the bounded
    coarse-bucket table or partitioned BY bucket. We assert the plan's
    windows never consume the parquet scan directly (an aggregate sits
    between scan and any window)."""
    import __spark_entry__ as entry

    for q in (entry.q_bh_fdr, entry.q_conformal_gate):
        df = q(spark, "/root/testdata/sf0.001")
        plan = _fmt_plan(df)
        # windows exist, but each consumes aggregated input: the plan
        # lists HashAggregate before any Window in the operator tree
        tree = plan.split("\n\n")[0]
        first_window = tree.find("Window")
        assert first_window > 0, q.__name__
        assert "HashAggregate" in tree[:first_window], (q.__name__, tree)


def test_levenshtein_neardup_prefix_blocking_plan(spark):
    """r4 candidate generation: the gram-frequency table attaches via a
    BROADCAST hash join (trigram types are bounded at 95^3 regardless of
    corpus size), the pair enumeration is a composite-key equi-join
    (gram AND length-bin — no cartesian / nested-loop anywhere), and
    candidate pairs collapse through an aggregate (the distinct) BEFORE
    the levenshtein verify so multi-gram matches are verified once."""
    import re as _re

    import __spark_entry__ as E

    plan = _fmt_plan(E.q_levenshtein_neardup(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "levenshtein" in plan, plan
    agg_ids = [int(m) for m in _re.findall(r"\((\d+)\) HashAggregate", plan)]
    assert agg_ids, plan
    assert "MapInPandas" not in plan and "EvalPython" not in plan, plan
