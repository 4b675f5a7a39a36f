"""The labeling pipeline: load → score → dedup/aggregate → decide → scrub.

Execution shape (Spark-first, cf. SURVEY.md §3 lifecycle mapping):

    raw scan ──────────────┬─> text-stats agg   (groupBy text: occurrence
                           │    count + first (conv_id, turn_idx) keeper)
                           ├─> conv-stats agg   (groupBy conv_id: empty-turn
                           │    percentage)
                           └─> mapInPandas score stage (Arrow-batched,
                                vectorized; langid/perplexity/scrub/token
                                stats — qamd_spark.turnscore.score_pdf)
    scored ⋈ text-stats (on text) ⋈ conv-stats (on conv_id)
    → per-turn rule flags (native Columns) → rule_hits + keep → bucket

Scale notes (designed for 10^12 turns / 1000 executors):
- The two aggregations run over the RAW scan with column pruning (only
  text/conv_id/turn_idx reach them), so the expensive Python scoring stage
  executes exactly once; no persist needed.
- groupBy uses partial (map-side) aggregation, so a skewed duplicate text
  (billions of "ok" turns) or a hot conversation collapses before the
  shuffle. The join back on the skewed key is handled by AQE skew-join
  (spark.sql.adaptive.skewJoin.enabled).
- dedup is agg+join, NOT a window over partitionBy(text): a window would
  put every copy of a hot duplicate in one task. The reference's analogue
  is the frequency-table + occurrence scan (src/check/post.rs:229-260).
- Output carries bucket = pmod(xxhash64(conv_id), n_buckets) — the
  partition key for checkpoint manifests and the final bucketed write.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from qamd_spark import schema as S
from qamd_spark.config import QamdConfig


def _is_empty_col(text_col) -> "F.Column":
    # empty-string-as-missing mirrors the reference CSV reader's
    # SYSTEM_MISSING classification (src/readstat/csv/read.rs:112-115)
    return text_col.isNull() | (text_col == F.lit(""))


def score_stage(df: DataFrame, cfg: QamdConfig) -> DataFrame:
    """Arrow-batched vectorized scoring (turnscore.score_pdf) via mapInPandas.

    Pass-through append: runs AFTER the narrow flag joins, so the wide
    score columns (scrubbed text etc.) cross none of the join exchanges.
    They do cross one: the checkpointed write applies
    :func:`salted_repartition` to the labeled rows, which puts an
    Exchange on (bucket, salt) just above this MapInPandas stage.
    """
    out_schema = S.score_schema(df.schema, cfg)
    if cfg.enabled("quality_classifier"):
        # resolve + pin the model on cfg NOW (driver side) so the pickled
        # closure carries the weights and executors never train
        cfg.ensure_qc_model()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from qamd_spark import turnscore

        for pdf in batches:
            yield turnscore.score_pdf(pdf, cfg)

    return df.mapInPandas(run, schema=out_schema)


def text_stats(df: DataFrame) -> DataFrame:
    """Per-distinct-text stats: occurrence count + first-keeper key.

    first = min of struct(conv_id, turn_idx) — the stable keep-first rule
    under (conv_id, turn_idx) ordering (input_hint determinism invariant).

    Plan shape (scale-driven): min over a struct (or any string) cannot use
    hash aggregation — Spark falls back to SortAggregate, which SORTS every
    input partition. So the occurrence count runs as a pure HashAggregate
    over all rows (map-side combined, tiny shuffle), and the keeper key is
    computed only for texts with occ > 1: that set is small in real corpora
    (boilerplate), so AQE turns the restriction join into a broadcast and
    the unavoidable SortAggregate touches only the duplicated rows.
    Unique texts get a NULL keeper — downstream the duplicate condition
    coalesces NULL to False, so labels are identical to the single-stage
    min-over-all formulation (tested in test_pipeline_oracle.py).
    """
    nonempty = df.filter(~_is_empty_col(F.col("text"))).select(
        "text", "conv_id", "turn_idx"
    )
    occ = nonempty.groupBy("text").agg(F.count(F.lit(1)).alias("text_occ"))
    dup_texts = occ.filter(F.col("text_occ") > 1).select("text")
    keepers = (
        nonempty.join(dup_texts, "text")
        .groupBy("text")
        .agg(F.min(F.struct("conv_id", "turn_idx")).alias("_fk"))
        .select(
            "text",
            F.col("_fk.conv_id").alias("first_conv"),
            F.col("_fk.turn_idx").alias("first_turn"),
        )
    )
    return occ.join(keepers, "text", "left")


def conv_stats(df: DataFrame) -> DataFrame:
    """Per-conversation empty-turn percentage (SystemMissingOverThreshold
    analogue, reference src/check/post.rs:303-351: pct = miss/total*100)."""
    return df.groupBy("conv_id").agg(
        F.sum(_is_empty_col(F.col("text")).cast("long")).alias("conv_empty_cnt"),
        F.count(F.lit(1)).alias("conv_turn_cnt"),
    )


def conv_dup_stats(df: DataFrame) -> DataFrame:
    """Conversations near-duplicating an earlier (lexicographically
    smaller) conv_id: whole-conversation MinHash LSH over the same
    shingle/band kernels as document dedup (qamd_spark/ops/dedup.py),
    keyed on the string conv_id. Returns one row per duplicated
    conversation — (conv_id, conv_dup_of).

    The per-conversation document is the non-empty turn texts joined with
    a single space in (turn_idx, text) order; collect_list is
    order-nondeterministic, so the struct array is array_sort-ed before
    the join (deterministic across retries/partitionings — the
    input_hint's stable-turn-ordering invariant).

    Scale shape: the groupBy(conv_id) is a partial aggregation (a hot
    conversation collapses map-side before its shuffle); the LSH banding
    is the min-per-bucket aggregate from ops/dedup (no all-pairs bucket
    join); the output holds only duplicated conversations, so the join
    back in :func:`label` is broadcast-sized for real corpora and
    AQE-planned otherwise.
    """
    from qamd_spark.ops import dedup as dd

    docs = (
        df.filter(~_is_empty_col(F.col("text")))
        .groupBy("conv_id")
        .agg(F.array_sort(F.collect_list(F.struct("turn_idx", "text"))).alias("_ts"))
        .select(
            "conv_id",
            F.array_join(F.transform("_ts", lambda s: s["text"]), " ").alias("_doc"),
        )
    )
    dups = dd.minhash_duplicates(
        docs, id_col="conv_id", text_col="_doc", string_ids=True
    )
    return dups.select(
        F.col("doc_id").alias("conv_id"), F.col("dup_of").alias("conv_dup_of")
    )


def rule_conditions(cfg: QamdConfig) -> list[tuple[str, "F.Column"]]:
    """(rule name, hit Column) in registry order, enabled rules only.

    Columns reference the post-join frame produced by :func:`label`.
    NULL conditions count as no-hit (F.when semantics), matching the
    oracle's fillna(False).
    """
    s = cfg.settings
    text = F.col("text")
    nonempty = ~_is_empty_col(text)
    conds: list[tuple[str, "F.Column"]] = []

    def add(name: str, col) -> None:
        if cfg.enabled(name):
            conds.append((name, col))

    add("bad_conv_id", ~F.col("conv_id").rlike(s.get("bad_conv_id") or ""))
    if cfg.enabled("role_vocabulary"):
        roles = [F.lit(r) for r in s["role_vocabulary"]]
        conds.append(
            ("role_vocabulary", F.col("role").isNull() | ~F.col("role").isin(*roles))
        )
    if cfg.enabled("field_length"):
        # ValueLabelMaxLength analogue for the non-text string fields
        # (reference src/check/post.rs:132-166); NULL fields are no-hit
        mx = int(s["field_length"]["max"])
        conds.append(
            (
                "field_length",
                F.coalesce(F.length("role") > mx, F.lit(False))
                | F.coalesce(F.length("tool") > mx, F.lit(False)),
            )
        )
    add("empty_turn", _is_empty_col(text))
    if cfg.enabled("sentinel_text"):
        # trimmed exact match against the sentinel list (defined-missing
        # analogue, reference src/check/value.rs:18-44)
        sents = [F.lit(x) for x in s["sentinel_text"]]
        conds.append(("sentinel_text", F.trim(text).isin(*sents)))
    if cfg.enabled("length_bounds"):
        b = s["length_bounds"]
        conds.append(
            (
                "length_bounds",
                (F.col("n_chars") < F.lit(int(b["min"])))
                | (F.col("n_chars") > F.lit(int(b["max"]))),
            )
        )
    if cfg.enabled("odd_characters"):
        # QAMD-faithful boolean `contains` over the odd set
        # (reference src/check/mod.rs:94-99, default.yaml:111-119)
        c = None
        for ch in s["odd_characters"]:
            e = text.contains(F.lit(ch))
            c = e if c is None else (c | e)
        conds.append(("odd_characters", nonempty & c))
    add(
        "odd_char_ratio",
        F.col("odd_char_ratio") > F.lit(float(s.get("odd_char_ratio") or 0)),
    )
    if cfg.enabled("encoding"):
        from qamd_spark.ops.text import encoding_damage

        conds.append(("encoding", nonempty & encoding_damage(text)))
    if cfg.enabled("repetition"):
        r = s["repetition"]
        conds.append(
            (
                "repetition",
                (F.col("repetition_ratio") > F.lit(float(r["max"])))
                & (F.col("n_tokens") >= F.lit(int(r["min_tokens"]))),
            )
        )
    if cfg.enabled("oov_fraction"):
        conds.append(
            (
                "oov_fraction",
                nonempty
                & (F.col("oov_fraction") > F.lit(float(s["oov_fraction"]["max"]))),
            )
        )
    if cfg.enabled("duplicate_turn"):
        conds.append(("duplicate_turn", F.col("_dup_hit")))
    if cfg.enabled("conv_neardup"):
        conds.append(("conv_neardup", F.col("_convdup_hit")))
    if cfg.enabled("conv_missing_fraction"):
        conds.append(("conv_missing_fraction", F.col("_convmiss_hit")))
    if cfg.enabled("ts_regression"):
        conds.append(("ts_regression", F.col("_tsreg_hit")))
    add("pii", F.size(F.col("pii_hits")) > F.lit(0))
    add("profanity", F.col("profanity_hit"))
    add("all_stopwords", F.col("all_stopwords"))
    add(
        "stopword_fraction",
        F.col("stopword_fraction") > F.lit(float(s.get("stopword_fraction") or 1.0)),
    )
    if cfg.enabled("rare_signature"):
        conds.append(("rare_signature", F.col("_rare_hit")))
    if cfg.enabled("custom_regex"):
        c = None
        for p in s["custom_regex"]:
            e = text.rlike(p)
            c = e if c is None else (c | e)
        conds.append(("custom_regex", c))
    if cfg.enabled("refusal"):
        from qamd_spark.rules.refusal import refusal_hit, resolve_panel

        conds.append(
            (
                "refusal",
                (F.col("role") == F.lit("assistant"))
                & refusal_hit(text, resolve_panel(s["refusal"])),
            )
        )
    if cfg.enabled("homoglyph"):
        from qamd_spark.rules.homoglyph import homoglyph_hit

        conds.append(("homoglyph", homoglyph_hit(text)))
    if cfg.enabled("langid"):
        allowed = [F.lit(a) for a in s["langid"]["allowed"]]
        conds.append(("langid", ~F.col("lang").isin(*allowed)))
    if cfg.enabled("perplexity"):
        conds.append(
            ("perplexity", F.col("perplexity") > F.lit(float(s["perplexity"]["max"])))
        )
    if cfg.enabled("quality_classifier"):
        _w, _b, thr = cfg.ensure_qc_model()
        conds.append(("quality_classifier", F.col("qc_score") < F.lit(float(thr))))
    if cfg.enabled("compression"):
        from qamd_spark.config import compression_params

        lo, hi, mb = compression_params(s["compression"])
        # the min_bytes gate uses JVM octet_length (UTF-8 bytes, same
        # definition as the scorer's encode); texts under the gate are
        # false via three-valued AND even where cr_ratio is NULL
        conds.append(
            (
                "compression",
                (F.octet_length(F.coalesce(text, F.lit(""))) >= F.lit(mb))
                & (
                    (F.col("cr_ratio") < F.lit(lo))
                    | (F.col("cr_ratio") > F.lit(hi))
                ),
            )
        )
    return conds


def label(
    df: DataFrame,
    cfg: QamdConfig,
    text_stats_df: DataFrame | None = None,
    conv_stats_df: DataFrame | None = None,
    conv_dup_df: DataFrame | None = None,
) -> DataFrame:
    """Full labeling: returns LABELED_SCHEMA columns (plus nothing else).

    ``text_stats_df`` / ``conv_stats_df`` / ``conv_dup_df`` optionally
    supply PRECOMPUTED global cross-row stats (same schemas as
    :func:`text_stats` / :func:`conv_stats` / :func:`conv_dup_stats`). The checkpointed runner computes them once over
    the full input, persists them as compact side tables, and labels each
    bucket group against them — so a resumable run pays ONE global
    aggregation pass instead of one per group (the per-group input filter
    on pmod(xxhash64(conv_id), n_buckets) would otherwise force the
    aggregates to re-scan everything). Semantics are identical: the stats
    are global either way.

    Stage order is deliberate, for two shuffle/Python-boundary reasons:
    1. The cross-row joins run on the NARROW input rows first, and the
       (wide) Python scoring stage runs last as a pass-through append —
       so scrubbed text / score columns cross none of the join
       exchanges. (The naive order — score, then join by text, then by
       conv_id — shuffled the wide rows twice.) The wide rows still cross
       one exchange downstream: the checkpointed write shuffles the
       labeled rows on (bucket, salt) (:func:`salted_repartition`), so
       the Python stage writes its full output as shuffle.
    2. The joined helper columns (text_occ, first keeper, conv counts) are
       folded into their three BOOLEAN rule flags immediately after the
       joins, JVM-side, and dropped — so the Arrow channel into and out of
       the Python workers carries 3 booleans instead of 2 string + 3
       numeric columns per row (measured ~35% wall-time of the whole
       pipeline at 6M turns, mostly pandas object conversion of the
       string keeper column).
    """
    nonempty = ~_is_empty_col(F.col("text"))
    joined = df
    if cfg.enabled("duplicate_turn") or cfg.enabled("rare_signature"):
        ts = text_stats_df if text_stats_df is not None else text_stats(df)
        joined = joined.join(ts, on="text", how="left")
        dup_hit = F.coalesce(
            nonempty
            & ~(
                (F.col("conv_id") == F.col("first_conv"))
                & (F.col("turn_idx") == F.col("first_turn"))
            ),
            F.lit(False),
        )
        rare_hit = F.coalesce(
            nonempty
            & (
                F.col("text_occ")
                <= F.lit(int(cfg.settings.get("rare_signature") or 0))
            ),
            F.lit(False),
        )
        joined = joined.withColumn("_dup_hit", dup_hit).withColumn(
            "_rare_hit", rare_hit
        ).drop("text_occ", "first_conv", "first_turn")
    else:
        joined = joined.withColumn("_dup_hit", F.lit(False)).withColumn(
            "_rare_hit", F.lit(False)
        )
    if cfg.enabled("conv_neardup"):
        cd = conv_dup_df if conv_dup_df is not None else conv_dup_stats(df)
        joined = joined.join(cd, on="conv_id", how="left")
        joined = joined.withColumn(
            "_convdup_hit", F.col("conv_dup_of").isNotNull()
        ).drop("conv_dup_of")
    else:
        joined = joined.withColumn("_convdup_hit", F.lit(False))
    if cfg.enabled("conv_missing_fraction"):
        thr = float(cfg.settings["conv_missing_fraction"])
        cs = conv_stats_df if conv_stats_df is not None else conv_stats(df)
        joined = joined.join(cs, on="conv_id", how="left")
        miss_hit = F.coalesce(
            (
                F.col("conv_empty_cnt").cast("double")
                / F.col("conv_turn_cnt").cast("double")
                * F.lit(100.0)
            )
            > F.lit(thr),
            F.lit(False),
        )
        joined = joined.withColumn("_convmiss_hit", miss_hit).drop(
            "conv_empty_cnt", "conv_turn_cnt"
        )
    else:
        joined = joined.withColumn("_convmiss_hit", F.lit(False))
    if cfg.enabled("ts_regression"):
        # per-conversation lag — a window on conv_id is bounded by the
        # conversation's own turn count (same key discipline as the
        # conv_stats aggregate; zero-Exchange on conv_id-bucketed input).
        # NULL ts / first turn ⇒ no hit (SQL lag semantics).
        from pyspark.sql import Window

        wts = Window.partitionBy("conv_id").orderBy("turn_idx")
        joined = joined.withColumn(
            "_tsreg_hit",
            F.coalesce(F.col("ts") < F.lag("ts").over(wts), F.lit(False)),
        )
    else:
        joined = joined.withColumn("_tsreg_hit", F.lit(False))
    joined = score_stage(joined, cfg)
    conds = rule_conditions(cfg)
    hit_arrays = [
        F.when(c, F.array(F.lit(name))).otherwise(F.array().cast("array<string>"))
        for name, c in conds
    ]
    rule_hits = (
        F.concat(*hit_arrays) if hit_arrays else F.array().cast("array<string>")
    )
    drop_names = set(cfg.drop_rules())
    drop_conds = [c for name, c in conds if name in drop_names]
    dropped = None
    for c in drop_conds:
        e = F.coalesce(c, F.lit(False))
        dropped = e if dropped is None else (dropped | e)
    keep = ~dropped if dropped is not None else F.lit(True)
    out = joined.withColumn("rule_hits", rule_hits).withColumn("keep", keep)
    out = out.withColumn("bucket", bucket_col(cfg).cast("int"))
    return out.select(*[f.name for f in S.labeled_schema(cfg).fields])


def bucket_col(cfg: QamdConfig) -> "F.Column":
    """The output bucket of a turn: pmod(xxhash64(conv_id), n_buckets).
    The checkpoint's input pre-filter and bucket-spec check use it too, so
    a group job reads exactly the rows its output partitions will hold."""
    return F.pmod(F.xxhash64(F.col("conv_id")), F.lit(cfg.n_buckets))


def salted_repartition(df: DataFrame, cfg: QamdConfig) -> DataFrame:
    """Salted repartition for the bucketed write (north_rule skew handling).

    Where skew is and isn't handled elsewhere: the cross-row aggregations
    are partial (map-side) so a hot conversation or hot duplicate text
    collapses before its shuffle, and skewed JOIN partitions are split by
    AQE (skewJoin enabled in session.py). The remaining exposure is the
    WRITE: rows arrive partitioned by the last join key, so one
    10^6-turn conversation can land in a single writer task. Shuffling on
    (bucket, salt) — salt = xxhash64(conv_id, turn_idx) % salt_buckets —
    spreads each bucket (and any hot conversation inside it) over
    salt_buckets tasks, bounding writer-task memory and output-file skew.
    """
    salt = F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(cfg.salt_buckets))
    return df.repartition(F.col("bucket"), salt)
