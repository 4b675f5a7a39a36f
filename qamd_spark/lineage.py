"""Per-partition lineage rows (north_star requirement).

For every output bucket (bucket = pmod(xxhash64(conv_id), n_buckets) — the
unit of checkpoint/resume): rule hit counts, language histogram, perplexity
quantiles, row/keep counts. This mirrors QAMyData's summary-report output
(reference src/report/mod.rs:16-19) but keyed per partition so a resumed or
partially-audited run can be reconciled bucket by bucket.

Quantiles use percentile_approx — lineage is observability, not a keep/drop
decision, so approximate is acceptable (decisions only ever use exact
aggregates; SURVEY.md §7 determinism rule).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from qamd_spark.config import QamdConfig

PPL_QUANTILES = [0.1, 0.25, 0.5, 0.75, 0.9, 0.99]


def rule_hit_sums(cfg: QamdConfig) -> dict[str, Column]:
    """Rule name → #rows whose rule_hits names it, per enabled rule in
    registry order: the one definition of a rule's hit count, shared by
    the per-bucket lineage and the summary report. The sum is null over
    zero rows."""
    return {
        r.name: F.sum(F.array_contains("rule_hits", r.name).cast("long"))
        for r in cfg.enabled_rules()
    }


def per_bucket(labeled: DataFrame, cfg: QamdConfig) -> DataFrame:
    """One row per bucket: counts + rule-hit map + lang histogram + ppl
    quantiles. Single shuffle on the (already small-cardinality) bucket key;
    every aggregate is map-side combinable."""
    aggs = [
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("keep").cast("long")).alias("n_keep"),
        F.percentile_approx("perplexity", PPL_QUANTILES, 10000).alias(
            "ppl_quantiles"
        ),
    ]
    hits = rule_hit_sums(cfg)
    rule_names = list(hits)
    aggs += [c.alias(f"_rh_{name}") for name, c in hits.items()]
    # language histogram via conditional sums (langs are a small closed
    # set), fused into the SAME single aggregation pass
    from qamd_spark import ngram

    langs = list(ngram.LANGS) + [ngram.UND]
    for lng in langs:
        aggs.append(F.sum((F.col("lang") == lng).cast("long")).alias(f"_lg_{lng}"))
    grouped = labeled.groupBy("bucket").agg(*aggs)
    rule_map = F.map_from_arrays(
        F.array(*[F.lit(n) for n in rule_names]),
        F.array(*[F.col(f"_rh_{n}") for n in rule_names]),
    ).alias("rule_hit_counts")
    lang_map = F.map_from_arrays(
        F.array(*[F.lit(lng) for lng in langs]),
        F.array(*[F.col(f"_lg_{lng}") for lng in langs]),
    ).alias("lang_histogram")
    return grouped.select(
        "bucket", "n_rows", "n_keep", rule_map, lang_map, "ppl_quantiles"
    ).orderBy("bucket")
