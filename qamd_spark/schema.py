"""Input/output schemas for the transcript quality pipeline.

The input shape is fixed (BASELINE.json input_hint):
    conv_id:string, turn_idx:int32, role:string, text:string,
    tool:string, ts:timestamp

This replaces the reference's per-file inferred schema (QAMyData infers
variables from ReadStat callbacks / CSV headers — reference
src/readstat/handler.rs:61-85, src/readstat/csv/read.rs:83-97); with a
fixed table schema there is no AnyValue dynamic-scalar layer.
"""

from __future__ import annotations

from pyspark.sql import types as T

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

# Columns appended by the vectorized scoring stage (must line up with
# turnscore.SCORE_COLUMNS).
SCORE_FIELDS = [
    T.StructField("n_chars", T.IntegerType(), False),
    T.StructField("n_tokens", T.IntegerType(), False),
    T.StructField("odd_char_ratio", T.DoubleType(), False),
    T.StructField("stopword_fraction", T.DoubleType(), False),
    T.StructField("all_stopwords", T.BooleanType(), False),
    T.StructField("repetition_ratio", T.DoubleType(), False),
    T.StructField("oov_fraction", T.DoubleType(), False),
    T.StructField("pii_hits", T.ArrayType(T.StringType()), False),
    T.StructField("profanity_hit", T.BooleanType(), False),
    T.StructField("scrubbed_text", T.StringType(), True),
    T.StructField("lang", T.StringType(), False),
    T.StructField("perplexity", T.DoubleType(), False),
]


def score_schema(input_schema: T.StructType, cfg=None) -> T.StructType:
    """Scoring is a pass-through append: output = input columns (whatever
    narrow flag columns have been joined on) + the score columns. With a
    config that enables the trained quality classifier, a ``qc_score``
    double is appended as well (conditional so the default output shape
    is unchanged)."""
    fields = list(input_schema.fields) + SCORE_FIELDS
    if cfg is not None and cfg.enabled("quality_classifier"):
        fields = fields + [T.StructField("qc_score", T.DoubleType(), False)]
    if cfg is not None and cfg.enabled("compression"):
        # nullable: empty turns have no meaningful compressibility
        fields = fields + [T.StructField("cr_ratio", T.DoubleType(), True)]
    return T.StructType(fields)


SCORE_SCHEMA = score_schema(TRANSCRIPT_SCHEMA)

# Final labeled-output schema (FIXTURES.md §4 expected/labels.parquet).
LABELED_EXTRA_FIELDS = [
    T.StructField("rule_hits", T.ArrayType(T.StringType()), False),
    T.StructField("keep", T.BooleanType(), False),
    T.StructField("bucket", T.IntegerType(), False),
]

LABELED_SCHEMA = T.StructType(SCORE_SCHEMA.fields + LABELED_EXTRA_FIELDS)


def labeled_schema(cfg=None) -> T.StructType:
    """LABELED_SCHEMA, plus qc_score when the config enables the trained
    quality classifier (keeps the default shape byte-for-byte stable)."""
    return T.StructType(
        score_schema(TRANSCRIPT_SCHEMA, cfg).fields + LABELED_EXTRA_FIELDS
    )
