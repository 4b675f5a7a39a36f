"""Structured Streaming ingestion for the per-turn pipeline stages.

The reference is strictly batch (one file → one report; SURVEY.md §2.9),
and so are this engine's GLOBAL rules — duplicate_turn, rare_signature
(whole-corpus occurrence counts) and conv_missing_fraction (whole-
conversation aggregate) are only well-defined over a complete table.
What streams cleanly is everything per-turn: the Arrow-batched scoring
stage (langid, perplexity, token stats), the PII/profanity scrub, and
every rule that reads a single row. This module wires exactly that:

- ``stream_label``: ``readStream`` over a parquet/file source → the SAME
  ``pipeline.label`` plan with the cross-row rules stripped (they need
  joins/aggregations a streaming append plan cannot do) → append-mode
  ``writeStream``. Exactly-once delivery comes from the sink checkpoint
  (``checkpointLocation``) — Spark's file-source offset log replays
  unfinished micro-batches idempotently, the streaming analogue of the
  batch bucket manifests (qamd_spark/checkpoint.py).

- per-turn determinism: scores/scrub are pure row functions, so streamed
  labels are bit-identical to running the stripped batch pipeline over
  the same files (tested in tests/test_streaming.py).

Cross-row rules in a streaming setting would need
``applyInPandasWithState`` (e.g. per-conv running empty fraction keyed by
conv_id with an event-time watermark on ts) — out of scope because the
north_rule pins resumability to checkpointed BATCH manifests; the batch
pipeline remains the system of record for global dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from qamd_spark import pipeline
from qamd_spark import schema as S
from qamd_spark.config import QamdConfig

# rules whose evaluation requires cross-row joins/aggregations — stripped
# from the streaming plan (see module docstring)
CROSS_ROW_RULES = (
    "duplicate_turn", "rare_signature", "conv_missing_fraction",
    "ts_regression",  # needs per-conversation lag across rows
    "conv_neardup",  # needs whole-corpus conversation MinHash
)


def streaming_config(cfg: QamdConfig | None = None) -> QamdConfig:
    """Copy of ``cfg`` with the cross-row rules disabled (absent setting ⇒
    rule pruned from the plan, same semantics as the reference's optional
    settings)."""
    import dataclasses

    cfg = cfg or QamdConfig()
    settings = dict(cfg.settings)
    for name in CROSS_ROW_RULES:
        settings[name] = None
    # dataclasses.replace carries any future QamdConfig fields forward
    # instead of silently resetting them to defaults
    return dataclasses.replace(cfg, settings=settings)


def read_stream(spark: SparkSession, input_path: str) -> DataFrame:
    """File-source stream over the transcript table: parquet by default,
    JSONL when the path says so (jsonl: prefix / .jsonl/.ndjson files or
    a directory of them) — same imposed schema and epoch/ISO ts parsing
    as the batch reader (io.jsonl_raw_schema/jsonl_project), so streamed
    and batch labels stay comparable."""
    from qamd_spark import io as qio

    is_jsonl = input_path.startswith(qio.JSONL_PREFIX) or input_path.rstrip(
        "/"
    ).endswith((".jsonl", ".ndjson"))
    if is_jsonl:
        return qio.jsonl_project(
            spark.readStream.schema(qio.jsonl_raw_schema()).json(
                input_path.removeprefix(qio.JSONL_PREFIX)
            )
        )
    return spark.readStream.schema(S.TRANSCRIPT_SCHEMA).parquet(input_path)


def stream_label(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    cfg: QamdConfig | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Start the streaming per-turn labeling query (append mode).

    ``available_now=True`` processes everything currently in the source
    then stops — the batch-like trigger used for incremental backfills;
    ``False`` runs continuously on the default micro-batch trigger.
    Restarting with the same ``checkpoint_path`` resumes from the file-
    source offset log: already-committed files are never reprocessed.
    """
    scfg = streaming_config(cfg)
    labeled = pipeline.label(read_stream(spark, input_path), scfg)
    w = (
        labeled.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()
