"""Table IO: Iceberg-first, parquet-fallback.

The north_rule targets Iceberg tables of transcripts. This sandbox has no
Iceberg runtime jar, so IO is abstracted: a table reference is either
``iceberg:<catalog.db.table>`` or a plain path (parquet directory). The
Iceberg path is exercised when the runtime is present (import-gated), the
parquet path everywhere.

Scale notes for the Iceberg path (documented intent, same DataFrame from
either branch):
- read: ``spark.read.table`` → snapshot-isolated scan; partition pruning
  on the table's bucket(conv_id) partition spec replaces our manual
  bucket column; ``input_fingerprint`` becomes the snapshot id.
- write: ``writeTo(...).overwritePartitions()`` gives the same
  idempotent-per-bucket semantics the checkpoint manifests rely on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ICEBERG_PREFIX = "iceberg:"
CSV_PREFIX = "csv:"
JSONL_PREFIX = "jsonl:"
ORC_PREFIX = "orc:"


def iceberg_available(spark: SparkSession) -> bool:
    # NB: plain `spark._jvm.org.apache.iceberg.Table` is a lazy py4j
    # JavaPackage and never raises — Class.forName actually loads it
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.Table")
        return True
    except Exception:
        return False


def read_table(spark: SparkSession, ref: str) -> DataFrame:
    if ref.startswith(ICEBERG_PREFIX):
        name = ref[len(ICEBERG_PREFIX):]
        if not iceberg_available(spark):
            raise RuntimeError(
                f"iceberg runtime not on the classpath; cannot read {name!r} "
                "(pass a parquet path instead, or add the iceberg-spark-runtime jar)"
            )
        return spark.read.table(name)
    if ref.startswith(CSV_PREFIX) or ref.endswith(".csv"):
        return read_csv(spark, ref.removeprefix(CSV_PREFIX))
    if ref.startswith(JSONL_PREFIX) or ref.endswith((".jsonl", ".ndjson")):
        return read_jsonl(spark, ref.removeprefix(JSONL_PREFIX))
    if ref.startswith(ORC_PREFIX) or ref.endswith(".orc"):
        return read_orc(spark, ref.removeprefix(ORC_PREFIX))
    return spark.read.parquet(ref)


def read_csv(spark: SparkSession, path: str) -> DataFrame:
    """CSV transcript source (reference read_csv,
    src/readstat/csv/read.rs:23-152): header row = schema, every field
    parsed as text then coerced to TRANSCRIPT_SCHEMA; empty string ⇒ NULL,
    the SYSTEM_MISSING classification of src/readstat/csv/read.rs:112-115.

    Unlike the reference (whole-file slurp + double parse + per-cell
    linear column lookup), this is Spark's streaming splittable CSV scan:
    column-pruned, one pass, parallel across file splits."""
    from qamd_spark import schema as S

    raw = spark.read.options(header=True, nullValue="").csv(path)
    cols = []
    for f in S.TRANSCRIPT_SCHEMA.fields:
        src = (
            F.col(f.name) if f.name in raw.columns else F.lit(None).cast("string")
        )
        cols.append(src.cast(f.dataType).alias(f.name))
    return raw.select(*cols)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC transcript source (`orc:` prefix / .orc files) — the other
    columnar format Spark reads natively (predicate pushdown + column
    pruning like parquet; common in Hive-lineage warehouses). The file's
    own schema is coerced to TRANSCRIPT_SCHEMA exactly like the CSV
    source: absent columns become NULL, present columns are cast — so a
    warehouse export with extra columns or wider integer types labels
    identically to the parquet path (pytest pins CLI label equality)."""
    from qamd_spark import schema as S

    raw = spark.read.orc(path)
    cols = []
    for f in S.TRANSCRIPT_SCHEMA.fields:
        src = (
            F.col(f.name) if f.name in raw.columns else F.lit(None).cast("string")
        )
        cols.append(src.cast(f.dataType).alias(f.name))
    return raw.select(*cols)


def read_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """JSON-Lines transcript source — the de-facto interchange format of
    LLM corpora (one JSON object per line). The schema is IMPOSED, not
    inferred: inference would need an extra full pass and could type the
    same column differently across shards; absent keys and JSON nulls
    both become SQL NULL, matching the CSV source's ""⇒NULL missing
    semantics. ts accepts epoch-seconds numbers or ISO-8601 strings.
    Splittable parallel scan like CSV (newline-delimited)."""
    raw = spark.read.schema(jsonl_raw_schema()).json(path)
    return jsonl_project(raw)


def jsonl_raw_schema():
    """Imposed read schema for JSONL: ts as STRING first — a typed
    TimestampType field would silently null ISO strings vs numbers
    inconsistently across shards. Shared by the batch and streaming
    readers so both parse identically."""
    from pyspark.sql import types as T

    from qamd_spark import schema as S

    return T.StructType(
        [
            T.StructField(
                f.name, T.StringType() if f.name == "ts" else f.dataType
            )
            for f in S.TRANSCRIPT_SCHEMA.fields
        ]
    )


def jsonl_project(raw: DataFrame) -> DataFrame:
    """jsonl_raw_schema -> TRANSCRIPT_SCHEMA projection (ts: epoch
    seconds or ISO-8601)."""
    from qamd_spark import schema as S

    ts = F.when(
        F.col("ts").rlike(r"^-?\d+(\.\d+)?$"),
        F.timestamp_seconds(F.col("ts").cast("double")),
    ).otherwise(F.to_timestamp("ts"))
    cols = [
        ts.alias("ts")
        if f.name == "ts"
        else F.col(f.name).cast(f.dataType).alias(f.name)
        for f in S.TRANSCRIPT_SCHEMA.fields
    ]
    return raw.select(*cols)


def csv_metadata(spark: SparkSession, path: str) -> dict:
    """variable_count / raw_case_count of a raw CSV — the reference's
    set_metadata pass (src/readstat/csv/read.rs:154-177), as one cheap
    count job instead of a second full parse."""
    raw = spark.read.options(header=True).csv(path)
    return {
        "variable_count": len(raw.columns),
        "raw_case_count": raw.count(),
    }


def normalize_input(df: DataFrame) -> DataFrame:
    """Project an input table down to the transcript columns (plus the
    bucket partition column when present): labeled OUTPUT fed back as
    input — the re-audit workflow (relabel under a tightened config,
    partition-pruned per bucket group) — carries score/label columns that
    would collide with the scoring stage's appended columns. Raises if
    any required transcript column is missing."""
    from qamd_spark import schema as S

    required = [f.name for f in S.TRANSCRIPT_SCHEMA.fields]
    missing = [c for c in required if c not in df.columns]
    if missing:
        raise ValueError(f"input is missing transcript columns: {missing}")
    keep = required + (["bucket"] if "bucket" in df.columns else [])
    return df.select(*keep) if set(df.columns) != set(keep) else df


def write_bucketed_table(
    df: DataFrame,
    name: str,
    path: str,
    n_buckets: int = 64,
    key: str = "conv_id",
) -> None:
    """Write as a bucketed+sorted catalog table (the parquet analogue of
    Iceberg's bucket(conv_id) partition spec): downstream equi-joins and
    aggregations on ``key`` between tables bucketed the same way are
    CO-LOCATED — Catalyst plans them with zero Exchange, which at 10^12
    turns removes the dominant shuffle from join-heavy audits (see
    tests/test_plan_quality.py::test_bucketed_join_has_no_exchange).
    Bucketed writes require the catalog (saveAsTable), not a bare path."""
    (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .option("path", path)
        .saveAsTable(name)
    )


def table_fingerprint(spark: SparkSession, ref: str) -> str:
    """Input identity for checkpoint manifests: Iceberg snapshot id when
    available, else the parquet file listing hash."""
    if ref.startswith(ICEBERG_PREFIX):
        name = ref[len(ICEBERG_PREFIX):]
        row = spark.sql(
            f"SELECT snapshot_id FROM {name}.snapshots ORDER BY committed_at DESC LIMIT 1"
        ).collect()
        if not row:
            # same invariant as checkpoint.input_fingerprint: an empty
            # input must never hash to a constant — a snapshot-less table
            # would otherwise validate stale manifests forever
            raise FileNotFoundError(
                f"iceberg table {name!r} has no snapshots to fingerprint — "
                "refusing to checkpoint against an empty table"
            )
        return str(row[0][0])
    from qamd_spark.checkpoint import input_fingerprint

    return input_fingerprint(spark, ref)
