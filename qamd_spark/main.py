"""The `qamd` command line, one handler per subcommand.

    python -m qamd_spark.main init > rules.yaml
    python -m qamd_spark.main run --input <parquet dir> --output <dir> \
        [--config rules.yaml] [--summary-json out.json]

spark-submit takes a script, not -m: ship the package with
`--py-files qamd_spark.zip` and submit a driver script that calls
`main.main([...])` (README, Usage).

Mirrors the reference CLI surface (qamd run <file> [-c config] [-o out]
[--output-format ...], reference src/bin/qamd.rs:57-135) with `init`
emitting a default config (reference `gen_config`, src/bin/gen_config.rs).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import sys

from qamd_spark import checkpoint, config as C, io, lineage, report, schema as S, session


DEFAULT_YAML = """\
# qamd_spark default rule registry (same {setting, desc} shape as
# QAMyData's default.yaml; absent rule => skipped)
basic_file_checks:
  bad_conv_id:
    setting: "^[A-Za-z0-9_\\\\-]+$"
    desc: "Conversation id should match the specified pattern"
metadata:
  role_vocabulary:
    setting: [user, assistant, system, tool]
    desc: "Turn role should be one of the allowed roles"
  field_length:
    setting: {max: 64}
    desc: "Role/tool strings should not exceed the length bound"
  empty_turn:
    setting: true
    desc: "Turn text should not be empty or null"
data_integrity:
  length_bounds:
    setting: {min: 2, max: 8000}
    desc: "Turn text length should be within the configured bounds"
  odd_characters:
    setting: ["&", "#", "  ", "@", "*", "ç", "ô", "ü"]
    desc: "Turn text should not contain the specified characters"
  odd_char_ratio:
    setting: 0.08
    desc: "Fraction of odd characters should not exceed the bound"
  repetition:
    setting: {max: 0.6, min_tokens: 5}
    desc: "Most-frequent-token fraction should not exceed the bound"
  duplicate_turn:
    setting: true
    desc: "Turn text should not duplicate an earlier turn (keep-first)"
  conv_missing_fraction:
    setting: 25
    desc: "Conversation should not exceed the empty-turn percentage bound"
  ts_regression:
    setting: true
    desc: "Turn timestamp should not precede the previous turn's timestamp"
disclosure_risk:
  pii:
    setting: [email, ssn, uk_mobile, us_phone]
    desc: "Turn text should not contain PII patterns (scrubbed)"
  profanity:
    setting: [fraktz, blorgak, smegwit, drekhole]
    desc: "Turn text should not contain lexicon words (scrubbed)"
  all_stopwords:
    setting: true
    desc: "Turn text should not consist entirely of stopwords"
  stopword_fraction:
    setting: 0.85
    desc: "Stopword fraction should not exceed the bound"
  rare_signature:
    setting: 1
    desc: "Turn text occurring <= threshold times globally (outlier)"
quality:
  # assistant-turn refusal/template phrase panel (disabled by default;
  # setting true uses the built-in panel, or list phrases explicitly)
  # refusal:
  #   setting: true
  #   desc: "Assistant turns should not contain canned refusal templates"
  langid:
    setting: {allowed: [en], min_margin: 0.15}
    desc: "Turn language should be in the allowed set"
  perplexity:
    setting: {max: 30000.0}
    desc: "Turn trigram perplexity should not exceed the bound"
  # trained fastText-style quality model (disabled by default; enable by
  # uncommenting — min_score null uses the model's calibrated threshold)
  # quality_classifier:
  #   setting: {min_score: null}
  #   desc: "Trained quality score should not fall below the threshold"
  # zlib-compressibility band (disabled by default; turns under
  # min_bytes always pass — zlib overhead dominates short strings)
  # compression:
  #   setting: {min_ratio: 0.25, max_ratio: 1.10, min_bytes: 64}
  #   desc: "Turn text compressibility should stay within the prose band"
engine:
  n_buckets: 64
"""


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="qamd_spark")
    sub = p.add_subparsers(dest="cmd", required=True)
    # the options every Spark subcommand shares
    spark_opts = argparse.ArgumentParser(add_help=False)
    spark_opts.add_argument("--master", default=None)
    runp = sub.add_parser("run", parents=[spark_opts],
                          help="label + scrub a transcript table")
    runp.set_defaults(func=_run_run)
    runp.add_argument("--input", required=True)
    runp.add_argument("--output", required=True)
    runp.add_argument("--config", default=None)
    runp.add_argument(
        "--base64-config", default=None,
        help="rules.yaml as a base64-encoded string (reference --base64 "
             "flag, src/bin/qamd.rs:200-207); --config takes precedence",
    )
    runp.add_argument("--summary-json", default=None)
    runp.add_argument(
        "--output-format", choices=("json", "html"), default="json",
        help="also write summary.html when html (the reference's default "
             "report format, src/bin/qamd.rs:212; summary.json is always "
             "written as the machine-readable contract)",
    )
    runp.add_argument(
        "-p", "--progress", action="store_true",
        help="print per-bucket-group progress lines (reference -p flag)",
    )
    runp.add_argument(
        "-m", "--metadata-only", action="store_true",
        help="suppress locator collection and per-bucket lineage; emit "
             "metadata + pass/fail summary only (reference -m flag, "
             "src/bin/qamd.rs:214-218)",
    )
    sub.add_parser("init", help="print the default rules.yaml").set_defaults(
        func=_run_init
    )
    ded = sub.add_parser(
        "dedup", parents=[spark_opts],
        help="near-duplicate analysis over a (doc_id, text) table: "
             "exact | minhash | simhash | clusters | containment | span "
             "| canonical",
    )
    ded.set_defaults(func=_run_dedup)
    ded.add_argument("--input", required=True, help="parquet with doc_id+text")
    ded.add_argument("--output", required=True, help="output parquet path")
    ded.add_argument(
        "--method",
        choices=("exact", "minhash", "simhash", "clusters", "containment",
                 "span", "canonical"),
        default="minhash",
    )
    ded.add_argument("--id-col", default="doc_id")
    ded.add_argument("--text-col", default="text")

    smp = sub.add_parser(
        "sample", parents=[spark_opts],
        help="deterministic corpus sampling / data selection: "
             "hash (salted md5 pct) | budget (per-group token quota) | "
             "dsir (importance weights) | dsir-topk (Gumbel-top-k "
             "selection)",
    )
    smp.set_defaults(func=_run_sample)
    smp.add_argument("--input", required=True, help="parquet table")
    smp.add_argument("--output", required=True, help="output parquet path")
    smp.add_argument(
        "--method", choices=("hash", "budget", "dsir", "dsir-topk"),
        default="hash",
    )
    smp.add_argument("--id-col", default="doc_id")
    smp.add_argument("--text-col", default="text")
    smp.add_argument("--group-col", default="lang",
                     help="stratum column (budget method)")
    smp.add_argument("--weight-col", default="n_chars",
                     help="weight column (budget method)")
    smp.add_argument("--pct", type=int, default=10,
                     help="percent kept (hash method)")
    smp.add_argument("--budget", type=int, default=100_000,
                     help="per-group weight budget (budget method)")
    smp.add_argument("--k", type=int, default=1000,
                     help="rows selected (dsir-topk method)")
    smp.add_argument("--salt", default="s")

    prof = sub.add_parser(
        "profile", parents=[spark_opts],
        help="one-shot corpus profile (datasheet JSON): cardinalities, "
             "size totals, dup/empty fractions, per-language histogram "
             "and tokenizer fertility, per-source length percentiles",
    )
    prof.set_defaults(func=_run_profile)
    prof.add_argument("--input", required=True, help="parquet table")
    prof.add_argument("--output", default=None,
                      help="write the JSON here (default: stdout)")
    prof.add_argument("--text-col", default="text")
    prof.add_argument("--lang-col", default="lang",
                      help="optional; omitted from the profile if absent")
    prof.add_argument("--source-col", default="source",
                      help="optional; omitted from the profile if absent")

    bp = sub.add_parser(
        "bpe", parents=[spark_opts],
        help="train a BPE tokenizer over a parquet corpus (writes the "
             "merge list as JSON) or encode a corpus with a trained one "
             "(adds a bpe_tokens array column)",
    )
    bp.set_defaults(func=_run_bpe)
    bp.add_argument("--input", required=True, help="parquet table")
    bp.add_argument("--output", required=True,
                    help="merges JSON path (train) / parquet path (encode)")
    bp.add_argument("--mode", choices=("train", "encode"), default="train")
    bp.add_argument("--merges", type=int, default=200,
                    help="merge rounds to learn (train mode)")
    bp.add_argument("--merges-file", default=None,
                    help="merges JSON from a train run (encode mode)")
    bp.add_argument("--min-pair-count", type=int, default=2)
    bp.add_argument("--text-col", default="text")

    val = sub.add_parser(
        "validate",
        help="lint a rules.yaml: load + bounds-check it and print the "
             "enabled rules with their actions (exit 1 on invalid)",
    )
    val.set_defaults(func=_run_validate)
    val.add_argument("--config", required=True)

    cur = sub.add_parser(
        "curate", parents=[spark_opts],
        help="end-to-end corpus curation over a (doc_id, text) table: "
             "normalize -> dedup -> quality gate -> language allowlist "
             "-> deterministic sample -> write, with a per-stage report",
    )
    cur.set_defaults(func=_run_curate)
    cur.add_argument("--input", required=True)
    cur.add_argument("--output", required=True)
    cur.add_argument("--id-col", default="doc_id")
    cur.add_argument("--text-col", default="text")
    cur.add_argument("--no-normalize", action="store_true")
    cur.add_argument("--dedup", choices=("exact", "minhash", "span", "none"),
                     default="exact")
    cur.add_argument("--min-quality", type=float, default=0.5,
                     help="ops/text.quality_score threshold; <=0 disables")
    cur.add_argument("--langs", default=None,
                     help="comma-separated allowlist; uses the input's "
                          "lang column if present, else the built-in "
                          "hashed-trigram langid; omit to skip")
    cur.add_argument("--sample-pct", type=int, default=None,
                     help="deterministic salted-md5 percent kept; omit "
                          "to keep everything")
    cur.add_argument("--salt", default="curate")
    cur.add_argument("--format", choices=("parquet", "jsonl"),
                     default="parquet")

    exp = sub.add_parser(
        "export", parents=[spark_opts],
        help="convert a table between parquet and JSONL shards "
             "(the LLM-corpus interchange format); arrays/structs "
             "serialize as JSON natively",
    )
    exp.set_defaults(func=_run_export)
    exp.add_argument("--input", required=True,
                     help="parquet / csv: / jsonl: table ref")
    exp.add_argument("--output", required=True)
    exp.add_argument("--format", choices=("jsonl", "parquet", "orc"),
                     default="jsonl")
    exp.add_argument("--repartition", type=int, default=None,
                     help="shard count (default: keep input partitioning)")

    st = sub.add_parser(
        "stream", parents=[spark_opts],
        help="incremental per-turn labeling via Structured Streaming "
             "(availableNow trigger: process new files then stop; rerun "
             "with the same --checkpoint to pick up only NEW files)",
    )
    st.set_defaults(func=_run_stream)
    st.add_argument("--input", required=True, help="parquet file/dir source")
    st.add_argument("--output", required=True)
    st.add_argument(
        "--checkpoint", default=None,
        help="streaming checkpointLocation (default <output>/_checkpoint)",
    )
    st.add_argument("--config", default=None)
    st.add_argument(
        "--continuous", action="store_true",
        help="keep running on the micro-batch trigger instead of "
             "stopping when the source is drained",
    )

    qr = sub.add_parser(
        "query", parents=[spark_opts],
        help="run a registered corpus-analytics query over a table "
             "directory (the __spark_entry__ registry: dedup, quality, "
             "readability, contamination, ... — `query --list` for names)",
    )
    qr.set_defaults(func=_run_query)
    qr.add_argument("--name", default=None, help="query name (see --list)")
    qr.add_argument(
        "--sf-dir", default=None, required=False,
        help="directory holding the parquet tables the query reads",
    )
    qr.add_argument(
        "--output", default=None,
        help="write the result as parquet here (default: print rows)",
    )
    qr.add_argument("--limit", type=int, default=20,
                    help="rows to print without --output")
    qr.add_argument("--list", action="store_true",
                    help="list query names (oracle-checked ones marked)")
    qr.add_argument("--explain", action="store_true",
                    help="print the formatted physical plan instead of "
                         "running the query (plan-first workflow: check "
                         "pushdown/broadcast/shuffles before paying for "
                         "the scan)")

    au = sub.add_parser(
        "audit", parents=[spark_opts],
        help="one-shot corpus QA report: run the bounded audit panel "
             "(datasheet, split leakage, KS drift, vocabulary coverage, "
             "injection scan, jackknife influence, ...) and write one "
             "JSON document",
    )
    au.set_defaults(func=_run_audit)
    au.add_argument("--sf-dir", required=True,
                    help="directory holding the parquet tables")
    au.add_argument("--output", required=True, help="audit JSON path")
    au.add_argument(
        "--queries", default=None,
        help="comma-separated panel override (bounded-output queries only)",
    )

    args = p.parse_args(argv)
    return args.func(args)


@contextlib.contextmanager
def _spark(args):
    """The session for one subcommand, stopped afterwards only if this
    call created it: getOrCreate may hand back a session owned by an
    embedding application (or a test harness)."""
    from pyspark.sql import SparkSession

    preexisting = SparkSession.getActiveSession() is not None
    spark = session.get_spark(f"qamd_spark.{args.cmd}", master=args.master)
    try:
        yield spark
    finally:
        if not preexisting:
            spark.stop()


def _write(df, path: str, fmt: str = "parquet") -> int:
    """Write df to path (overwrite) as parquet, jsonl or orc and return its
    row count, observed by the write job itself: reading the output back
    costs another job, and fresh JSONL has no schema to read it with when
    it is empty."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
        "overwrite"
    ).format("json" if fmt == "jsonl" else fmt).save(path)
    return obs.get["rows"]


def _require_columns(df, cols) -> None:
    for col in cols:
        if col not in df.columns:
            raise SystemExit(f"input is missing column {col!r}")


def _run_init(args) -> int:
    sys.stdout.write(DEFAULT_YAML)
    return 0


def _run_validate(args) -> int:
    try:
        cfg = C.from_yaml(args.config)
    except C.ConfigError as e:
        print(json.dumps({"status": "invalid", "error": str(e)}))
        return 1
    print(json.dumps({
        "status": "ok",
        "enabled": [
            {"rule": r.name, "category": r.category,
             "action": cfg.action(r.name)}
            for r in cfg.enabled_rules()
        ],
        "n_buckets": cfg.n_buckets,
    }))
    return 0


def _run_run(args) -> int:
    """Label the input into ``--output``, then write its lineage and report.

    The Spark actions, each started once what it reads exists::

        input ──> metadata_stats ──────────────────────────┐
          └─────> labeled write ──> data/ ─┬─> lineage/    │
                                           ├─> summarize ──┼─> summary.json
                                           └─> locators ───┘

    The input metadata reads only the input, so a worker runs it while
    the label plan is built and the write runs. Lineage, the
    summary aggregate and the locators all read the one ``labeled`` frame
    and run side by side: lineage on a worker here, the other two inside
    :func:`report.summary_json`. ``summary.json`` is assembled once every
    result is in. Workers carry the caller's job group, tags and local
    properties (``inheritable_thread_target``). Leaving the ``with`` block
    joins them, so no job or thread outlives the command, also when it
    fails; a worker's error surfaces only where its result is read, so a
    missing input still fails in the write's ``input_fingerprint``.
    """
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    if args.config:
        cfg = C.from_yaml(args.config)
    elif args.base64_config:
        import base64

        cfg = C.from_yaml(base64.b64decode(args.base64_config).decode("utf-8"))
    else:
        cfg = C.QamdConfig()
    with _spark(args) as spark, ThreadPoolExecutor(max_workers=2) as pool:

        def submit(fn):
            return pool.submit(inheritable_thread_target(spark)(fn))

        # metadata describes the INPUT table (reference Metadata semantics,
        # src/report/mod.rs:45-61), not the labeled output
        input_meta = submit(
            lambda: report.metadata_stats(io.read_table(spark, args.input))
        )
        checkpoint.run_with_checkpoints(
            spark, args.input, args.output, cfg, progress=args.progress
        )
        # explicit schema: a zero-row input writes no bucket directory,
        # so there is nothing to infer one from
        labeled = spark.read.schema(S.labeled_schema(cfg)).parquet(
            args.output + "/data"
        )
        if not args.metadata_only:
            lineage_written = submit(
                lambda: lineage.per_bucket(labeled, cfg)
                .write.mode("overwrite")
                .parquet(args.output + "/lineage")
            )
        meta = {"input": args.input, **input_meta.result()}
        summ = report.summary_json(
            labeled, cfg, meta, include_locators=not args.metadata_only
        )
        if not args.metadata_only:
            lineage_written.result()
        with open(
            args.summary_json or (args.output + "/summary.json"), "w"
        ) as f:
            f.write(summ)
        if args.output_format == "html":
            with open(args.output + "/summary.html", "w") as f:
                f.write(report.to_html(json.loads(summ)))
        print(json.dumps({"status": "ok", "output": args.output}))
        return 0


def _load_query_registry():
    """Import the repo-root query registry. Importable when running from
    the repo root or when __spark_entry__.py is shipped alongside the
    package zip via spark-submit --py-files; a clear error otherwise."""
    try:
        import __spark_entry__ as E
    except ModuleNotFoundError:
        raise SystemExit(
            "the query registry (__spark_entry__.py) is not on the Python "
            "path — run from the repo root or ship it with --py-files"
        )
    return E


def _run_query(args) -> int:
    """Run one registered analytics query by name over a table directory
    and either write the result as parquet or print the head — the CLI
    face of the analytics registry in ``__spark_entry__.queries()``
    (every entry is the same (spark, sf_dir) -> DataFrame contract).
    Per-turn rule verdicts are not separate queries: they come from
    ``transcript_pipeline``, which runs ``pipeline.label``."""
    E = _load_query_registry()
    qs = E.queries()
    if args.list:
        oracled = set(E.oracle_sql())
        try:
            for name in sorted(qs):
                mark = "oracle" if name in oracled else "rows-only"
                print(f"{name}\t{mark}")
        except BrokenPipeError:  # `query --list | head` is normal usage
            pass
        return 0
    if not args.name:
        raise SystemExit("--name is required (or use --list)")
    if args.name not in qs:
        raise SystemExit(
            f"unknown query {args.name!r} — `query --list` for names"
        )
    if not args.sf_dir:
        raise SystemExit("--sf-dir is required to run a query")
    with _spark(args) as spark:
        df = qs[args.name](spark, args.sf_dir)
        if args.explain:
            print(df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
                df._jdf.queryExecution(), "formatted"
            ))
            print(json.dumps({"status": "ok", "query": args.name,
                              "explained": True}))
            return 0
        if args.output:
            print(json.dumps({"status": "ok", "query": args.name,
                              "rows": _write(df, args.output),
                              "output": args.output}))
        else:
            rows = df.limit(args.limit).collect()
            for r in rows:
                print(json.dumps(
                    _json_safe(r.asDict(recursive=True)), default=str
                ))
            print(json.dumps({"status": "ok", "query": args.name,
                              "printed": len(rows)}))
        return 0


# bounded-output audit queries: every entry's row count is capped by the
# number of sources / languages / roles / split pairs — never by corpus
# size — so the collected report stays small at any scale
AUDIT_MAX_ROWS = 10_000  # per-section collect cap (bounded-output contract)

AUDIT_PANEL = [
    "corpus_datasheet",
    "split_leakage",
    "ks_drift",
    "emd_drift",
    "mann_whitney",
    "vocab_coverage",
    "injection_scan",
    "jackknife_keep",
    "tool_error_cascade",
    "lang_source_chi2",
    "mix_weights",
    "rule_phi",
    "shapley_rules",
    "runs_test",
    "dedup_survivorship",
]


def _run_audit(args) -> int:
    """Corpus QA report: one command, one JSON — the panel a data owner
    reads before signing off a training mix (datasheet, leakage, drift,
    vocabulary depth, injection exposure, per-source influence). Each
    panel query is the SAME registry entry the driver gate verifies, so
    the report numbers inherit the oracle-checked semantics."""
    E = _load_query_registry()
    qs = E.queries()
    panel = (
        [q.strip() for q in args.queries.split(",") if q.strip()]
        if args.queries
        else AUDIT_PANEL
    )
    unknown = [q for q in panel if q not in qs]
    if unknown:
        raise SystemExit(f"unknown audit queries: {unknown}")
    with _spark(args) as spark:
        report: dict = {"sf_dir": args.sf_dir, "panel": panel, "sections": {}}
        for name in panel:
            # the report is a driver-side collect by design — enforce the
            # bounded-output contract instead of trusting the panel (a
            # per-document query passed via --queries would otherwise
            # pull the whole corpus into driver memory)
            rows = qs[name](spark, args.sf_dir).limit(AUDIT_MAX_ROWS + 1).collect()
            if len(rows) > AUDIT_MAX_ROWS:
                raise SystemExit(
                    f"audit query {name!r} returned more than "
                    f"{AUDIT_MAX_ROWS} rows — not a bounded audit query; "
                    "use `query --output` for per-document results"
                )
            report["sections"][name] = [
                _json_safe(r.asDict(recursive=True)) for r in rows
            ]
        with open(args.output, "w") as f:
            json.dump(report, f, indent=1, default=str)
        print(json.dumps({
            "status": "ok", "output": args.output,
            "sections": {n: len(report["sections"][n]) for n in panel},
        }))
        return 0


def _json_safe(v):
    """Recursively null NaN/Inf so the emitted document is strict JSON
    (bare NaN inside an array/struct column would otherwise pass through
    json.dump and break jq/JSON.parse consumers)."""
    import math as _math

    if isinstance(v, float) and (_math.isnan(v) or _math.isinf(v)):
        return None
    if isinstance(v, dict):
        return {k: _json_safe(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_json_safe(x) for x in v]
    return v


def _run_stream(args) -> int:
    """CLI front-end for the streaming per-turn pipeline: the incremental
    ingestion mode (new transcript files land in a directory; each
    invocation labels only what the offset log hasn't committed yet).
    Cross-row rules are stripped per streaming.CROSS_ROW_RULES — the
    checkpointed batch `run` remains the system of record for global
    dedup/aggregates."""
    from qamd_spark import streaming

    cfg = C.from_yaml(args.config) if args.config else C.QamdConfig()
    with _spark(args) as spark:
        q = streaming.stream_label(
            spark,
            args.input,
            args.output + "/data",
            args.checkpoint or (args.output + "/_checkpoint"),
            cfg,
            available_now=not args.continuous,
        )
        q.awaitTermination()
        # every input row is written: this run's micro-batches appended
        # their input rows (an availableNow run over an unthrottled file
        # source is one batch, far inside the progress history)
        n = sum(p["numInputRows"] for p in q.recentProgress)
        print(json.dumps({"status": "ok", "output": args.output,
                          "rows_appended": n}))
        return 0


def _run_dedup(args) -> int:
    """CLI front-end for the ops/ dedup family (the library operators the
    reference's single-purpose CLI has no analogue for): reads a parquet
    table with (id, text) columns, writes the operator's output parquet,
    prints one JSON status line."""
    from pyspark.sql import functions as F

    from qamd_spark.ops import dedup as dd
    from qamd_spark.ops import text as tx

    with _spark(args) as spark:
        raw = spark.read.parquet(args.input)
        _require_columns(raw, (args.id_col, args.text_col))
        docs = raw.select(
            F.col(args.id_col).try_cast("long").alias("doc_id"),
            F.col(args.text_col).alias("text"),
        )
        # a NULL or non-numeric id would make the operators return
        # empty/garbage with exit code 0 — fail loud (try_cast: a plain
        # cast raises its own error under ANSI mode instead)
        if docs.filter(F.col("doc_id").isNull()).limit(1).count():
            raise SystemExit(
                f"id column {args.id_col!r} has values not castable to long "
                "(string/UUID keys are not supported — provide a numeric id)"
            )
        if args.method == "exact":
            out = dd.exact_duplicates(docs)
        elif args.method == "minhash":
            out = dd.minhash_duplicates(docs)
        elif args.method == "simhash":
            out = dd.simhash_neardups(docs)
        elif args.method == "clusters":
            out = dd.duplicate_clusters(dd.minhash_duplicates(docs))
        elif args.method == "span":
            # C4-style duplicate-span removal: writes the cleaned corpus
            # (doc_id, clean_text, n_spans, n_removed), not a pair list
            out = dd.span_dedup(docs)
        elif args.method == "canonical":
            # quality-preferring keep-one: minhash pairs -> clusters ->
            # best-copy-per-cluster (max quality_score, ties to min id)
            out = dd.canonical_keepers(docs, dd.minhash_duplicates(docs))
        else:
            out = tx.winnow_containment(docs)
        print(json.dumps({"status": "ok", "method": args.method,
                          "output": args.output,
                          "rows": _write(out, args.output)}))
        return 0


def _run_sample(args) -> int:
    """CLI front-end for the ops/sampling family: deterministic (no-RNG)
    corpus sampling and DSIR data selection over a parquet table."""
    from qamd_spark.ops import sampling as smp

    with _spark(args) as spark:
        df = spark.read.parquet(args.input)
        _require_columns(df, {
            "hash": [args.id_col],
            "budget": [args.group_col, args.id_col, args.weight_col],
            "dsir": [args.id_col, args.text_col],
            "dsir-topk": [args.id_col, args.text_col],
        }[args.method])
        if args.method == "hash":
            if not (0 < args.pct <= 100):
                raise SystemExit("--pct must be in (0, 100]")
            out = df.filter(smp.hash_pct_keep(args.id_col, args.salt, args.pct))
        elif args.method == "budget":
            out = smp.token_budget_sample(
                df, args.group_col, args.id_col, args.weight_col,
                budget=args.budget, salt=args.salt,
            )
        elif args.method == "dsir":
            out = smp.dsir_weights(df, args.id_col, args.text_col)
        else:
            if args.k < 1:
                raise SystemExit("--k must be >= 1")
            out = smp.dsir_resample(df, args.k, args.id_col, args.text_col)
        print(json.dumps({"status": "ok", "method": args.method,
                          "output": args.output,
                          "rows": _write(out, args.output)}))
        return 0


def _run_bpe(args) -> int:
    """CLI front-end for ops/bpe: merge learning over the corpus's word
    histogram (train; exits if the histogram is over the driver cap) and
    rank-greedy corpus encoding (encode). The merges JSON is the
    interchange between the two modes (and with external tooling):
    {"merges": [[left, right, pair_count], ...]} in rank order."""
    from qamd_spark.ops import bpe

    with _spark(args) as spark:
        df = spark.read.parquet(args.input)
        _require_columns(df, [args.text_col])
        if args.mode == "train":
            if args.merges < 1:
                raise SystemExit("--merges must be >= 1")
            try:
                merges = bpe.train_bpe(
                    df, text_col=args.text_col, num_merges=args.merges,
                    min_pair_count=args.min_pair_count,
                )
            except ValueError as e:
                raise SystemExit(str(e)) from None
            with open(args.output, "w", encoding="utf-8") as f:
                json.dump({"merges": [list(m) for m in merges]}, f,
                          ensure_ascii=False)
            print(json.dumps({"status": "ok", "mode": "train",
                              "n_merges": len(merges),
                              "output": args.output}))
        else:
            if not args.merges_file:
                raise SystemExit("--merges-file is required in encode mode")
            with open(args.merges_file, encoding="utf-8") as f:
                merges = [tuple(m) for m in json.load(f)["merges"]]
            out = bpe.bpe_encode(df, merges, text_col=args.text_col)
            print(json.dumps({"status": "ok", "mode": "encode",
                              "rows": _write(out, args.output),
                              "output": args.output}))
        return 0


def _run_curate(args) -> int:
    """The composed curation recipe (the C4/FineWeb shape) as one
    command: normalize -> dedup keep-first -> heuristic quality gate ->
    language allowlist -> deterministic sample -> write, emitting a
    per-stage survivor report (<output>/report.json).

    Each stage is declarative on top of the ops/ library, so Catalyst
    fuses the narrow ones. The recipe is one Spark action, the write,
    after the id pre-check that must fail before anything is written
    (its scan also counts the input). Every later stage's survivor count
    is an Observation collected by the write job as it reads that stage's
    node, which it does exactly once.
    Determinism end to end: no RNG, agg+join dedup, salted-md5 sample."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from qamd_spark.ops import dedup as dd
    from qamd_spark.ops import text as tx

    # 0 is a bad value, not "omitted": reject it before any Spark work
    if args.sample_pct is not None and not (0 < args.sample_pct <= 100):
        raise SystemExit("--sample-pct must be in (0, 100]")
    with _spark(args) as spark:
        raw = io.read_table(spark, args.input)
        _require_columns(raw, (args.id_col, args.text_col))
        df = raw.withColumnRenamed(args.id_col, "doc_id").withColumnRenamed(
            args.text_col, "text"
        )
        # The one action before the write: it must fail before anything
        # is written, and its scan of the input also counts it.
        n_read, n_bad = df.agg(
            F.count(F.lit(1)),
            F.count_if(
                F.col("doc_id").try_cast("long").isNull()
                & F.col("doc_id").isNotNull()
            ),
        ).first()
        if n_bad:
            raise SystemExit(
                f"id column {args.id_col!r} has values not castable to long"
            )
        df = df.withColumn("doc_id", F.col("doc_id").cast("long"))

        # Every later count is an Observation that the write job collects.
        # Each observed node sits above the dedup join: when Spark proves
        # one join side empty it drops the whole join subtree, and the
        # observations inside it with it.
        stages = [("read", n_read)]

        def stage(name, out_df):
            obs = Observation(f"qamd-curate-{name}")
            stages.append((name, obs))
            return out_df.observe(obs, F.count(F.lit(1)).alias("rows"))

        if not args.no_normalize:
            df = df.withColumn("text", tx.normalize_ws(F.col("text")))
            stages.append(("normalize", n_read))  # a projection keeps rows
        if args.dedup == "exact":
            dups = dd.exact_duplicates(df).filter(F.col("is_dup")).select("doc_id")
            df = stage("dedup_exact", df.join(dups, "doc_id", "left_anti"))
        elif args.dedup == "minhash":
            dups = dd.minhash_duplicates(df).select("doc_id")
            df = stage("dedup_minhash", df.join(dups, "doc_id", "left_anti"))
        elif args.dedup == "span":
            cleaned = dd.span_dedup(df).select(
                "doc_id", F.col("clean_text").alias("text")
            )
            others = [c for c in df.columns if c not in ("text",)]
            df = stage("dedup_span", df.select(*others).join(cleaned, "doc_id"))
        if args.min_quality > 0:
            df = stage(
                "quality",
                df.filter(
                    tx.quality_score(F.col("text"))
                    >= F.lit(float(args.min_quality))
                ),
            )
        if args.langs:
            allowed = [x.strip() for x in args.langs.split(",") if x.strip()]
            if "lang" in df.columns:
                df = stage("langid", df.filter(F.col("lang").isin(allowed)))
            else:
                from qamd_spark import ngram

                def _lid(it):
                    for pdf in it:
                        langs, _m, _p = ngram.score_texts(pdf["text"].tolist())
                        out = pdf.copy()
                        out["lang"] = langs
                        yield out

                schema = ", ".join(
                    f"{f} {t}" for f, t in df.dtypes
                ) + ", lang string"
                df = stage(
                    "langid",
                    df.mapInPandas(_lid, schema=schema).filter(
                        F.col("lang").isin(allowed)
                    ),
                )
        if args.sample_pct is not None:
            from qamd_spark.ops import sampling as smp

            df = stage(
                "sample",
                df.filter(
                    smp.hash_pct_keep("doc_id", args.salt, args.sample_pct)
                ),
            )
        data = args.output + "/data"
        _write(df, data, args.format)
        report = {
            "input": args.input,
            "stages": [
                {"stage": name,
                 "rows": n if isinstance(n, int) else n.get["rows"]}
                for name, n in stages
            ],
            "output": data,
            "format": args.format,
        }
        with open(args.output + "/report.json", "w") as f:
            json.dump(report, f, indent=2)
        print(json.dumps({"status": "ok", "output": args.output,
                          "stages": report["stages"]}))
        return 0


def _run_export(args) -> int:
    """Format interchange: any readable table ref -> JSONL or parquet
    shards. JSONL writes are Spark's native json sink (one object per
    line, splittable downstream); this is the export half of the
    `jsonl:` source."""
    with _spark(args) as spark:
        df = io.read_table(spark, args.input)
        if args.repartition:
            df = df.repartition(args.repartition)
        print(json.dumps({"status": "ok", "format": args.format,
                          "output": args.output,
                          "rows": _write(df, args.output, args.format)}))
        return 0


def _run_profile(args) -> int:
    """One-shot corpus datasheet over any parquet table with a text
    column: the profile a curation run reads before deciding filters
    (Datasheets-for-Datasets style). All counts exact; fractions are
    single divisions; everything is one scan per section."""
    from pyspark.sql import functions as F

    from qamd_spark.ops import text as tx

    with _spark(args) as spark:
        df = spark.read.parquet(args.input)
        _require_columns(df, [args.text_col])
        t = F.coalesce(F.col(args.text_col), F.lit(""))
        have_lang = args.lang_col in df.columns
        have_src = args.source_col in df.columns

        # coalesce each sum: over 0 rows SUM is NULL and the int()/
        # division below would raise instead of producing a zero profile
        aggs = [
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct(t).alias("n_distinct_texts"),
            F.coalesce(F.sum(F.length(t)), F.lit(0)).alias("total_chars"),
            F.coalesce(
                F.sum(
                    F.when(F.length(F.trim(t)) == 0, F.lit(1)).otherwise(
                        F.lit(0)
                    )
                ),
                F.lit(0),
            ).alias("n_empty"),
        ]
        if have_lang:
            aggs.append(F.countDistinct(F.col(args.lang_col)).alias("n_langs"))
        if have_src:
            aggs.append(F.countDistinct(F.col(args.source_col)).alias("n_sources"))
        row = df.agg(*aggs).collect()[0].asDict()
        n = row["n_docs"] or 1
        profile = {
            "input": args.input,
            **{k: int(v) for k, v in row.items()},
            "dup_frac": (row["n_docs"] - row["n_distinct_texts"]) / n,
            "empty_frac": row["n_empty"] / n,
            "mean_chars": row["total_chars"] / n,
        }
        if have_lang:
            trimmed = F.trim(t)
            ws = F.when(trimmed == "", F.lit(0)).otherwise(
                F.size(F.split(trimmed, r"\s+", -1))
            )
            bpe = F.size(F.regexp_extract_all(t, F.lit(tx.BPE_TOK_RX), F.lit(0)))
            langs = (
                df.groupBy(F.col(args.lang_col).alias("lang"))
                .agg(
                    F.count(F.lit(1)).alias("n_docs"),
                    F.sum(ws.cast("long")).alias("n_words"),
                    F.sum(bpe.cast("long")).alias("n_subwords"),
                )
                .orderBy("lang")
                .collect()
            )
            profile["languages"] = [
                {
                    "lang": r["lang"],
                    "n_docs": r["n_docs"],
                    "n_words": int(r["n_words"]),
                    "fertility": (
                        r["n_subwords"] / r["n_words"] if r["n_words"] else 0.0
                    ),
                }
                for r in langs
            ]
        if have_src:
            pct = F.expr(
                f"percentile(length(coalesce({args.text_col}, '')), "
                "array(0.25D, 0.5D, 0.75D, 0.95D))"
            )
            srcs = (
                df.groupBy(F.col(args.source_col).alias("source"))
                .agg(F.count(F.lit(1)).alias("n_docs"), pct.alias("q"))
                .orderBy("source")
                .collect()
            )
            profile["sources"] = [
                {
                    "source": r["source"],
                    "n_docs": r["n_docs"],
                    "p25": r["q"][0],
                    "p50": r["q"][1],
                    "p75": r["q"][2],
                    "p95": r["q"][3],
                }
                for r in srcs
            ]
        out = json.dumps(profile, indent=2, sort_keys=True)
        if args.output:
            with open(args.output, "w") as f:
                f.write(out)
            print(json.dumps({"status": "ok", "output": args.output}))
        else:
            print(out)
        return 0


if __name__ == "__main__":
    raise SystemExit(main())
