"""Structured Streaming: streamed per-turn labels must equal the stripped
batch pipeline bit-for-bit, and the sink checkpoint must make restarts
incremental (new files only)."""

import os

from qamd_spark import pipeline, streaming, synth
from qamd_spark.config import QamdConfig


def _write_batch(dirpath: str, fname: str, n_convs: int, seed: int) -> None:
    os.makedirs(dirpath, exist_ok=True)
    synth.write_parquet(os.path.join(dirpath, fname), n_convs=n_convs, seed=seed)


def _collect_sorted(df):
    return (
        df.select("conv_id", "turn_idx", "keep", "rule_hits", "scrubbed_text", "lang")
        .orderBy("conv_id", "turn_idx")
        .collect()
    )


def test_stream_matches_stripped_batch(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write_batch(src, "a.parquet", n_convs=20, seed=3)

    q = streaming.stream_label(spark, src, out, ckpt)
    q.awaitTermination(120)

    scfg = streaming.streaming_config(QamdConfig())
    batch = pipeline.label(spark.read.parquet(src), scfg)
    got = _collect_sorted(spark.read.parquet(out))
    exp = _collect_sorted(batch)
    assert got == exp


def test_stream_restart_processes_only_new_files(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write_batch(src, "a.parquet", n_convs=10, seed=3)

    q = streaming.stream_label(spark, src, out, ckpt)
    q.awaitTermination(120)
    n1 = spark.read.parquet(out).count()

    _write_batch(src, "b.parquet", n_convs=5, seed=4)
    q2 = streaming.stream_label(spark, src, out, ckpt)
    q2.awaitTermination(120)

    got = spark.read.parquet(out)
    n_b = synth.generate(n_convs=5, seed=4).shape[0]
    # the restart appended exactly file b's turns — a.parquet's offsets
    # were committed in the checkpoint and are not reprocessed
    assert got.count() == n1 + n_b


def test_streaming_config_strips_cross_row_rules():
    scfg = streaming.streaming_config(QamdConfig())
    for name in streaming.CROSS_ROW_RULES:
        assert not scfg.enabled(name)
    assert scfg.enabled("pii") and scfg.enabled("langid")


def test_cli_stream_subcommand(tmp_path, spark, synth_path, count_jobs):
    """The stream CLI: first invocation labels all current files; a
    rerun with the same checkpoint ingests only NEW files (no
    reprocessing — row count grows by exactly the new file's rows).

    Job budget: Spark runs a streaming query's micro-batch jobs under the
    query's own job group, its runId, so count_jobs sees only the jobs
    the command starts itself: the schema read and count of the sink that
    report its row count (3 jobs). The micro-batch write is one more job
    in the runId group, not an ungrouped one."""
    import shutil

    from qamd_spark import main

    src = str(tmp_path / "src")
    os.makedirs(src)
    shutil.copy(synth_path, src + "/part-0.parquet")
    out = str(tmp_path / "out")
    argv = ["stream", "--input", src, "--output", out, "--master", "local[4]"]
    rc, jobs, escaped = count_jobs(lambda: main.main(argv))
    assert rc == 0 and jobs <= 3 and escaped == 0
    n1 = spark.read.parquet(out + "/data").count()
    assert n1 == spark.read.parquet(synth_path).count()
    # second invocation with one new file: only its rows are appended
    from qamd_spark import synth as _synth

    _synth.write_parquet(src + "/part-1.parquet", n_convs=5, seed=99)
    rc, jobs, escaped = count_jobs(lambda: main.main(argv))
    assert rc == 0 and jobs <= 3 and escaped == 0
    n2 = spark.read.parquet(out + "/data").count()
    n_new = spark.read.parquet(src + "/part-1.parquet").count()
    assert n2 == n1 + n_new


def test_stream_applies_refusal_rule(spark, tmp_path):
    """The refusal rule is per-row, so it must survive streaming_config's
    cross-row strip and fire identically in the streamed plan."""
    import datetime as dt

    import pandas as pd

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    rows = [
        ("s0", 0, "user", "please summarize the quarterly revenue table"),
        ("s0", 1, "assistant",
         "As an AI language model, I cannot access your revenue table"),
        ("s0", 2, "assistant", "here is the requested quarterly summary"),
    ]
    pdf = pd.DataFrame(
        [
            {"conv_id": c, "turn_idx": i, "role": r, "text": t,
             "tool": None, "ts": dt.datetime(2026, 1, 1, 0, i)}
            for c, i, r, t in rows
        ]
    )
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
    for col in ("conv_id", "role", "text", "tool"):
        pdf[col] = pdf[col].astype("string")
    pdf.to_parquet(os.path.join(src, "a.parquet"))

    cfg = QamdConfig()
    cfg.settings["refusal"] = True
    assert streaming.streaming_config(cfg).enabled("refusal")
    q = streaming.stream_label(spark, src, out, ckpt, cfg=cfg)
    q.awaitTermination(120)
    got = {
        r["turn_idx"]: list(r["rule_hits"])
        for r in spark.read.parquet(out).collect()
    }
    assert "refusal" in got[1]
    assert "refusal" not in got[0] and "refusal" not in got[2]


def test_stream_over_jsonl_source(spark, tmp_path):
    """The streamed file source accepts JSONL (jsonl: prefix or a
    directory of .jsonl files) with the same imposed schema + ts parsing
    as the batch reader; labels equal the batch pipeline over the same
    data."""
    import json as _json

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    rows = [
        {"conv_id": "sj0", "turn_idx": 0, "role": "user",
         "text": "a perfectly ordinary question about the weather",
         "ts": 1700000000},
        {"conv_id": "sj0", "turn_idx": 1, "role": "assistant",
         "text": "an equally ordinary answer about the weather",
         "ts": "2026-01-02T03:04:05"},
    ]
    with open(os.path.join(src, "a.jsonl"), "w") as f:
        for r in rows:
            f.write(_json.dumps(r) + "\n")

    q = streaming.stream_label(spark, "jsonl:" + src, out, ckpt)
    q.awaitTermination(120)
    got = _collect_sorted(spark.read.parquet(out))
    from qamd_spark import io as qio
    scfg = streaming.streaming_config(QamdConfig())
    exp = _collect_sorted(
        pipeline.label(qio.read_jsonl(spark, src), scfg)
    )
    assert got == exp and len(got) == 2


def test_stream_applies_compression_rule(spark, tmp_path):
    """The compression rule is per-row, so it survives the cross-row
    strip and fires identically in the streamed plan (repetitive long
    turn drops; prose and short-repetitive turns keep)."""
    import datetime as dt

    import pandas as pd

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    prose = (
        "the river keeps finding new stones to argue with, and the miller "
        "writes down each dispute in a ledger nobody audits"
    )
    rows = [
        ("s0", 0, "user", prose),
        ("s0", 1, "assistant", "ab" * 200),   # long + repetitive → drop
        ("s0", 2, "assistant", "ab" * 10),    # repetitive but < min_bytes
    ]
    pdf = pd.DataFrame(
        [
            {"conv_id": c, "turn_idx": i, "role": r, "text": t,
             "tool": None, "ts": dt.datetime(2026, 1, 1, 0, i)}
            for c, i, r, t in rows
        ]
    )
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
    for col in ("conv_id", "role", "text", "tool"):
        pdf[col] = pdf[col].astype("string")
    pdf.to_parquet(os.path.join(src, "a.parquet"))

    cfg = QamdConfig()
    cfg.settings["compression"] = {}
    assert streaming.streaming_config(cfg).enabled("compression")
    q = streaming.stream_label(spark, src, out, ckpt, cfg=cfg)
    q.awaitTermination(120)
    got = {
        r["turn_idx"]: list(r["rule_hits"])
        for r in spark.read.parquet(out).collect()
    }
    assert "compression" in got[1]
    assert "compression" not in got[0] and "compression" not in got[2]
