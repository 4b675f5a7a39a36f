import pytest

from qamd_spark import checkpoint, pipeline
from qamd_spark.config import QamdConfig


@pytest.fixture()
def cfg():
    # small bucket count so the test runs few jobs
    return QamdConfig(n_buckets=6)


def test_full_run_writes_all_manifests(spark, synth_path, tmp_path, cfg):
    out = str(tmp_path / "out")
    written = checkpoint.run_with_checkpoints(
        spark, synth_path, out, cfg, bucket_batch=3
    )
    assert {m.bucket for m in written} == set(range(6))
    total = sum(m.n_rows for m in written)
    assert total == spark.read.parquet(synth_path).count()
    # data round-trip
    got = spark.read.parquet(out + "/data")
    assert got.count() == total


def test_crash_and_resume_equals_single_run(spark, synth_path, tmp_path, cfg):
    out_a = str(tmp_path / "a")
    out_b = str(tmp_path / "b")
    checkpoint.run_with_checkpoints(spark, synth_path, out_a, cfg, bucket_batch=2)
    with pytest.raises(RuntimeError, match="simulated crash"):
        checkpoint.run_with_checkpoints(
            spark, synth_path, out_b, cfg, bucket_batch=2, fail_after_buckets=3
        )
    resumed = checkpoint.run_with_checkpoints(
        spark, synth_path, out_b, cfg, bucket_batch=2
    )
    # resume only re-runs the missing buckets
    assert len(resumed) <= 6 - 3 + 1
    a = (
        spark.read.parquet(out_a + "/data")
        .select("conv_id", "turn_idx", "keep", "scrubbed_text")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    b = (
        spark.read.parquet(out_b + "/data")
        .select("conv_id", "turn_idx", "keep", "scrubbed_text")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert len(a) == len(b)
    assert (a["keep"].to_numpy() == b["keep"].to_numpy()).all()
    sa = a["scrubbed_text"].fillna("\x00")
    sb = b["scrubbed_text"].fillna("\x00")
    assert (sa.to_numpy() == sb.to_numpy()).all()


def test_config_change_invalidates_manifests(spark, synth_path, tmp_path):
    out = str(tmp_path / "c")
    cfg1 = QamdConfig(n_buckets=6)
    checkpoint.run_with_checkpoints(spark, synth_path, out, cfg1, bucket_batch=6)
    cfg2 = QamdConfig(n_buckets=6, settings={**cfg1.settings, "perplexity": None})
    # different config fingerprint ⇒ all buckets re-run
    rerun = checkpoint.run_with_checkpoints(spark, synth_path, out, cfg2, bucket_batch=6)
    assert {m.bucket for m in rerun} == set(range(6))


def test_salted_repartition_spreads_hot_conversation(spark, synth_path):
    """north_rule skew handling: after the salted write repartition, a hot
    conversation's rows spread over ~salt_buckets tasks instead of one."""
    from pyspark.sql import functions as F

    cfg = QamdConfig()
    labeled = pipeline.label(spark.read.parquet(synth_path), cfg)
    salted = pipeline.salted_repartition(labeled, cfg)
    # On this tiny fixture AQE legitimately coalesces the whole shuffle to
    # one partition (it only ever MERGES small partitions; at scale a hot
    # conversation's salt groups are large and stay separate) — turn
    # coalescing off to observe the salt's hash spread itself.
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        # conv00000 is the synth hot conversation (120 turns here)
        parts = (
            salted.filter(F.col("conv_id") == "conv00000")
            .select(F.spark_partition_id().alias("pid"))
            .distinct()
            .count()
        )
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    assert parts > 1, "hot conversation pinned to a single partition"
    assert parts <= cfg.salt_buckets


def test_group_job_prefilters_scan_and_reuses_stats(spark, synth_path, tmp_path, cfg):
    """The per-group checkpoint job must (a) filter the input scan on the
    bucket expression BEFORE anything else (so only the group's conv
    subset reaches the joins and the Python stage), and (b) contain NO
    aggregation — the global text/conv stats come precomputed from the
    side tables. This is the fix for the n_groups-fold recompute."""
    import re

    out = str(tmp_path / "out")
    df = spark.read.parquet(synth_path)
    ts, cs, _cd = checkpoint.global_stats_tables(spark, df, out, cfg, "fp_i", "fp_c")
    part_in = df.filter(pipeline.bucket_col(cfg).isin([0, 1]))
    part = pipeline.label(part_in, cfg, text_stats_df=ts, conv_stats_df=cs)
    plan = part._sc._jvm.PythonSQLUtils.explainString(
        part._jdf.queryExecution(), "formatted"
    )
    # one Python stage, no aggregation anywhere in the per-group job
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1, plan
    assert "HashAggregate" not in plan and "SortAggregate" not in plan, plan
    # the bucket filter sits DIRECTLY above the transcript input scan
    blocks = {
        int(m.group(1)): (m.group(2).strip(), m.group(3))
        for m in re.finditer(
            r"\((\d+)\) ([A-Za-z ]+?)\s*\n((?:.+\n)*?)\n", plan + "\n"
        )
    }
    input_scans = [
        i for i, (op, body) in blocks.items()
        if op.startswith("Scan parquet") and "transcripts.parquet" in body
    ]
    assert len(input_scans) == 1, blocks
    fid = input_scans[0] + 1  # formatted-plan ids are post-order: parent = child+1 on a chain
    op, body = blocks[fid]
    assert op == "Filter", (fid, blocks[fid])
    assert re.search(r"Condition : pmod\(xxhash64\(conv_id#\d+, 42\), 6\) IN \(0,1\)", body), body


def test_checkpointed_labels_match_direct_label(spark, synth_path, tmp_path, cfg):
    """Global semantics preserved: per-group labeling against precomputed
    stats must equal one-shot pipeline.label over the full input."""
    out = str(tmp_path / "out")
    checkpoint.run_with_checkpoints(spark, synth_path, out, cfg, bucket_batch=2)
    got = (
        spark.read.parquet(out + "/data")
        .select("conv_id", "turn_idx", "keep", "scrubbed_text")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    want = (
        pipeline.label(spark.read.parquet(synth_path), cfg)
        .select("conv_id", "turn_idx", "keep", "scrubbed_text")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert (got["keep"].to_numpy() == want["keep"].to_numpy()).all()
    assert (
        got["scrubbed_text"].fillna("<N>").to_numpy()
        == want["scrubbed_text"].fillna("<N>").to_numpy()
    ).all()


def test_progress_lines(spark, synth_path, tmp_path, cfg, capsys):
    checkpoint.run_with_checkpoints(
        spark, synth_path, str(tmp_path / "out"), cfg, bucket_batch=3, progress=True
    )
    out = capsys.readouterr().out
    lines = [ln for ln in out.splitlines() if ln.startswith("[qamd] buckets")]
    assert len(lines) == 2  # 6 buckets / batch 3
    assert "6/6" in lines[-1]


@pytest.fixture()
def bucketed_input(spark, synth_path, tmp_path_factory):
    """Transcripts pre-partitioned by the bucket column (the Iceberg
    bucket(conv_id)-spec shape, n_buckets=6)."""
    from pyspark.sql import functions as F

    p = str(tmp_path_factory.mktemp("bi") / "bucketed")
    df = spark.read.parquet(synth_path).withColumn(
        "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(6)).cast("int")
    )
    df.write.mode("overwrite").partitionBy("bucket").parquet(p)
    return p


def test_prebucketed_input_prunes_partitions(spark, bucketed_input, tmp_path, cfg):
    from pyspark.sql import functions as F

    df = spark.read.parquet(bucketed_input)
    part_in = df.filter(F.col("bucket").isin([0, 1])).drop("bucket")
    plan = part_in._sc._jvm.PythonSQLUtils.explainString(
        part_in._jdf.queryExecution(), "formatted"
    )
    # partition filter reaches the scan: only the group's directories read
    assert "PartitionFilters" in plan and "bucket" in plan.split("PartitionFilters")[1][:120], plan

    out = str(tmp_path / "out")
    written = checkpoint.run_with_checkpoints(
        spark, bucketed_input, out, cfg, bucket_batch=2
    )
    assert {m.bucket for m in written} == set(range(6))
    got = (
        spark.read.parquet(out + "/data")
        .select("conv_id", "turn_idx", "keep")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    want = (
        pipeline.label(
            spark.read.parquet(bucketed_input).drop("bucket"), cfg
        )
        .select("conv_id", "turn_idx", "keep")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert (got["keep"].to_numpy() == want["keep"].to_numpy()).all()
    assert len(got) == len(want)


def test_prebucketed_mismatch_aborts(spark, bucketed_input, tmp_path):
    # the input was bucketed with n_buckets=6; labeling with 5 must abort
    bad = QamdConfig(n_buckets=5)
    with pytest.raises(RuntimeError, match="disagrees"):
        checkpoint.run_with_checkpoints(
            spark, bucketed_input, str(tmp_path / "out"), bad, bucket_batch=2
        )


def test_reaudit_labeled_output(spark, synth_path, tmp_path, cfg):
    """The re-audit workflow: feed a checkpointed run's OWN labeled
    output back as input with a different (tightened) config — extra
    score/label columns are projected away, the bucket partition column
    drives pruned group scans, and results equal labeling the raw input
    directly under the new config."""
    first = str(tmp_path / "first")
    checkpoint.run_with_checkpoints(spark, synth_path, first, cfg, bucket_batch=3)

    from qamd_spark import config as C

    tight_settings = dict(C.DEFAULT_SETTINGS)
    tight_settings["length_bounds"] = {"min": 5, "max": 200}  # tightened
    tight = QamdConfig(settings=tight_settings, n_buckets=6)
    second = str(tmp_path / "second")
    checkpoint.run_with_checkpoints(
        spark, first + "/data", second, tight, bucket_batch=3
    )
    got = (
        spark.read.parquet(second + "/data")
        .select("conv_id", "turn_idx", "keep")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    want = (
        pipeline.label(spark.read.parquet(synth_path), tight)
        .select("conv_id", "turn_idx", "keep")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    assert (got["keep"].to_numpy() == want["keep"].to_numpy()).all()
    assert (got["keep"] != want["keep"]).sum() == 0 and not got["keep"].all()


def test_input_fingerprint_identity(spark, synth_path, tmp_path):
    """r2 ADVICE (high): the fingerprint must track input identity for
    every input kind the runner accepts — never collapse to a constant."""
    import time

    # missing/empty inputs refuse to fingerprint (a constant hash would
    # make resume skip every bucket against a different input)
    with pytest.raises(FileNotFoundError):
        checkpoint.input_fingerprint(spark, str(tmp_path / "nope"))
    empty = tmp_path / "empty"
    empty.mkdir()
    with pytest.raises(FileNotFoundError):
        checkpoint.input_fingerprint(spark, str(empty))
    # single-file input: stat name+size+mtime directly
    f = tmp_path / "x.csv"
    f.write_text("conv_id,turn_idx,role,text,tool,ts\nc1,0,user,hi,,\n")
    fp1 = checkpoint.input_fingerprint(spark, f"csv:{f}")
    assert fp1 == checkpoint.input_fingerprint(spark, str(f))
    time.sleep(0.01)
    f.write_text("conv_id,turn_idx,role,text,tool,ts\nc1,0,user,yo,,\n")
    assert checkpoint.input_fingerprint(spark, f"csv:{f}") != fp1
    # directory input: content change flips the fingerprint
    fp_dir = checkpoint.input_fingerprint(spark, synth_path)
    assert fp_dir != fp1
    # iceberg refs delegate to io.table_fingerprint (no runtime jar here,
    # so the delegation path must raise rather than hash '')
    with pytest.raises(Exception):
        checkpoint.input_fingerprint(spark, "iceberg:cat.db.missing")


def test_fresh_run_is_single_job_and_resume_is_grouped(spark, synth_path, tmp_path, cfg, capsys):
    """Adaptive bucket_batch (r2 VERDICT item 2): a fresh run processes
    all buckets in ONE group job (one progress line), writes every
    manifest, and matches the direct label; a resume after a simulated
    crash degrades to bucket-grained groups and completes the rest."""
    out = str(tmp_path / "out")
    written = checkpoint.run_with_checkpoints(
        spark, synth_path, out, cfg, progress=True
    )
    lines = [
        ln for ln in capsys.readouterr().out.splitlines()
        if ln.startswith("[qamd] buckets")
    ]
    assert len(lines) == 1 and "6/6" in lines[0]
    assert {m.bucket for m in written} == set(range(6))
    assert sum(m.n_rows for m in written) == spark.read.parquet(synth_path).count()

    out2 = str(tmp_path / "out2")
    with pytest.raises(RuntimeError, match="simulated crash"):
        checkpoint.run_with_checkpoints(
            spark, synth_path, out2, cfg, bucket_batch=2, fail_after_buckets=2
        )
    resumed = checkpoint.run_with_checkpoints(spark, synth_path, out2, cfg)
    assert 0 < len(resumed) <= 4
    a = (
        spark.read.parquet(out + "/data").select("conv_id", "turn_idx", "keep")
        .toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    b = (
        spark.read.parquet(out2 + "/data").select("conv_id", "turn_idx", "keep")
        .toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    assert len(a) == len(b)
    assert (a["keep"].to_numpy() == b["keep"].to_numpy()).all()


def test_stats_side_tables_survive_threshold_reaudit(spark, synth_path, tmp_path):
    """The global stats side tables are threshold-independent (raw
    occurrence/keeper/empty counts), so a re-audit under a tightened
    threshold must REUSE them — only bucket manifests (keyed on the full
    config fingerprint) re-run. A change to WHICH stats are needed still
    rebuilds."""
    import os

    from qamd_spark import config as C

    cfg = QamdConfig(n_buckets=6)
    out = str(tmp_path / "out")
    # grouped run (bucket_batch < n_buckets) so stats tables are built
    checkpoint.run_with_checkpoints(spark, synth_path, out, cfg, bucket_batch=2)
    stats = out + "/_stats/text_stats.parquet"
    assert os.path.exists(stats)
    mtime = max(
        os.path.getmtime(os.path.join(stats, f)) for f in os.listdir(stats)
    )
    tight = dict(C.DEFAULT_SETTINGS)
    tight["length_bounds"] = {"min": 5, "max": 100}
    cfg2 = QamdConfig(settings=tight, n_buckets=6)
    out2_written = checkpoint.run_with_checkpoints(
        spark, synth_path, out, cfg2, bucket_batch=2
    )
    assert len(out2_written) == 6  # labels re-run (config fingerprint)
    mtime2 = max(
        os.path.getmtime(os.path.join(stats, f)) for f in os.listdir(stats)
    )
    assert mtime2 == mtime  # stats pass NOT re-paid
    # flipping which stats are needed rebuilds the side tables
    nostats = dict(C.DEFAULT_SETTINGS)
    nostats["duplicate_turn"] = None
    nostats["rare_signature"] = None
    cfg3 = QamdConfig(settings=nostats, n_buckets=6)
    checkpoint.run_with_checkpoints(spark, synth_path, out, cfg3, bucket_batch=2)
    import json as _json

    meta = _json.load(open(out + "/_stats/meta.json"))
    assert "text=False" in meta["stats_fingerprint"]


def test_wide_group_counts_via_readback(spark, synth_path, tmp_path, monkeypatch):
    """Groups wider than _MAX_OBSERVED_BUCKETS must take the post-write
    readback path for manifest counters and produce identical manifests
    to the Observation path."""
    cfg6 = QamdConfig(n_buckets=6)
    obs_out = str(tmp_path / "obs")
    via_obs = checkpoint.run_with_checkpoints(spark, synth_path, obs_out, cfg6)
    monkeypatch.setattr(checkpoint, "_MAX_OBSERVED_BUCKETS", 2)
    rb_out = str(tmp_path / "rb")
    via_rb = checkpoint.run_with_checkpoints(spark, synth_path, rb_out, cfg6)
    a = {m.bucket: (m.n_rows, m.n_keep) for m in via_obs}
    b = {m.bucket: (m.n_rows, m.n_keep) for m in via_rb}
    assert a == b
    assert sum(n for n, _ in a.values()) == spark.read.parquet(synth_path).count()


def test_shrunk_n_buckets_leaves_no_stale_partitions(spark, synth_path, tmp_path):
    # dynamic partition overwrite only replaces partitions that receive
    # new rows: rerunning into the same out/ with a smaller n_buckets
    # used to leave bucket=8.. files from the old run readable next to
    # fresh manifests. A full redo (no valid manifest) must wipe data/.
    out = str(tmp_path / "shrink")
    cfg_wide = QamdConfig(n_buckets=12)
    checkpoint.run_with_checkpoints(spark, synth_path, out, cfg_wide, bucket_batch=12)
    cfg_narrow = QamdConfig(n_buckets=4)
    written = checkpoint.run_with_checkpoints(
        spark, synth_path, out, cfg_narrow, bucket_batch=4
    )
    got = spark.read.parquet(out + "/data")
    n_in = spark.read.parquet(synth_path).count()
    assert got.count() == n_in  # no phantom rows from the 12-bucket run
    assert got.select("bucket").distinct().count() <= 4
    assert sum(m.n_rows for m in written) == n_in
