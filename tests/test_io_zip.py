import subprocess
import sys
import zipfile

from pyspark.sql import functions as F

from qamd_spark import io as qio
from qamd_spark import report
from qamd_spark.config import QamdConfig


def test_read_table_parquet_path(spark, synth_path):
    df = qio.read_table(spark, synth_path)
    assert df.count() > 0


def test_iceberg_ref_without_runtime_errors(spark):
    import pytest

    if qio.iceberg_available(spark):
        pytest.skip("iceberg runtime present")
    with pytest.raises(RuntimeError, match="iceberg runtime not on the classpath"):
        qio.read_table(spark, "iceberg:db.transcripts")


def test_table_fingerprint_changes_with_content(spark, synth_path, tmp_path):
    from qamd_spark import synth

    fp1 = qio.table_fingerprint(spark, synth_path)
    other = str(tmp_path / "other.parquet")
    synth.write_parquet(other, n_convs=5, seed=1)
    fp2 = qio.table_fingerprint(spark, other)
    assert fp1 != fp2
    assert fp1 == qio.table_fingerprint(spark, synth_path)


def test_metadata_stats(spark, synth_path, synth_pdf):
    df = spark.read.parquet(synth_path)
    meta = report.metadata_stats(df)
    assert meta["raw_case_count"] == len(synth_pdf)
    assert meta["case_count"] == synth_pdf["conv_id"].nunique()
    assert meta["variable_count"] == 6
    assert meta["role_occurrences"]["user"] > 0


def test_make_zip_importable(tmp_path):
    out = tmp_path / "qamd_spark.zip"
    subprocess.run(
        [sys.executable, "scripts/make_zip.py", str(out)], check=True, cwd="/root/repo"
    )
    names = zipfile.ZipFile(out).namelist()
    assert "qamd_spark/pipeline.py" in names
    assert "oracle/oracle.py" in names
    # the zip is importable standalone (spark-submit --py-files contract)
    code = (
        f"import sys; sys.path.insert(0, {str(out)!r}); "
        "import qamd_spark.config as c; print(len(c.RULE_REGISTRY))"
    )
    r = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True)
    assert r.returncode == 0 and int(r.stdout.strip()) >= 16


def test_iceberg_roundtrip_when_runtime_present(tmp_path):
    """Iceberg smoke (r2 VERDICT item 10) — SKIPPED in this sandbox (no
    iceberg-spark-runtime jar on the classpath; see README 'Iceberg' for
    the jar coordinates). When the jar is present: create a hadoop-catalog
    table, read it through the iceberg: ref, and check table_fingerprint
    returns the snapshot id (and changes after a new commit)."""
    import pytest
    from pyspark.sql import SparkSession

    probe = SparkSession.getActiveSession()
    if probe is None or not qio.iceberg_available(probe):
        pytest.skip("iceberg-spark-runtime jar not on the classpath")

    wh = str(tmp_path / "wh")
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("qamd-iceberg-smoke")
        .config("spark.sql.catalog.smoke", "org.apache.iceberg.spark.SparkCatalog")
        .config("spark.sql.catalog.smoke.type", "hadoop")
        .config("spark.sql.catalog.smoke.warehouse", wh)
        .getOrCreate()
    )
    spark.sql(
        "CREATE TABLE smoke.db.t (conv_id string, turn_idx int, role string, "
        "text string, tool string, ts timestamp) USING iceberg"
    )
    spark.sql(
        "INSERT INTO smoke.db.t VALUES ('c1', 0, 'user', 'hi', NULL, NULL)"
    )
    df = qio.read_table(spark, "iceberg:smoke.db.t")
    assert df.count() == 1
    fp1 = qio.table_fingerprint(spark, "iceberg:smoke.db.t")
    assert fp1 not in ("", "empty")
    spark.sql(
        "INSERT INTO smoke.db.t VALUES ('c2', 0, 'user', 'yo', NULL, NULL)"
    )
    assert qio.table_fingerprint(spark, "iceberg:smoke.db.t") != fp1


def test_read_jsonl_imposed_schema_and_missing_semantics(spark, tmp_path):
    """JSONL source: imposed transcript schema (no inference pass),
    absent keys == JSON null == SQL NULL, ts accepts both epoch numbers
    and ISO strings; prefix and extension dispatch both route here."""
    import json as _json

    from qamd_spark import io as qio

    p = str(tmp_path / "t.jsonl")
    rows = [
        {"conv_id": "j0", "turn_idx": 0, "role": "user",
         "text": "hello from a json line", "tool": None, "ts": 1700000000},
        {"conv_id": "j0", "turn_idx": 1, "role": "assistant",
         "text": "reply text", "ts": "2026-01-02T03:04:05"},  # no tool key
        {"conv_id": "j1", "turn_idx": 0, "role": "user", "text": None,
         "tool": "search", "ts": None},
    ]
    with open(p, "w") as f:
        for r in rows:
            f.write(_json.dumps(r) + "\n")

    for ref in (p, "jsonl:" + p):
        df = qio.read_table(spark, ref)
        assert [fl.name for fl in df.schema.fields] == [
            "conv_id", "turn_idx", "role", "text", "tool", "ts"]
        got = {(r["conv_id"], r["turn_idx"]): r for r in df.collect()}
        assert got[("j0", 0)]["ts"].year == 2023  # epoch seconds parsed
        assert got[("j0", 1)]["tool"] is None     # absent key -> NULL
        assert got[("j0", 1)]["ts"].year == 2026  # ISO string parsed
        assert got[("j1", 0)]["text"] is None and got[("j1", 0)]["ts"] is None


def test_cli_run_over_jsonl(tmp_path, spark):
    """The checkpointed CLI path accepts a .jsonl input end-to-end and
    labels it identically to the same data as parquet."""
    import json as _json

    from qamd_spark import main, synth

    pdf = synth.generate(n_convs=8, seed=21)
    src = str(tmp_path / "in.jsonl")
    with open(src, "w") as f:
        for r in pdf.to_dict("records"):
            ts = r["ts"]
            r["ts"] = None if ts is None or str(ts) == "NaT" else str(ts)
            r["turn_idx"] = int(r["turn_idx"])
            f.write(_json.dumps({k: v for k, v in r.items()}) + "\n")
    out = str(tmp_path / "out")
    rc = main.main(["run", "--input", src, "--output", out,
                    "--master", "local[4]"])
    assert rc == 0
    got = spark.read.parquet(out + "/data")
    assert got.count() == len(pdf)

    pq = str(tmp_path / "in.parquet")
    pdf2 = pdf.copy()
    import pandas as pd
    pdf2["ts"] = pd.to_datetime(pdf2["ts"]).astype("datetime64[us]")
    for c in ("conv_id", "role", "text", "tool"):
        pdf2[c] = pdf2[c].astype("string")
    pdf2.to_parquet(pq)
    out2 = str(tmp_path / "out2")
    rc = main.main(["run", "--input", pq, "--output", out2,
                    "--master", "local[4]"])
    assert rc == 0
    a = (spark.read.parquet(out + "/data")
         .select("conv_id", "turn_idx", "keep", "rule_hits", "scrubbed_text")
         .orderBy("conv_id", "turn_idx").collect())
    b = (spark.read.parquet(out2 + "/data")
         .select("conv_id", "turn_idx", "keep", "rule_hits", "scrubbed_text")
         .orderBy("conv_id", "turn_idx").collect())
    assert a == b


def test_cli_export_roundtrip(tmp_path, spark, capsys, count_jobs):
    """export: parquet -> JSONL shards -> parquet, values preserved
    (including the typed ts through the jsonl: source's parser). The
    printed row count comes from the write job itself, so an empty input
    prints rows: 0."""
    import json as _json

    from qamd_spark import main, synth

    def printed_rows():
        return _json.loads(capsys.readouterr().out.splitlines()[-1])["rows"]

    src = str(tmp_path / "in.parquet")
    synth.write_parquet(src, n_convs=6, seed=9)
    n = spark.read.parquet(src).count()

    jl = str(tmp_path / "jl")
    capsys.readouterr()
    rc, jobs, escaped = count_jobs(lambda: main.main(
        ["export", "--input", src, "--output", jl, "--format", "jsonl",
         "--repartition", "2", "--master", "local[4]"]))
    # parquet schema inference, the repartition's map stage, the write
    assert rc == 0 and jobs <= 3 and escaped == 0
    assert printed_rows() == n
    import glob
    assert len(glob.glob(jl + "/part-*")) == 2

    back = str(tmp_path / "back")
    rc, jobs, escaped = count_jobs(lambda: main.main(
        ["export", "--input", "jsonl:" + jl, "--output", back,
         "--format", "parquet", "--master", "local[4]"]))
    assert rc == 0 and jobs <= 1 and escaped == 0  # jsonl: has a fixed schema; the write
    a = (spark.read.parquet(src)
         .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
         .orderBy("conv_id", "turn_idx").collect())
    b = (spark.read.parquet(back)
         .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
         .orderBy("conv_id", "turn_idx").collect())
    assert len(a) == n and a == b

    empty = str(tmp_path / "empty.parquet")
    spark.read.parquet(src).limit(0).write.parquet(empty)
    for fmt, extra in (("jsonl", ["--repartition", "2"]), ("parquet", [])):
        rc = main.main(["export", "--input", empty,
                        "--output", str(tmp_path / f"empty_{fmt}"),
                        "--format", fmt, *extra, "--master", "local[4]"])
        assert rc == 0
        assert printed_rows() == 0


def test_spark_submit_py_files_end_to_end(tmp_path):
    """The north-rule launch mode, actually executed: build the zip, run
    `spark-submit --py-files qamd_spark.zip driver.py` in a fresh process
    (no repo on the PYTHONPATH — the zip must carry everything), label a
    small synthetic corpus through the full CLI, and check keep/
    scrubbed_text exactly against the pandas oracle."""
    import os
    import shutil

    spark_submit = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
    if not os.path.exists(spark_submit):
        import pytest

        pytest.skip("spark-submit not on this machine")

    out_zip = tmp_path / "qamd_spark.zip"
    subprocess.run(
        [sys.executable, "scripts/make_zip.py", str(out_zip)],
        check=True, cwd="/root/repo",
    )
    src = str(tmp_path / "t.parquet")
    outd = str(tmp_path / "out")
    subprocess.run(
        [sys.executable, "-c",
         "import sys; sys.path.insert(0, '/root/repo'); "
         f"from qamd_spark import synth; synth.write_parquet({src!r}, "
         "n_convs=12, seed=11)"],
        check=True,
    )
    driver = tmp_path / "driver.py"
    driver.write_text(
        "from qamd_spark import main\n"
        f"raise SystemExit(main.main(['run', '--input', {src!r}, "
        f"'--output', {outd!r}]))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    r = subprocess.run(
        [spark_submit, "--master", "local[4]",
         "--conf", "spark.ui.enabled=false",
         "--conf", "spark.sql.shuffle.partitions=4",
         "--py-files", str(out_zip), str(driver)],
        capture_output=True, text=True, cwd=str(tmp_path), timeout=420,
        env=env,
    )
    assert r.returncode == 0, (r.stdout[-2000:], r.stderr[-2000:])

    import duckdb

    from oracle import oracle
    from qamd_spark import synth
    from qamd_spark.config import QamdConfig

    con = duckdb.connect()
    lab = con.sql(
        "select conv_id, turn_idx, keep, scrubbed_text from "
        f"read_parquet('{outd}/data/*/*.parquet') order by 1, 2"
    ).df()
    orc = (
        oracle.label_pdf(synth.generate(n_convs=12, seed=11), QamdConfig())
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert len(lab) == len(orc) > 0
    assert (lab["keep"].to_numpy() == orc["keep"].to_numpy()).all()
    assert (
        lab["scrubbed_text"].fillna("").to_numpy()
        == orc["scrubbed_text"].fillna("").to_numpy()
    ).all()


def test_cli_run_over_orc_and_export_orc(tmp_path, spark):
    """ORC source: export writes ORC shards, the `orc:`-dispatched CLI
    run labels them identically to the same data as parquet, and a
    widened/extra-column warehouse export coerces to the imposed
    schema."""
    from qamd_spark import io as qio
    from qamd_spark import main, synth

    pq = str(tmp_path / "in.parquet")
    synth.write_parquet(pq, n_convs=8, seed=21)

    orc_dir = str(tmp_path / "orc")
    rc = main.main(["export", "--input", pq, "--output", orc_dir,
                    "--format", "orc", "--master", "local[4]"])
    assert rc == 0

    out = str(tmp_path / "out")
    rc = main.main(["run", "--input", f"orc:{orc_dir}", "--output", out,
                    "--master", "local[4]"])
    assert rc == 0
    out2 = str(tmp_path / "out2")
    rc = main.main(["run", "--input", pq, "--output", out2,
                    "--master", "local[4]"])
    assert rc == 0
    cols = ["conv_id", "turn_idx", "keep", "rule_hits", "scrubbed_text"]
    a = (spark.read.parquet(out + "/data").select(*cols)
         .orderBy("conv_id", "turn_idx").collect())
    b = (spark.read.parquet(out2 + "/data").select(*cols)
         .orderBy("conv_id", "turn_idx").collect())
    assert a == b

    # warehouse-shaped export: extra column + widened turn_idx coerce
    wide = str(tmp_path / "wide_orc")
    (spark.read.parquet(pq)
     .withColumn("turn_idx", F.col("turn_idx").cast("long"))
     .withColumn("warehouse_extra", F.lit("x"))
     .write.orc(wide))
    df = qio.read_table(spark, f"orc:{wide}")
    from qamd_spark import schema as S
    assert [(f.name, f.dataType) for f in df.schema.fields] == [
        (f.name, f.dataType) for f in S.TRANSCRIPT_SCHEMA.fields
    ]
    assert df.count() == spark.read.parquet(pq).count()
