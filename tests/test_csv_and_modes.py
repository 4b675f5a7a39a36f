"""CSV source (reference src/readstat/csv/read.rs) + --metadata-only mode
(reference -m, src/bin/qamd.rs:214-218)."""

import json
import os

from qamd_spark import io, main, pipeline
from qamd_spark.config import QamdConfig

CSV_BODY = """conv_id,turn_idx,role,text,tool,ts
c1,0,user,"hello, there",,2024-01-02T03:04:05
c1,1,assistant,General Kenobi!,search,
c1,2,user,,,
c2,0,user,short one,,
"""


def _write_csv(tmp_path, body=CSV_BODY, name="t.csv"):
    p = str(tmp_path / name)
    with open(p, "w") as f:
        f.write(body)
    return p


def test_read_csv_schema_and_missing(spark, tmp_path):
    df = io.read_table(spark, _write_csv(tmp_path))
    from qamd_spark import schema as S

    assert [f.dataType for f in df.schema.fields] == [
        f.dataType for f in S.TRANSCRIPT_SCHEMA.fields
    ]
    rows = {(r["conv_id"], r["turn_idx"]): r for r in df.collect()}
    assert rows[("c1", 0)]["text"] == "hello, there"  # quoted comma survives
    assert rows[("c1", 2)]["text"] is None  # "" => SYSTEM_MISSING (csv read.rs:112-115)
    assert rows[("c1", 1)]["tool"] == "search"
    assert rows[("c1", 0)]["ts"] is not None
    assert rows[("c2", 0)]["ts"] is None


def test_csv_through_pipeline(spark, tmp_path):
    from qamd_spark import config as C

    settings = {name: None for name in C.RULE_BY_NAME}
    settings.update(
        {"empty_turn": True, "length_bounds": {"min": 2, "max": 8000}}
    )
    cfg = QamdConfig(settings=settings, n_buckets=4)
    labeled = pipeline.label(io.read_table(spark, _write_csv(tmp_path)), cfg)
    got = {(r["conv_id"], r["turn_idx"]): r for r in labeled.collect()}
    assert "empty_turn" in got[("c1", 2)]["rule_hits"]
    assert not got[("c1", 2)]["keep"]
    assert got[("c1", 1)]["keep"]


def test_csv_prefix_and_metadata_golden(spark, tmp_path):
    # mtcars-shape golden: 12 variables x 32 cases (reference e2e golden,
    # src/readstat/read.rs:148-181; header odd char mirrors test/mtcars.csv:1)
    header = ",".join(["model", "mpg", "cyl#"] + [f"v{i}" for i in range(9)])
    body = header + "\n" + "\n".join(
        ",".join([f"car{r}"] + [str(r + c) for c in range(11)]) for r in range(32)
    ) + "\n"
    p = _write_csv(tmp_path, body=body, name="mtcars_shape.csv")
    meta = io.csv_metadata(spark, p)
    assert meta == {"variable_count": 12, "raw_case_count": 32}
    # csv: prefix dispatch works too
    assert io.read_table(spark, "csv:" + p).count() == 32


SMALL_YAML = """\
metadata:
  empty_turn: {setting: true}
data_integrity:
  length_bounds: {setting: {min: 2, max: 8000}}
engine: {n_buckets: 4}
"""


def _run_cli(tmp_path, synth_path, name, extra):
    out = str(tmp_path / name)
    cfgp = str(tmp_path / "rules.yaml")
    with open(cfgp, "w") as f:
        f.write(SMALL_YAML)
    rc = main.main(
        ["run", "--input", synth_path, "--output", out, "--config", cfgp,
         "--master", "local[4]"] + extra
    )
    assert rc == 0
    with open(out + "/summary.json") as f:
        return out, json.load(f)


def test_metadata_only_skips_locators_and_lineage(tmp_path, synth_path):
    out, doc = _run_cli(tmp_path, synth_path, "meta_only", ["--metadata-only"])
    assert "locators" not in doc
    assert not os.path.isdir(out + "/lineage")
    assert doc["metadata"]["raw_case_count"] > 0
    assert {s["rule"] for s in doc["summary"]} == {"empty_turn", "length_bounds"}


def test_default_run_emits_locators(tmp_path, synth_path):
    out, doc = _run_cli(tmp_path, synth_path, "full", [])
    assert os.path.isdir(out + "/lineage")
    assert "locators" in doc
    hit_rules = {r for r, v in doc["locators"].items() if v["n_fail"] > 0}
    assert hit_rules  # synth data contains empty turns
    for v in doc["locators"].values():
        assert len(v["first"]) <= 1000


def test_base64_config(tmp_path, synth_path):
    import base64

    out = str(tmp_path / "b64")
    enc = base64.b64encode(SMALL_YAML.encode()).decode()
    rc = main.main(
        ["run", "--input", synth_path, "--output", out, "--master", "local[4]",
         "--metadata-only", "--base64-config", enc]
    )
    assert rc == 0
    with open(out + "/summary.json") as f:
        doc = json.load(f)
    assert {s["rule"] for s in doc["summary"]} == {"empty_turn", "length_bounds"}


def test_checkpointed_run_over_csv_source(spark, tmp_path):
    """CSV source through the checkpointed runner (csv: ref + fingerprint
    prefix-stripping + stats side tables)."""
    from qamd_spark import checkpoint, config as C
    from qamd_spark.config import QamdConfig

    body = "conv_id,turn_idx,role,text,tool,ts\n" + "\n".join(
        f"c{i % 4},{i // 4},user,row number {i} text body,," for i in range(40)
    ) + "\nc9,0,user,,,\n"
    p = str(tmp_path / "in.csv")
    with open(p, "w") as f:
        f.write(body)
    settings = {name: None for name in C.RULE_BY_NAME}
    settings.update({"empty_turn": True, "duplicate_turn": True,
                     "conv_missing_fraction": 25})
    cfg = QamdConfig(settings=settings, n_buckets=4)
    out = str(tmp_path / "out")
    written = checkpoint.run_with_checkpoints(spark, "csv:" + p, out, cfg, bucket_batch=2)
    assert sum(m.n_rows for m in written) == 41
    got = spark.read.parquet(out + "/data")
    assert got.count() == 41
    # the empty row was classified missing and dropped; c9 is 100% empty
    kept = {r["conv_id"] for r in got.filter("keep").collect()}
    assert "c9" not in kept and "c0" in kept


def test_cli_dedup_subcommand(tmp_path, spark, capsys):
    """The dedup CLI front-end: every method runs over a (doc_id, text)
    parquet and writes its output parquet; minhash output matches the
    library call."""
    import json as _json

    from qamd_spark import main
    from qamd_spark.ops import dedup as dd

    src = "/root/testdata/sf0.001/documents.parquet"
    for method, cols in [
        ("exact", {"doc_id", "is_dup"}),
        ("minhash", {"doc_id", "dup_of"}),
        ("simhash", {"doc_id", "dup_of", "hamming"}),
        ("clusters", {"doc_id", "cluster_id"}),
        ("containment", {"doc_id", "src_of", "shared_fp", "containment",
                         "containment_src"}),
        ("span", {"doc_id", "clean_text", "n_spans", "n_removed"}),
    ]:
        out = str(tmp_path / method)
        rc = main.main(
            ["dedup", "--input", src, "--output", out, "--method", method,
             "--master", "local[4]"]
        )
        assert rc == 0
        got = spark.read.parquet(out)
        assert set(got.columns) == cols, (method, got.columns)
        assert got.count() > 0
        status = _json.loads(capsys.readouterr().out.splitlines()[-1])
        assert status["rows"] == got.count(), method
    lib = dd.minhash_duplicates(spark.read.parquet(src)).toPandas()
    cli = spark.read.parquet(str(tmp_path / "minhash")).toPandas()
    a = lib.sort_values(["doc_id"]).reset_index(drop=True)
    b = cli.sort_values(["doc_id"]).reset_index(drop=True)
    assert (a["doc_id"].to_numpy() == b["doc_id"].to_numpy()).all()
    assert (a["dup_of"].to_numpy() == b["dup_of"].to_numpy()).all()


def test_cli_sample_subcommand(tmp_path, spark, capsys, count_jobs):
    """The sample CLI front-end: all four methods run over a documents
    parquet and write their outputs; hash is reproducible and ~pct-sized;
    dsir-topk returns exactly k rows matching the library call."""
    from qamd_spark import main
    from qamd_spark.ops import sampling as smp

    src = "/root/testdata/sf0.001/documents.parquet"
    n_src = spark.read.parquet(src).count()

    out = str(tmp_path / "hash")
    rc, jobs, escaped = count_jobs(lambda: main.main(
        ["sample", "--input", src, "--output", out,
         "--method", "hash", "--pct", "10", "--master", "local[4]"]))
    assert rc == 0 and jobs <= 2 and escaped == 0
    got = spark.read.parquet(out)
    assert 0 < got.count() < n_src * 0.2
    status = json.loads(capsys.readouterr().out.splitlines()[-1])
    assert status["rows"] == got.count()
    rc = main.main(["sample", "--input", src, "--output", str(tmp_path / "h2"),
                    "--method", "hash", "--pct", "10",
                    "--master", "local[4]"])
    assert rc == 0
    a = sorted(r["doc_id"] for r in got.collect())
    b = sorted(r["doc_id"] for r in spark.read.parquet(str(tmp_path / "h2")).collect())
    assert a == b  # no RNG anywhere

    out = str(tmp_path / "budget")
    rc = main.main(["sample", "--input", src, "--output", out,
                    "--method", "budget", "--budget", "5000",
                    "--master", "local[4]"])
    assert rc == 0
    bud = spark.read.parquet(out)
    assert set(bud.columns) == {"lang", "doc_id", "n_chars", "cum_weight"}
    assert bud.groupBy("lang").count().count() > 0
    assert bud.filter("cum_weight > 5000").count() == 0

    out = str(tmp_path / "dsir")
    rc = main.main(["sample", "--input", src, "--output", out,
                    "--method", "dsir", "--master", "local[4]"])
    assert rc == 0
    w = spark.read.parquet(out)
    assert set(w.columns) == {"doc_id", "n_grams", "dsir_logw", "selected"}
    assert w.count() == n_src

    out = str(tmp_path / "topk")
    rc = main.main(["sample", "--input", src, "--output", out,
                    "--method", "dsir-topk", "--k", "50",
                    "--master", "local[4]"])
    assert rc == 0
    sel = spark.read.parquet(out)
    assert sel.count() == 50
    lib = smp.dsir_resample(
        spark.read.parquet(src).select("doc_id", "text"), k=50
    ).toPandas()
    assert sorted(r["doc_id"] for r in sel.collect()) == sorted(lib["doc_id"])


def test_cli_profile_and_canonical(tmp_path, spark, count_jobs):
    """profile: datasheet JSON with language + source sections when those
    columns exist; canonical dedup method writes keeper assignments. Each
    command keeps its Spark job budget."""
    import json as _json

    from qamd_spark import main

    src = "/root/testdata/sf0.001/documents.parquet"
    out = str(tmp_path / "profile.json")
    rc, jobs, escaped = count_jobs(lambda: main.main(
        ["profile", "--input", src, "--output", out, "--master", "local[4]"]))
    assert rc == 0 and jobs <= 12 and escaped == 0
    prof = _json.load(open(out))
    assert prof["n_docs"] == spark.read.parquet(src).count()
    assert 0 <= prof["dup_frac"] < 1 and prof["mean_chars"] > 0
    assert {l["lang"] for l in prof["languages"]} == {
        r["lang"] for r in spark.read.parquet(src).select("lang").distinct().collect()
    }
    assert all(l["fertility"] > 0 for l in prof["languages"])
    assert len(prof["sources"]) > 0
    for s in prof["sources"]:
        assert s["p25"] <= s["p50"] <= s["p75"] <= s["p95"]

    outp = str(tmp_path / "canon")
    rc, jobs, escaped = count_jobs(lambda: main.main(
        ["dedup", "--input", src, "--output", outp,
         "--method", "canonical", "--master", "local[4]"]))
    assert rc == 0 and jobs <= 41 and escaped == 0
    got = spark.read.parquet(outp)
    assert set(got.columns) == {"doc_id", "cluster_id", "keeper_id",
                                "is_canonical"}
    assert got.count() > 0
    # exactly one canonical member per cluster
    from pyspark.sql import functions as F
    per = got.groupBy("cluster_id").agg(
        F.sum(F.col("is_canonical").cast("int")).alias("n_keep"))
    assert per.filter("n_keep != 1").count() == 0


def test_cli_curate_end_to_end(tmp_path, spark, count_jobs):
    """curate: normalize -> exact dedup -> quality -> langid allowlist
    -> deterministic sample -> write + per-stage report; stage counts
    monotonically non-increasing; rerun bit-identical; computed-langid
    path exercised when the lang column is absent. The first run keeps
    its Spark job budget."""
    import json as _json

    from qamd_spark import main

    src = "/root/testdata/sf0.001/documents.parquet"
    out = str(tmp_path / "cur")
    rc, jobs, escaped = count_jobs(lambda: main.main(
        ["curate", "--input", src, "--output", out, "--dedup", "exact",
         "--langs", "en", "--sample-pct", "50", "--master", "local[4]"]))
    assert rc == 0 and jobs <= 8 and escaped == 0
    rep = _json.load(open(out + "/report.json"))
    names = [s["stage"] for s in rep["stages"]]
    assert names == ["read", "normalize", "dedup_exact", "quality",
                     "langid", "sample"]
    counts = [s["rows"] for s in rep["stages"]]
    assert all(a >= b for a, b in zip(counts, counts[1:]))
    got = spark.read.parquet(out + "/data")
    assert got.count() == counts[-1] > 0
    assert set(r["lang"] for r in got.select("lang").distinct().collect()) == {"en"}

    out2 = str(tmp_path / "cur2")
    rc = main.main(["curate", "--input", src, "--output", out2,
                    "--dedup", "exact", "--langs", "en",
                    "--sample-pct", "50", "--master", "local[4]"])
    assert rc == 0
    a = sorted(r["doc_id"] for r in got.collect())
    b = sorted(r["doc_id"] for r in
               spark.read.parquet(out2 + "/data").collect())
    assert a == b  # no RNG anywhere

    # computed-langid path: strip the lang column first
    nolang = str(tmp_path / "nolang.parquet")
    spark.read.parquet(src).drop("lang").write.parquet(nolang)
    out3 = str(tmp_path / "cur3")
    rc = main.main(["curate", "--input", nolang, "--output", out3,
                    "--dedup", "none", "--min-quality", "0",
                    "--langs", "en", "--master", "local[4]"])
    assert rc == 0
    got3 = spark.read.parquet(out3 + "/data")
    assert got3.count() > 0
    assert set(r["lang"] for r in got3.select("lang").distinct().collect()) == {"en"}


def _sequential_curate_counts(spark, path, dedup="exact", normalize=True,
                              min_quality=0.5, langs=None, sample_pct=None):
    """Reference for the curate report: the recipe rebuilt stage by stage
    with a plain count() after each stage (each stage cached, so a count
    runs only its own stage). Returns the (stage, rows) list and the
    sorted survivor doc_ids."""
    from pyspark.sql import functions as F

    from qamd_spark import ngram
    from qamd_spark.ops import dedup as dd
    from qamd_spark.ops import sampling as smp
    from qamd_spark.ops import text as tx

    df = spark.read.parquet(path).withColumn(
        "doc_id", F.col("doc_id").cast("long"))
    counts, cached = [], []

    def stage(name, d):
        cached.append(d.cache())
        counts.append((name, d.count()))
        return d

    df = stage("read", df)
    if normalize:
        df = stage("normalize",
                   df.withColumn("text", tx.normalize_ws(F.col("text"))))
    if dedup == "exact":
        dups = dd.exact_duplicates(df).filter("is_dup").select("doc_id")
        df = stage("dedup_exact", df.join(dups, "doc_id", "left_anti"))
    elif dedup == "minhash":
        dups = dd.minhash_duplicates(df).select("doc_id")
        df = stage("dedup_minhash", df.join(dups, "doc_id", "left_anti"))
    elif dedup == "span":
        cleaned = dd.span_dedup(df).select(
            "doc_id", F.col("clean_text").alias("text"))
        df = stage("dedup_span", df.drop("text").join(cleaned, "doc_id"))
    if min_quality > 0:
        df = stage("quality", df.filter(
            tx.quality_score(F.col("text")) >= F.lit(float(min_quality))))
    if langs:
        if "lang" not in df.columns:
            def _lid(it):
                for pdf in it:
                    yield pdf.assign(
                        lang=ngram.score_texts(pdf["text"].tolist())[0])

            schema = ", ".join(f"{f} {t}" for f, t in df.dtypes)
            df = df.mapInPandas(_lid, schema=schema + ", lang string")
        df = stage("langid", df.filter(F.col("lang").isin(langs)))
    if sample_pct:
        df = stage("sample", df.filter(
            smp.hash_pct_keep("doc_id", "curate", sample_pct)))
    survivors = sorted(r["doc_id"] for r in df.select("doc_id").collect())
    for d in cached:
        d.unpersist()
    return counts, survivors


def test_curate_stage_counts_match_sequential_counts(tmp_path, spark,
                                                     monkeypatch):
    """curate is one Spark action after the id pre-check, and no stage
    runs a count() of its own: the pre-check counts the input and the
    later stages are Observations on the write job. The report must still
    equal plain per-stage counts, over every dedup mode, --no-normalize,
    both langid paths, --sample-pct, a zero-row input and a run whose
    quality gate drops everything. The input plants exact, whitespace-only
    and near duplicates so the exact and MinHash stages remove rows."""
    import json as _json

    import pandas as pd
    import pytest

    from qamd_spark import synth

    # one short document per synthetic conversation: the first 40 words
    # of its turns (span dedup costs grow with the words per document)
    turns = synth.generate(n_convs=160, seed=5, hot_conv_turns=20)
    turns = turns[turns["text"].fillna("") != ""]
    joined = (turns.sort_values(["conv_id", "turn_idx"])
              .groupby("conv_id", sort=True)["text"].agg(" ".join))
    base = pd.DataFrame({
        "doc_id": joined.index.str[4:].astype("int64"),
        "text": [" ".join(t.split(" ")[:40]) for t in joined],
        "lang": [("en", "en", "fr", "de")[i % 4] for i in range(len(joined))],
    })
    planted = [
        base.head(12).assign(doc_id=base.doc_id.head(12) + 10_000),
        base.iloc[20:32].assign(doc_id=base.doc_id.iloc[20:32] + 20_000,
                                text=base.text.iloc[20:32].str.replace(
                                    " ", "  ", n=3) + "  "),
        base.iloc[40:52].assign(doc_id=base.doc_id.iloc[40:52] + 30_000,
                                text=base.text.iloc[40:52] + " again"),
    ]
    docs = pd.concat([base, *planted], ignore_index=True)
    with_lang = str(tmp_path / "docs.parquet")
    no_lang = str(tmp_path / "nolang.parquet")
    empty = str(tmp_path / "empty.parquet")
    docs.to_parquet(with_lang, index=False)
    docs.drop(columns="lang").to_parquet(no_lang, index=False)
    spark.read.parquet(with_lang).limit(0).write.parquet(empty)

    cases = [
        (with_lang, dict(dedup="exact", langs=["en"], sample_pct=50)),
        (no_lang, dict(dedup="minhash", langs=["en"])),
        (with_lang, dict(dedup="span", normalize=False, sample_pct=70)),
        (empty, dict(dedup="span", langs=["en"], sample_pct=50)),
        (with_lang, dict(dedup="none", min_quality=1.5, langs=["en", "fr"])),
    ]
    df_cls = type(spark.range(1))
    real_count = df_cls.count
    reports = []
    for i, (path, kw) in enumerate(cases):
        argv = ["curate", "--input", path, "--output", str(tmp_path / f"o{i}"),
                "--dedup", kw["dedup"], "--master", "local[4]"]
        if not kw.get("normalize", True):
            argv.append("--no-normalize")
        if "min_quality" in kw:
            argv += ["--min-quality", str(kw["min_quality"])]
        if kw.get("langs"):
            argv += ["--langs", ",".join(kw["langs"])]
        if kw.get("sample_pct"):
            argv += ["--sample-pct", str(kw["sample_pct"])]

        calls = []

        def counting(self):
            calls.append(1)
            return real_count(self)

        with monkeypatch.context() as m:
            m.setattr(df_cls, "count", counting)
            assert main.main(argv) == 0
        assert calls == [], kw

        rep = _json.load(open(tmp_path / f"o{i}" / "report.json"))
        want, survivors = _sequential_curate_counts(spark, path, **kw)
        got = [(s["stage"], s["rows"]) for s in rep["stages"]]
        assert got == want, kw
        out = spark.read.parquet(str(tmp_path / f"o{i}" / "data"))
        assert sorted(r["doc_id"] for r in out.collect()) == survivors
        reports.append(dict(got))

    # non-vacuous: each dedup mode removes rows, and the edge cases hit 0
    exact, minhash, span, zero, dropped = reports
    assert exact["dedup_exact"] < exact["normalize"]
    assert minhash["dedup_minhash"] < minhash["normalize"]
    assert span["dedup_span"] == span["read"]  # span rewrites text, keeps rows
    assert zero["read"] == 0 and zero["sample"] == 0
    assert dropped["read"] > 0 and dropped["quality"] == 0

    # the pre-check stops a non-numeric id before anything is written
    # (with ANSI casts on, a plain cast would raise a cast error instead)
    bad = str(tmp_path / "bad_ids.parquet")
    docs.head(3).assign(doc_id=["1", "x2", None]).to_parquet(bad, index=False)
    with pytest.raises(SystemExit, match="not castable to long"):
        main.main(["curate", "--input", bad, "--output",
                   str(tmp_path / "bad_out"), "--master", "local[4]"])
    assert not os.path.exists(tmp_path / "bad_out" / "data")
    # dedup rejects it the same way (and, unlike curate, a NULL id too)
    with pytest.raises(SystemExit, match="not castable to long"):
        main.main(["dedup", "--input", bad, "--output",
                   str(tmp_path / "bad_dedup"), "--master", "local[4]"])
    assert not os.path.exists(tmp_path / "bad_dedup")
    # an out-of-range --sample-pct (0 included: it is not "omitted") is
    # rejected before the session opens, so nothing is written
    for pct in ("0", "200"):
        with pytest.raises(SystemExit, match="sample-pct"):
            main.main(["curate", "--input", with_lang, "--output",
                       str(tmp_path / f"pct{pct}"), "--sample-pct", pct,
                       "--master", "local[4]"])
        assert not os.path.exists(tmp_path / f"pct{pct}" / "data")


# every subcommand's option strings, as `qamd <cmd> --help` lists them
CLI_OPTIONS = {
    "run": {"-h", "--help", "--master", "--input", "--output", "--config",
            "--base64-config", "--summary-json", "--output-format",
            "-p", "--progress", "-m", "--metadata-only"},
    "init": {"-h", "--help"},
    "dedup": {"-h", "--help", "--master", "--input", "--output", "--method",
              "--id-col", "--text-col"},
    "sample": {"-h", "--help", "--master", "--input", "--output", "--method",
               "--id-col", "--text-col", "--group-col", "--weight-col",
               "--pct", "--budget", "--k", "--salt"},
    "profile": {"-h", "--help", "--master", "--input", "--output",
                "--text-col", "--lang-col", "--source-col"},
    "bpe": {"-h", "--help", "--master", "--input", "--output", "--mode",
            "--merges", "--merges-file", "--min-pair-count", "--text-col"},
    "validate": {"-h", "--help", "--config"},
    "curate": {"-h", "--help", "--master", "--input", "--output", "--id-col",
               "--text-col", "--no-normalize", "--dedup", "--min-quality",
               "--langs", "--sample-pct", "--salt", "--format"},
    "export": {"-h", "--help", "--master", "--input", "--output", "--format",
               "--repartition"},
    "stream": {"-h", "--help", "--master", "--input", "--output",
               "--checkpoint", "--config", "--continuous"},
    "query": {"-h", "--help", "--master", "--name", "--sf-dir", "--output",
              "--limit", "--list", "--explain"},
    "audit": {"-h", "--help", "--master", "--sf-dir", "--output",
              "--queries"},
}


def test_cli_option_table(capsys):
    """No subcommand gains or loses an option: each `--help` lists exactly
    the option strings of CLI_OPTIONS. Parses arguments only; no Spark."""
    import re

    import pytest

    for cmd, want in CLI_OPTIONS.items():
        with pytest.raises(SystemExit) as e:
            main.main([cmd, "--help"])
        assert e.value.code == 0
        got = set()
        for line in capsys.readouterr().out.splitlines():
            # an option line: two spaces, then the invocation column
            m = re.match(r"  (-\S.*?)(?:\s{2,}|$)", line)
            if m:
                got.update(re.findall(r"(?<![\w-])--?[A-Za-z][\w-]*",
                                      m.group(1)))
        assert got == want, cmd


def test_cli_validate(tmp_path):
    """validate: lints a rules.yaml — ok + enabled list on the default
    config, exit 1 + error string on an out-of-bounds setting."""
    import json as _json

    from qamd_spark import main

    ok = str(tmp_path / "ok.yaml")
    with open(ok, "w") as f:
        f.write(main.DEFAULT_YAML)
    import contextlib, io as _io

    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main.main(["validate", "--config", ok])
    assert rc == 0
    out = _json.loads(buf.getvalue())
    assert out["status"] == "ok"
    assert {"rule": "length_bounds", "category": "data_integrity",
            "action": "drop"} in out["enabled"]

    bad = str(tmp_path / "bad.yaml")
    with open(bad, "w") as f:
        f.write("quality:\n  perplexity:\n    setting: {max: -5}\n")
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main.main(["validate", "--config", bad])
    assert rc == 1
    assert _json.loads(buf.getvalue())["status"] == "invalid"


def test_cli_query_runner(tmp_path, spark, capsys, count_jobs):
    """query: --list names every registry entry with its evidence tier;
    --name runs the query and the parquet output equals the library
    call exactly."""
    import json as _json

    import __spark_entry__ as E
    from qamd_spark import main

    rc = main.main(["query", "--list"])
    assert rc == 0
    lines = [l for l in capsys.readouterr().out.splitlines() if l]
    names = {l.split("\t")[0] for l in lines}
    assert names == set(E.queries())
    tiers = {l.split("\t")[1] for l in lines}
    assert tiers == {"oracle", "rows-only"}

    out = str(tmp_path / "q")
    rc, jobs, escaped = count_jobs(lambda: main.main(["query", "--name", "length_histogram",
                    "--sf-dir", "/root/testdata/sf0.001",
                    "--output", out, "--master", "local[4]"]))
    assert rc == 0 and jobs <= 3 and escaped == 0
    status = _json.loads(capsys.readouterr().out.splitlines()[-1])
    assert status["status"] == "ok"
    assert status["rows"] == spark.read.parquet(out).count()
    got = {
        (r["log2_len"], r["n_docs"]) for r in spark.read.parquet(out).collect()
    }
    want = {
        (r["log2_len"], r["n_docs"])
        for r in E.queries()["length_histogram"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert got == want

    # --explain prints the formatted physical plan without running the
    # query (the plan-first workflow: verify pushdown/broadcast before
    # paying for a scan)
    rc = main.main(["query", "--name", "conv_pipeline_sql",
                    "--sf-dir", "/root/testdata/sf0.001",
                    "--explain", "--master", "local[4]"])
    assert rc == 0
    out_text = capsys.readouterr().out
    assert "== Physical Plan ==" in out_text
    assert "PushedFilters" in out_text
    status = _json.loads(out_text.splitlines()[-1])
    assert status == {"status": "ok", "query": "conv_pipeline_sql",
                      "explained": True}

    # unknown names fail loudly, not with a stack trace into Spark
    import pytest as _pytest

    with _pytest.raises(SystemExit):
        main.main(["query", "--name", "nope", "--sf-dir", "/tmp"])


def test_cli_audit_report(tmp_path, spark, capsys):
    """audit: the one-shot QA report runs the bounded panel, every
    section equals the registry query's own result row-for-row, and the
    JSON is valid (NaN/inf nulled)."""
    import json as _json

    import __spark_entry__ as E
    from qamd_spark import main

    out = str(tmp_path / "audit.json")
    rc = main.main(["audit", "--sf-dir", "/root/testdata/sf0.001",
                    "--output", out, "--master", "local[4]"])
    assert rc == 0
    rep = _json.load(open(out))
    assert set(rep["sections"]) == set(main.AUDIT_PANEL)
    # spot-check a section against the library call
    want = {
        (r["source"], r["n_tokens"], r["n_hapax"])
        for r in E.queries()["vocab_coverage"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    got = {
        (r["source"], r["n_tokens"], r["n_hapax"])
        for r in rep["sections"]["vocab_coverage"]
    }
    assert got == want
    assert rep["sections"]["corpus_datasheet"][0]["n_docs"] == 500

    import pytest as _pytest

    with _pytest.raises(SystemExit):
        main.main(["audit", "--sf-dir", "/tmp",
                   "--output", str(tmp_path / "x.json"),
                   "--queries", "not_a_query"])
