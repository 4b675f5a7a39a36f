import pytest

from oracle import oracle
from qamd_spark import lineage, pipeline, report
from qamd_spark.config import QamdConfig


@pytest.fixture(scope="module")
def labeled(spark, synth_path):
    cfg = QamdConfig()
    return pipeline.label(spark.read.parquet(synth_path), cfg), cfg


def test_summary_matches_oracle(labeled, synth_pdf):
    lab, cfg = labeled
    summ = report.summarize(lab, cfg).toPandas()
    orc = oracle.summary_pdf(oracle.label_pdf(synth_pdf, cfg), cfg)
    assert list(summ["rule"]) == list(orc["rule"])  # registry order
    assert summ["fail"].tolist() == orc["fail"].tolist()
    assert summ["pass"].tolist() == orc["pass"].tolist()
    # counting contract: pass + fail == total turns for every rule
    assert ((summ["pass"] + summ["fail"]) == len(synth_pdf)).all()
    # zero rows: every rule reports 0/0 (not null), like the oracle
    empty = report.summarize(lab.limit(0), cfg).toPandas()
    orc0 = oracle.summary_pdf(oracle.label_pdf(synth_pdf, cfg).iloc[:0], cfg)
    assert empty.to_dict("records") == orc0.to_dict("records")


def test_locators_capped_and_sorted(labeled):
    lab, cfg = labeled
    locs = report.locators(lab, cap=10).toPandas()
    assert (locs["locators"].map(len) <= 10).all()
    for row in locs.itertuples():
        keys = [(l["conv_id"], l["turn_idx"]) for l in row.locators]
        assert keys == sorted(keys)
        # cap semantics: the FIRST n_fail (up to cap) locators are kept
        assert len(row.locators) == min(row.n_fail, 10)


def test_locators_exact_first_k(labeled, synth_pdf):
    lab, cfg = labeled
    locs = {r["rule"]: r for r in report.locators(lab, cap=5).collect()}
    orc = oracle.label_pdf(synth_pdf, cfg).sort_values(["conv_id", "turn_idx"])
    hits = [
        (c, int(t))
        for c, t, h in zip(orc["conv_id"], orc["turn_idx"], orc["rule_hits"])
        if "pii" in h
    ]
    got = [(l["conv_id"], l["turn_idx"]) for l in locs["pii"]["locators"]]
    assert got == hits[:5]
    assert locs["pii"]["n_fail"] == len(hits)


def test_lineage_per_bucket(labeled):
    lab, cfg = labeled
    lin = lineage.per_bucket(lab, cfg).toPandas()
    assert lin["bucket"].between(0, cfg.n_buckets - 1).all()
    assert lin["n_rows"].sum() == lab.count()
    assert (lin["n_keep"] <= lin["n_rows"]).all()
    one = lin.iloc[0]
    assert set(one["rule_hit_counts"].keys()) == {
        r.name for r in cfg.enabled_rules()
    }
    assert "en" in one["lang_histogram"]
    assert len(one["ppl_quantiles"]) == len(lineage.PPL_QUANTILES)


def test_summary_json(labeled):
    import json

    lab, cfg = labeled
    doc = json.loads(report.summary_json(lab, cfg, {"source": "synth"}))
    assert doc["metadata"]["source"] == "synth"
    assert len(doc["summary"]) == len(cfg.enabled_rules())


def test_html_report_golden(labeled):
    """HTML sink structure golden (reference Report::to_html,
    src/report/html/mod.rs:19-102 + golden-string test at :269-290):
    metadata block, per-category tables, capped locator tables."""
    import json as _json

    from qamd_spark import report

    lab, cfg = labeled
    doc = _json.loads(
        report.summary_json(lab, cfg, {"source": "synth"}, include_locators=True)
    )
    html = report.to_html(doc)
    assert html.startswith("<!DOCTYPE html>")
    assert "<h2>Metadata</h2>" in html and "synth" in html
    for cat in ("Basic File Checks", "Data Integrity", "Disclosure Risk", "Quality"):
        assert f"<h2>{cat}</h2>" in html
    assert "empty_turn" in html and "<h2>Locators</h2>" in html
    # locator tables stay capped
    hit = next(v for v in doc["locators"].values() if v["n_fail"] > 0)
    assert len(hit["first"]) <= report.LOCATOR_CAP
    # escaping: no raw angle brackets from data can leak (scan outside tags)
    import re as _re

    assert not _re.search(r"<td>[^<]*<[^/t]", html)


def test_cli_writes_html(tmp_path, synth_path, count_jobs):
    """Also the job budget of ``qamd run``: 27 jobs on synth_path (the
    labeled write, the listing of data/, lineage, input metadata, summary
    and locators), every one in the caller's job group, including those
    the command runs on its worker threads."""
    import json as _json
    import os

    from qamd_spark import main

    out = str(tmp_path / "html_out")
    rc, jobs, escaped = count_jobs(lambda: main.main(
        ["run", "--input", synth_path, "--output", out, "--master", "local[4]",
         "--output-format", "html"]
    ))
    assert rc == 0
    assert jobs <= 27 and escaped == 0
    assert os.path.exists(out + "/summary.json")
    html = open(out + "/summary.html").read()
    doc = _json.load(open(out + "/summary.json"))
    for r in doc["summary"]:
        assert r["rule"] in html


def test_cli_missing_input_raises_and_leaves_nothing_running(spark, tmp_path):
    """A missing input fails in ``checkpoint.input_fingerprint`` with
    FileNotFoundError, not with the AnalysisException the input-metadata
    worker meets first; the command returns only after that worker, so
    no Spark job and no thread outlives it."""
    import threading

    from qamd_spark import main

    threads = threading.active_count()
    with pytest.raises(FileNotFoundError, match="no data files"):
        main.main(
            ["run", "--input", str(tmp_path / "missing.parquet"),
             "--output", str(tmp_path / "out"), "--master", "local[4]"]
        )
    assert spark.sparkContext.statusTracker().getActiveJobsIds() == []
    assert threading.active_count() == threads


def test_cli_zero_row_input(spark, tmp_path):
    """A zero-row input runs end to end through the checkpointed write:
    every manifest says 0 rows, the summary reports 0/0 per rule and the
    HTML sink renders it."""
    import glob
    import json as _json
    import os

    from qamd_spark import main
    from qamd_spark.schema import TRANSCRIPT_SCHEMA

    src = str(tmp_path / "empty.parquet")
    spark.createDataFrame([], TRANSCRIPT_SCHEMA).write.parquet(src)
    out = str(tmp_path / "out")
    rc = main.main(
        ["run", "--input", src, "--output", out, "--master", "local[4]",
         "--output-format", "html"]
    )
    assert rc == 0
    doc = _json.load(open(out + "/summary.json"))
    assert doc["metadata"]["raw_case_count"] == 0
    assert len(doc["summary"]) == len(QamdConfig().enabled_rules())
    assert all(r["pass"] == r["fail"] == 0 for r in doc["summary"])
    assert os.path.exists(out + "/summary.html")
    manifests = glob.glob(out + "/_manifests/bucket-*.json")
    assert len(manifests) == QamdConfig().n_buckets
    assert sum(_json.load(open(m))["n_rows"] for m in manifests) == 0


def test_html_report_byte_golden():
    """Byte-stable golden document (reference golden-string test pattern,
    src/report/html/mod.rs:269-290): to_html over a FIXED fixture report
    dict must reproduce tests/data/golden_report.html byte-for-byte —
    any rendering change (ordering, escaping, CSS) must be a conscious
    golden update. The fixture exercises metadata, one table per
    category, escaping of & and <>, and locator tables."""
    import os

    from qamd_spark import report

    doc = {
        "metadata": {"source": "fixture.parquet", "variable_count": 6,
                     "raw_case_count": 32, "engine": "qamd_spark"},
        "summary": [
            {"category": "basic_file_checks", "rule": "bad_conv_id",
             "desc": "Conversation id should match the expected pattern",
             "action": "fail", "pass": 30, "fail": 2},
            {"category": "data_integrity", "rule": "empty_turn",
             "desc": "Turn text should not be empty", "action": "drop",
             "pass": 31, "fail": 1},
            {"category": "disclosure_risk", "rule": "pii",
             "desc": "Turn text should not contain PII <emails & phones>",
             "action": "scrub", "pass": 32, "fail": 0},
            {"category": "quality", "rule": "stopword_fraction",
             "desc": "Turns should not be mostly stopwords", "action": "fail",
             "pass": 29, "fail": 3},
        ],
        "locators": {
            "bad_conv_id": {"n_fail": 2, "first": [["bad&conv", 0], ["x<y>", 3]]},
            "empty_turn": {"n_fail": 1, "first": [["conv00007", 2]]},
        },
    }
    golden = os.path.join(os.path.dirname(__file__), "data", "golden_report.html")
    with open(golden) as f:
        want = f.read()
    got = report.to_html(doc)
    assert got == want
    # the escaping actually bit: raw '<' from data must not appear
    assert "x<y>" not in got and "x&lt;y&gt;" in got
    # custom.js interactivity parity (reference src/report/html/
    # custom.js:18-43): failing rows are click targets, locator tables
    # start hidden behind per-rule blocks, the selected-check heading
    # exists, and the vanilla inline script wires them — with a
    # noscript fallback that restores the static rendering
    assert got.count("class='fail-row'") == 3  # the three failing rules
    assert "data-rule='bad_conv_id'" in got
    assert "<div class='loc-block hidden' id='loc-bad_conv_id'>" in got
    assert "<h2 id='selected-check' class='hidden'>" in got
    assert "scrollIntoView" in got and "<noscript>" in got
    # the pii row passes (fail=0) and must NOT be clickable
    assert "data-rule='pii'" not in got


def test_html_rule_name_slugged_for_ids():
    """A rule name with whitespace/punctuation (possible via custom
    configs) must produce a valid HTML id and a matching data-rule
    attribute so the click-to-reveal getElementById lookup works, while
    the visible heading keeps the raw (escaped) name (ADVICE r4). Names
    that differ only in replaced characters ('a b', 'a.b') keep distinct
    ids, and slug-safe names pass through unchanged."""
    from qamd_spark import report

    rules = ("my odd rule!", "a b", "a.b", "a_b")
    doc = {
        "metadata": {"source": "x", "variable_count": 1,
                     "raw_case_count": 1, "engine": "qamd_spark"},
        "summary": [
            {"category": "quality", "rule": r, "desc": "d",
             "action": "fail", "pass": 0, "fail": 1}
            for r in rules
        ],
        "locators": {r: {"n_fail": 1, "first": [["c0", 0]]} for r in rules},
    }
    got = report.to_html(doc)
    # an md5 suffix, not Python's salted hash(): ids are reproducible
    slugs = ["my_odd_rule_-cd9789f8", "a_b-0cc9cd4d", "a_b-e32b629f", "a_b"]
    assert [report._slug(r) for r in rules] == slugs
    for s in slugs:
        assert got.count(f"data-rule='{s}'") == 1
        assert got.count(f"id='loc-{s}'") == 1
    # raw name survives for display (escaped), slug only in id plumbing
    assert "data-rule-label='my odd rule!'" in got
    assert "<h3>my odd rule! (1 failing" in got


def test_locators_tree_reduce_many_partitions(labeled):
    # >FANIN(=64) input partitions forces at least one combine round in
    # locators(); the result must be identical to the no-round plan
    lab, cfg = labeled
    base = report.locators(lab, cap=7).toPandas().set_index("rule")
    wide = (
        report.locators(lab.repartition(130), cap=7)
        .toPandas()
        .set_index("rule")
    )
    assert sorted(base.index) == sorted(wide.index)
    for rule in base.index:
        assert base.loc[rule, "n_fail"] == wide.loc[rule, "n_fail"]
        assert [
            (l["conv_id"], l["turn_idx"]) for l in base.loc[rule, "locators"]
        ] == [(l["conv_id"], l["turn_idx"]) for l in wide.loc[rule, "locators"]]


def test_summarize_zero_rules_is_empty_not_parse_error(spark, synth_path):
    # a config with every rule absent is valid (labels everything keep);
    # stack(0, ) used to throw ParseException after the labeling write
    from qamd_spark.config import DEFAULT_SETTINGS

    cfg = QamdConfig(settings={k: None for k in DEFAULT_SETTINGS})
    assert not cfg.enabled_rules()
    lab = pipeline.label(spark.read.parquet(synth_path), cfg)
    summ = report.summarize(lab, cfg)
    assert summ.count() == 0
    assert summ.columns == ["rule", "category", "action", "desc", "pass", "fail"]
