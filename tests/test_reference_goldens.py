"""Reference-golden parity tests.

Each test reconstructs a QAMyData unit-test fixture scenario on a tiny
transcript table and asserts the analogous pass/fail counts from OUR
summary report — the transcript-rule translation of the reference's
`assert_setting!(status, pass, fail)` goldens (reference
src/macros.rs:24-41; fixture Context at src/check/post.rs:459-598).

Counting note: the reference counts per-column or per-distinct-value;
our engine counts per-turn (documented deviation, SURVEY.md §2.3). Tests
therefore assert the entity counts the rule is ABOUT (failing convs /
distinct values / turns) so the golden is semantically equivalent.
"""

import datetime as dt

from pyspark.sql import functions as F

from qamd_spark import pipeline, report
from qamd_spark.config import DEFAULT_SETTINGS, QamdConfig
from qamd_spark.schema import TRANSCRIPT_SCHEMA

TS = dt.datetime(2026, 1, 1)


def _df(spark, texts_by_conv):
    rows = []
    for conv, texts in texts_by_conv.items():
        for i, t in enumerate(texts):
            rows.append((conv, i, "user", t, None, TS))
    return spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA)


def _summary(spark, df, cfg):
    lab = pipeline.label(df, cfg)
    return {r["rule"]: (r["pass"], r["fail"]) for r in report.summarize(lab, cfg).collect()}, lab


def _only(settings_patch, **kw):
    settings = {k: None for k in DEFAULT_SETTINGS}
    settings.update(settings_patch)
    return QamdConfig(settings=settings, **kw)


def test_duplicate_values_golden(spark):
    # reference duplicate_values golden: one clean var, one with dupes →
    # pass=1 fail=1 (src/check/post.rs:659-660). Our per-turn analogue:
    # 4 distinct texts, one duplicated once → exactly 1 turn flagged.
    df = _df(spark, {"a": ["alpha", "beta", "alpha", "gamma"]})
    cfg = _only({"duplicate_turn": True})
    summ, _ = _summary(spark, df, cfg)
    assert summ["duplicate_turn"] == (3, 1)


def test_system_missing_over_threshold_golden(spark):
    # reference golden: 4 variables, threshold 25%, exactly one over →
    # pass=3 fail=1 (src/check/post.rs:680-686). Ours: 4 conversations,
    # one with 50% empty turns → that conv's turns flagged, 1 of 4 convs.
    df = _df(
        spark,
        {
            "c1": ["w x", "y z", "q r", "s t"],
            "c2": ["w x", "", "y z", ""],  # 50% > 25%
            "c3": ["a b", "c d", "e f", "g h"],
            "c4": ["i j", "k l", "m n", "o p"],
        },
    )
    cfg = _only({"conv_missing_fraction": 25})
    summ, lab = _summary(spark, df, cfg)
    flagged_convs = (
        lab.filter(F.array_contains("rule_hits", "conv_missing_fraction"))
        .select("conv_id")
        .distinct()
        .count()
    )
    assert flagged_convs == 1  # the (3,1) column golden, conv-level
    assert summ["conv_missing_fraction"] == (12, 4)  # all 4 turns of c2


def test_unique_values_golden(spark):
    # reference golden: threshold 2, one variable with values at
    # occurrence <= 2 → pass=3 fail=1 (src/check/post.rs:705-706).
    # Ours: texts with occurrences {3, 2, 1}; threshold 2 flags occ<=2.
    df = _df(spark, {"a": ["x y"] * 3 + ["z w"] * 2 + ["u v"]})
    cfg = _only({"rare_signature": 2})
    summ, lab = _summary(spark, df, cfg)
    assert summ["rare_signature"] == (3, 3)  # 2 + 1 turns flagged
    rare_texts = {
        r["text"]
        for r in lab.filter(F.array_contains("rule_hits", "rare_signature"))
        .select("text")
        .distinct()
        .collect()
    }
    assert rare_texts == {"z w", "u v"}


def test_regex_patterns_golden(spark):
    # reference golden: pattern '^qux' over 4 distinct values, one match →
    # pass=3 fail=1 (src/check/post.rs:784-785)
    df = _df(spark, {"a": ["foo", "bar", "baz", "quxx"]})
    cfg = _only({"custom_regex": ["^qux"]})
    summ, _ = _summary(spark, df, cfg)
    assert summ["custom_regex"] == (3, 1)


def test_stopword_golden(spark):
    # reference golden: stopword list ['qux'] over 5 distinct values, one
    # value consisting only of stopwords → pass=4 fail=1
    # (src/check/post.rs:855-856, test/stopwords.txt)
    df = _df(spark, {"a": ["foo", "bar", "baz", "qux", "corge"]})
    cfg = _only({"all_stopwords": True}, stopwords=["qux"])
    summ, _ = _summary(spark, df, cfg)
    assert summ["all_stopwords"] == (4, 1)


def test_spellcheck_golden(spark):
    # reference string_value_spellcheck golden: 19-word allowlist
    # (test/words.txt), 5 values, 2 with words outside it → pass=3 fail=2
    # (src/check/post.rs:837-838). Ours: oov_fraction with max=0.0 is the
    # faithful spellcheck predicate (empty passes; all tokens must be in
    # the dictionary — src/check/dictionary.rs:15-17).
    vocab = ["foo", "bar", "baz", "qux"]
    df = _df(spark, {"a": ["foo bar", "baz qux", "foo zzz", "", "yyy"]})
    cfg = _only({"oov_fraction": {"vocab": vocab, "max": 0.0}})
    summ, _ = _summary(spark, df, cfg)
    # '' passes (empty), 'foo zzz' and 'yyy' fail
    assert summ["oov_fraction"] == (3, 2)


def test_spellcheck_normalize_quirks(spark):
    # normalize_word strips ASCII punctuation and lowercases before the
    # dictionary test (src/check/dictionary.rs:110-115); consecutive
    # spaces produce an empty token which is OOV (src/check/dictionary.rs:117-122)
    vocab = ["foo", "bar"]
    df = _df(spark, {"a": ["Foo! Bar?", "foo  bar"]})
    cfg = _only({"oov_fraction": {"vocab": vocab, "max": 0.0}})
    summ, _ = _summary(spark, df, cfg)
    assert summ["oov_fraction"] == (1, 1)  # punctuated passes, double-space fails


def test_odd_characters_golden(spark):
    # reference string_value_odd_characters: distinct values containing
    # any odd substring fail (src/check/post.rs:262-299, default set
    # default.yaml:111-119)
    df = _df(spark, {"a": ["clean text", "has&amp", "pound#sign", "double  space"]})
    cfg = _only({"odd_characters": list(DEFAULT_SETTINGS["odd_characters"])})
    summ, _ = _summary(spark, df, cfg)
    assert summ["odd_characters"] == (1, 3)


def test_mtcars_shape_analogue(spark):
    # reference e2e golden: variable_count == 12 && raw_case_count == 32
    # for every mtcars format (src/readstat/read.rs:148-181). Ours: the
    # labeled output preserves row count and emits the full labeled schema.
    from qamd_spark.schema import LABELED_SCHEMA

    df = _df(spark, {f"c{i}": ["some text here", "more text"] for i in range(16)})
    cfg = QamdConfig()
    lab = pipeline.label(df, cfg)
    assert lab.count() == 32  # raw_case_count preserved
    assert len(lab.schema.fields) == len(LABELED_SCHEMA.fields)
    assert [f.name for f in lab.schema.fields] == [f.name for f in LABELED_SCHEMA.fields]
