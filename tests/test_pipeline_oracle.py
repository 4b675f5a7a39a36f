"""End-to-end parity: Spark pipeline vs the single-node pandas oracle.

This is the repo's analogue of the reference's exact pass/fail counting
contract (assert_setting!, reference src/macros.rs:24-41) lifted to the
per-turn level: keep/drop F1 (target ≥ 0.99; we assert exact match),
scrubbed-text exact equality, and rule_hits exact equality under stable
(conv_id, turn_idx) ordering (FIXTURES.md §4 comparison contract).
"""

import numpy as np
import pytest

from oracle import oracle
from qamd_spark import pipeline
from qamd_spark.config import QamdConfig


@pytest.fixture(scope="module")
def labeled_pair(spark, synth_path, synth_pdf):
    cfg = QamdConfig()
    sp = (
        pipeline.label(spark.read.parquet(synth_path), cfg)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    orc = (
        oracle.label_pdf(synth_pdf, cfg)
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    return sp, orc


def test_row_alignment(labeled_pair):
    sp, orc = labeled_pair
    assert len(sp) == len(orc) > 700
    assert (sp["conv_id"].to_numpy() == orc["conv_id"].to_numpy()).all()
    assert (sp["turn_idx"].to_numpy() == orc["turn_idx"].to_numpy()).all()


def test_keep_f1(labeled_pair):
    sp, orc = labeled_pair
    y_true = orc["keep"].to_numpy(dtype=bool)
    y_pred = sp["keep"].to_numpy(dtype=bool)
    tp = (y_true & y_pred).sum()
    fp = (~y_true & y_pred).sum()
    fn = (y_true & ~y_pred).sum()
    f1 = 2 * tp / (2 * tp + fp + fn)
    assert f1 >= 0.99  # BASELINE.json gate
    assert f1 == 1.0  # and in fact exact


def test_scrubbed_text_exact(labeled_pair):
    sp, orc = labeled_pair
    a = sp["scrubbed_text"].fillna("\x00").to_numpy()
    b = orc["scrubbed_text"].fillna("\x00").to_numpy()
    assert (a == b).all()


def test_rule_hits_exact(labeled_pair):
    sp, orc = labeled_pair
    for a, b in zip(sp["rule_hits"], orc["rule_hits"]):
        assert list(a) == list(b)


def test_scores_bitexact(labeled_pair):
    sp, orc = labeled_pair
    for c in ["odd_char_ratio", "stopword_fraction", "repetition_ratio", "perplexity"]:
        assert (sp[c].to_numpy() == orc[c].to_numpy()).all(), c
    assert (sp["lang"].to_numpy() == orc["lang"].to_numpy()).all()


def test_every_rule_fires_somewhere(labeled_pair):
    # the synthetic corpus must exercise every enabled rule except
    # schema-level guards that the generator never violates
    sp, _ = labeled_pair
    fired = set()
    for hits in sp["rule_hits"]:
        fired.update(hits)
    expected = {
        "empty_turn", "length_bounds", "odd_characters", "odd_char_ratio",
        "repetition", "duplicate_turn", "conv_missing_fraction", "pii",
        "profanity", "all_stopwords", "stopword_fraction", "rare_signature",
        "langid", "perplexity", "sentinel_text", "ts_regression",
    }
    assert expected <= fired


def test_partition_invariance(spark, synth_path):
    # same labels regardless of input partitioning (determinism invariant)
    cfg = QamdConfig()
    df = spark.read.parquet(synth_path)
    a = (
        pipeline.label(df.repartition(1), cfg)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    b = (
        pipeline.label(df.repartition(16, "ts"), cfg)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert (a["keep"].to_numpy() == b["keep"].to_numpy()).all()
    sa = a["scrubbed_text"].fillna("\x00").to_numpy()
    sb = b["scrubbed_text"].fillna("\x00").to_numpy()
    assert (sa == sb).all()


def test_dedup_keep_first(spark):
    import datetime as dt

    rows = [
        ("a", 0, "user", "same text here", None, dt.datetime(2026, 1, 1)),
        ("a", 1, "user", "same text here", None, dt.datetime(2026, 1, 1)),
        ("b", 0, "user", "same text here", None, dt.datetime(2026, 1, 1)),
        ("b", 1, "user", "unique text entirely", None, dt.datetime(2026, 1, 1)),
    ]
    from qamd_spark.schema import TRANSCRIPT_SCHEMA

    df = spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA)
    cfg = QamdConfig()
    out = (
        pipeline.label(df, cfg)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    dup = [("duplicate_turn" in h) for h in out["rule_hits"]]
    assert dup == [False, True, True, False]  # keep-first under (conv_id, turn_idx)


def test_adversarial_texts_exact_parity(spark, tmp_path):
    """Pipeline vs oracle on adversarial rows the synth generator never
    emits: NUL bytes, the \\x01 marker, NUL-extension token twins (the
    pandas C-truncation class), unicode whitespace, huge token repeats,
    null roles/tools, cross-conversation duplicate texts, lone surrogates
    excluded (not valid parquet UTF-8)."""
    import pandas as pd

    rows = []
    texts = [
        "the\x00x a b and more words here to pass length",
        "the a b and more words here to pass length",
        "contains \x01 marker token and some other words",
        "tab\tseparated unicode spaces inside this text",
        "dup across convs dup across convs dup across convs",
        "dup across convs dup across convs dup across convs",
        ("spam " * 50).strip(),
        "email me at alice\x00bob@example.org maybe",
        "normal sentence with a real email bob@example.org inside",
        "",
        "x",
        None,
        "N/A",
        "word \x00 word",
        "tail nul\x00",
    ]
    for i, t in enumerate(texts):
        rows.append(
            {
                "conv_id": f"adv{i % 5}",
                "turn_idx": np.int32(i),
                "role": None if i % 7 == 3 else "user",
                "text": t,
                "tool": None if i % 2 else "t" * (i * 8),  # crosses field_length
                "ts": pd.NaT,
            }
        )
    pdf = pd.DataFrame(rows)
    p = str(tmp_path / "adv.parquet")
    pdf2 = pdf.copy()
    pdf2["ts"] = pd.to_datetime(pdf2["ts"]).astype("datetime64[us]")
    for c in ("conv_id", "role", "text", "tool"):
        pdf2[c] = pdf2[c].astype("string")
    pdf2.to_parquet(p)

    cfg = QamdConfig()
    sp = (
        pipeline.label(spark.read.parquet(p).repartition(4), cfg)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    orc = (
        oracle.label_pdf(pdf, cfg)
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert len(sp) == len(orc) == len(texts)
    assert (sp["keep"].to_numpy() == orc["keep"].to_numpy(dtype=bool)).all()
    a = sp["scrubbed_text"].fillna("<N>").to_numpy()
    b = orc["scrubbed_text"].fillna("<N>").to_numpy()
    assert (a == b).all(), list(zip(a, b))
    for x, y in zip(sp["rule_hits"], orc["rule_hits"]):
        assert list(x) == list(y), (x, y)
    # the NUL-extension token must NOT count as the stopword 'the'
    i = int(np.flatnonzero(sp["text"].fillna("") == texts[0])[0])
    j = int(np.flatnonzero(sp["text"].fillna("") == texts[1])[0])
    assert sp["stopword_fraction"][i] < sp["stopword_fraction"][j]


def test_seeded_fuzz_corpus_exact_parity(spark, tmp_path):
    """500 seeded-random rows over mixed alphabets (ascii, punctuation,
    control bytes, accented, CJK, emoji, whitespace runs) — one Spark run
    vs the oracle, exact keep/scrub/rule_hits parity."""
    import random

    import pandas as pd

    rng = random.Random(20260817)
    alphabets = [
        "abcdefghij ",
        "the a and of to in is it ",
        "x@3.!? #&*ç ",
        "日本語テキスト ",
        "données déjà vu ",
        "a\x00b \x01 \t\n",
        "fraktz bob@x.io 077 1234 5678 ",
    ]
    rows = []
    for i in range(500):
        al = rng.choice(alphabets)
        t = "".join(rng.choice(al) for _ in range(rng.randrange(0, 120)))
        if rng.random() < 0.05:
            t = None
        rows.append(
            {
                "conv_id": f"f{rng.randrange(40)}",
                "turn_idx": np.int32(i),
                "role": rng.choice(["user", "assistant", None, "robot"]),
                "text": t,
                "tool": rng.choice([None, "search", "t" * 100]),
                "ts": pd.NaT,
            }
        )
    pdf = pd.DataFrame(rows)
    w = pdf.copy()
    w["ts"] = pd.to_datetime(w["ts"]).astype("datetime64[us]")
    for c in ("conv_id", "role", "text", "tool"):
        w[c] = w[c].astype("string")
    p = str(tmp_path / "fuzz.parquet")
    w.to_parquet(p)

    cfg = QamdConfig()
    sp = (
        pipeline.label(spark.read.parquet(p).repartition(8), cfg)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    orc = (
        oracle.label_pdf(pdf, cfg)
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert len(sp) == len(orc) == 500
    assert (sp["keep"].to_numpy() == orc["keep"].to_numpy(dtype=bool)).all()
    a = sp["scrubbed_text"].fillna("<N>").to_numpy()
    b = orc["scrubbed_text"].fillna("<N>").to_numpy()
    assert (a == b).all()
    for x, y in zip(sp["rule_hits"], orc["rule_hits"]):
        assert list(x) == list(y), (x, y)


def test_empty_input_and_megarow(spark, tmp_path):
    """Degenerate inputs: an empty table labels to an empty frame with the
    full schema; a 200 KB single-turn text flows through every stage (Arrow
    batching, scrub, langid) and is dropped by length_bounds."""
    import pandas as pd

    from qamd_spark import schema as S

    cfg = QamdConfig()
    empty = spark.createDataFrame([], schema=S.TRANSCRIPT_SCHEMA)
    out = pipeline.label(empty, cfg)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        f.name for f in S.LABELED_SCHEMA.fields
    ]

    mega = "word " * 40_000 + "tail bob@example.org"  # ~200KB, PII at the end
    pdf = pd.DataFrame(
        {
            "conv_id": ["m1", "m1"],
            "turn_idx": np.array([0, 1], dtype="int32"),
            "role": ["user", "user"],
            "text": [mega, "a normal short turn for contrast"],
            "tool": pd.array([None, None], dtype="string"),
            "ts": pd.Series([pd.NaT, pd.NaT]).astype("datetime64[us]"),
        }
    )
    p = str(tmp_path / "mega.parquet")
    pdf.to_parquet(p)
    got = {
        r["turn_idx"]: r
        for r in pipeline.label(spark.read.parquet(p), cfg).collect()
    }
    assert not got[0]["keep"]
    assert "length_bounds" in got[0]["rule_hits"]
    assert got[0]["scrubbed_text"].endswith("tail <EMAIL>")  # scrub still ran
    orc = oracle.label_pdf(pdf, cfg)
    assert list(orc["keep"]) == [got[0]["keep"], got[1]["keep"]]
    assert orc["scrubbed_text"][0] == got[0]["scrubbed_text"]


def test_encoding_rule_exact_parity(spark, tmp_path):
    """The config-gated `encoding` flag rule: planted mojibake / control /
    zero-width / U+FFFD rows fire it, clean rows don't; Spark vs pandas
    oracle exact on keep and rule_hits. Default-off is also pinned (the
    clean-config run must not emit the rule name at all)."""
    import pandas as pd

    from qamd_spark.ops.text import MOJIBAKE_TARGETS

    damaged = ("mix " + MOJIBAKE_TARGETS + " end").encode("utf-8").decode("cp1252")
    texts = [
        damaged + " plus padding words to pass the length bounds",
        "clean text with plenty of ordinary words in it today",
        "zero​width mark inside this otherwise ordinary sentence",
        "control\x07character inside this otherwise ordinary text",
        "replacement � character inside this ordinary sentence",
        "accented but legitimate: café crème brûlée señor niño",
    ]
    rows = [
        {
            "conv_id": "enc0",
            "turn_idx": np.int32(i),
            "role": "user",
            "text": t,
            "tool": None,
            "ts": pd.NaT,
        }
        for i, t in enumerate(texts)
    ]
    pdf = pd.DataFrame(rows)
    p = str(tmp_path / "enc.parquet")
    pdf2 = pdf.copy()
    pdf2["ts"] = pd.to_datetime(pdf2["ts"]).astype("datetime64[us]")
    for c in ("conv_id", "role", "text", "tool"):
        pdf2[c] = pdf2[c].astype("string")
    pdf2.to_parquet(p)

    cfg = QamdConfig()
    cfg.settings["encoding"] = True
    sp = (
        pipeline.label(spark.read.parquet(p), cfg)
        .toPandas()
        .sort_values("turn_idx")
        .reset_index(drop=True)
    )
    orc = (
        oracle.label_pdf(pdf, cfg)
        .sort_values("turn_idx")
        .reset_index(drop=True)
    )
    assert (sp["keep"].to_numpy() == orc["keep"].to_numpy(dtype=bool)).all()
    for x, y in zip(sp["rule_hits"], orc["rule_hits"]):
        assert list(x) == list(y), (x, y)
    fired = ["encoding" in list(h) for h in sp["rule_hits"]]
    assert fired == [True, False, True, True, True, False]
    # default config: the rule stays fully absent, and because `encoding`
    # is a FLAG rule, enabling it must not change keep for any row
    sp0 = (
        pipeline.label(spark.read.parquet(p), QamdConfig())
        .toPandas()
        .sort_values("turn_idx")
        .reset_index(drop=True)
    )
    assert not any("encoding" in list(h) for h in sp0["rule_hits"])
    assert (sp["keep"].to_numpy() == sp0["keep"].to_numpy()).all()


def test_refusal_rule_exact_parity(spark, tmp_path):
    """The config-gated `refusal` flag rule: a planted template phrase in
    an ASSISTANT turn fires it; the same phrase in a USER turn does not
    (quotation, not boilerplate); clean assistant turns don't fire.
    Spark vs pandas oracle exact on keep and rule_hits; default-off and
    keep-invariance (flag action) pinned."""
    import pandas as pd

    rows = [
        # (role, text, should_fire)
        ("user", "please tell me about the weather patterns today", False),
        (
            "assistant",
            "As an AI language model, I cannot browse current weather data",
            True,
        ),
        ("assistant", "the forecast shows light rain arriving late afternoon", False),
        (
            "user",
            "my friend said as an ai language model you refuse things",
            False,
        ),
        (
            "assistant",
            "I'm sorry, but I cannot help with that particular request today",
            True,
        ),
        ("tool", "lookup(weather) -> partly cloudy with gentle breeze", False),
    ]
    pdf = pd.DataFrame(
        [
            {
                "conv_id": "rf0",
                "turn_idx": np.int32(i),
                "role": r,
                "text": t,
                "tool": None,
                "ts": pd.NaT,
            }
            for i, (r, t, _) in enumerate(rows)
        ]
    )
    p = str(tmp_path / "rf.parquet")
    pdf2 = pdf.copy()
    pdf2["ts"] = pd.to_datetime(pdf2["ts"]).astype("datetime64[us]")
    for c in ("conv_id", "role", "text", "tool"):
        pdf2[c] = pdf2[c].astype("string")
    pdf2.to_parquet(p)

    cfg = QamdConfig()
    cfg.settings["refusal"] = True
    sp = (
        pipeline.label(spark.read.parquet(p), cfg)
        .toPandas()
        .sort_values("turn_idx")
        .reset_index(drop=True)
    )
    orc = oracle.label_pdf(pdf, cfg).sort_values("turn_idx").reset_index(drop=True)
    assert (sp["keep"].to_numpy() == orc["keep"].to_numpy(dtype=bool)).all()
    for x, y in zip(sp["rule_hits"], orc["rule_hits"]):
        assert list(x) == list(y), (x, y)
    fired = ["refusal" in list(h) for h in sp["rule_hits"]]
    assert fired == [want for _, _, want in rows]
    # custom panel: a narrower phrase list only fires on its own phrase
    cfg2 = QamdConfig()
    cfg2.settings["refusal"] = ["i'm sorry, but i cannot"]
    sp2 = (
        pipeline.label(spark.read.parquet(p), cfg2)
        .toPandas()
        .sort_values("turn_idx")
        .reset_index(drop=True)
    )
    assert ["refusal" in list(h) for h in sp2["rule_hits"]] == [
        False,
        False,
        False,
        False,
        True,
        False,
    ]
    # default config: rule absent; flag action never changes keep
    sp0 = (
        pipeline.label(spark.read.parquet(p), QamdConfig())
        .toPandas()
        .sort_values("turn_idx")
        .reset_index(drop=True)
    )
    assert not any("refusal" in list(h) for h in sp0["rule_hits"])
    assert (sp["keep"].to_numpy() == sp0["keep"].to_numpy()).all()


def test_conv_neardup_rule_parity(spark):
    """Planted conversation-level near-dups: c02 near-duplicates c01
    (one word changed per turn, so duplicate_turn never fires), c03 is
    unrelated. With the conv_neardup drop rule enabled, every turn of
    c02 (the lexicographically LARGER conv_id) drops, c01/c03 keep, and
    Spark labels match the pandas oracle exactly. The hash kernels are
    deterministic, so the planted outcome is stable, not probabilistic."""
    import datetime as dt

    import pandas as pd

    from qamd_spark.schema import TRANSCRIPT_SCHEMA

    base = [
        "the quick brown fox jumps over the lazy dog near the river bank "
        "today while the afternoon sun keeps every meadow warm and bright",
        "a second turn with plenty of ordinary words describing the calm "
        "weather outside and the slow clouds drifting across the open sky",
        "finally we wrap up this conversation with a short polite farewell "
        "message wishing everyone a restful evening and a pleasant tomorrow",
    ]
    variant = [
        base[0].replace("near", "by"),
        base[1].replace("plenty", "lots"),
        base[2].replace("short", "brief"),
    ]
    other = [
        "completely different topic about spark shuffle partitions and "
        "broadcast joins tuned for adaptive execution on very large tables",
        "nothing in common with the first two conversations at all since "
        "this one discusses parquet statistics and column pruning instead",
        "the closing line here covers checkpoint manifests and bucketed "
        "writes rather than any weather meadow or farewell vocabulary",
    ]
    rows = []
    for cid, turns in (("c01", base), ("c02", variant), ("c03", other)):
        for i, t in enumerate(turns):
            rows.append(
                {
                    "conv_id": cid,
                    "turn_idx": np.int32(i),
                    "role": "user",
                    "text": t,
                    "tool": None,
                    "ts": dt.datetime(2026, 1, 1, 0, i),
                }
            )
    pdf = pd.DataFrame(rows)
    cfg = QamdConfig()
    cfg.settings["conv_neardup"] = True
    df = spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA)
    sp = (
        pipeline.label(df, cfg)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    orc = (
        oracle.label_pdf(pdf, cfg)
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert (sp["keep"].to_numpy() == orc["keep"].to_numpy()).all()
    for a, b in zip(sp["rule_hits"], orc["rule_hits"]):
        assert list(a) == list(b)
    by_conv = {
        cid: [("conv_neardup" in h) for h in grp["rule_hits"]]
        for cid, grp in sp.groupby("conv_id")
    }
    assert all(by_conv["c02"])  # every turn of the near-dup conversation
    assert not any(by_conv["c01"]) and not any(by_conv["c03"])
    assert not sp[sp["conv_id"] == "c02"]["keep"].any()
    # c01 keeps everything (c03 may trip unrelated quality rules —
    # irrelevant here; the oracle-parity assertions above already pin it)
    assert sp[sp["conv_id"] == "c01"]["keep"].all()
    # rule off (default) => c02 keeps exactly what c01 does
    cfg_off = QamdConfig()
    sp_off = pipeline.label(df, cfg_off).toPandas()
    assert sp_off[sp_off["conv_id"].isin(["c01", "c02"])]["keep"].all()


def test_pipeline_with_compression_rule_matches_oracle(spark, synth_path, synth_pdf):
    """End-to-end: enabling the compression rule keeps exact Spark/oracle
    parity — keep, rule_hits, and cr_ratio bit-equal — the rule fires on
    the synthetic corpus's repetitive turns, and short turns (under
    min_bytes) never fire regardless of ratio."""
    import numpy as np

    from oracle import oracle
    from qamd_spark import pipeline
    from qamd_spark.config import QamdConfig

    cfg = QamdConfig()
    cfg.settings["compression"] = {}
    cfg.validate()
    sp = (
        pipeline.label(spark.read.parquet(synth_path), cfg)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    orc = (
        oracle.label_pdf(synth_pdf, cfg)
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert "cr_ratio" in sp.columns and "cr_ratio" in orc.columns
    assert len(sp) == len(orc)
    a = sp["cr_ratio"].to_numpy(dtype=float)
    b = orc["cr_ratio"].to_numpy(dtype=float)
    assert np.array_equal(a, b, equal_nan=True)
    assert (sp["keep"].to_numpy() == orc["keep"].to_numpy()).all()
    assert ["|".join(h) for h in sp["rule_hits"]] == [
        "|".join(h) for h in orc["rule_hits"]
    ]
    fired = sum("compression" in h for h in sp["rule_hits"])
    assert fired > 0, "rule never fired on the synthetic corpus"
    # short turns never fire even when highly compressible
    short = sp[sp["text"].fillna("").str.encode("utf-8").str.len() < 64]
    assert not any("compression" in h for h in short["rule_hits"])

    # default config output shape is unchanged (no cr_ratio column)
    sp_off = pipeline.label(spark.read.parquet(synth_path), QamdConfig())
    assert "cr_ratio" not in sp_off.columns


def test_compression_config_validation():
    import pytest

    from qamd_spark.config import ConfigError, QamdConfig

    for bad in [
        {"min_ratio": 0.9, "max_ratio": 0.5},
        {"min_ratio": 0.0},
        {"min_bytes": 0},
        "yes",
    ]:
        cfg = QamdConfig()
        cfg.settings["compression"] = bad
        with pytest.raises(ConfigError):
            cfg.validate()


def test_homoglyph_rule_exact_parity(spark, tmp_path):
    """The config-gated `homoglyph` flag rule: a word mixing Latin with
    Cyrillic/Greek letters fires it; pure-Latin, pure-Cyrillic, and
    two-script SEPARATE-word texts do not (bilingual text is fine; one
    mixed word is the spoof). Spark vs pandas oracle exact; default-off
    and keep-invariance (flag action) pinned."""
    import pandas as pd

    rows = [
        # (text, should_fire)
        ("please reset my paypal password now", False),
        ("verify your pаypаl account immediately", True),  # Cyr а
        ("привет мир это чисто русский текст", False),  # pure Cyrillic
        ("the greek letter α appears alone here", False),  # separate words
        ("sеcurе login required", True),  # Cyrillic е inside Latin
        ("mixedαword with greek alpha inside", True),
        (None, False),
    ]
    pdf = pd.DataFrame(
        [
            {
                "conv_id": "hg0",
                "turn_idx": np.int32(i),
                "role": "user",
                "text": t,
                "tool": None,
                "ts": pd.NaT,
            }
            for i, (t, _) in enumerate(rows)
        ]
    )
    p = str(tmp_path / "hg.parquet")
    pdf2 = pdf.copy()
    pdf2["ts"] = pd.to_datetime(pdf2["ts"]).astype("datetime64[us]")
    for c in ("conv_id", "role", "text", "tool"):
        pdf2[c] = pdf2[c].astype("string")
    pdf2.to_parquet(p)

    cfg = QamdConfig()
    cfg.settings["homoglyph"] = True
    sp = (
        pipeline.label(spark.read.parquet(p), cfg)
        .toPandas()
        .sort_values("turn_idx")
        .reset_index(drop=True)
    )
    orc = oracle.label_pdf(pdf, cfg).sort_values("turn_idx").reset_index(drop=True)
    assert (sp["keep"].to_numpy() == orc["keep"].to_numpy(dtype=bool)).all()
    for x, y in zip(sp["rule_hits"], orc["rule_hits"]):
        assert list(x) == list(y), (x, y)
    fired = ["homoglyph" in list(h) for h in sp["rule_hits"]]
    assert fired == [want for _, want in rows]
    # default config: rule absent; flag action never changes keep
    sp0 = (
        pipeline.label(spark.read.parquet(p), QamdConfig())
        .toPandas()
        .sort_values("turn_idx")
        .reset_index(drop=True)
    )
    assert not any("homoglyph" in list(h) for h in sp0["rule_hits"])
    assert (sp["keep"].to_numpy() == sp0["keep"].to_numpy()).all()
