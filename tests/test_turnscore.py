import numpy as np
import pandas as pd

from qamd_spark import turnscore
from qamd_spark.config import QamdConfig


def _score(texts, cfg=None):
    cfg = cfg or QamdConfig()
    pdf = pd.DataFrame(
        {
            "conv_id": [f"c{i}" for i in range(len(texts))],
            "turn_idx": np.arange(len(texts), dtype=np.int32),
            "role": "user",
            "text": texts,
            "tool": None,
            "ts": pd.Timestamp("2026-01-01"),
        }
    )
    return turnscore.score_pdf(pdf, cfg)


def test_normalize_word_quirks():
    # mirrors reference normalize_word (src/check/dictionary.rs:110-115):
    # strip ASCII punctuation, lowercase — non-ASCII (ç ô ü) survives
    s = turnscore.normalize_series(pd.Series(["Qux!", "a-b_c", "çôü?"]))
    assert list(s) == ["qux", "abc", "çôü"]


def test_only_contains_semantics():
    # reference test (src/check/dictionary.rs:128-137): split on single
    # space; consecutive spaces ⇒ empty token ∉ dict ⇒ not all-stopwords
    cfg = QamdConfig(stopwords=["foo", "baz", "qux"])
    out = _score(["foo baz qux", "foo bar baz", "foo  baz"], cfg)
    assert list(out["all_stopwords"]) == [True, False, False]


def test_empty_passes_stopword_predicate():
    # empty string passes (is not flagged) per reference
    # stopword_predicate (src/check/dictionary.rs:22-24)
    out = _score(["", None])
    assert list(out["all_stopwords"]) == [False, False]
    assert list(out["stopword_fraction"]) == [0.0, 0.0]


def test_stopword_fraction():
    cfg = QamdConfig(stopwords=["the", "and", "of"])
    out = _score(["the and of cat", "cat dog"], cfg)
    assert out["stopword_fraction"].tolist() == [0.75, 0.0]


def test_odd_char_ratio():
    cfg = QamdConfig()
    out = _score(["abcd&", "a&#b&", "clean"], cfg)
    # counts over the default odd set (& # '  ' @ * ç ô ü)
    assert out["odd_char_ratio"].tolist() == [1 / 5, 3 / 5, 0.0]


def test_double_space_counts_as_odd():
    out = _score(["a  b"])  # one double-space occurrence, len 4
    assert out["odd_char_ratio"].tolist() == [0.25]


def test_repetition_ratio():
    out = _score(["ha ha ha ha no", "all words differ here"])
    assert out["repetition_ratio"].tolist() == [0.8, 0.25]


def test_token_and_char_counts():
    out = _score(["a b  c", "", None])
    assert out["n_tokens"].tolist() == [3, 0, 0]  # whitespace-run tokens
    assert out["n_chars"].tolist() == [6, 0, 0]


def test_scrub_and_lang_columns_present():
    out = _score(["mail a@b.co", "le chat est sur la table et la pluie tombe"])
    assert out.loc[0, "scrubbed_text"] == "mail <EMAIL>"
    assert out.loc[1, "lang"] == "fr"


def test_token_stats_marker_join_equals_rowwise():
    """The marker-joined tokenizer must equal per-row split(' ') semantics
    on adversarial inputs: empties, consecutive/leading/trailing spaces,
    single row, NUL fallback."""
    import pandas as pd

    from qamd_spark import turnscore

    stop = frozenset({"the", "a"})
    vocab = frozenset({"the", "a", "fox"})
    cases = [
        ["the a fox", "", "  ", "a  the", " leading", "trailing ", "zz zz zz a"],
        ["only one row  with  doubles"],
        ["", "", ""],
        ["with\x01marker the a", "clean a"],  # \x01 triggers the fallback path
        ["with\x00nul the a", "clean a"],  # NUL text, fast path
    ]
    for texts in cases:
        s = pd.Series(texts)
        got = turnscore._token_stats(s, stop, vocab)
        # independent reference: plain python per row
        for i, v in enumerate(texts):
            toks = (v or "").split(" ")
            nstop = sum(t in stop for t in toks)
            frac = nstop / len(toks) if v else 0.0
            assert abs(got[0][i] - frac) < 1e-12, (texts, i)
            assert got[1][i] == (bool(v) and nstop == len(toks)), (texts, i)
            noov = sum(t not in vocab for t in toks)
            exp_oov = noov / len(toks) if v else 0.0
            assert abs(got[3][i] - exp_oov) < 1e-12, (texts, i)
            ne = [t for t in toks if t != ""]
            exp_rep = (max(ne.count(t) for t in set(ne)) / len(ne)) if ne else 0.0
            assert abs(got[2][i] - exp_rep) < 1e-12, (texts, i)
