"""BPE training/encoding (qamd_spark/ops/bpe.py) vs the naive spec
below: the learned merge list must be bit-identical, and the rank-greedy
encoder must equal replaying the merge list in order."""

from collections import Counter

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from qamd_spark.ops import bpe

DOCS = "/root/testdata/sf0.001/documents.parquet"


def _spec_merges(wc, num_merges=50, min_pair_count=2):
    """Naive BPE spec over a {word: count} histogram: recount every
    adjacent pair every round, take the largest count (ties: (left,
    right) ascending), merge it greedy leftmost non-overlapping in every
    word. O(merges x vocabulary) — the definition the package's
    incremental learner is checked against."""
    segs = {w: list(w) for w in wc}
    merges = []
    for _ in range(num_merges):
        pc = {}
        for w, ss in segs.items():
            for i in range(len(ss) - 1):
                p = (ss[i], ss[i + 1])
                pc[p] = pc.get(p, 0) + wc[w]
        if not pc:
            break
        (a, b), n = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        if n < min_pair_count:
            break
        merges.append((a, b, n))
        for w, ss in segs.items():
            out, i = [], 0
            while i < len(ss):
                if i + 1 < len(ss) and ss[i] == a and ss[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(ss[i])
                    i += 1
            segs[w] = out
    return merges


def _wc_pdf(path=DOCS):
    texts = pd.read_parquet(path, columns=["text"])["text"]
    wc: dict[str, int] = {}
    for t in texts:
        for w in bpe._py_words(t):  # the shared training/encoding tokenizer
            wc[w] = wc.get(w, 0) + 1
    return wc


def _replay(word: str, merges) -> list[str]:
    syms = list(word)
    for a, b, _ in merges:
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def test_train_matches_python_twin_exactly(spark, count_jobs):
    df = spark.read.parquet(DOCS)
    got, jobs, escaped = count_jobs(lambda: bpe.train_bpe(df, num_merges=25))
    # the histogram pass, whatever num_merges is
    assert jobs <= 2 and escaped == 0
    want = _spec_merges(_wc_pdf(), num_merges=25)
    assert got == want
    # merges are well-formed and counts non-increasing is NOT guaranteed
    # by BPE (a merge can create a more frequent pair), but every count
    # must respect the floor
    assert all(n >= 2 for _, _, n in got)
    assert len(got) == 25  # corpus is repetitive enough to yield all 25


def test_word_counts_matches_pandas(spark):
    got = {
        r["word"]: r["cnt"]
        for r in bpe.word_counts(spark.read.parquet(DOCS)).collect()
    }
    assert got == _wc_pdf()


def test_word_counts_matches_py_words_on_hostile_text(spark):
    """The driver trainers learn from ``word_counts`` (Java ``\\s+``
    split) and the encoders split with ``_py_words``: both must agree on
    what a word is, including on text where Python's own ``str.split``
    and ``\\s`` would not (NBSP, \\x1c/\\x1d)."""
    texts = [
        "vertical\x0btab", "\tleading tab", "crlf\r\nline\r\n",
        "nb\u00a0sp word", "nul\x00byte \x01soh", "fs\x1cgs\x1dsep",
        "\U0001F600\U0001F600 emoji\U0001F44D", "bidi \u202eevil\u202c",
        "\u0130stanbul \u0130", "\u039f\u0394\u039f\u03a3 \u03a3", None,
    ]
    df = spark.createDataFrame([(x,) for x in texts], "text string")
    got = {r["word"]: r["cnt"] for r in bpe.word_counts(df).collect()}
    want = Counter(w for x in texts for w in bpe._py_words(x))
    assert got == want


def test_encoder_equals_merge_replay():
    wc = _wc_pdf()
    merges = bpe.learn_merges(wc, num_merges=40)
    ranks = {(a, b): i for i, (a, b, _) in enumerate(merges)}
    for w in list(wc)[:200]:
        enc = bpe.encode_word(w, ranks)
        assert enc == _replay(w, merges), w
        assert "".join(enc) == w  # lossless


def test_bpe_encode_dataframe(spark):
    df = spark.read.parquet(DOCS).limit(50)
    merges = bpe.learn_merges(_wc_pdf(), num_merges=20)
    out = bpe.bpe_encode(df, merges).select("doc_id", "text", "bpe_tokens")
    ranks = {(a, b): i for i, (a, b, _) in enumerate(merges)}
    for r in out.collect():
        want = []
        for w in bpe._py_words(r["text"]):
            want.extend(bpe.encode_word(w, ranks))
        assert list(r["bpe_tokens"]) == want
        assert "".join(r["bpe_tokens"]) == "".join(bpe._py_words(r["text"]))


def test_early_stop_on_min_pair_count():
    merges = bpe.learn_merges({"ab": 1, "cd": 1}, num_merges=10, min_pair_count=2)
    assert merges == []


def test_tie_break_is_lexicographic():
    # 'zz' and 'aa' both occur 3 times -> 'a','a' must win (pair asc)
    merges = bpe.learn_merges({"zz": 3, "aa": 3}, num_merges=1)
    assert merges[0][:2] == ("a", "a")


# a tiny alphabet makes ties and overlapping pairs (aaa, abab) common;
# é and the emoji bring in non-ASCII and astral code points
_hist = st.dictionaries(
    st.text(alphabet="abé\U0001F600", min_size=1, max_size=8),
    st.integers(1, 4),
    max_size=12,
)


@settings(max_examples=300, deadline=None)
@given(wc=_hist, num_merges=st.integers(0, 20), min_pair_count=st.integers(1, 3))
def test_learner_matches_naive_spec(wc, num_merges, min_pair_count):
    assert bpe.learn_merges(wc, num_merges, min_pair_count) == _spec_merges(
        wc, num_merges, min_pair_count
    )


@pytest.mark.parametrize(
    "word", ["aaaa", "abab", "banana", "\U0001F600\U0001F600 \U0001F600\U0001F600"]
)
def test_greedy_leftmost_nonoverlapping(spark, word):
    # the trained merge list == the spec's on overlap traps and astral text
    df = spark.createDataFrame([(word,)], "text string")
    got = bpe.train_bpe(df, num_merges=3, min_pair_count=1)
    want = _spec_merges(Counter(bpe._py_words(word)), 3, min_pair_count=1)
    assert got == want


def test_bpe_cli_train_and_encode(spark, tmp_path, count_jobs):
    """main.py bpe: train writes the merges JSON (equal to the spec),
    encode round-trips it onto the corpus; each mode keeps its Spark job
    budget."""
    import contextlib
    import io as _io
    import json

    from qamd_spark import main as qmain

    mjson = str(tmp_path / "merges.json")
    out = str(tmp_path / "enc")
    with contextlib.redirect_stdout(_io.StringIO()) as s:
        rc, jobs, escaped = count_jobs(lambda: qmain.main(
            ["bpe", "--input", DOCS, "--output", mjson, "--merges", "15"]))
    assert rc == 0 and json.loads(s.getvalue())["n_merges"] == 15
    assert jobs <= 3 and escaped == 0
    got = [tuple(m) for m in json.load(open(mjson))["merges"]]
    assert got == _spec_merges(_wc_pdf(), num_merges=15)

    with contextlib.redirect_stdout(_io.StringIO()) as s:
        rc, jobs, escaped = count_jobs(lambda: qmain.main(
            ["bpe", "--mode", "encode", "--input", DOCS,
             "--merges-file", mjson, "--output", out]))
    assert rc == 0 and jobs <= 2 and escaped == 0
    enc = spark.read.parquet(out)
    assert "bpe_tokens" in enc.columns
    assert json.loads(s.getvalue())["rows"] == enc.count()
    ranks = {(a, b): i for i, (a, b, _) in enumerate(got)}
    r = enc.orderBy("doc_id").limit(1).collect()[0]
    want = []
    for w in bpe._py_words(r["text"]):
        want.extend(bpe.encode_word(w, ranks))
    assert list(r["bpe_tokens"]) == want


def test_vocabulary_over_cap_is_refused(spark, tmp_path, monkeypatch):
    """Above MAX_DISTINCT_WORDS the histogram is refused after cap + 1
    rows: ``qamd bpe`` exits with the message and writes nothing, and
    ``train_unigram`` raises without training."""
    from qamd_spark import main as qmain

    monkeypatch.setattr(bpe, "MAX_DISTINCT_WORDS", 5)
    mjson = tmp_path / "merges.json"
    with pytest.raises(SystemExit, match="more than 5 distinct words"):
        qmain.main(["bpe", "--input", DOCS, "--output", str(mjson)])
    assert not mjson.exists()

    df = spark.read.parquet(DOCS)
    collected = []
    collect = type(df).collect
    monkeypatch.setattr(
        type(df), "collect",
        lambda self: collected.append(len(rows := collect(self))) or rows,
    )
    monkeypatch.setattr(ug, "train_unigram_py", lambda *a: pytest.fail("trained"))
    with pytest.raises(ValueError, match="more than 5 distinct words"):
        ug.train_unigram(df)
    assert collected == [6]  # the corpus has more words; only cap + 1 came


# ---------------------------------------------------------------- unigram LM
from qamd_spark.ops import unigram as ug  # noqa: E402


def test_unigram_train_matches_python_twin_exactly(spark, count_jobs):
    """Training from the DataFrame (counts AND log-probs) must be
    bit-identical to the trainer over the pandas-built histogram, in
    the Spark jobs of the one histogram pass whatever ``iters`` is."""
    df = spark.read.parquet(DOCS)
    got, jobs, escaped = count_jobs(
        lambda: ug.train_unigram(df, vocab_size=120, seed_size=400, iters=2)
    )
    assert jobs <= 2 and escaped == 0
    want = ug.train_unigram_py(_wc_pdf(), vocab_size=120, seed_size=400, iters=2)
    assert got == want
    assert all(c > 0 for _, c, _ in got)
    # output order is the documented (count desc, piece asc) total order
    assert got == sorted(got, key=lambda r: (-r[1], r[0]))


def test_unigram_train_partitioning_invariant(spark):
    """Repartitioning the corpus must not change the trained pieces
    (integer counts + deterministic tie-breaks everywhere)."""
    df = spark.read.parquet(DOCS)
    a = ug.train_unigram(df, vocab_size=100, seed_size=300, iters=2)
    b = ug.train_unigram(
        df.repartition(13), vocab_size=100, seed_size=300, iters=2
    )
    assert a == b


def test_unigram_captures_planted_pattern(spark):
    """A corpus dominated by one repeated multi-char pattern must learn
    that pattern as a top piece (the point of the unigram LM: frequent
    substrings beat characters)."""
    rows = [("abcabcabc zz",)] * 50 + [("qq abcabc",)] * 10
    df = spark.createDataFrame(rows, "text string")
    pieces = ug.train_unigram(df, vocab_size=40, seed_size=200, iters=2)
    vocab = {p for p, _, _ in pieces}
    assert "abcabc" in vocab or "abc" in vocab
    top = pieces[0][0]
    assert len(top) > 1  # a multi-char piece wins, not a character


def test_unigram_viterbi_properties():
    """Viterbi: concatenation restores the word; unsegmentable words
    pass through whole; longer-piece tie-break is deterministic."""
    lp = ug._logp_from_counts({"ab": 4, "a": 2, "b": 2, "abab": 4})
    assert "".join(ug.viterbi_segment("ababab", lp, 6)) == "ababab"
    assert ug.viterbi_segment("xyz", lp, 6) == ["xyz"]  # unsegmentable
    # 'abab' as one piece beats 'ab'+'ab' (P(abab) > P(ab)^2)
    assert ug.viterbi_segment("abab", lp, 6) == ["abab"]
