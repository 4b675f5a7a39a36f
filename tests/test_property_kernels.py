"""Property tests (hypothesis): the batch-vectorized kernels must equal
their per-doc reference formulations on arbitrary unicode input —
boundary conditions (empty strings, marker/separator bytes, multibyte
UTF-8, doc-packing edges) are exactly where reduceat/masking bugs live.
No Spark session needed: these pin the numpy kernels directly.
"""

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from qamd_spark.ops import dedup as dd

TEXTS = st.lists(
    st.one_of(
        st.none(),
        st.text(max_size=60),
        st.text(alphabet="ab \x01\x00çü日", max_size=30),
    ),
    min_size=0,
    max_size=12,
)


@settings(max_examples=60, deadline=None)
@given(TEXTS)
def test_batch_minhash_equals_per_doc(texts):
    tok_lists = [
        t.lower().split() if isinstance(t, str) and t else None for t in texts
    ]
    got = dd._batch_band_hashes(tok_lists)
    want = []
    for toks in tok_lists:
        if not toks:
            continue
        th = dd._token_hashes(toks)
        sig = dd._minhash_signature(dd._shingle_hashes_from_tokens(th))
        want.append(dd._band_hashes(sig).astype(np.int64))
    want = np.stack(want) if want else np.zeros((0, dd.N_BANDS), dtype=np.int64)
    assert got.shape == want.shape
    assert (got == want).all()


@settings(max_examples=60, deadline=None)
@given(TEXTS)
def test_batch_simhash_equals_per_doc(texts):
    tok_lists = [
        t.lower().split() if isinstance(t, str) and t else None for t in texts
    ]
    got = dd._batch_simhash(tok_lists)
    bit_positions = np.arange(64, dtype=np.uint64)
    bit_values = (np.uint64(1) << bit_positions).astype(np.uint64)
    for i, toks in enumerate(tok_lists):
        if not toks:
            assert got[i] == 0
            continue
        hs = dd._token_hashes(toks)
        bits = (hs[:, None] >> bit_positions[None, :]) & np.uint64(1)
        votes = (bits.astype(np.int64) * 2 - 1).sum(axis=0)
        want = np.int64(bit_values[votes > 0].sum(dtype=np.uint64))
        assert got[i] == want, (i, toks)


@settings(max_examples=60, deadline=None)
@given(TEXTS, TEXTS)
def test_batch_jaccard_equals_tuple_sets(ta, tb):
    m = min(len(ta), len(tb))
    ta, tb = ta[:m], tb[:m]
    got = dd._batch_jaccard(ta, tb, 3)
    for x, y, g in zip(ta, tb, got):
        sa, sb = dd._ngram_set(x, 3), dd._ngram_set(y, 3)
        u = len(sa | sb)
        want = len(sa & sb) / u if u else 1.0
        assert g == want, (x, y, g, want)


@settings(max_examples=60, deadline=None)
@given(TEXTS)
def test_batch_winnow_equals_per_doc(texts):
    from oracle import oracle
    from qamd_spark.ops import text as tx

    ridx, pos, fp = tx._winnow_batch(texts)
    got = pd.DataFrame({"doc_id": ridx, "pos": pos, "fp": fp})
    want = oracle.winnow_pdf(
        pd.DataFrame({"doc_id": np.arange(len(texts)), "text": texts})
    )
    got = got.sort_values(["doc_id", "pos"]).reset_index(drop=True)
    want = want.sort_values(["doc_id", "pos"]).reset_index(drop=True)
    assert len(got) == len(want)
    if len(got):
        assert (got["doc_id"].to_numpy() == want["doc_id"].to_numpy()).all()
        assert (got["pos"].to_numpy() == want["pos"].to_numpy()).all()
        assert (got["fp"].to_numpy() == want["fp"].to_numpy()).all()


def test_nul_extension_tokens_are_batch_independent():
    """Regression (hypothesis-found): pandas' categorize/factorize paths
    C-truncate at embedded NULs, so 'a' and 'a\\x00' sharing a batch used
    to hash identically (batch-composition-dependent results). Full-byte
    hashing must make every kernel independent of batch composition."""
    # token hashes: alone vs together
    together = dd._token_hashes(["\x08", "\x08\x00"])
    assert together[0] == dd._token_hashes(["\x08"])[0]
    assert together[1] == dd._token_hashes(["\x08\x00"])[0]
    assert together[0] != together[1]
    # simhash: per-doc equals batch for the falsifying example
    got = dd._batch_simhash([["\x08"], ["\x08\x00"]])
    alone = [dd._batch_simhash([["\x08"]])[0], dd._batch_simhash([["\x08\x00"]])[0]]
    assert got.tolist() == alone
    # jaccard: 'the' vs 'the\x00x' are DIFFERENT tokens
    j = dd._batch_jaccard(["the a b", "the\x00x a b"], ["the\x00x a b", "the\x00x a b"], 3)
    assert j[0] == 0.0 and j[1] == 1.0
    # stopword stats: 'the\x00x' must NOT count as the stopword 'the',
    # regardless of whether bare 'the' shares the batch
    import pandas as pd

    from qamd_spark import turnscore

    sw = frozenset(["the"])
    frac_mixed, _, _, _ = turnscore._token_stats(
        pd.Series(["the", "the\x00x"]), sw
    )
    frac_alone, _, _, _ = turnscore._token_stats(pd.Series(["the\x00x"]), sw)
    assert frac_mixed[1] == frac_alone[0] == 0.0
    assert frac_mixed[0] == 1.0


@settings(max_examples=80, deadline=None)
@given(TEXTS)
def test_token_stats_equals_naive_per_row(texts):
    """turnscore._token_stats (marker-joined batch split + factorize +
    reduceat + lexsort machinery) must equal a naive per-row Python
    reference for every row: QAMD split-on-single-space semantics, empty
    tokens from consecutive spaces, stopword/OOV membership on full
    strings, mode-of-nonempty repetition."""
    from qamd_spark import turnscore

    stop = frozenset(["the", "a", "ab"])
    vocab = frozenset(["the", "a", "b", "ab"])
    norm = pd.Series(texts, dtype=object)
    frac, allstop, rep, oov = turnscore._token_stats(norm, stop, vocab)
    for i, v in enumerate(texts):
        v = v if isinstance(v, str) else ""
        toks = v.split(" ")
        if v == "":
            assert frac[i] == 0.0 and not allstop[i] and rep[i] == 0.0 and oov[i] == 0.0
            continue
        nstop = sum(t in stop for t in toks)
        assert frac[i] == nstop / len(toks), (v, frac[i])
        assert allstop[i] == (nstop == len(toks))
        assert oov[i] == sum(t not in vocab for t in toks) / len(toks)
        ne = [t for t in toks if t != ""]
        want_rep = (max(ne.count(t) for t in set(ne)) / len(ne)) if ne else 0.0
        assert rep[i] == want_rep, (v, rep[i], want_rep)


SCRUB_TEXTS = st.lists(
    st.one_of(
        st.none(),
        st.text(max_size=50),
        st.text(alphabet="ab @.0-9çü fraktz ", max_size=40),
        st.just("mail a.b@c.de and 077 1234 5678 plus 123-45-6789"),
        st.just("fraktz! x@y.io"),
    ),
    min_size=0,
    max_size=10,
)


@settings(max_examples=60, deadline=None)
@given(SCRUB_TEXTS)
def test_scrub_megastring_equals_rowwise(texts):
    """The megastring scrub (one regex pass over the \\x00-joined batch,
    byte-level candidate prefilters) must be character-identical to
    sequential per-row subn for arbitrary input."""
    from qamd_spark.rules import pii

    prof = pii.profanity_pattern(["fraktz", "blorgak"])
    s = pd.Series(texts, dtype=object)
    got_txt, got_hits, got_prof = pii.scrub_series(s, None, prof)
    # rowwise reference, built the same way scrub_series builds its passes
    values = ["" if not isinstance(t, str) else t for t in texts]
    passes = list(pii.PII_PATTERNS) + [("__profanity__", prof, "<PROFANITY>")]
    ref_txt, ref_hits, ref_prof = pii._scrub_series_rowwise(
        s, list(values), passes, s.notna()
    )
    assert list(got_txt.fillna("<N>")) == list(ref_txt.fillna("<N>"))
    assert [list(x) for x in got_hits] == [list(x) for x in ref_hits]
    assert (got_prof == ref_prof).all()


@settings(max_examples=60, deadline=None)
@given(TEXTS)
def test_dsir_batch_kernels_equal_per_doc(texts):
    """Batch DSIR kernels == naive per-doc formulations on arbitrary
    unicode input: corpus counts are the sum of single-doc counts, and
    batch scores equal scoring each doc alone (the separator masking
    and the bincount doc segmentation are exactly where packing bugs
    would live — including \\xff-adjacent multibyte UTF-8)."""
    from qamd_spark.ops import sampling as smp

    batch = smp.dsir_corpus_counts(texts)
    per_doc = np.zeros(smp.DSIR_DIM, dtype=np.int64)
    for t in texts:
        per_doc += smp.dsir_corpus_counts([t])
    assert (batch == per_doc).all()

    lam = smp.dsir_lambda(per_doc, smp.default_target_counts())
    n_b, w_b = smp.dsir_score_batch(texts, lam)
    for i, t in enumerate(texts):
        n_1, w_1 = smp.dsir_score_batch([t], lam)
        assert n_b[i] == n_1[0]
        assert w_b[i] == w_1[0]  # bit-exact, not approx


@settings(max_examples=40, deadline=None)
@given(st.lists(st.integers(min_value=-2**62, max_value=2**62), max_size=20),
       st.integers(min_value=0, max_value=2**31))
def test_gumbel_keys_deterministic_and_finite(ids, salt):
    """SplitMix64-Gumbel noise: pure function of (id, salt), always
    finite, and salt-sensitive on nonempty input."""
    from qamd_spark.ops import sampling as smp

    arr = np.array(ids, dtype=np.int64)
    a = smp.gumbel_keys(arr, salt)
    b = smp.gumbel_keys(arr, salt)
    assert (a == b).all()
    assert np.isfinite(a).all()
