"""Semantic tests for the continuation-3 curation batch: char entropy,
truncation audit, dialog acts, pseudonymization, winsorized stats, and
bigram diversity.  The cross-engine exactness gate lives in
test_entry_contract.py (auto-parameterized over oracle_sql()); these pin
the SEMANTICS on crafted inputs where the expected values are hand-
computable."""

import math

import pytest

import __spark_entry__ as entry


def _write_docs(spark, path, rows):
    """rows: list of (doc_id, text, source).  Schema matches the driver's
    documents table so the q_* functions run unchanged."""
    spark.createDataFrame(
        [(i, t, "en", s, len(t) if t is not None else 0) for i, t, s in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/documents.parquet")


@pytest.fixture(scope="module")
def crafted(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("curx"))
    _write_docs(
        spark,
        d,
        [
            # doc_id chosen to dodge every stamp residue used by
            # truncation_scan (%3==0, %13==5, %17==7) and dialog_acts
            # (%7==2, %5==1, %11==3) unless a stamp is the point.
            (4, "aaaa", "s0"),          # zero entropy
            (7, "abab", "s0"),          # 1 bit/char entropy
            (13, "abcd", "s0"),         # 2 bits/char entropy
            (22, "", "s0"),             # empty -> 0 entropy, n_cp 0
            (49, "stopped mid sentence with", "s1"),   # no terminal char
            (94, "a clean full sentence.", "s1"),      # terminal '.'
            (56, "see the code ```python", "s1"),      # open fence
            (59, "here is the fix: ```", "s1"),        # cut AT the fence
            (64, "mismatched ( parens here.", "s1"),   # unbalanced
        ],
    )
    return d


def test_char_entropy_known_values(spark, crafted):
    got = {
        r["doc_id"]: r.asDict()
        for r in entry.q_char_entropy(spark, crafted).collect()
    }
    assert got[4]["entropy_bits"] == 0.0 and got[4]["n_cp"] == 4
    assert got[7]["entropy_bits"] == 1.0
    assert got[13]["entropy_bits"] == 2.0
    assert got[22]["entropy_bits"] == 0.0 and got[22]["n_cp"] == 0
    # entropy is bounded by log2(alphabet) for every doc
    for r in got.values():
        if r["n_cp"]:
            assert 0.0 <= r["entropy_bits"] <= math.log2(max(r["n_cp"], 2))


def test_truncation_scan_branches(spark, crafted):
    got = {
        r["doc_id"]: r.asDict()
        for r in entry.q_truncation_scan(spark, crafted).collect()
    }
    # 49: ends in a word, long enough? no (25 chars) — but dangling 'with'
    assert got[49]["no_terminal"] and got[49]["dangling_word"]
    assert got[49]["truncated"]
    # 94: clean terminal punctuation
    assert not got[94]["no_terminal"] and not got[94]["truncated"]
    # 56: one ``` -> open fence (and no terminal char)
    assert got[56]["open_fence"] and got[56]["truncated"]
    # 59: generation cut right AT the fence — last char '`' is terminal,
    # but the unclosed fence alone must flag truncation
    assert got[59]["open_fence"] and not got[59]["no_terminal"]
    assert got[59]["truncated"]
    # 64: '(' without ')' but ends '.' -> unbalanced yet not truncated
    assert got[64]["unbalanced_paren"] and not got[64]["truncated"]


def test_dialog_acts_classification(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("acts"))
    # doc_ids dodge the stamp residues (%7==2, %5==1, %11==3)
    _write_docs(
        spark,
        d,
        [
            (0, "what is the capital of france", "user"),
            (5, "ends with a question mark?", "user"),
            (10, "please list the options", "user"),
            (20, "that is amazing!", "assistant"),
            (15, "a plain statement of fact.", "assistant"),
            (40, "", "assistant"),
        ],
    )
    got = {
        (r["role"], r["act"]): r["n_turns"]
        for r in entry.q_dialog_acts(spark, d).collect()
    }
    assert got[("user", "question")] == 2
    assert got[("user", "command")] == 1
    assert got[("assistant", "exclaim")] == 1
    assert got[("assistant", "statement")] == 1
    assert got[("assistant", "empty")] == 1


def test_pseudonymize_deterministic_and_injective(spark, crafted):
    a = {r["conv_id"]: r.asDict() for r in entry.q_pseudonymize(spark, crafted).collect()}
    b = {r["conv_id"]: r.asDict() for r in entry.q_pseudonymize(spark, crafted).collect()}
    assert a == b  # same pepper + id -> same pseudonym, across runs
    for r in a.values():
        assert r["n_sharing_pseudo"] == 1
        assert len(r["pseudo_id"]) == 16
        int(r["pseudo_id"], 16)  # hex prefix of sha256


def test_winsorized_mean_ignores_outlier(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("wins"))
    # 19 docs of length ~100 and one 10^6 outlier: nearest-rank p95 of
    # n=20 is the 19th order statistic, so the outlier is clamped to the
    # largest normal length and the winsorized mean stays ~100.
    rows = [(i, "x" * (95 + i % 10), "s") for i in range(19)]
    rows.append((19, "y" * 1_000_000, "s"))
    _write_docs(spark, d, rows)
    [r] = entry.q_winsorized_stats(spark, d).collect()
    assert r["n"] == 20
    assert r["lo"] == 95          # k05 = ceil(20/20) = 1 -> min value
    assert r["hi"] == 104         # k95 = ceil(19*20/20) = 19 -> 19th stat
    assert r["winsorized_mean"] < 110  # raw mean would be ~50_000


def test_bigram_diversity_counts(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("bgd"))
    _write_docs(
        spark,
        d,
        [
            (0, "a b a b", "s0"),   # bigrams: ab, ba, ab -> 3 total 2 distinct
            (1, "c c c", "s0"),     # cc, cc -> 2 total 1 distinct
            (2, "one", "s0"),       # single token -> filtered out
            (3, "", "s0"),          # empty -> filtered out
        ],
    )
    [r] = entry.q_bigram_diversity(spark, d).collect()
    assert r["n_bigrams"] == 5 and r["n_distinct"] == 3
    assert r["distinct2"] == 3 / 5


def test_truncation_scan_plan_is_shuffle_free(spark):
    plan = (
        entry.q_truncation_scan(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan  # pure projection: scan-parallel
    assert "Python" not in plan    # codegen only, no UDF stage


SF = "/root/testdata/sf0.001"


def test_levenshtein_neardup_planted_mutants(spark):
    pairs = {
        (r["a"], r["b"]): r["lev"]
        for r in entry.q_levenshtein_neardup(spark, SF).collect()
    }
    assert pairs  # the planted mutants guarantee hits
    # every planted (id, id+100000) pair that survives the length filter
    # must be found at the branch's known distance bound
    bound = {0: 3, 1: 2, 2: 1, 3: 0}  # append ' xx' / drop 2 / sub 1 / exact
    found_planted = 0
    for (a, b), lev in pairs.items():
        if b == a + 100000 and a % 3 == 0:
            assert lev <= bound[a % 4], (a, lev)
            found_planted += 1
    assert found_planted > 20
    assert all(lev <= 5 for lev in pairs.values())


def test_bidi_scan_stamped_branches(spark):
    got = {
        r["doc_id"]: r.asDict() for r in entry.q_bidi_scan(spark, SF).collect()
    }
    # doc 24 (%23==1): RLO + 'evil', never popped -> unterminated
    assert got[24]["n_override_push"] == 1 and got[24]["n_override_pop"] == 0
    assert got[24]["unterminated"]
    # doc 60 (%29==2, no other stamp): balanced LRE..PDF -> clean
    assert got[60]["n_override_push"] == 1 and got[60]["n_override_pop"] == 1
    assert not got[60]["unterminated"]
    # doc 65 (%31==3, no other stamp): LRI never popped -> unterminated
    assert got[65]["n_isolate_push"] == 1 and got[65]["n_isolate_pop"] == 0
    assert got[65]["unterminated"]
    # an unstamped ASCII doc carries zero bidi controls
    assert got[5]["n_bidi"] == 0 and not got[5]["unterminated"]


def test_shuffle_quality_partition_and_bounds(spark):
    rows = entry.q_shuffle_quality(spark, SF).collect()
    assert len(rows) == 16
    assert sum(r["n_rows"] for r in rows) == 500
    for r in rows:
        assert r["chi2_e6"] >= 0
        assert r["n_rows"] > 0


def test_bidi_scan_plan_is_shuffle_free(spark):
    plan = (
        entry.q_bidi_scan(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_lcs_kernel_matches_classic_dp():
    import random

    from oracle.oracle import lcs_len_py
    from qamd_spark.ops.text import lcs_len_np

    rng = random.Random(7)
    for _ in range(300):
        a = [rng.choice("abcdef") for _ in range(rng.randint(0, 40))]
        b = [rng.choice("abcdef") for _ in range(rng.randint(0, 40))]
        assert lcs_len_np(a, b) == lcs_len_py(a, b), (a, b)
    # goldens
    assert lcs_len_np([], ["a"]) == 0
    assert lcs_len_np(list("abcbdab"), list("bdcaba")) == 4  # CLRS example
    assert lcs_len_np(["x"] * 5, ["x"] * 3) == 3


def test_response_rouge_l_crafted_pair(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("rougel"))
    # doc_id 0 -> (conv 0, turn 0) prompt; doc_id 97 -> (conv 0, turn 1)
    _write_docs(
        spark,
        d,
        [
            (0, "the quick brown fox", "user"),
            (97, "the brown fox jumps", "assistant"),
        ],
    )
    [r] = entry.q_response_rouge_l(spark, d).collect()
    assert (r["conv"], r["turn_idx"]) == (0, 0)
    assert r["n_prompt"] == 4 and r["n_resp"] == 4
    assert r["lcs"] == 3  # the, brown, fox (in order)
    assert r["rouge_l_f1"] == 2 * 3 / 8


def test_response_rouge_l_bounds(spark):
    for r in entry.q_response_rouge_l(spark, SF).collect():
        assert 0 <= r["lcs"] <= min(r["n_prompt"], r["n_resp"])
        assert 0.0 <= r["rouge_l_f1"] <= 1.0


def test_source_vocab_overlap_crafted(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("svo"))
    _write_docs(
        spark,
        d,
        [
            (0, "alpha beta gamma", "s0"),
            (1, "beta gamma delta", "s1"),
            (2, "omega", "s2"),
        ],
    )
    rows = {
        (r["source_a"], r["source_b"]): r
        for r in entry.q_source_vocab_overlap(spark, d).collect()
    }
    r = rows[("s0", "s1")]
    assert (r["n_a"], r["n_b"], r["n_common"]) == (3, 3, 2)
    assert r["jaccard"] == 2 / 4
    # zero-overlap pairs are absent by construction
    assert ("s0", "s2") not in rows and ("s1", "s2") not in rows


def test_ngram_entropy_relations(spark):
    for r in entry.q_ngram_entropy(spark, SF).collect():
        # conditioning can only reduce entropy; both terms bounded by
        # log2 of the population
        assert r["cond_entropy"] >= -1e-6
        assert r["h_first"] <= r["h_bigram"] + 1e-6
        assert r["h_bigram"] <= math.log2(r["n_bg"]) + 1e-6


def test_entropy_secrets_planted(spark):
    got = {
        r["doc_id"]: r.asDict()
        for r in entry.q_entropy_secrets(spark, SF).collect()
    }
    # doc 4 (%13==4): md5-hex stamp -> one long token, high entropy
    assert got[4]["n_long_tokens"] >= 1 and got[4]["n_high_entropy"] >= 1
    assert got[4]["max_entropy"] >= 3.0  # 32 hex chars over 16 symbols
    # doc 9 (%17==9, %13!=4): 24*'a' -> long token but zero entropy
    assert got[9]["n_long_tokens"] >= 1 and got[9]["n_high_entropy"] == 0
    assert got[9]["max_entropy"] == 0.0
    # an unstamped doc of prose words carries no key-shaped tokens
    assert got[1]["n_long_tokens"] == 0 and got[1]["max_entropy"] == 0.0


def test_chunk_anomaly_invariants(spark):
    rows = entry.q_chunk_anomaly(spark, SF).collect()
    assert rows
    for r in rows:
        assert r["worst_mean_p_e6"] <= r["best_mean_p_e6"]
        assert r["spread_e6"] == r["best_mean_p_e6"] - r["worst_mean_p_e6"]
        assert r["n_chunks_scored"] >= 1
        assert r["worst_chunk_idx"] >= 0
        assert 0 <= r["worst_mean_p_e6"] <= 1_000_000


def test_dedup_transitivity_consistency(spark):
    [r] = entry.q_dedup_transitivity(spark, SF).collect()
    assert r["n_open"] == r["n_wedge_pairs"] - r["n_closed"]
    assert 0 <= r["n_closed"] <= r["n_wedge_pairs"]
    assert 0.0 <= r["closure_rate"] <= 1.0
    # the exact-dup planted pairs (a%4==3 mutants) guarantee wedges exist
    assert r["n_pairs"] > 0


def test_degree_assortativity_bounds_and_symmetry(spark):
    [r] = entry.q_degree_assortativity(spark, SF).collect()
    assert -1.0 <= r["assortativity"] <= 1.0
    # both orientations of every undirected edge are sampled
    assert r["n_samples"] % 2 == 0 and r["n_samples"] > 0


def test_length_gini_known_cases(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("gini"))
    rows = [(i, "x" * 100, "equal") for i in range(10)]          # Gini 0
    rows += [(100, "", "onehas"), (101, "", "onehas"),
             (102, "y" * 400, "onehas"), (103, "", "onehas")]    # 1 of 4
    _write_docs(spark, d, rows)
    got = {r["source"]: r for r in entry.q_length_gini(spark, d).collect()}
    assert got["equal"]["gini"] == 0.0
    # one holder of everything among n=4: G = (n-1)/n = 0.75
    assert got["onehas"]["gini"] == 0.75
    for r in got.values():
        assert 0.0 <= r["gini"] <= 1.0


def test_mix_weights_langid_exact_twin_and_zh_reachable(spark):
    """Exact pandas twin of q_mix_weights_langid on sf0.001 (shared
    scorer, identical plant, identical left-to-right float ops) + the
    r3 VERDICT item-3 semantic: the zh mix bucket is populated from
    langid OUTPUT, not the metadata column."""
    import pandas as pd

    from qamd_spark import corpora, ngram

    got = {
        r["lid"]: r.asDict()
        for r in entry.q_mix_weights_langid(spark, SF).collect()
    }
    pdf = pd.read_parquet(f"{SF}/documents.parquet")
    zh_lines = [ln for ln in corpora.ZH.split("\n") if ln.strip()]
    text = pdf.apply(
        lambda r: zh_lines[int(r["doc_id"]) % len(zh_lines)]
        if r["lang"] == "zh"
        else (r["text"] if isinstance(r["text"], str) else ""),
        axis=1,
    )
    langs, _m, _p = ngram.score_texts(text.tolist())
    tw = pd.DataFrame({"lid": langs, "w": text.str.len().astype("int64")})
    agg = tw.groupby("lid").agg(n_rows=("w", "size"), w_sum=("w", "sum"))
    w_total = int(agg["w_sum"].sum())
    from __spark_entry__ import MIX_TARGETS

    assert set(got) == set(agg.index)
    for lid, row in agg.iterrows():
        g = got[lid]
        assert g["n_rows"] == int(row["n_rows"])
        assert g["w_sum"] == int(row["w_sum"])
        assert g["actual_share"] == float(row["w_sum"]) / float(w_total)
        t = float(MIX_TARGETS.get(lid, 0.0))
        assert g["target_share"] == t
        assert g["mix_weight"] == t * float(w_total) / float(row["w_sum"])
    # zh reachable from the MODEL: every metadata-zh row got planted zh
    # prose and the scorer labeled it zh
    n_meta_zh = int((pdf["lang"] == "zh").sum())
    assert n_meta_zh > 0
    assert got["zh"]["n_rows"] == n_meta_zh
    assert got["zh"]["mix_weight"] > 0.0


def test_cjk_token_count_hand_computed(spark, tmp_path_factory):
    """Crafted mixed-script rows with hand-computed expecteds: char-per-
    token for Han/kana/Hangul, CJK punctuation stripped like whitespace,
    Latin tokens by single-space split."""
    d = str(tmp_path_factory.mktemp("cjk"))
    rows = [
        (0, "hello world", "en"),                  # 2 latin, 0 cjk
        (1, "你好世界", "en"),                      # 0 latin, 4 han
        (2, "mix 你好 end", "en"),                  # 2 latin, 2 han
        (3, "こんにちは、世界。", "en"),              # 0 latin, 7 cjk (5 kana + 2 han), punct stripped
        (4, "안녕 하세요", "en"),                    # 0 latin, 5 hangul (space-separated but char-counted)
        (5, "", "en"),                             # all zero, frac 0
    ]
    spark.createDataFrame(
        [(i, t, lg, "s", len(t)) for i, t, lg in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    got = {r["doc_id"]: r.asDict() for r in entry.q_cjk_token_count(spark, d).collect()}
    want = {
        0: (0, 2, 2), 1: (4, 0, 4), 2: (2, 2, 4),
        3: (7, 0, 7), 4: (5, 0, 5), 5: (0, 0, 0),
    }
    for i, (cjk, lat, est) in want.items():
        g = got[i]
        assert (g["n_cjk_chars"], g["n_latin_tokens"], g["n_tokens_est"]) == (
            cjk, lat, est
        ), (i, g)
        assert g["cjk_frac"] == (cjk / est if est else 0.0)
    # the whitespace-undercount the operator exists to correct: doc 1
    # is ONE \s+ token but FOUR budget tokens
    assert got[1]["n_tokens_est"] == 4


def test_heaps_law_planted_regimes(spark, tmp_path_factory):
    """Planted vocabulary-growth regimes: a corpus of pure repetition
    (one phrase everywhere) collapses beta toward 0; a corpus of
    globally-unique tokens pushes beta toward 1; checkpoints are
    monotone and the last row holds corpus totals."""
    d1 = str(tmp_path_factory.mktemp("heaps_dup"))
    rows = [(i, "the same ten words repeated in every single planted doc",
             "s") for i in range(100)]
    _write_docs(spark, d1, rows)
    out = sorted(
        (r["k"], r["cum_tokens"], r["cum_vocab"], r["beta"])
        for r in entry.q_heaps_law(spark, d1).collect()
    )
    assert out[-1][1] == 100 * 10 and out[-1][2] == 10
    assert out[0][3] == 0.0  # vocabulary saturates in decile 0 => slope 0
    toks_seen, vocab_seen = zip(*[(t, v) for _, t, v, _ in out])
    assert list(toks_seen) == sorted(toks_seen)
    assert list(vocab_seen) == sorted(vocab_seen)

    d2 = str(tmp_path_factory.mktemp("heaps_uniq"))
    rows = [(i, " ".join(f"tok{i:03d}x{j}" for j in range(10)), "s")
            for i in range(100)]
    _write_docs(spark, d2, rows)
    out2 = {r["k"]: r for r in entry.q_heaps_law(spark, d2).collect()}
    assert out2[9]["cum_vocab"] == 1000
    beta = out2[0]["beta"]
    assert 0.99 <= beta <= 1.01  # every token new => V(n) = n


def test_source_dup_affinity_hand_computed(spark, tmp_path_factory):
    """Crafted cross-source sharing with hand-computed affinities.
    doc_ids avoid %31==0 so the boilerplate plant stays out of the
    arithmetic (except doc 62, planted on purpose)."""
    d = str(tmp_path_factory.mktemp("affin"))
    rows = [
        (1, "alpha", "s1"), (2, "beta", "s1"), (3, "gamma", "s1"),
        (4, "alpha", "s2"), (5, "beta", "s2"), (6, "delta", "s2"),
        (7, "alpha", "s3"), (8, "unique", "s3"),
        (62, "ignored original", "s3"),  # %31==0 -> boilerplate plant
    ]
    _write_docs(spark, d, rows)
    got = {
        (r["source_a"], r["source_b"]): r.asDict()
        for r in entry.q_source_dup_affinity(spark, d).collect()
    }
    # s1={alpha,beta,gamma} s2={alpha,beta,delta} s3={alpha,unique,boiler}
    g12 = got[("s1", "s2")]
    assert g12["n_shared"] == 2 and g12["n_a"] == 3 and g12["n_b"] == 3
    assert g12["affinity"] == 2 / 4
    g13 = got[("s1", "s3")]
    assert g13["n_shared"] == 1 and g13["affinity"] == 1 / 5
    g23 = got[("s2", "s3")]
    assert g23["n_shared"] == 1 and g23["affinity"] == 1 / 5


def test_role_alternation_overlapping_runs(spark, tmp_path_factory):
    """Hand-computed alternation audit incl. the overlap case a
    replace()-count would get wrong: a UUU run = 2 double-user
    violations. Conversations are derived doc_id%97 / doc_id//97, so
    conv c's turn t comes from doc_id = t*97 + c, and the U/A/T initial
    is doc_id%3."""
    d = str(tmp_path_factory.mktemp("alt"))
    # conv 0: turns 0..4 -> doc_ids 0,97,194,291,388 -> ids%3 = 0,1,2,0,1
    #         pattern "UATUA": starts U, ends A, no doubles -> ok
    # conv 3: turns 0..2 -> doc_ids 3,100,197 -> %3 = 0,1,2 -> "UAT":
    #         ends 'T' -> not ends_assistant -> not ok
    # conv 6: turns 0..3 -> doc_ids 6,103,200,297 -> %3 = 0,1,2,0 ->
    #         "UATU": ends U -> not ok
    ids = [0, 97, 194, 291, 388, 3, 100, 197, 6, 103, 200, 297]
    rows = [(i, f"text {i}", "s") for i in ids]
    _write_docs(spark, d, rows)
    got = {r["conv"]: r.asDict() for r in entry.q_role_alternation(spark, d).collect()}
    assert got[0]["n_turns"] == 5 and got[0]["alternation_ok"]
    assert got[0]["n_double_user"] == 0 and got[0]["n_double_assistant"] == 0
    assert got[3]["n_turns"] == 3 and not got[3]["ends_assistant"]
    assert not got[3]["alternation_ok"]
    assert got[6]["n_turns"] == 4 and not got[6]["alternation_ok"]

    # overlap case: conv 5 with turns whose initials are U,U,U,A
    # (%3==0 -> doc_id ≡ 0 mod 3 AND ≡ 5 mod 97; t*97+5 ≡ 0 mod 3 for
    # t ≡ 1 mod 3 -> turns 1,4,7 give U; turn 0 from doc_id 5 -> %3=2 'T')
    d2 = str(tmp_path_factory.mktemp("alt2"))
    # construct directly: conv 5, turns 0..3 = doc_ids 5,102,199,296
    # %3 = 2,0,1,2 -> "TUAT". Instead craft a pure-UUUA conv: need four
    # doc_ids ≡ c mod 97 with %3 pattern 0,0,0,1. doc_id = t*97 + c;
    # choose c=1: t=0->1(%3=1 A)... choose c=2: ids 2,99,196,293 ->
    # %3 = 2,0,1,2. Use c=33: 33(0),130(1),227(2),324(0). Solve instead
    # with stride: %3 of t*97+c cycles (c, c+1, c+2) mod 3 since 97≡1.
    # A 'UUU' prefix therefore needs non-consecutive turns: turns
    # 0,3,6,9 all have the SAME residue -> c=3 gives U,U,U,U at turns
    # 0,3,6,9 -> pattern 'UUUU': n_double_user = 3 (overlap count).
    ids2 = [3, 3 * 97 + 3, 6 * 97 + 3, 9 * 97 + 3]
    _write_docs(spark, d2, [(i, "t", "s") for i in ids2])
    got2 = {r["conv"]: r.asDict() for r in entry.q_role_alternation(spark, d2).collect()}
    assert got2[3]["n_turns"] == 4
    assert got2[3]["n_double_user"] == 3  # UUUU -> three overlapping UU
    assert not got2[3]["alternation_ok"]
