"""Training-data ops: dedup (minhash/simhash/jaccard), text analysis."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from qamd_spark.ops import dedup, text as text_ops

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def near_dup_docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog while the sun sets "
        "behind the hills and the river keeps flowing toward the quiet sea "
        "every morning the baker opens the shop"
    )
    rows = [
        (0, base),
        (1, base),  # exact dup
        (2, base.replace("quiet sea", "silent sea")),  # near dup
        (3, "completely different text about trains and stations and maps"),
        (4, "another unrelated document mentioning gardens and patience"),
        (5, base.replace("every morning", "each morning")),  # near dup
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_finds_near_dups(near_dup_docs):
    out = {r["doc_id"]: r["dup_of"] for r in dedup.minhash_duplicates(near_dup_docs).collect()}
    assert out.get(1) == 0  # exact dup caught
    assert out.get(2) == 0  # near dup caught
    assert out.get(5) == 0
    assert 3 not in out and 4 not in out  # unrelated not flagged


def test_minhash_deterministic(near_dup_docs):
    a = sorted(map(tuple, dedup.minhash_duplicates(near_dup_docs).collect()))
    b = sorted(map(tuple, dedup.minhash_duplicates(near_dup_docs.repartition(4)).collect()))
    assert a == b


def test_simhash_hamming_near(near_dup_docs, spark):
    sig = {r["doc_id"]: r["simhash"] for r in dedup.simhash_signatures(near_dup_docs).collect()}
    assert sig[0] == sig[1]  # identical text → identical simhash
    ham_near = bin(sig[0] ^ sig[2]).count("1")
    ham_far = bin(sig[0] ^ sig[3]).count("1")
    assert ham_near < ham_far
    assert ham_near <= 8


def test_ngram_jaccard(near_dup_docs, spark):
    cand = spark.createDataFrame([(0, 1), (0, 2), (0, 3)], "a long, b long")
    j = {(r["a"], r["b"]): r["jaccard"] for r in
         dedup.ngram_jaccard_pairs(near_dup_docs, cand).collect()}
    assert j[(0, 1)] == 1.0
    assert 0.7 < j[(0, 2)] < 1.0
    assert j[(0, 3)] < 0.05


def test_text_profile(spark):
    df = spark.createDataFrame(
        [(1, "Hello WORLD 42!!"), (2, ""), (3, None),
         (4, "a normal english sentence with reasonable words inside it")],
        "id long, text string",
    )
    out = {
        r["id"]: r
        for r in df.select(
            "id",
            text_ops.punct_ratio(F.col("text")).alias("punct_ratio"),
            text_ops.quality_score(F.col("text")).alias("quality"),
        ).collect()
    }
    assert out[1]["punct_ratio"] > 0.1
    assert out[2]["punct_ratio"] == 0.0 and out[3]["punct_ratio"] == 0.0
    assert out[4]["quality"] == 1.0
    assert out[2]["quality"] == 0.0


def test_conv_features_grouped_map(spark):
    from qamd_spark.ops import conversation as cv

    rows = [
        ("c1", 0, "user", "hi"),
        ("c1", 1, "assistant", "hello"),
        ("c1", 2, "assistant", ""),
        ("c1", 3, "user", "bye"),
        ("c2", 0, "user", "solo"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string, text string")
    out = {r["conv_id"]: r for r in cv.conv_features(df).collect()}
    c1 = out["c1"]
    assert c1["n_turns"] == 4 and c1["n_roles"] == 2
    assert c1["alternation_ratio"] == 2 / 3  # u->a, a->a, a->u
    assert c1["empty_ratio"] == 0.25
    c2 = out["c2"]
    assert c2["n_turns"] == 1 and c2["alternation_ratio"] == 0.0
    # order independence: shuffled input gives identical features
    out2 = {r["conv_id"]: r for r in cv.conv_features(df.orderBy(F.rand(7))).collect()}
    assert {k: tuple(v) for k, v in out.items()} == {k: tuple(v) for k, v in out2.items()}


def test_conv_features_null_roles_match_sql_convention(spark):
    """NULL-role alternation follows SQL (`role <> lag(role)` is NULL →
    not a switch): transitions to/from NULL roles are skipped while the
    denominator stays n-1, and the DuckDB window-lag twin agrees."""
    import duckdb
    from qamd_spark.ops import conversation as cv

    rows = [
        ("c1", 0, "user", "a"),
        ("c1", 1, None, "b"),       # user->NULL: not a switch
        ("c1", 2, "assistant", "c"),  # NULL->assistant: not a switch
        ("c1", 3, "user", "d"),     # assistant->user: switch
        ("c2", 0, None, "x"),
        ("c2", 1, None, "y"),       # NULL->NULL: not a switch
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string"
    )
    got = {r["conv_id"]: r for r in cv.conv_features(df).collect()}
    assert got["c1"]["alternation_ratio"] == 1 / 3
    assert got["c1"]["n_roles"] == 2  # distinct NON-NULL roles
    assert got["c2"]["alternation_ratio"] == 0.0
    assert got["c2"]["n_roles"] == 0
    con = duckdb.connect()
    con.register("t", df.toPandas())
    want = con.execute(
        """
        WITH l AS (
          SELECT conv_id, role,
                 lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev
          FROM t)
        SELECT conv_id,
               CASE WHEN count(*) > 1 THEN
                 sum(CASE WHEN role <> prev THEN 1 ELSE 0 END)::DOUBLE
                 / (count(*) - 1)
               ELSE 0.0 END AS alt,
               count(DISTINCT role)::INT AS n_roles
        FROM l GROUP BY conv_id
        """
    ).fetchdf()
    for _, row in want.iterrows():
        assert got[row["conv_id"]]["alternation_ratio"] == row["alt"]
        assert got[row["conv_id"]]["n_roles"] == row["n_roles"]


def test_winnow_rejects_window_wider_than_kgram(spark):
    """w > k could read past the k-1 masked inter-doc gap in the packed
    batch (batch-composition-dependent fingerprints) — rejected outright."""
    from qamd_spark.ops import text as tx

    df = spark.createDataFrame([(0, "hello world")], "doc_id long, text string")
    with pytest.raises(Exception, match="w <= k"):
        tx.winnow_fingerprints(df, k=4, w=6).collect()
    # boundary w == k is allowed
    assert tx.winnow_fingerprints(df, k=4, w=4).count() > 0


def test_grouped_topk_ties_match_row_number(spark):
    """Tie-heavy randomized case: many equal scores per group — the
    two-phase top-k must select and rank EXACTLY like SQL row_number()
    (score desc, id asc), which pandas emulates here."""
    import random

    import pandas as pd
    from qamd_spark.ops import text as tx

    rng = random.Random(7)
    rows = [
        (f"g{rng.randrange(5)}", i, float(rng.randrange(4)))  # scores 0..3 — heavy ties
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "grp string, id long, score double")
    got = (
        tx.grouped_topk(df, "grp", "score", "id", 7)
        .toPandas()
        .sort_values(["grp", "rank"])
        .reset_index(drop=True)
    )
    pdf = pd.DataFrame(rows, columns=["grp", "id", "score"])
    pdf = pdf.sort_values(["grp", "score", "id"], ascending=[True, False, True])
    pdf["rank"] = pdf.groupby("grp").cumcount() + 1
    want = (
        pdf[pdf["rank"] <= 7][["grp", "id", "score", "rank"]]
        .sort_values(["grp", "rank"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    for c in ["grp", "id", "score", "rank"]:
        assert (got[c].to_numpy() == want[c].to_numpy()).all(), c


# ---------------------------------------------------------------- gopher
def _brute_ngram_stats(text, n):
    """Brute-force reference for the sorted-run folds: dict gram -> count."""
    t = (text or "").strip()
    words = t.lower().split(" ") if t else []
    grams = [
        " ".join(words[i : i + n]) for i in range(len(words) - n + 1)
    ] if len(words) >= n else []
    counts = {}
    for g in grams:
        counts[g] = counts.get(g, 0) + 1
    top = max((c * len(g) for g, c in counts.items()), default=0)
    dup = sum(c * len(g) for g, c in counts.items() if c >= 2)
    return top, dup


def test_gopher_repetition_folds_match_bruteforce(spark):
    texts = [
        "",
        None,
        "one",
        "a b a b a b a b a b",                  # pure bigram loop
        "x y z x y z x y z q",                  # trigram repeats
        " ".join(f"w{i}" for i in range(60)),   # all unique, long enough
        "r r r r r r r r",                      # single-token run
        "aa bb aa bb cc aa bb aa bb cc dd aa bb aa bb cc",
        "p q " * 40 + "tail",                   # long repetitive + break
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    sig = text_ops.repetition_signals(F.col("text"))
    w = text_ops.words_array(F.col("text"))
    rows = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            text_ops.top_ngram_chars(text_ops.word_ngrams(w, 2)).alias("t2"),
            text_ops.top_ngram_chars(text_ops.word_ngrams(w, 3)).alias("t3"),
            text_ops.dup_ngram_chars(text_ops.word_ngrams(w, 5)).alias("d5"),
            sig["dup5gram_frac"].alias("d5f"),
            sig["repetition_keep"].alias("keep"),
        ).collect()
    }
    for i, t in enumerate(texts):
        t2, _ = _brute_ngram_stats(t, 2)
        t3, _ = _brute_ngram_stats(t, 3)
        _, d5 = _brute_ngram_stats(t, 5)
        assert rows[i]["t2"] == t2, (i, t)
        assert rows[i]["t3"] == t3, (i, t)
        assert rows[i]["d5"] == d5, (i, t)
    # the pure bigram loop must fail the gate; the all-unique doc must pass
    assert not rows[3]["keep"]
    assert rows[5]["keep"]
    # dup fraction can exceed 1 on overlapping repeats — documented behavior
    assert rows[3]["d5f"] > 1.0


def test_token_budget_sample_matches_single_window(spark):
    """Two-phase chunked prefix sum == the naive global-window
    formulation, on data with a deliberately hot group; budget boundary
    is inclusive (cum <= B) and straddling rows are excluded."""
    from pyspark.sql import Window

    from qamd_spark.ops.sampling import token_budget_sample

    rows = [(i, "hot" if i % 10 else "cold", 7 + (i % 13)) for i in range(3000)]
    df = spark.createDataFrame(rows, "id long, grp string, w int")
    budget = 400
    got = (
        token_budget_sample(df, "grp", "id", "w", budget)
        .toPandas()
        .sort_values(["grp", "id"])
        .reset_index(drop=True)
    )
    # naive single-window reference (fine at test scale)
    h = F.md5(F.concat(F.col("id").cast("string"), F.lit(":s")))
    win = (
        Window.partitionBy("grp")
        .orderBy("_h", "id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = (
        df.withColumn("_h", h)
        .withColumn("cum", F.sum(F.col("w").cast("long")).over(win))
        .filter(F.col("cum") <= budget)
        .select("grp", "id", F.col("w").cast("long").alias("w"),
                F.col("cum").alias("cum_weight"))
        .toPandas()
        .sort_values(["grp", "id"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    for c in ["grp", "id", "w", "cum_weight"]:
        assert (got[c].to_numpy() == want[c].to_numpy()).all(), c
    assert got["cum_weight"].max() <= budget
    # the raw-row window must partition by (group, chunk), never group alone
    plan = token_budget_sample(df, "grp", "id", "w", budget)._jdf.queryExecution() \
        .executedPlan().toString()
    import re as _re
    for m in _re.finditer(r"Window \[sum\(_w\)[^\]]*partitionBy=\[([^\]]*)\]", plan):
        assert "_chunk" in m.group(1), plan[:2000]


def test_span_dedup_keep_first_and_reassembly(spark):
    # docs 1 and 2 share the aligned span "a b c"; doc 3 repeats it twice
    # internally; doc 4 is NULL text; doc 5 is whitespace-only.
    rows = [
        (1, "a b c x y z"),          # keeper of "a b c"; "x y z" unique
        (2, "a b c q r s"),          # loses its first span
        (3, "a b c a b c"),          # loses both (span 0 lost to doc 1)
        (4, None),
        (5, "   "),
        (6, "p q"),                  # short doc -> single partial span
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in dedup.span_dedup(d, span_tokens=3).collect()
    }
    assert out[1]["clean_text"] == "a b c x y z"
    assert out[1]["n_spans"] == 2 and out[1]["n_removed"] == 0
    assert out[2]["clean_text"] == "q r s"
    assert out[2]["n_spans"] == 2 and out[2]["n_removed"] == 1
    assert out[3]["clean_text"] == ""
    assert out[3]["n_spans"] == 2 and out[3]["n_removed"] == 2
    for empty_id in (4, 5):
        assert out[empty_id]["clean_text"] == ""
        assert out[empty_id]["n_spans"] == 0
        assert out[empty_id]["n_removed"] == 0
    assert out[6]["clean_text"] == "p q"  # partial trailing span kept
    assert out[6]["n_spans"] == 1 and out[6]["n_removed"] == 0


def test_span_dedup_collapses_space_runs_and_validates(spark):
    d = spark.createDataFrame([(1, "a  b   c d")], ["doc_id", "text"])
    row = dedup.span_dedup(d, span_tokens=2).collect()[0]
    assert row["clean_text"] == "a b c d" and row["n_spans"] == 2
    with pytest.raises(ValueError):
        dedup.span_dedup(d, span_tokens=0)


def test_substr_dedup_catches_shifted_duplicates(spark):
    # The 5-token phrase is ALIGNED in doc 1 (start 0) but SHIFTED by two
    # tokens in doc 2 — span_dedup's aligned chunks miss it; the sliding
    # windows must remove exactly the phrase tokens from doc 2.
    phrase = "the quick brown fox jumps"
    rows = [
        (1, phrase + " over it"),          # keeper (first occurrence)
        (2, "u v " + phrase + " w"),       # shifted duplicate
        (3, "and now something else five"),  # unique 5-token doc
        (4, None),
        (5, "too short"),                  # n < W -> no windows at all
        (6, phrase + " x " + phrase),      # internal repeat, both lost
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    aligned = {
        r["doc_id"]: r for r in dedup.span_dedup(d, span_tokens=5).collect()
    }
    assert aligned[2]["n_removed"] == 0  # the aligned pass misses it
    out = {
        r["doc_id"]: r
        for r in dedup.substr_dedup(d, window_tokens=5).collect()
    }
    assert out[1]["clean_text"] == phrase + " over it"
    assert out[1]["n_removed"] == 0 and out[1]["n_dropped_windows"] == 0
    assert out[2]["clean_text"] == "u v w"
    assert out[2]["n_removed"] == 5 and out[2]["n_dropped_windows"] == 1
    assert out[3]["n_removed"] == 0 and out[3]["n_tokens"] == 5
    assert out[4]["clean_text"] == "" and out[4]["n_tokens"] == 0
    assert out[5]["clean_text"] == "too short"  # below W: kept verbatim
    assert out[5]["n_dropped_windows"] == 0
    # doc 6: both phrase occurrences (starts 0 and 6) duplicate doc 1's
    # keeper; the separator token between the covered intervals survives
    assert out[6]["clean_text"] == "x" and out[6]["n_removed"] == 10
    assert out[6]["n_dropped_windows"] == 2
    with pytest.raises(ValueError):
        dedup.substr_dedup(d, window_tokens=0)


def test_encoding_profile_repairs_planted_damage_and_matches_duckdb(spark):
    import duckdb
    import pandas as pd

    import __spark_entry__ as E

    orig = "mix " + text_ops.MOJIBAKE_TARGETS + " end"
    damaged = orig.encode("utf-8").decode("cp1252")
    assert damaged != orig
    rows = [
        (1, damaged),
        (2, "zero​width﻿ and ctrl\x07 \x1f"),
        (3, "replacement � char"),
        (4, None),
        (5, "plain"),
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    d = spark.createDataFrame(pdf)
    out = {r["doc_id"]: r for r in text_ops.encoding_profile(d).collect()}
    assert out[1]["fixed_text"] == orig
    assert out[1]["was_damaged"]
    assert out[1]["mojibake_hits"] == len(text_ops.MOJIBAKE_MAP)
    assert out[2]["n_zero_width"] == 2 and out[2]["n_ctrl"] == 2
    assert out[3]["n_replacement"] == 1
    assert out[4]["fixed_text"] == "" and out[4]["nonascii_frac"] == 0.0
    assert not out[5]["was_damaged"] and out[5]["mojibake_hits"] == 0
    # engine parity on the PLANTED rows: the sf* documents corpus is
    # encoding-clean, so the driver-gate twin only proves the no-damage
    # path — this pins the repair path across Spark and DuckDB too
    con = duckdb.connect()
    con.register("documents", pdf)
    dk = (
        con.sql(E._encoding_profile_sql())
        .df()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    sp = (
        text_ops.encoding_profile(d)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(sp, dk[sp.columns], check_dtype=False)


def test_line_filter_c4_semantics(spark):
    """C4 defaults: terminal punctuation required, >= 5 words, banned
    'javascript' lines dropped, 'lorem ipsum'/'{' page-drop the doc."""
    from qamd_spark.ops.text import line_filter_cols

    rows = [
        (1, "This is a perfectly good sentence.\nshort line\n"
            "Please enable javascript to view this page.\n"
            "Another wholly acceptable sentence appears right here!"),
        (2, "A fine long sentence that ends with terminal punctuation.\n"
            "this one has five words but no terminal punctuation"),
        (3, "Lorem ipsum dolor sit amet consectetur adipiscing elit."),
        (4, "function f() { return 1; } is code but long enough honestly."),
        (5, None),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    cols = line_filter_cols(F.col("text"))
    out = {
        r["doc_id"]: r
        for r in d.select("doc_id", *[v.alias(k) for k, v in cols.items()]).collect()
    }
    # doc 1: 4 lines; 'short line' (<5 words, no terminal) and the
    # javascript line are dropped, 2 survive
    assert out[1]["n_lines"] == 4 and out[1]["n_kept"] == 2
    assert out[1]["kept_text"] == (
        "This is a perfectly good sentence.\n"
        "Another wholly acceptable sentence appears right here!"
    )
    assert out[1]["doc_keep"]
    # doc 2: the unterminated line is dropped
    assert out[2]["n_kept"] == 1 and out[2]["doc_keep"]
    # doc 3: 'lorem ipsum' is banned at BOTH line and page level
    assert out[3]["n_kept"] == 0 and out[3]["page_drop"] and not out[3]["doc_keep"]
    # doc 4: '{' page-drops
    assert out[4]["page_drop"] and not out[4]["doc_keep"]
    # doc 5: null text -> one empty line, nothing kept
    assert out[5]["n_kept"] == 0 and not out[5]["doc_keep"]


def test_luhn_cards_known_numbers(spark):
    """Known Luhn-valid test numbers pass; off-by-one checksum, too-short
    and too-long runs are rejected; separators are tolerated. The JVM
    fold agrees with the pure-Python twin on every candidate."""
    from qamd_spark.rules.pii import luhn_candidates, luhn_valid, luhn_valid_py

    rows = [
        (1, "pay 4111111111111111 now"),          # valid visa test number
        (2, "pay 4111 1111 1111 1111 now"),       # spaced, valid
        (3, "pay 4111-1111-1111-1112 now"),       # checksum off by one
        (4, "ref 123456789012 done"),             # 12 digits: too short
        (5, "id 12345678901234567890 end"),       # 20 digits: too long
        (6, "amex 378282246310005 ok"),           # 15-digit amex test number
        (7, "no digits at all"),
        (8, "5500 0000 0000 0004 and 4111111111111111"),  # two valid
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r["cards"]
        for r in d.select(
            "doc_id",
            F.filter(luhn_candidates(F.col("text")), luhn_valid).alias("cards"),
        ).collect()
    }
    assert out[1] == ["4111111111111111"]
    assert out[2] == ["4111 1111 1111 1111"]
    assert out[3] == [] and out[4] == [] and out[5] == [] and out[7] == []
    assert out[6] == ["378282246310005"]
    assert out[8] == ["5500 0000 0000 0004", "4111111111111111"]
    # python twin agrees on every raw candidate string
    for cand, expect in [
        ("4111111111111111", True),
        ("4111 1111 1111 1111", True),
        ("4111-1111-1111-1112", False),
        ("123456789012", False),
        ("12345678901234567890", False),
        ("378282246310005", True),
        ("5500 0000 0000 0004", True),
    ]:
        assert luhn_valid_py(cand) is expect, cand


def test_line_filter_and_luhn_plans_are_shuffle_free(spark):
    """Both new operators must stay one codegen-fused projection:
    no Exchange, no Python stage in the plan."""
    import __spark_entry__ as E

    for q in (E.q_line_filter, E.q_pii_luhn):
        plan = q(spark, SF)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:2000]
        for bad in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
            assert bad not in plan


def test_pack_sequences_invariants_and_partition_invariance(spark):
    """Concat-and-chunk packing: the laid-out stream is contiguous (each
    doc starts where the previous ends), offsets stay inside the block,
    span arithmetic is consistent, and the result is invariant to input
    partitioning (the two-phase prefix sum is deterministic)."""
    from qamd_spark.ops.sampling import pack_sequences

    d = spark.read.parquet(f"{SF}/documents.parquet")
    L = 512
    out = pack_sequences(d, "doc_id", "n_chars", seq_len=L).toPandas()
    out = out.sort_values("start_tok").reset_index(drop=True)
    assert len(out) == d.count()
    assert out["doc_id"].is_unique
    # contiguity: each start is the previous start + previous weight
    starts = out["start_tok"].to_numpy()
    ws = out["n_chars"].to_numpy()
    assert starts[0] == 0
    assert (starts[1:] == starts[:-1] + ws[:-1]).all()
    # block arithmetic
    assert (out["offset_in_pack"].to_numpy() == starts % L).all()
    assert (out["pack_first"].to_numpy() == starts // L).all()
    last = starts + np.maximum(ws, 1) - 1
    assert (out["pack_last"].to_numpy() == last // L).all()
    assert (
        out["n_packs_spanned"].to_numpy()
        == last // L - starts // L + 1
    ).all()
    # partition invariance
    out2 = (
        pack_sequences(d.repartition(7), "doc_id", "n_chars", seq_len=L)
        .toPandas()
        .sort_values("start_tok")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(out, out2)


def test_script_profile_argmax_branches(spark):
    from qamd_spark.ops.text import script_profile

    rows = [
        (1, "hello world"),
        (2, "привет мир"),
        (3, "你好世界"),
        (4, "хорошо 你好你好你好"),                # 6 han ties 6 cyr → han
        (5, "12345 !!!"),                          # no script at all
        (6, None),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in script_profile(d).collect()}
    assert out[1]["script_guess"] == "latin" and out[1]["n_latin"] == 10
    assert out[2]["script_guess"] == "cyrillic" and out[2]["n_cyrillic"] == 9
    assert out[3]["script_guess"] == "han" and out[3]["n_han"] == 4
    assert out[4]["n_han"] == 6 and out[4]["n_cyrillic"] == 6
    assert out[4]["script_guess"] == "han"  # tie resolves han-first
    assert out[5]["script_guess"] == "none" and out[5]["latin_frac"] == 0.0
    assert out[6]["n_chars_total"] == 0 and out[6]["script_guess"] == "none"


def test_mix_weights_math_and_missing_target(spark):
    from qamd_spark.ops.sampling import mix_weights

    d = spark.createDataFrame(
        [(1, "en", 300), (2, "en", 100), (3, "de", 400), (4, "xx", 200)],
        "doc_id long, lang string, n_chars long",
    )
    out = {
        r["lang"]: r
        for r in mix_weights(
            d, "lang", "n_chars", {"en": 0.5, "de": 0.5}
        ).collect()
    }
    assert out["en"]["actual_share"] == 0.4 and out["en"]["w_sum"] == 400
    assert out["en"]["mix_weight"] == 0.5 * 1000 / 400
    assert out["de"]["mix_weight"] == 0.5 * 1000 / 400
    assert out["xx"]["target_share"] == 0.0 and out["xx"]["mix_weight"] == 0.0


def test_corpus_diff_statuses(spark):
    from qamd_spark.ops.dedup import corpus_diff

    a = spark.createDataFrame(
        [(1, "same"), (2, "old"), (3, "gone"), (4, None)],
        "doc_id long, text string",
    )
    b = spark.createDataFrame(
        [(1, "same"), (2, "new"), (5, "brand new"), (4, None)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["status"] for r in corpus_diff(a, b).collect()}
    assert out == {
        1: "unchanged", 2: "changed", 3: "removed", 5: "added", 4: "unchanged"
    }


def test_ngram_contamination_planted(spark):
    """Exactly-13-shared-words contaminates; 12 shared words does not;
    short docs report zero grams and no contamination."""
    from qamd_spark.ops.dedup import ngram_contamination

    bench_sent = "one two three four five six seven eight nine ten eleven twelve thirteen"
    bench = spark.createDataFrame(
        [(100, f"prefix words {bench_sent} suffix words")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (1, f"unrelated lead-in {bench_sent} and a different tail"),  # 13 shared
            (2, "one two three four five six seven eight nine ten eleven twelve"
                " XX padding words to reach thirteen total here"),        # only 12
            (3, "too short"),
            (4, "completely different words that never appear in the benchmark"
                " corpus at all not even once truly"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in ngram_contamination(train, bench, n=13).collect()}
    assert out[1]["contaminated"] and out[1]["n_overlap"] >= 1
    assert not out[2]["contaminated"]
    assert out[3]["n_grams"] == 0 and not out[3]["contaminated"]
    assert not out[4]["contaminated"]
    assert set(out) == {1, 2, 3, 4}


def test_line_dedup_keep_first_semantics(spark):
    from qamd_spark.ops.text import line_dedup_cols

    rows = [
        (1, "boiler\ncontent one\nboiler\ncontent two\nboiler"),
        (2, "a\na\na\na"),
        (3, "unique one\nunique two"),
        (4, None),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    c = line_dedup_cols(F.col("text"))
    out = {
        r["doc_id"]: r
        for r in d.select("doc_id", *[v.alias(k) for k, v in c.items()]).collect()
    }
    assert out[1]["kept_text"] == "boiler\ncontent one\ncontent two"
    assert out[1]["n_removed"] == 2
    assert out[2]["kept_text"] == "a" and out[2]["n_removed"] == 3
    assert out[3]["n_removed"] == 0
    assert out[4]["kept_text"] == "" and out[4]["n_removed"] == 0
    # shuffle-free, Python-free plan
    plan = (
        d.select(*[v.alias(k) for k, v in line_dedup_cols(F.col("text")).items()])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan and "Python" not in plan


def test_sketch_profile_errors_bounded(spark):
    """HLL++ (rsd 5%) and DataSketches HLL (lgK=12, ~1.6% typical) must
    land near the exact per-source distinct counts."""
    import __spark_entry__ as E

    rows = E.q_sketch_profile(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) > 0
    for r in rows:
        assert r["hllpp_rel_err"] <= 0.10, (r["source"], r["hllpp_rel_err"])
        assert r["ds_hll_rel_err"] <= 0.05, (r["source"], r["ds_hll_rel_err"])


def test_heavy_hitters_sketch_matches_exact_top(spark):
    """On a skewed stream the sketch's top items must be the exact top
    items with exact counts (approx_top_k is exact when the maintained
    map never evicts — the guarantee that matters for heavy hitters)."""
    from pyspark.sql import functions as F
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    got = {r["tok"]: r["est_count"] for r in E.q_heavy_hitters_sketch(spark, sf).collect()}
    exact = (
        spark.read.parquet(f"{sf}/documents.parquet")
        .select(F.explode(F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), r"\s+", -1)).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok").count()
        .orderBy(F.desc("count"), "tok")
        .limit(10)
        .collect()
    )
    for r in exact:
        assert got.get(r["tok"]) == r["count"], (r["tok"], r["count"], got.get(r["tok"]))


def test_ccnet_buckets_match_pandas_twin(spark):
    """ccnet_buckets: raw perplexity AND bucket labels bit-exact vs a
    pandas twin that shares the scorer (turnscore.score_pdf) and
    replicates Spark's exact-percentile interpolation
    (lo + frac * (hi - lo) at pos = p * (n-1))."""
    import math

    import pandas as pd

    import __spark_entry__ as E
    from qamd_spark import turnscore
    from qamd_spark.config import QamdConfig

    sf = "/root/testdata/sf0.001"
    got = (
        E.q_ccnet_buckets(spark, sf)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )

    docs = pd.read_parquet(f"{sf}/documents.parquet")
    pdf = pd.DataFrame(
        {
            "conv_id": docs["doc_id"].astype(str),
            "turn_idx": 0,
            "role": "user",
            "text": docs["text"],
            "tool": None,
            "ts": pd.NaT,
        }
    )
    scored = turnscore.score_pdf(pdf, QamdConfig())
    twin = pd.DataFrame(
        {
            "doc_id": scored["conv_id"].astype("int64"),
            "lang": scored["lang"],
            "perplexity": scored["perplexity"],
        }
    )

    def spark_pct(vals, p):
        v = sorted(vals)
        pos = p * (len(v) - 1)
        lo = math.floor(pos)
        hi = math.ceil(pos)
        if lo == hi:
            return v[lo]
        return v[lo] + (pos - lo) * (v[hi] - v[lo])

    cuts = {
        lang: (spark_pct(g["perplexity"], 1.0 / 3.0),
               spark_pct(g["perplexity"], 2.0 / 3.0))
        for lang, g in twin.groupby("lang")
    }
    twin["bucket"] = [
        "head" if p <= cuts[la][0] else ("middle" if p <= cuts[la][1] else "tail")
        for la, p in zip(twin["lang"], twin["perplexity"])
    ]
    twin = twin.sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got[["doc_id", "lang", "perplexity", "bucket"]], twin,
        check_dtype=False, atol=0, rtol=0,
    )
    # terciles: each lang's buckets split roughly in thirds
    share = got.groupby(["lang", "bucket"]).size() / got.groupby("lang").size()
    assert (share > 0.1).all(), share


# ------------------------------------------------------------ compression
def test_compression_profile_matches_pandas_twin(spark):
    """Spark compression_profile equals the pandas twin bit-for-bit —
    same zlib library, same level, ratio is one IEEE division of exact
    integer lengths (batch-invariant by construction)."""
    pdf = pd.DataFrame(
        {
            "doc_id": np.arange(6, dtype=np.int64),
            "text": [
                "ab" * 500,                      # highly repetitive
                "the quick brown fox jumps over the lazy dog",
                None,                            # null → empty
                "",                              # empty
                "x",                             # shorter than zlib header
                "mixed 123 !!! content with SOME entropy éé",
            ],
        }
    )
    sp = (
        text_ops.compression_profile(spark.createDataFrame(pdf))
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    tw = text_ops.compression_profile_pdf(pdf).sort_values("doc_id").reset_index(
        drop=True
    )
    assert (sp["n_bytes"].to_numpy() == tw["n_bytes"].to_numpy()).all()
    assert (sp["n_compressed"].to_numpy() == tw["n_compressed"].to_numpy()).all()
    a, b = sp["ratio"].to_numpy(float), tw["ratio"].to_numpy(float)
    assert np.array_equal(a, b, equal_nan=True)


def test_compression_profile_batch_invariant(spark):
    """Same rows through 1 partition vs 6 partitions → identical output
    (per-row kernel: no cross-row state to leak across Arrow batches)."""
    pdf = pd.DataFrame(
        {
            "doc_id": np.arange(12, dtype=np.int64),
            "text": [f"document {i} " + "filler " * (i % 5) for i in range(12)],
        }
    )
    one = (
        text_ops.compression_profile(spark.createDataFrame(pdf).coalesce(1))
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    many = (
        text_ops.compression_profile(spark.createDataFrame(pdf).repartition(6))
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(one, many)


def test_compression_flags_planted_damage(spark):
    """A pure repetition compresses under 0.3; an sha-hex-ish random
    string does not compress (ratio near 1); clean prose sits between."""
    import hashlib

    rand = "".join(
        hashlib.sha256(str(i).encode()).hexdigest() for i in range(40)
    )
    prose = (
        "A quality filter built on compressibility exploits a simple fact: "
        "natural prose carries steady novelty, so the deflate window keeps "
        "finding fresh material, while boilerplate repeats its own recent "
        "past and collapses toward nothing. Between those poles sit tables, "
        "logs, and templated pages, each with its own signature ratio."
    )
    rows = [
        (0, "spam " * 400),
        (1, rand),
        (2, prose),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in text_ops.compression_profile(df).collect()
    }
    assert out[0]["ratio"] < 0.3
    assert out[1]["ratio"] > 0.5  # hex of hashes barely compresses
    assert 0.3 < out[2]["ratio"] < 0.9


def test_spearman_signals_matches_pandas(spark):
    """q_spearman_signals vs pandas' own Spearman (average-rank ties) —
    an independent third implementation beyond the DuckDB twin."""
    import __spark_entry__ as E
    import pandas as pd

    sf = "/root/testdata/sf0.001"
    got = {
        r["source"]: (r["n_docs"], r["spearman_rho"])
        for r in E.q_spearman_signals(spark, sf).collect()
    }
    pdf = pd.read_parquet(f"{sf}/documents.parquet")
    pdf["x"] = pdf["text"].fillna("").str.len()
    pdf["y"] = pdf["text"].fillna("").str.split(" ").map(
        lambda ts: sum(1 for t in ts if t != "")
    )
    for src, g in pdf.groupby("source"):
        rx = g["x"].rank(method="average").to_numpy()
        ry = g["y"].rank(method="average").to_numpy()
        cx, cy = rx - rx.mean(), ry - ry.mean()
        rho = (cx * cy).sum() / np.sqrt((cx * cx).sum() * (cy * cy).sum())
        n, got_rho = got[src]
        assert n == len(g)
        assert abs(got_rho - rho) < 1e-12, (src, got_rho, rho)


def test_pava_antitonic_golden_and_properties():
    """Hand-computed golden: rates (1.0, .25, .5, 0) pool the middle
    violator pair into 3/8; mass preservation and monotonicity hold."""
    from __spark_entry__ import _pava_antitonic

    grid = [(0.0, 4, 4), (1.0, 4, 1), (2.0, 4, 2), (3.0, 4, 0)]
    fit = _pava_antitonic(grid)
    assert [(r[3], r[4]) for r in fit] == [(4, 4), (3, 8), (3, 8), (0, 4)]
    # monotone non-increasing via cross-multiplication
    for (a, b) in zip(fit, fit[1:]):
        assert a[3] * b[4] >= b[3] * a[4]
    # pool mass preservation: each pool's totals equal its member sums
    from itertools import groupby

    for (num, den), members in groupby(fit, key=lambda r: (r[3], r[4])):
        ms = list(members)
        assert sum(m[1] for m in ms) == den and sum(m[2] for m in ms) == num
    # fully-violating input collapses to one global pool
    up = [(0.0, 2, 0), (1.0, 2, 1), (2.0, 2, 2)]
    f2 = _pava_antitonic(up)
    assert {(r[3], r[4]) for r in f2} == {(3, 6)}
    # already-antitonic input is returned unchanged
    ok = [(0.0, 2, 2), (1.0, 2, 1), (2.0, 2, 0)]
    f3 = _pava_antitonic(ok)
    assert [(r[3], r[4]) for r in f3] == [(2, 2), (1, 2), (0, 2)]


def test_isotonic_calibrate_monotone_and_mass_preserving(spark):
    import __spark_entry__ as E

    rows = sorted(
        E.q_isotonic_calibrate(spark, "/root/testdata/sf0.001").collect(),
        key=lambda r: r["quality"],
    )
    assert len(rows) >= 3  # decoration spreads the lattice
    for a, b in zip(rows, rows[1:]):
        assert a["iso_num"] * b["iso_den"] >= b["iso_num"] * a["iso_den"]
    # total dup mass preserved by pooling: contiguous runs with the same
    # (iso_num, iso_den) cover k >= 1 whole pools, so member sums must be
    # exact multiples of the pool totals
    assert sum(r["n_dups"] for r in rows) > 0
    i = 0
    while i < len(rows):
        num, den = rows[i]["iso_num"], rows[i]["iso_den"]
        j = i
        sn = sh = 0
        while j < len(rows) and (rows[j]["iso_num"], rows[j]["iso_den"]) == (num, den):
            sn += rows[j]["n_docs"]
            sh += rows[j]["n_dups"]
            j += 1
        assert sn % den == 0 and sh == (sn // den) * num
        i = j
    for r in rows:
        assert r["iso_rate"] == r["iso_num"] / r["iso_den"]


def test_bootstrap_keep_statistics(spark):
    """Poisson(1) weights: each replicate's total weight is ~N (mean 1);
    the bootstrap rates bracket the point keep rate; everything is
    reproducible run-to-run (no RNG anywhere)."""
    from pyspark.sql import functions as F

    import __spark_entry__ as E
    from qamd_spark.ops import text as tx

    sf = "/root/testdata/sf0.001"
    rows = E.q_bootstrap_keep(spark, sf).collect()
    assert len(rows) == E.BOOT_B
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    n = docs.count()
    point = (
        docs.select(
            (tx.quality_score(F.coalesce(F.col("text"), F.lit(""))) >= 0.5)
            .cast("long")
            .alias("k")
        ).agg(F.sum("k")).collect()[0][0]
        / n
    )
    for r in rows:
        assert 0.8 * n <= r["sum_w"] <= 1.2 * n  # Poisson(1) total ~ N
    rates = sorted(r["rate"] for r in rows)
    assert rates[0] <= point <= rates[-1]  # band brackets the point est
    again = {int(r["b"]): r["rate"] for r in E.q_bootstrap_keep(spark, sf).collect()}
    assert again == {int(r["b"]): r["rate"] for r in rows}
