"""Exact-equality oracles for the deterministic hash operators.

These upgrade the driver's rows-only checks (minhash_dedup, simhash,
ngram_jaccard, langid_docs) to full value-exact verification: the Spark
shuffle/join plans must reproduce the pure-pandas twins bit-for-bit
(same shared numpy kernels, independently re-implemented cross-doc
logic — see oracle/oracle.py).
"""

import numpy as np
import pandas as pd
import pytest

from oracle import oracle
from pyspark.sql import functions as F
from qamd_spark.ops import dedup as dd

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs_pdf():
    return pd.read_parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def _sorted(df, cols):
    return df[cols].sort_values(cols).reset_index(drop=True)


def test_minhash_duplicates_match_pandas_twin(spark, docs_df, docs_pdf):
    got = _sorted(dd.minhash_duplicates(docs_df).toPandas(), ["doc_id", "dup_of"])
    want = _sorted(oracle.minhash_duplicates_pdf(docs_pdf), ["doc_id", "dup_of"])
    assert len(got) > 0  # sf0.001 contains injected near-dups
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_simhash_matches_pandas_twin(spark, docs_df, docs_pdf):
    got = _sorted(dd.simhash_signatures(docs_df).toPandas(), ["doc_id", "simhash"])
    want = _sorted(oracle.simhash_pdf(docs_pdf), ["doc_id", "simhash"])
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_ngram_jaccard_matches_pandas_twin(spark, docs_df, docs_pdf):
    from pyspark.sql import functions as F

    cand_df = dd.minhash_duplicates(docs_df).select(
        F.col("dup_of").alias("a"), F.col("doc_id").alias("b")
    )
    got = _sorted(
        dd.ngram_jaccard_pairs(docs_df, cand_df).toPandas(), ["a", "b", "jaccard"]
    )
    cand_pdf = got[["a", "b"]]
    want = oracle.ngram_jaccard_pdf(docs_pdf, cand_pdf)
    assert len(got) > 0
    # jaccard is an exact small-int division — must be bit-identical
    assert (got["jaccard"].to_numpy() == want["jaccard"].to_numpy()).all()


def test_langid_perplexity_match_shared_scorer(spark, docs_pdf):
    """q_langid_docs (Spark mapInPandas over the shared turnscore kernel)
    must equal running the same scorer single-node on pandas input."""
    import __spark_entry__ as E
    from qamd_spark import turnscore
    from qamd_spark.config import QamdConfig

    got = (
        E.q_langid_docs(spark, SF)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    tp = pd.DataFrame(
        {
            "conv_id": docs_pdf["doc_id"].astype(str),
            "turn_idx": np.int32(0),
            "role": "user",
            "text": docs_pdf["text"],
            "tool": None,
            "ts": pd.NaT,
        }
    )
    scored = turnscore.score_pdf(tp, QamdConfig())
    want = pd.DataFrame(
        {
            "doc_id": scored["conv_id"],
            "lang": scored["lang"],
            "ppl": scored["perplexity"].round(6),
        }
    ).sort_values("doc_id").reset_index(drop=True)
    got["doc_id"] = got["doc_id"].astype(str)
    assert (got["lang"].to_numpy() == want["lang"].to_numpy()).all()
    assert (got["ppl"].to_numpy() == want["ppl"].to_numpy()).all()


def test_simhash_neardups_match_pandas_twin(spark, docs_df, docs_pdf):
    got = _sorted(
        dd.simhash_neardups(docs_df).toPandas(), ["doc_id", "dup_of", "hamming"]
    )
    want = _sorted(
        oracle.simhash_neardups_pdf(docs_pdf), ["doc_id", "dup_of", "hamming"]
    )
    assert len(got) > 0  # injected near-dups at sf0.001
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_simhash_neardups_recall_on_near_identical(spark):
    """Constructed ground truth: pairs differing in 1 of 80 tokens are
    Hamming-near w.h.p.; unrelated random-vocab docs are far. Verified
    against exact n-gram Jaccard as the quality baseline."""
    import random

    rng = random.Random(13)
    vocab = [f"w{i:03d}" for i in range(400)]
    rows = []
    n_pairs = 30
    for i in range(n_pairs):
        toks = [rng.choice(vocab) for _ in range(80)]
        rows.append((2 * i, " ".join(toks)))
        mut = list(toks)
        mut[rng.randrange(80)] = rng.choice(vocab)
        rows.append((2 * i + 1, " ".join(mut)))
    for j in range(100):  # unrelated background docs
        rows.append((1000 + j, " ".join(rng.choice(vocab) for _ in range(80))))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = dd.simhash_neardups(df, max_hamming=3).toPandas()
    found = {(r.dup_of, r.doc_id) for r in got.itertuples()}
    planted = {(2 * i, 2 * i + 1) for i in range(n_pairs)}
    recall = len(found & planted) / n_pairs
    assert recall >= 0.6, (recall, sorted(found)[:10])
    # precision vs exact Jaccard: every reported pair must actually be
    # similar (no random-pair false positives)
    pdf = df.toPandas()
    jac = oracle.ngram_jaccard_pdf(
        pdf, pd.DataFrame({"a": [a for a, _ in found], "b": [b for _, b in found]})
    )
    assert (jac["jaccard"] > 0.5).all(), jac[jac["jaccard"] <= 0.5]


def test_winnow_fingerprints_match_pandas_twin(spark, docs_df, docs_pdf):
    from qamd_spark.ops import text as tx

    got = _sorted(
        tx.winnow_fingerprints(docs_df).toPandas(), ["doc_id", "pos", "fp"]
    )
    want = _sorted(oracle.winnow_pdf(docs_pdf), ["doc_id", "pos", "fp"])
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_winnow_guarantee_shared_substring(spark):
    """Winnowing guarantee: documents sharing a substring of length
    >= w + k - 1 share at least one (fp) fingerprint."""
    from qamd_spark.ops import text as tx

    shared = "the quick brown fox jumps over the lazy dog"
    rows = [
        (1, "PREFIX one " + shared + " SUFFIX alpha"),
        (2, "totally different lead-in " + shared + " and another tail"),
        (3, "no overlap here at all with anything interesting"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fp = tx.winnow_fingerprints(df).toPandas()
    s1 = set(fp[fp.doc_id == 1]["fp"])
    s2 = set(fp[fp.doc_id == 2]["fp"])
    s3 = set(fp[fp.doc_id == 3]["fp"])
    assert s1 & s2
    assert not (s1 & s3) and not (s2 & s3)


def test_simhash_neardups_survive_bucket_min_crowding(spark):
    """Planted crowd-out scenario (r2 ADVICE): B and C are hamming-1
    neighbors, but a far-away smaller-id doc A shares EVERY chunk bucket
    where B and C collide. The r2 min-per-bucket resolution verified B
    and C only against A (both fail) and silently missed B–C; the bounded
    top-P resolution must surface it — and the pandas twin must agree
    bit-for-bit."""
    A = 0xFFFF  # chunk0 = 0xFFFF, chunks 1-3 = 0  -> hamming(A, B) = 16
    B = 0x0000  # all chunks 0
    C = B ^ 1   # differs from B only in bit 0 (chunk0); shares chunks 1-3
    sigs_rows = [(0, A), (10, B), (11, C)]
    sigs = spark.createDataFrame(sigs_rows, "doc_id long, simhash long")
    got = _sorted(
        dd.simhash_neardups_from_sigs(sigs, max_hamming=3).toPandas(),
        ["doc_id", "dup_of", "hamming"],
    )
    assert [(r.doc_id, r.dup_of, r.hamming) for r in got.itertuples()] == [
        (11, 10, 1)
    ], got
    want = _sorted(
        oracle.simhash_neardups_from_sigs_pdf(
            pd.DataFrame({"doc_id": [0, 10, 11], "simhash": [A, B, C]})
        ),
        ["doc_id", "dup_of", "hamming"],
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_winnow_containment_matches_pandas_twin(spark, docs_df, docs_pdf):
    from qamd_spark.ops import text as tx

    cols = ["doc_id", "src_of", "shared_fp", "containment", "containment_src"]
    got = _sorted(tx.winnow_containment(docs_df).toPandas(), cols)
    want = _sorted(oracle.winnow_containment_pdf(docs_pdf), cols)
    assert len(got) > 0  # sf0.001 contains injected near-dups
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_winnow_containment_finds_shared_substring(spark):
    """SIGMOD'03 guarantee, end-to-end: a long substring planted into an
    otherwise-unrelated document must surface as a containment pair with
    the source doc, with containment fraction reflecting the overlap;
    unrelated docs must not pair."""
    from qamd_spark.ops import text as tx

    shared = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (0, "source document padding text. " + shared + " trailing content here."),
        (1, "zxqvj wkpfy mmbbg hhnnd rrttc zzqqx jjkkw vvbbn ccxxz qqwwe"),
        (2, "novel prefix material " + shared + " and a different ending part"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = tx.winnow_containment(df, min_shared=2).toPandas()
    pairs = {(r.doc_id, r.src_of) for r in out.itertuples()}
    assert (2, 0) in pairs, out
    assert all(p[1] != 1 and p[0] != 1 for p in pairs), out
    row = out[(out["doc_id"] == 2) & (out["src_of"] == 0)].iloc[0]
    assert row["shared_fp"] >= 2
    assert 0.1 < row["containment"] <= 1.0


def test_duplicate_clusters_match_union_find_twin(spark, docs_df, docs_pdf):
    got = _sorted(
        dd.duplicate_clusters(dd.minhash_duplicates(docs_df)).toPandas(),
        ["doc_id", "cluster_id"],
    )
    want = _sorted(
        oracle.clusters_pdf(oracle.minhash_duplicates_pdf(docs_pdf)),
        ["doc_id", "cluster_id"],
    )
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_duplicate_clusters_resolve_chains(spark):
    """Keep-first pairs form chains (C->B, B->A); the transitive closure
    must label every chained doc with the component minimum, across
    multiple components, including a long path (exercises the
    pointer-jumping iterations)."""
    chain = [(i + 1, i) for i in range(12)]          # path 0-1-...-12
    pairs = chain + [(21, 20), (23, 21), (40, 35)]   # two more components
    df = spark.createDataFrame(pairs, "doc_id long, dup_of long")
    got = {
        r.doc_id: r.cluster_id
        for r in dd.duplicate_clusters(df).collect()
    }
    for v in range(13):
        assert got[v] == 0, (v, got[v])
    for v in (20, 21, 23):
        assert got[v] == 20
    assert got[35] == 35 and got[40] == 35
    want = oracle.clusters_pdf(
        pd.DataFrame(pairs, columns=["doc_id", "dup_of"])
    )
    assert got == dict(zip(want["doc_id"], want["cluster_id"]))


def test_duplicate_clusters_random_pairs_match_union_find(spark):
    """Randomized (seeded) topology: 300 random pairs over 150 nodes —
    dense components, cycles, self-merges — must match union-find."""
    import random

    rng = random.Random(99)
    pairs = []
    for _ in range(300):
        a, b = rng.randrange(150), rng.randrange(150)
        if a != b:
            pairs.append((max(a, b), min(a, b)))
    df = spark.createDataFrame(pairs, "doc_id long, dup_of long")
    got = _sorted(
        dd.duplicate_clusters(df).toPandas(), ["doc_id", "cluster_id"]
    )
    want = _sorted(
        oracle.clusters_pdf(pd.DataFrame(pairs, columns=["doc_id", "dup_of"])),
        ["doc_id", "cluster_id"],
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_contamination_matches_pandas_twin(spark, docs_df, docs_pdf):
    from pyspark.sql import functions as F

    ref_df = docs_df.filter(F.col("doc_id") % 10 == 0)
    train_df = docs_df.filter(F.col("doc_id") % 10 != 0)
    got = _sorted(
        dd.cross_corpus_contamination(train_df, ref_df).toPandas(),
        ["doc_id", "contaminated_by", "jaccard"],
    )
    ref_pdf = docs_pdf[docs_pdf["doc_id"] % 10 == 0]
    train_pdf = docs_pdf[docs_pdf["doc_id"] % 10 != 0]
    want = _sorted(
        oracle.contamination_pdf(train_pdf, ref_pdf),
        ["doc_id", "contaminated_by", "jaccard"],
    )
    assert len(got) == len(want)
    for c in ["doc_id", "contaminated_by"]:
        assert (got[c].to_numpy() == want[c].to_numpy()).all(), c
    assert (got["jaccard"].to_numpy() == want["jaccard"].to_numpy()).all()


def test_contamination_planted(spark):
    """A training doc that verbatim-copies a benchmark doc (plus light
    edits) must be flagged; unrelated training docs must not."""
    import random

    rng = random.Random(31)
    vocab = [f"w{i:03d}" for i in range(300)]
    bench_text = " ".join(rng.choice(vocab) for _ in range(60))
    contaminated = bench_text + " plus a short appended tail"  # light edit
    rows_ref = [(0, bench_text), (1, " ".join(rng.choice(vocab) for _ in range(60)))]
    rows_train = [
        (100, contaminated),
        (101, " ".join(rng.choice(vocab) for _ in range(60))),
        (102, " ".join(rng.choice(vocab) for _ in range(60))),
    ]
    ref = spark.createDataFrame(rows_ref, "doc_id long, text string")
    train = spark.createDataFrame(rows_train, "doc_id long, text string")
    got = dd.cross_corpus_contamination(train, ref).toPandas()
    flagged = dict(zip(got["doc_id"], got["contaminated_by"]))
    assert flagged.get(100) == 0, got
    assert 101 not in flagged and 102 not in flagged


def test_canonical_keepers_match_pandas_twin(spark, docs_df, docs_pdf):
    cols = ["doc_id", "cluster_id", "keeper_id", "is_canonical"]
    got = _sorted(
        dd.canonical_keepers(docs_df, dd.minhash_duplicates(docs_df)).toPandas(),
        cols,
    )
    want = _sorted(
        oracle.canonical_keepers_pdf(docs_pdf, oracle.minhash_duplicates_pdf(docs_pdf)),
        cols,
    )
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    # exactly one canonical doc per cluster
    per = got.groupby("cluster_id")["is_canonical"].sum()
    assert (per == 1).all()


def test_canonical_keepers_prefer_quality_then_min_id(spark):
    # doc 11 is junk (all digits -> digit penalty + short), doc 12 is
    # clean prose, doc 13 is clean prose identical in quality to 12 —
    # within one cluster the keeper must be 12 (max quality, then min id)
    rows = [
        (11, "123 456 789 012 345 678 901"),
        (12, "a perfectly ordinary clean sentence with words"),
        (13, "a perfectly ordinary clean sentence with words"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = spark.createDataFrame(
        [(12, 11), (13, 12)], ["doc_id", "dup_of"]
    )
    got = {
        r["doc_id"]: r
        for r in dd.canonical_keepers(docs, pairs).collect()
    }
    assert len(got) == 3
    assert all(r["keeper_id"] == 12 for r in got.values())
    assert got[12]["is_canonical"]
    assert not got[11]["is_canonical"] and not got[13]["is_canonical"]


def test_conv_dup_stats_match_pandas_twin(spark, synth_pdf):
    """pipeline.conv_dup_stats (string conv_id keys, whole-conversation
    concat in (turn_idx, text) order) vs the pandas twin built from the
    same concatenation rule + minhash_duplicates_pdf(string_ids=True).
    Exercises the string-id LSH path end to end: lexicographic min in
    the bucket aggregate, string `<` in the candidate filter."""
    from qamd_spark import pipeline
    from qamd_spark.schema import TRANSCRIPT_SCHEMA

    pdf = synth_pdf.copy()
    # plant a guaranteed whole-conversation duplicate under a later id
    first_conv = sorted(pdf["conv_id"].unique())[0]
    dup = pdf[pdf["conv_id"] == first_conv].copy()
    dup["conv_id"] = "zzdup"
    pdf = pd.concat([pdf, dup], ignore_index=True)
    df = spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA)
    got = (
        pipeline.conv_dup_stats(df)
        .toPandas()
        .sort_values(["conv_id", "conv_dup_of"])
        .reset_index(drop=True)
    )
    ne = pdf[~(pdf["text"].isna() | (pdf["text"] == ""))]
    docs = (
        ne.sort_values(["turn_idx", "text"])
        .groupby("conv_id", sort=False)["text"]
        .agg(" ".join)
        .reset_index()
        .rename(columns={"conv_id": "doc_id"})
    )
    want = (
        oracle.minhash_duplicates_pdf(docs, string_ids=True)
        .rename(columns={"doc_id": "conv_id", "dup_of": "conv_dup_of"})
        .sort_values(["conv_id", "conv_dup_of"])
        .reset_index(drop=True)
    )
    assert "zzdup" in set(got["conv_id"])
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_bloom_probe_matches_numpy_bitset_twin(spark, docs_df):
    """The packed-word aggregate + broadcast join must compute exactly
    what a numpy bitset computes from the SAME Spark-side positions."""
    m, k = 1 << 16, 5
    hist = docs_df.filter(F.col("doc_id") % 2 == 0)
    probe = docs_df.filter(F.col("doc_id") % 2 == 1)
    hp = hist.select(
        dd.bloom_positions(F.col("text"), m, k).alias("pos")
    ).collect()
    bits = np.zeros(m, dtype=bool)
    for r in hp:
        bits[np.asarray(r["pos"], dtype=np.int64)] = True
    pp = probe.select(
        "doc_id", dd.bloom_positions(F.col("text"), m, k).alias("pos")
    ).collect()
    expect = {
        r["doc_id"]: bool(bits[np.asarray(r["pos"], dtype=np.int64)].all())
        for r in pp
    }
    got = {
        r["doc_id"]: r["maybe_dup"]
        for r in dd.bloom_probe(
            probe, dd.bloom_build(hist, m=m, k=k), m=m, k=k
        ).collect()
    }
    assert got == expect


def test_bloom_no_false_negatives_under_heavy_collision(spark):
    """With m tiny (forced collisions / false positives), every probe
    text that IS in history must still be flagged — the Bloom guarantee."""
    m, k = 256, 3
    hist_rows = [(i, f"history document number {i} text") for i in range(0, 100)]
    probe_rows = [(1000 + i, f"history document number {i} text") for i in range(0, 100, 2)]
    probe_rows += [(2000 + i, f"fresh unseen document {i}") for i in range(50)]
    hist = spark.createDataFrame(hist_rows, "doc_id long, text string")
    probe = spark.createDataFrame(probe_rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r["maybe_dup"]
        for r in dd.bloom_probe(
            probe, dd.bloom_build(hist, m=m, k=k), m=m, k=k
        ).collect()
    }
    for i in range(0, 100, 2):
        assert out[1000 + i], f"false negative on member probe {i}"


def test_bloom_false_positive_rate_bounded_at_sane_sizing(spark):
    """At ~10 bits/element the non-member flag rate stays tiny."""
    hist = spark.createDataFrame(
        [(i, f"history document number {i} text") for i in range(500)],
        "doc_id long, text string",
    )
    probe = spark.createDataFrame(
        [(i, f"fresh unseen document {i}") for i in range(500)],
        "doc_id long, text string",
    )
    m, k = 1 << 13, 7  # 8192 bits for 500 docs ≈ 16 bits/element
    out = dd.bloom_probe(probe, dd.bloom_build(hist, m=m, k=k), m=m, k=k)
    fp = out.filter(F.col("maybe_dup")).count()
    assert fp <= 5, fp  # expected ~0 at this sizing


def test_bloom_probe_plan_broadcasts_and_stays_jvm(spark):
    """The bit-table join must broadcast; no Python stage anywhere."""
    import __spark_entry__ as E

    plan = (
        E.q_bloom_dedup(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    for bad in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert bad not in plan


def test_dsir_weights_match_pandas_twin(spark, docs_df, docs_pdf):
    """DSIR importance weights: the two-pass Spark plan (bucket-count
    aggregate -> broadcast lambda -> Arrow scoring stage) must equal the
    single-node pandas twin bit-for-bit — counts are exact ints and the
    per-doc score sum is a sequential bincount fold in position order
    (NOT reduceat, whose pairwise tree depends on segment length), so
    partitioning cannot change association order."""
    from qamd_spark.ops import sampling as smp

    got = (
        smp.dsir_weights(docs_df.select("doc_id", "text"))
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    want = smp.dsir_weights_pdf(docs_pdf).sort_values("doc_id").reset_index(drop=True)
    assert (got["n_grams"].to_numpy() == want["n_grams"].to_numpy()).all()
    assert (got["dsir_logw"].to_numpy() == want["dsir_logw"].to_numpy()).all()
    assert (got["selected"].to_numpy() == want["selected"].to_numpy()).all()


def test_dsir_prefers_target_like_prose(spark):
    """Planted ordering: a document written in the target domain's own
    words must outscore symbol/digit junk, per gram and in total; empty
    and sub-4-byte docs get exactly 0."""
    from qamd_spark import corpora
    from qamd_spark.ops import sampling as smp

    prose = " ".join(corpora.LANG_CORPORA["en"].split()[:40])
    junk = "@#$% 0101 ^^&& ~~ || 9876543210 <<>> {}{}[] %%$$ ##@@ !!??"
    # raw corpus DOMINATED by junk (DSIR's actual use case: pick the
    # prose out of a junky crawl). With raw ~ the size of the frozen
    # multilingual target, the smoothed log((Ttot+DIM)/(Rtot+DIM))
    # normalizer vanishes and selection depends on the gram ratios, not
    # corpus-size bookkeeping — the 17-language target (zh/ja/ko/ru/ar
    # added in r4) dilutes English's target share, which correctly made
    # "1 prose doc vs 1 junk line" a coin flip in the old 5-doc fixture.
    big_junk = " ".join([junk] * 100)
    df = spark.createDataFrame(
        [(0, prose), (1, junk), (2, ""), (3, "abc"), (4, None)]
        + [(10 + i, big_junk) for i in range(4)],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r for r in smp.dsir_weights(df).collect()
    }
    pg = out[0]["dsir_logw"] / out[0]["n_grams"]
    jg = out[1]["dsir_logw"] / out[1]["n_grams"]
    assert pg > jg
    assert out[0]["selected"] and not out[1]["selected"]
    for i in (2, 3, 4):
        assert out[i]["n_grams"] == 0 and out[i]["dsir_logw"] == 0.0


def test_dsir_scores_batch_composition_invariant(spark):
    """Repartitioning (different Arrow batch splits) must not change a
    single bit of any score."""
    from qamd_spark.ops import sampling as smp

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    a = smp.dsir_weights(docs.coalesce(1)).toPandas().sort_values("doc_id")
    b = smp.dsir_weights(docs.repartition(17)).toPandas().sort_values("doc_id")
    assert (a["dsir_logw"].to_numpy() == b["dsir_logw"].to_numpy()).all()


def test_dsir_resample_matches_pandas_twin(spark, docs_df, docs_pdf):
    """Gumbel-top-k selection: same k ids, same keys, bit-for-bit."""
    from qamd_spark.ops import sampling as smp

    got = (
        smp.dsir_resample(docs_df.select("doc_id", "text"), k=100)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    want = (
        smp.dsir_resample_pdf(docs_pdf, k=100)
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert got["doc_id"].tolist() == want["doc_id"].tolist()
    assert (got["gumbel_key"].to_numpy() == want["gumbel_key"].to_numpy()).all()


def test_dsir_resample_is_weight_biased_and_deterministic(spark):
    """Selection ∝ exp(logw): target-domain prose must be selected at a
    much higher rate than junk when half the corpus is each; two runs
    (and two salts differing) pin determinism and salt sensitivity."""
    from qamd_spark import corpora
    from qamd_spark.ops import sampling as smp

    words = corpora.LANG_CORPORA["en"].split()
    rows = []
    for i in range(200):
        if i % 2 == 0:
            s = " ".join(words[(3 * i) % 400 : (3 * i) % 400 + 25])
        else:
            s = ("@#$% 01 ^^&& ~ | 98765 <<>> {}{} %%$ " * 3) + str(i)
        rows.append((i, s))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sel = smp.dsir_resample(df, k=50).toPandas()
    prose = (sel["doc_id"] % 2 == 0).sum()
    assert prose >= 45, prose  # junk should almost never win
    sel2 = smp.dsir_resample(df, k=50).toPandas()
    assert sel["doc_id"].tolist() == sel2["doc_id"].tolist()
    sel3 = smp.dsir_resample(df, k=50, salt=99).toPandas()
    assert sel["doc_id"].tolist() != sel3["doc_id"].tolist()


def test_dsir_resample_plans_as_take_ordered(spark):
    """The global top-k must be TakeOrderedAndProject (partition heaps),
    not a full Sort + GlobalLimit."""
    from qamd_spark.ops import sampling as smp

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    plan = (
        smp.dsir_resample(docs, k=100)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan


def test_dsir_resample_rejects_string_ids(spark):
    df = spark.createDataFrame([("a", "text one"), ("b", "text two")],
                               "doc_id string, text string")
    from qamd_spark.ops import sampling as smp

    with pytest.raises(ValueError, match="integer id"):
        smp.dsir_resample(df, k=1)


def test_setsim_join_matches_bruteforce_all_pairs(spark, docs_df, docs_pdf):
    """setsim_join's prefix filter must be LOSSLESS: the exact all-pairs
    brute force over the same trigram shingle sets (pure Python, no
    shared code) produces the identical pair set with identical integer
    intersection sizes and bit-identical jaccard."""
    got = _sorted(
        dd.setsim_join(docs_df, n=3, t_num=1, t_den=2).toPandas(),
        ["doc_a", "doc_b"],
    )

    def shingles(text):
        w = (text or "").strip().lower()
        if not w:
            return frozenset()
        ws = w.split(" ")
        return frozenset(
            " ".join(ws[i : i + 3]) for i in range(len(ws) - 2)
        )

    sets = {
        int(r.doc_id): shingles(r.text)
        for r in docs_pdf.itertuples()
        if shingles(r.text)
    }
    ids = sorted(sets)
    rows = []
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            na, nb = len(sets[a]), len(sets[b])
            if inter * 3 >= (na + nb) * 1:
                rows.append((a, b, inter, na, nb, inter / (na + nb - inter)))
    want = _sorted(
        pd.DataFrame(
            rows, columns=["doc_a", "doc_b", "inter", "na", "nb", "jaccard"]
        ),
        ["doc_a", "doc_b"],
    )
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_setsim_join_planted_pair_and_threshold_edge(spark):
    """A planted append-one-word near-dup (9 of 10 shingles shared,
    J = 9/10) must surface with exact integer counts and bit-exact
    jaccard; an unrelated doc and a doc under 3 words never appear."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"
    rows = [
        (1, base),
        (2, base + " extra"),          # high-overlap near-dup of 1
        (3, "totally different words here nothing shared at all ok"),
        (4, "tiny doc"),               # < 3 words: no shingles
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = dd.setsim_join(df, n=3, t_num=1, t_den=2).toPandas()
    pairs = set(zip(got.doc_a, got.doc_b))
    assert (1, 2) in pairs
    assert all(4 not in p and 3 not in p for p in pairs)
    r = got[(got.doc_a == 1) & (got.doc_b == 2)].iloc[0]
    assert (r.inter, r.na, r.nb) == (9, 9, 10)
    assert r.jaccard == 9 / 10


def test_edit_join_matches_bruteforce_levenshtein(spark):
    """edit_join's deletion-neighborhood candidate filter must be
    LOSSLESS at max_ed=2: an adversarial vocabulary exercising
    transpositions ("from"/"form" — the case a naive 'share a
    1-deletion' intuition gets wrong), double substitutions, pure
    inserts/deletes, short tokens (len <= k sharing the empty variant),
    and far-apart controls must reproduce the exact brute-force
    Levenshtein pair set with exact distances."""

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1,
                        prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    toks = [
        "from", "form", "forum",      # transposition + insert chains
        "color", "colour", "colors",  # the canonical variant family
        "a", "at", "ab", "xy",        # short tokens (empty variant hub)
        "kitten", "sitten", "sittin", # double-substitution ladder
        "spark", "sparkle",           # +2 insert boundary (dist == 2)
        "zzzzzz", "qqqq",             # far-apart controls (never pair)
    ]
    vocab = spark.createDataFrame(
        [(t, i + 1) for i, t in enumerate(toks)], ["tok", "c"]
    )
    got = _sorted(
        dd.edit_join(vocab, max_ed=2).toPandas(),
        ["tok_a", "tok_b"],
    )
    cnt = {t: i + 1 for i, t in enumerate(toks)}
    rows = [
        (a, b, lev(a, b), cnt[a], cnt[b])
        for a in toks
        for b in toks
        if a < b and lev(a, b) <= 2
    ]
    want = _sorted(
        pd.DataFrame(rows, columns=["tok_a", "tok_b", "dist", "c_a", "c_b"]),
        ["tok_a", "tok_b"],
    )
    assert ("form", "from") in {(r.tok_a, r.tok_b) for r in want.itertuples()}
    assert len(want) >= 8
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_edit_join_plan_is_equi_join_never_cartesian(spark):
    """The deletion-neighborhood join must plan as shuffle/broadcast
    equi-joins — a CartesianProduct or BroadcastNestedLoopJoin anywhere
    means the lossless filter degenerated to all-pairs."""
    vocab = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select(F.explode(F.split(F.lower("text"), r"\s+", -1)).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    plan = dd.edit_join(vocab, max_ed=2)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dedup_recall_audit_matches_twin_recount(spark, docs_df, docs_pdf):
    """The audit's three counts must equal a recount built from the two
    exact twins: minhash_duplicates_pdf edges vs brute-force 5-gram
    Jaccard >= 1/2 pairs."""
    import __spark_entry__ as E

    row = E.q_dedup_recall_audit(spark, SF).collect()[0]

    pred_pdf = oracle.minhash_duplicates_pdf(docs_pdf)
    pred = {
        (min(int(a), int(b)), max(int(a), int(b)))
        for a, b in zip(pred_pdf["doc_id"], pred_pdf["dup_of"])
    }

    def grams(text):
        ws = (text or "").strip().lower().split(" ")
        return frozenset(
            " ".join(ws[i : i + 5]) for i in range(len(ws) - 4)
        )

    sets = {
        int(r.doc_id): grams(r.text)
        for r in docs_pdf.itertuples()
        if grams(r.text)
    }
    ids = sorted(sets)
    truth = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            if inter * 3 >= (len(sets[a]) + len(sets[b])) * 1:
                truth.add((a, b))
    assert row["n_pred"] == len(pred)
    assert row["n_truth"] == len(truth)
    assert row["n_hit"] == len(pred & truth)
    assert row["n_truth"] > 0  # sf0.001 contains injected near-dups
    assert row["precision"] == row["n_hit"] / row["n_pred"]
    assert row["recall"] == row["n_hit"] / row["n_truth"]
