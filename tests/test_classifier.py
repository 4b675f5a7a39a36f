"""Quality-classifier evidence: exact Spark/local twin, held-out
separation around the calibrated threshold, batch invariance, and
retrain determinism (the executor-side rebuild must be bit-identical)."""

import numpy as np

from qamd_spark import classifier as C

HELD_POS = [
    "the quick brown fox jumps over the lazy dog near the river bank today",
    "science proceeds by careful observation and repeated measurement of nature",
    "las estrellas brillan sobre el mar tranquilo durante la noche de verano",
    "il gatto dorme sul divano mentre fuori piove lentamente stasera",
    "de zon schijnt vandaag helder boven de oude stad aan het water",
]
HELD_NEG = [
    "win win win win win win win win win win win",
    "zzzzzzzzzzzzzzzzzzzzzzzzzzzzzz",
    "$$$###@@@***%%%^^^&&&",
    "1234567 98765 4321 111111 222222 33333",
    "free free free deal deal deal click click click",
    "????!!!!....,,,,;;;;",
    "buy buy buy buy now now now now",
]


def test_retrain_is_deterministic():
    # within one process (same BLAS thread pool) training is exactly
    # reproducible; cross-process determinism is NOT claimed — weights
    # ship to executors in the closure instead (see classifier.py)
    w, b, t = C.get_model()
    w2, b2, t2 = C._train()
    assert np.array_equal(w2, w)
    assert b2 == b and t2 == t


def test_heldout_separation():
    hp = C.score_quality(HELD_POS)
    hn = C.score_quality(HELD_NEG)
    assert hp.min() > C.get_model()[2], (hp, C.get_model()[2])
    assert hn.max() < C.get_model()[2], (hn, C.get_model()[2])


def test_train_auc_is_one():
    texts, y = C._training_set()
    s = C.score_quality(texts)
    pos, neg = np.sort(s[y == 1]), np.sort(s[y == 0])
    assert pos.min() > neg.max()  # perfectly separable => AUC 1


def test_empty_and_short_score_qc_empty():
    s = C.score_quality(["", None, "abc", "ab"])
    assert (s == C.QC_EMPTY).all()


def test_batch_composition_invariance():
    texts = HELD_POS + HELD_NEG + ["", None, "abc"] + HELD_POS[::-1]
    whole = C.score_quality(texts)
    parts = np.concatenate(
        [C.score_quality(texts[:7]), C.score_quality(texts[7:13]), C.score_quality(texts[13:])]
    )
    assert np.array_equal(whole, parts)


def test_spark_scores_equal_local_twin(spark):
    texts = HELD_POS + HELD_NEG + ["", None, "the " * 30]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    ).repartition(4)
    out = C.attach_quality_score(df).toPandas().sort_values("doc_id")
    want = C.score_quality(texts)
    got = out["qc_score"].to_numpy()
    assert np.array_equal(got, want)  # bit-exact across Arrow transfer
    assert (out["qc_keep"].to_numpy() == (want >= C.get_model()[2])).all()


def test_pipeline_with_classifier_rule_matches_oracle(spark, synth_path, synth_pdf):
    """End-to-end: enabling the quality_classifier rule keeps exact
    Spark/oracle parity — keep, rule_hits, and qc_score bit-equal —
    and the rule actually fires somewhere on the synthetic corpus."""
    from oracle import oracle
    from qamd_spark import pipeline
    from qamd_spark.config import QamdConfig

    cfg = QamdConfig()
    cfg.settings["quality_classifier"] = {"min_score": None}
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
    assert "qc_score" in sp.columns and "qc_score" in orc.columns
    assert len(sp) == len(orc)
    assert np.array_equal(sp["qc_score"].to_numpy(), orc["qc_score"].to_numpy())
    assert (sp["keep"].to_numpy() == orc["keep"].to_numpy()).all()
    a = ["|".join(h) for h in sp["rule_hits"]]
    b = ["|".join(h) for h in orc["rule_hits"]]
    assert a == b
    fired = sum("quality_classifier" in h for h in sp["rule_hits"])
    assert fired > 0, "rule never fired on the synthetic corpus"
