"""Semantic pins for the agreement and statistics queries, e.g.
fleiss_kappa (perfect vs partial agreement), each against hand-computed
closed forms or brute force on planted fixtures — the behavioral layer
on top of the DuckDB hash gate (which only proves Spark == SQL, not that
the statistic is right)."""

import pytest

import __spark_entry__ as entry


@pytest.fixture(scope="module")
def docs_dir(spark, tmp_path_factory):
    """documents table where sources pin distinct agreement regimes:
    sagree -> all three raters always agree (two categories used, so
    kappa is defined and must be exactly 1); smix -> half the docs sit
    in the rater-threshold disagreement band [200, 260)."""
    d = tmp_path_factory.mktemp("fk")
    rows = []
    for i in range(40):
        # nc 100 -> (0,0,0); nc 500 -> (2,2,2): unanimous, two categories
        rows.append((i, "x", "en", "sagree", 100 if i % 2 == 0 else 500))
    for i in range(40):
        # nc 215: r0 (>=200) says 1, r1/r2 (<230/<260) say 0 -> split 5
        rows.append((100 + i, "x", "en", "smix", 215 if i % 2 == 0 else 100))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    return str(d)


def test_fleiss_kappa_perfect_agreement_is_one(spark, docs_dir):
    r = {
        row["source"]: row.asDict()
        for row in entry.q_fleiss_kappa(spark, docs_dir).collect()
    }
    assert r["sagree"]["kappa"] == pytest.approx(1.0, abs=0.0)
    # unanimous rows contribute s=9 -> a_sum = 6 * n_docs
    assert r["sagree"]["a_sum"] == 6 * r["sagree"]["n_docs"]


def test_fleiss_kappa_disagreement_below_one(spark, docs_dir):
    r = {
        row["source"]: row.asDict()
        for row in entry.q_fleiss_kappa(spark, docs_dir).collect()
    }
    # hand closed-form: N=40; 20 docs (1,0,0) -> s=5, 20 docs (0,0,0) -> s=9
    # A = 20*2 + 20*6 = 160; T = (100, 20, 0); B = 10000 + 400 = 10400
    # kappa = (3*160*40 - 2*10400) / (2*(9*1600 - 10400)) = -1600/8000
    assert r["smix"]["a_sum"] == 160 and r["smix"]["b_sum"] == 10400
    assert r["smix"]["kappa"] == pytest.approx(-0.2, abs=0.0)


def test_watermark_scan_separates_stamped_docs(spark):
    """All stamped docs (doc_id % 13 == 9 carry the 80-token all-green
    stamp) must flag; natural text stays near z=0 with at most a
    z>4 tail false positive or two (deterministic, not flaky)."""
    out = entry.q_watermark_scan(spark, "/root/testdata/sf0.001").toPandas()
    stamped = out[out.doc_id % 13 == 9]
    rest = out[out.doc_id % 13 != 9]
    assert len(stamped) > 0 and stamped["watermark_flag"].all()
    assert stamped["z"].min() > 4.0
    assert rest["watermark_flag"].sum() <= max(1, len(rest) // 100)
    assert abs(rest["z"].mean()) < 1.0  # unbiased on natural text


def test_watermark_stamp_is_all_green_pairs():
    toks = entry._wm_stamp().split(" ")
    assert len(toks) == 80
    assert all(entry._wm_green(a, b) for a, b in zip(toks, toks[1:]))


def test_citation_check_flags_planted_fabrications(spark):
    out = {
        r["conv"]: r.asDict()
        for r in entry.q_citation_check(spark, "/root/testdata/sf0.001").collect()
    }
    # assistant turns: idx % 4 == 3 -> doc_id = 97*idx + conv; fabrication
    # where doc_id % 11 == 0. Recompute the expected hallucination sets.
    bad = {}
    n_cit = {}
    for doc_id in range(500):
        idx, conv = divmod(doc_id, 97)
        if idx % 4 != 3:
            continue
        n_cit[conv] = n_cit.get(conv, 0) + 1
        if doc_id % 11 == 0:
            bad[conv] = bad.get(conv, 0) + 1
    assert bad, "fixture must plant fabrications"
    for conv, r in out.items():
        assert r["n_citations"] == n_cit[conv]
        assert r["n_hallucinated"] == bad.get(conv, 0)
        assert r["grounded"] == (conv not in bad)


def test_conv_fork_detect_planted_families(spark):
    out = entry.q_conv_fork_detect(spark, "/root/testdata/sf0.001").toPandas()
    forks = out[out.is_fork].sort_values("canonical_conv")
    # convs % 5 == 0 share first-3-turn templates keyed by conv % 3:
    # group 0 = multiples of 15 (7 convs), group 1 = {10,25,..,85} (6),
    # group 2 = {5,20,..,95} (7); every other conv is a singleton.
    assert len(forks) == 3
    assert list(forks["canonical_conv"]) == [0, 5, 10]
    assert sorted(forks["n_convs"]) == [6, 7, 7]
    assert forks["n_redundant"].sum() == 17
    assert (out[~out.is_fork]["n_convs"] == 1).all()
    assert len(out) == 3 + (97 - 20)


def test_homoglyph_scan_planted_spoofs(spark):
    out = entry.q_homoglyph_scan(spark, "/root/testdata/sf0.001").toPandas()
    spoofed = out[out.doc_id % 19 == 3]
    clean = out[out.doc_id % 19 != 3]
    # ' pаypаl sеcurе' plants exactly two Latin+Cyrillic words
    assert len(spoofed) > 0 and spoofed["homoglyph_flag"].all()
    assert (spoofed["n_mixed_words"] == 2).all()
    # the natural corpus is pure-Latin: zero false positives
    assert (clean["n_mixed_words"] == 0).all()
    assert not clean["homoglyph_flag"].any()


def test_kendall_tau_matches_bruteforce_pairs(spark):
    """The grid decomposition must equal the O(n^2) definition of
    tau-b computed over the SAME bucketed signals (the histogram is
    the statistic's domain here, not an approximation of raw tau)."""
    import duckdb
    import math

    out = {
        r["source"]: r.asDict()
        for r in entry.q_kendall_tau(spark, "/root/testdata/sf0.001").collect()
    }
    df = duckdb.sql(
        "select source, length(coalesce(text,'')) as x,"
        " len(list_filter(string_split(coalesce(text,''),' '), t -> t <> ''))"
        " as y from read_parquet('/root/testdata/sf0.001/documents.parquet')"
    ).df()
    df["xb"] = (df.x // 64).clip(upper=15)
    df["yb"] = (df.y // 16).clip(upper=15)
    for src, g in df.groupby("source"):
        xs, ys = list(g.xb), list(g.yb)
        n = len(xs)
        C = D = tx = ty = 0
        for i in range(n):
            for j in range(i + 1, n):
                dx, dy = xs[i] - xs[j], ys[i] - ys[j]
                if dx == 0:
                    tx += 1
                if dy == 0:
                    ty += 1
                if dx * dy > 0:
                    C += 1
                elif dx * dy < 0:
                    D += 1
        r = out[src]
        assert (r["concordant"], r["discordant"]) == (C, D)
        assert (r["ties_x"], r["ties_y"]) == (tx, ty)
        n0 = n * (n - 1) // 2
        expect = (C - D) / (math.sqrt(n0 - tx) * math.sqrt(n0 - ty))
        assert r["tau_b"] == pytest.approx(expect, rel=1e-12)


def test_toxicity_escalation_planted_trends(spark):
    out = {
        r["conv"]: r.asDict()
        for r in entry.q_toxicity_escalation(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    for conv, r in out.items():
        if conv % 7 == 2:
            # markers on idx >= 3 only -> positive slope, must flag
            assert r["escalating"] and r["tox_slope"] > 0
        elif conv % 7 == 5:
            # markers on idx < 2 only -> negative slope, must NOT flag
            assert not r["escalating"] and r["tox_slope"] < 0
        else:
            # natural corpus is panel-clean
            assert r["n_toxic"] == 0 and not r["escalating"]


def test_wilson_winrate_matches_bruteforce(spark):
    import hashlib

    out = {
        r["model"]: r.asDict()
        for r in entry.q_wilson_winrate(spark, "/root/testdata/sf0.001").collect()
    }
    games = {m: 0 for m in range(4)}
    wins = {m: 0 for m in range(4)}
    for doc_id in range(500):
        a, b = doc_id % 4, (doc_id // 4) % 4
        if a == b:
            continue
        nib = int(hashlib.md5(str(doc_id).encode()).hexdigest()[0], 16)
        wa = nib < 8 + (b - a)
        games[a] += 1
        games[b] += 1
        wins[a] += int(wa)
        wins[b] += int(not wa)
    for m in range(4):
        assert out[m]["n_games"] == games[m]
        assert out[m]["n_wins"] == wins[m]
        # the Wilson bound is strictly below the point estimate
        assert out[m]["wilson_lower"] < out[m]["win_rate"]
    # the hash bias favors lower model ids: model 0 beats model 3
    assert out[0]["wilson_lower"] > out[3]["wilson_lower"]


@pytest.fixture(scope="module")
def mw_docs_dir(spark, tmp_path_factory):
    """Three sources: 'short' (length 5), 'long' (length 40), 'mid'
    (length 20, also ties with itself) — 'long' must drift positive,
    'short' negative."""
    d = tmp_path_factory.mktemp("mw")
    rows = []
    i = 0
    for _ in range(30):
        rows.append((i, "a" * 5, "en", "short", 5)); i += 1
    for _ in range(30):
        rows.append((i, "b" * 40, "en", "long", 40)); i += 1
    for _ in range(40):
        rows.append((i, "c" * 20, "en", "mid", 20)); i += 1
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    return str(d)


def test_mann_whitney_matches_bruteforce(spark, mw_docs_dir):
    out = {
        r["source"]: r.asDict()
        for r in entry.q_mann_whitney(spark, mw_docs_dir).collect()
    }
    lens = {"short": [5] * 30, "long": [40] * 30, "mid": [20] * 40}
    for src in lens:
        xs = lens[src]
        ys = [v for s, vs in lens.items() if s != src for v in vs]
        u2 = sum(2 for x in xs for y in ys if x > y) + sum(
            1 for x in xs for y in ys if x == y
        )
        assert out[src]["u_doubled"] == u2
        assert out[src]["n_s"] == len(xs)
    assert out["long"]["z"] > 3 and out["long"]["length_drift"]
    assert out["short"]["z"] < -3 and out["short"]["length_drift"]


def test_bh_fdr_matches_bruteforce_stepup(spark):
    import hashlib

    out = {
        r["doc_id"]: r.asDict()
        for r in entry.q_bh_fdr(spark, "/root/testdata/sf0.001").collect()
    }
    ps = {}
    for doc_id in range(500):
        h = hashlib.md5(str(doc_id).encode()).hexdigest()
        if doc_id % 17 == 5:
            ps[doc_id] = int(h[:3], 16)
        else:
            ps[doc_id] = int(h[:6], 16) * 64
    # textbook BH step-up on the raw integer p-values
    m = len(ps)
    ordered = sorted(ps.values())
    cut = None
    for k, p in enumerate(ordered, start=1):
        if 100 * m * p <= 5 * k * (1 << 30):
            cut = p
    rejected = {d for d, p in ps.items() if cut is not None and p <= cut}
    assert rejected, "fixture must produce rejections"
    for d, r in out.items():
        assert r["p_scaled"] == ps[d]
        assert r["rejected"] == (d in rejected)
    # planted signals dominate the discoveries (FDR is controlled)
    sig = {d for d in rejected if d % 17 == 5}
    assert len(sig) / len(rejected) >= 0.75


def test_mcnemar_matches_bruteforce(spark):
    import duckdb

    out = {
        r["source"]: r.asDict()
        for r in entry.q_mcnemar(spark, "/root/testdata/sf0.001").collect()
    }
    df = duckdb.sql(
        "select source, length(coalesce(text,'')) as l,"
        " len(list_filter(string_split(coalesce(text,''),' '), x -> x <> ''))"
        " as w from read_parquet('/root/testdata/sf0.001/documents.parquet')"
    ).df()
    df["v1"] = df.l < 311
    df["v2"] = 10 * df.l > 56 * df.w
    for src, g in df.groupby("source"):
        b = int((g.v1 & ~g.v2).sum())
        c = int((~g.v1 & g.v2).sum())
        r = out[src]
        assert (r["b"], r["c"]) == (b, c)
        if b + c > 0:
            assert r["chi2"] == pytest.approx((b - c) ** 2 / (b + c), rel=1e-12)
            assert r["versions_differ"] == (1000 * (b - c) ** 2 > 3841 * (b + c))


def test_krippendorff_alpha_bounds_and_bruteforce(spark):
    import duckdb

    out = {
        r["source"]: r.asDict()
        for r in entry.q_krippendorff_alpha(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    df = duckdb.sql(
        "select doc_id, source, n_chars from"
        " read_parquet('/root/testdata/sf0.001/documents.parquet')"
    ).df()
    for src, g in df.groupby("source"):
        s2 = n0 = n1 = nv = 0
        for _, row in g.iterrows():
            votes = [int(row.n_chars >= 200), int(row.n_chars >= 230)]
            if row.doc_id % 5 != 0:
                votes.append(int(row.n_chars >= 260))
            m, u1 = len(votes), sum(votes)
            u0 = m - u1
            s2 += (2 // (m - 1)) * u0 * u1
            n0 += u0
            n1 += u1
            nv += m
        r = out[src]
        assert (r["n_vals"], r["s2"]) == (nv, s2)
        if n0 * n1 > 0:
            expect = (2 * n0 * n1 - (nv - 1) * s2) / (2 * n0 * n1)
            assert r["alpha"] == pytest.approx(expect, rel=1e-12)
            assert r["alpha"] <= 1.0


def test_shapley_rules_efficiency_axiom(spark):
    """The Shapley values must sum EXACTLY to the dropped-doc count
    (efficiency) — the property rule_ablation's n_unique lacks — and
    each rule's phi must sit between its unique count and its fire
    count."""
    rows = entry.q_shapley_rules(spark, "/root/testdata/sf0.001").collect()
    abl = {
        r["rule"]: r.asDict()
        for r in entry.q_rule_ablation(spark, "/root/testdata/sf0.001").collect()
    }
    n_dropped = rows[0]["n_dropped"]
    assert sum(r["phi12"] for r in rows) == 12 * n_dropped
    for r in rows:
        a = abl[r["rule"]]
        assert a["n_unique"] <= r["phi"] <= r["n_fires"]
        assert r["phi12"] % 1 == 0


def test_user_retry_detect_planted_repeats(spark):
    out = {
        r["conv"]: r.asDict()
        for r in entry.q_user_retry_detect(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    planted = [c for c in out if c % 9 == 4]
    assert planted
    for conv, r in out.items():
        if conv % 9 == 4:
            # probe texts at user turns 0 and 4 differ by one token
            assert r["retry_flag"] and r["n_retries"] >= 1
        else:
            # natural adjacent user turns never reach Jaccard 1/2
            assert not r["retry_flag"]


def test_pii_echo_planted_echoes(spark):
    out = {
        r["conv"]: r.asDict()
        for r in entry.q_pii_echo(spark, "/root/testdata/sf0.001").collect()
    }
    # only sharing convs (conv % 8 == 1) appear; echo on conv % 16 == 1
    assert set(out) == {c for c in range(97) if c % 8 == 1}
    for conv, r in out.items():
        if conv % 16 == 1:
            assert r["pii_echoed"] and r["n_echoes"] >= 1
        else:
            assert not r["pii_echoed"] and r["n_echoes"] == 0


def test_emd_drift_matches_bruteforce(spark, mw_docs_dir):
    """On the three-source fixture the ECDF-area integral is computed
    brute force over the shared support and must match exactly."""
    out = {
        r["source"]: r.asDict()
        for r in entry.q_emd_drift(spark, mw_docs_dir).collect()
    }
    lens = {"short": [5] * 30, "long": [40] * 30, "mid": [20] * 40}
    support = sorted({v for vs in lens.values() for v in vs})
    for src in lens:
        xs = sorted(lens[src])
        ys = sorted(v for s, vs in lens.items() if s != src for v in vs)
        na, nb = len(xs), len(ys)
        num = 0
        for i in range(len(support) - 1):
            v, gap = support[i], support[i + 1] - support[i]
            ca = sum(1 for x in xs if x <= v)
            cb = sum(1 for y in ys if y <= v)
            num += abs(ca * nb - cb * na) * gap
        r = out[src]
        assert r["w1_numer"] == num
        assert r["w1"] == pytest.approx(num / (na * nb), rel=1e-12)
    # 'mid' sits between the two extremes -> smallest drift
    assert out["mid"]["w1"] < out["short"]["w1"]
    assert out["mid"]["w1"] < out["long"]["w1"]


@pytest.fixture(scope="module")
def runs_docs_dir(spark, tmp_path_factory):
    """Two sources with identical drop FRACTION (half) but opposite
    order structure: 'clustered' = 50 drops then 50 keeps (2 runs),
    'alternating' = drop/keep interleaved (100 runs). Both must flag
    — too few runs and too many runs are both non-exchangeable."""
    d = tmp_path_factory.mktemp("runs")
    rows = []
    i = 0
    for j in range(100):
        text = "x" * (100 if j < 50 else 500)  # drop = len < 311
        rows.append((i, text, "en", "clustered", len(text))); i += 1
    for j in range(100):
        text = "x" * (100 if j % 2 == 0 else 500)
        rows.append((i, text, "en", "alternating", len(text))); i += 1
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    return str(d)


def test_runs_test_detects_both_directions(spark, runs_docs_dir):
    import math

    out = {
        r["source"]: r.asDict()
        for r in entry.q_runs_test(spark, runs_docs_dir).collect()
    }
    cl, al = out["clustered"], out["alternating"]
    assert cl["n_drops"] == 50 and al["n_drops"] == 50
    assert cl["n_runs"] == 2 and al["n_runs"] == 100
    # hand-computed moments: n=100, n1=n0=50 -> E[R]=51, Var=2450*49/9900... 
    e = 1 + 2 * 50 * 50 / 100
    var = (2 * 50 * 50) * (2 * 50 * 50 - 100) / (100 * 100 * 99)
    assert cl["z"] == pytest.approx((2 - e) / math.sqrt(var), rel=1e-12)
    assert cl["z"] < -1.96 and cl["order_suspect"]
    assert al["z"] > 1.96 and al["order_suspect"]


def test_markdown_audit_planted_structures(spark):
    out = {
        r["doc_id"]: r.asDict()
        for r in entry.q_markdown_audit(spark, "/root/testdata/sf0.001").collect()
    }
    for doc_id, r in out.items():
        if doc_id % 21 == 0:
            # well-formed block (2 fences) + broken (1) = 3, odd
            assert r["n_fences"] == 3 and r["md_broken"]
        elif doc_id % 7 == 0:
            assert r["n_fences"] == 2 and not r["md_broken"]
            assert r["n_headings"] == 1 and r["n_links"] == 1
        else:
            assert r["n_fences"] == 0 and not r["md_broken"]
            assert r["n_headings"] == 0 and r["n_links"] == 0


def test_number_grounding_planted_fabrications(spark):
    out = {
        r["conv"]: r.asDict()
        for r in entry.q_number_grounding(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    # recompute: assistant doc_ids are 97*i + conv with i % 4 == 3;
    # fabricated where doc_id % 13 == 2 (777 never appears in any pool)
    bad = {}
    n_tot = {}
    for doc_id in range(500):
        i, conv = divmod(doc_id, 97)
        if i % 4 != 3:
            continue
        n_tot[conv] = n_tot.get(conv, 0) + 1
        if doc_id % 13 == 2:
            bad[conv] = bad.get(conv, 0) + 1
    assert bad, "fixture must plant fabrications"
    for conv, r in out.items():
        assert r["n_numbers"] == n_tot[conv]
        assert r["n_ungrounded"] == bad.get(conv, 0)
        assert r["grounded"] == (conv not in bad)


def test_conformal_gate_exact_order_statistic(spark):
    import hashlib

    out = entry.q_conformal_gate(spark, "/root/testdata/sf0.001").toPandas()
    import duckdb

    df = duckdb.sql(
        "select doc_id, length(coalesce(text,'')) as v from"
        " read_parquet('/root/testdata/sf0.001/documents.parquet')"
    ).df()
    df["cal"] = [
        hashlib.md5(str(d).encode()).hexdigest()[0] in "01234567"
        for d in df.doc_id
    ]
    cal = sorted(df[df.cal].v)
    k = (5 * (len(cal) + 1)) // 100
    qhat = cal[k - 1]
    assert (out["qhat"] == qhat).all()
    assert (out["n_cal"] == len(cal)).all()
    assert len(out) == int((~df.cal).sum())
    # conformal coverage: false-flag rate on the test split <= ~alpha
    rate = out["anomalous"].mean()
    assert rate <= 0.10 and (out["anomalous"] == (out["n_chars_txt"] < qhat)).all()


def test_dedup_survivorship_planted_flow(spark):
    import duckdb

    rows = entry.q_dedup_survivorship(spark, "/root/testdata/sf0.001").collect()
    src = duckdb.sql(
        "select doc_id, source from"
        " read_parquet('/root/testdata/sf0.001/documents.parquet')"
    ).df().set_index("doc_id")["source"].to_dict()
    expect = {}
    for q in range(500 // 31 + 1):
        a, b = 31 * q + 5, 31 * q + 7
        if a < 500 and b < 500:
            # min-id keeper: a keeps, b loses
            key = (src[b], src[a])
            expect[key] = expect.get(key, 0) + 1
    got = {(r["loser_source"], r["keeper_source"]): r["n_lost"] for r in rows}
    assert got == expect
    assert sum(got.values()) == len(expect) or sum(got.values()) >= len(expect)


def test_shapley_pipeline_matches_oracle_and_efficiency(spark):
    """The registry-level Shapley attribution must (a) recompute exactly
    from the pandas oracle's labels and (b) satisfy the efficiency
    axiom against the pipeline's real dropped-turn count."""
    import math

    import duckdb

    from oracle import oracle
    from qamd_spark.config import RULE_REGISTRY, QamdConfig

    rows = entry.q_shapley_pipeline(spark, "/root/testdata/sf0.001").collect()
    cfg = QamdConfig()
    drop_rules = [
        r.name
        for r in RULE_REGISTRY
        if r.action == "drop" and cfg.enabled(r.name)
    ]
    scale = math.lcm(*range(1, len(drop_rules) + 1))
    pdf = duckdb.sql(
        "select cast(doc_id as varchar) as conv_id, 0 as turn_idx,"
        " 'user' as role, text, cast(null as varchar) as tool,"
        " cast(null as timestamp) as ts"
        " from read_parquet('/root/testdata/sf0.001/documents.parquet')"
    ).df()
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    orc = oracle.label_pdf(pdf, cfg)
    n_dropped = int((~orc["keep"]).sum())
    exp = {r: [0, 0] for r in drop_rules}
    for hits in orc["rule_hits"]:
        fired = [h for h in hits if h in drop_rules]
        for h in fired:
            exp[h][0] += 1
            exp[h][1] += scale // len(fired)
    got = {r["rule"]: r.asDict() for r in rows}
    assert set(got) == set(drop_rules)
    for rule in drop_rules:
        assert got[rule]["n_fires"] == exp[rule][0], rule
        assert got[rule]["phi_scaled"] == exp[rule][1], rule
        assert got[rule]["n_dropped"] == n_dropped
    assert sum(v[1] for v in exp.values()) == scale * n_dropped


def test_rule_phi_matches_bruteforce(spark):
    import math

    import duckdb

    from qamd_spark.corpora import STOPWORDS
    from qamd_spark.ops.text import PUNCT_CLASS

    rows = entry.q_rule_phi(spark, "/root/testdata/sf0.001").collect()
    df = duckdb.sql(
        "select coalesce(text,'') as t,"
        " lower(regexp_replace(coalesce(text,''),"
        f" '{PUNCT_CLASS}', '', 'g')) as norm"
        " from read_parquet('/root/testdata/sf0.001/documents.parquet')"
    ).df()
    stop = set(STOPWORDS)
    f = {
        "short_doc": df.t.str.split(" ").map(len) < 50,
        "short_chars": df.t.str.len() < 280,
        "no_stopwords": df.t.str.lower().str.split(" ").map(
            lambda w: len(set(w) & stop) == 0
        ),
        "all_stopwords": df.norm.str.split(" ").map(
            lambda w: all(x in stop for x in w if x != "")
        )
        & (df.norm != ""),
    }
    n = len(df)
    for r in rows:
        a, b = f[r["rule_a"]].astype(int), f[r["rule_b"]].astype(int)
        n11 = int((a & b).sum())
        r1, c1 = int(a.sum()), int(b.sum())
        assert r["n_both"] == n11
        if 0 < r1 < n and 0 < c1 < n:
            num = n11 * (n - r1 - c1 + n11) - (r1 - n11) * (c1 - n11)
            den = math.sqrt(r1 * (n - r1)) * math.sqrt(c1 * (n - c1))
            assert r["phi"] == pytest.approx(num / den, rel=1e-12)
            assert -1.0 <= r["phi"] <= 1.0
        else:
            # degenerate marginal (a rule never/always fires): phi
            # undefined, the query must return NULL, not a division
            assert r["phi"] is None


def test_leet_scan_isolates_planted_evasions(spark):
    out = {
        r["doc_id"]: r.asDict()
        for r in entry.q_leet_scan(spark, "/root/testdata/sf0.001").collect()
    }
    for doc_id, r in out.items():
        if doc_id % 23 == 11:
            # '5tup1d' invisible raw, 'stupid' after normalization
            assert not r["raw_hit"] and r["norm_hit"]
            assert r["evasion_detected"]
        else:
            assert not r["raw_hit"] and not r["norm_hit"]
            assert not r["evasion_detected"]


def test_conv_quality_card_composes_components(spark):
    """Each card flag must equal the corresponding component query's
    verdict and train_ready must be exactly the AND of the seven."""
    sf = "/root/testdata/sf0.001"
    card = {
        r["conv"]: r.asDict()
        for r in entry.q_conv_quality_card(spark, sf).collect()
    }
    comp = {
        "tools_paired": {
            r["conv"]: r["clean"]
            for r in entry.q_dangling_tools(spark, sf).collect()
        },
        "citations_grounded": {
            r["conv"]: r["grounded"]
            for r in entry.q_citation_check(spark, sf).collect()
        },
        "numbers_grounded": {
            r["conv"]: r["grounded"]
            for r in entry.q_number_grounding(spark, sf).collect()
        },
        "retry_flag": {
            r["conv"]: r["retry_flag"]
            for r in entry.q_user_retry_detect(spark, sf).collect()
        },
        "pii_echoed": {
            r["conv"]: r["pii_echoed"]
            for r in entry.q_pii_echo(spark, sf).collect()
        },
    }
    assert len(card) == 97
    dirty = clean = 0
    for conv, r in card.items():
        assert r["tools_paired"] == comp["tools_paired"][conv]
        assert r["citations_grounded"] == comp["citations_grounded"][conv]
        assert r["numbers_grounded"] == comp["numbers_grounded"][conv]
        assert r["retry_flag"] == comp["retry_flag"][conv]
        assert r["pii_echoed"] == comp["pii_echoed"].get(conv, False)
        want = (
            r["tools_paired"]
            and r["citations_grounded"]
            and r["args_clean"]
            and r["numbers_grounded"]
            and not r["retry_flag"]
            and not r["escalating"]
            and not r["pii_echoed"]
        )
        assert r["train_ready"] == want
        clean += int(want)
        dirty += int(not want)
    assert clean and dirty  # the planted damage separates both classes
