"""Single-node pure-pandas oracle — defines the reference labels.

Re-implements the full pipeline semantics (qamd_spark/pipeline.py) on one
pandas DataFrame. Per-turn scoring is literally the SAME function
(qamd_spark.turnscore.score_pdf), so scores and scrubbed text are
bit-identical by construction; the cross-row stages (dedup keep-first,
global occurrence counts, per-conversation empty fraction) are independent
pandas re-implementations whose agreement with the Spark agg/join plan is
what the F1 gate actually tests (FIXTURES.md §4 comparison contract:
sort by (conv_id, turn_idx); keep/drop F1 >= 0.99; scrubbed_text exact).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from qamd_spark import turnscore
from qamd_spark.config import QamdConfig


def _is_empty(text: pd.Series) -> pd.Series:
    return text.isna() | (text == "")


def label_pdf(pdf: pd.DataFrame, cfg: QamdConfig | None = None) -> pd.DataFrame:
    cfg = cfg or QamdConfig()
    s = cfg.settings
    out = turnscore.score_pdf(pdf.reset_index(drop=True), cfg)
    text = out["text"]
    empty = _is_empty(text)
    nonempty = ~empty

    # cross-row stats (the Spark agg+join analogues). Group on UTF-8
    # ENCODED text: pandas' str hash table C-truncates at embedded NULs
    # (so 'a' and 'a\x00' would merge, unlike Spark's full-string
    # equality); bytes keys go through the PyObject table with full-byte
    # hashing.
    ne = out[nonempty.to_numpy()]
    gkey = ne["text"].str.encode("utf-8")
    grp = ne.groupby(gkey, sort=False)
    occ = grp["conv_id"].transform("size")
    text_occ = pd.Series(np.zeros(len(out), dtype=np.int64), index=out.index)
    text_occ[nonempty] = occ.astype(np.int64)
    # keep-first under (conv_id, turn_idx): min of the tuple per text group
    keys = list(zip(ne["conv_id"], ne["turn_idx"]))
    first = (
        pd.DataFrame({"text": gkey.to_numpy(), "key": keys})
        .groupby("text", sort=False)["key"]
        .transform("min")
    )
    is_first = pd.Series(np.ones(len(out), dtype=bool), index=out.index)
    is_first[nonempty] = [k == f for k, f in zip(keys, first)]

    conv_cnt = out.groupby("conv_id")["turn_idx"].transform("size").astype(np.int64)
    conv_empty = (
        empty.astype(np.int64).groupby(out["conv_id"]).transform("sum").astype(np.int64)
    )

    conds: list[tuple[str, pd.Series]] = []

    def add(name: str, series) -> None:
        if cfg.enabled(name):
            conds.append((name, pd.Series(series, index=out.index).fillna(False).astype(bool)))

    if cfg.enabled("bad_conv_id"):
        rx = re.compile(s["bad_conv_id"])
        add("bad_conv_id", ~out["conv_id"].map(lambda c: bool(rx.search(c or ""))))
    if cfg.enabled("role_vocabulary"):
        add("role_vocabulary", out["role"].isna() | ~out["role"].isin(s["role_vocabulary"]))
    if cfg.enabled("field_length"):
        mx = int(s["field_length"]["max"])
        add(
            "field_length",
            (out["role"].str.len() > mx).fillna(False)
            | (out["tool"].str.len() > mx).fillna(False),
        )
    add("empty_turn", empty)
    if cfg.enabled("sentinel_text"):
        # strip(' ') not strip(): Spark F.trim removes 0x20 only
        add("sentinel_text", text.str.strip(" ").isin(s["sentinel_text"]))
    if cfg.enabled("length_bounds"):
        b = s["length_bounds"]
        add("length_bounds", (out["n_chars"] < int(b["min"])) | (out["n_chars"] > int(b["max"])))
    if cfg.enabled("odd_characters"):
        hit = pd.Series(np.zeros(len(out), dtype=bool), index=out.index)
        for ch in s["odd_characters"]:
            hit |= text.str.contains(re.escape(ch), regex=True, na=False)
        add("odd_characters", nonempty & hit)
    if cfg.enabled("odd_char_ratio"):
        add("odd_char_ratio", out["odd_char_ratio"] > float(s["odd_char_ratio"]))
    if cfg.enabled("encoding"):
        # mirror of ops/text.encoding_damage: same derived MOJIBAKE_MAP
        # and character classes (Python re and Java regex both read the
        # \xNN escapes in CTRL_CLASS identically; the zero-width class
        # embeds literal characters)
        from qamd_spark.ops.text import CTRL_CLASS, MOJIBAKE_MAP, ZERO_WIDTH_CLASS

        hit = pd.Series(np.zeros(len(out), dtype=bool), index=out.index)
        for pat in MOJIBAKE_MAP:
            hit |= text.str.contains(pat, regex=False, na=False)
        for cls in (CTRL_CLASS, ZERO_WIDTH_CLASS, "�"):
            hit |= text.str.contains(cls, regex=True, na=False)
        add("encoding", nonempty & hit)
    if cfg.enabled("repetition"):
        r = s["repetition"]
        add(
            "repetition",
            (out["repetition_ratio"] > float(r["max"]))
            & (out["n_tokens"] >= int(r["min_tokens"])),
        )
    if cfg.enabled("oov_fraction"):
        add(
            "oov_fraction",
            nonempty & (out["oov_fraction"] > float(s["oov_fraction"]["max"])),
        )
    if cfg.enabled("duplicate_turn"):
        add("duplicate_turn", nonempty & ~is_first)
    if cfg.enabled("conv_neardup"):
        # whole-conversation MinHash LSH twin of pipeline.conv_dup_stats:
        # non-empty turn texts joined in (turn_idx, text) order — the
        # pandas mirror of array_sort(collect_list(struct(turn_idx,
        # text))) — then the shared string-id minhash keep-first
        ne_sorted = out[nonempty.to_numpy()].sort_values(["turn_idx", "text"])
        docs = (
            ne_sorted.groupby("conv_id", sort=False)["text"]
            .agg(" ".join)
            .reset_index()
            .rename(columns={"conv_id": "doc_id"})
        )
        dups = minhash_duplicates_pdf(docs, string_ids=True)
        add("conv_neardup", out["conv_id"].isin(set(dups["doc_id"])))
    if cfg.enabled("conv_missing_fraction"):
        thr = float(s["conv_missing_fraction"])
        pct = conv_empty.astype(np.float64) / conv_cnt.astype(np.float64) * 100.0
        add("conv_missing_fraction", pct > thr)
    if cfg.enabled("ts_regression"):
        prev_ts = (
            out.sort_values(["conv_id", "turn_idx"])
            .groupby("conv_id")["ts"]
            .shift(1)
            .reindex(out.index)
        )
        # NaT on either side compares False — the SQL lag convention
        add("ts_regression", out["ts"] < prev_ts)
    add("pii", out["pii_hits"].map(len) > 0)
    add("profanity", out["profanity_hit"])
    add("all_stopwords", out["all_stopwords"])
    if cfg.enabled("stopword_fraction"):
        add("stopword_fraction", out["stopword_fraction"] > float(s["stopword_fraction"]))
    if cfg.enabled("rare_signature"):
        add("rare_signature", nonempty & (text_occ <= int(s["rare_signature"])))
    if cfg.enabled("custom_regex"):
        hit = pd.Series(np.zeros(len(out), dtype=bool), index=out.index)
        for p in s["custom_regex"]:
            hit |= text.str.contains(p, regex=True, na=False)
        add("custom_regex", hit)
    if cfg.enabled("refusal"):
        from qamd_spark.rules.refusal import refusal_hit_pdf, resolve_panel

        add(
            "refusal",
            (out["role"] == "assistant").fillna(False)
            & refusal_hit_pdf(out["text"], resolve_panel(s["refusal"])),
        )
    if cfg.enabled("homoglyph"):
        from qamd_spark.rules.homoglyph import homoglyph_hit_pdf

        add("homoglyph", homoglyph_hit_pdf(out["text"]))
    if cfg.enabled("langid"):
        add("langid", ~out["lang"].isin(s["langid"]["allowed"]))
    if cfg.enabled("perplexity"):
        add("perplexity", out["perplexity"] > float(s["perplexity"]["max"]))
    if cfg.enabled("quality_classifier"):
        # qc_score was produced by score_pdf with cfg's pinned model; the
        # threshold comes from the SAME ensure_qc_model resolution, so
        # oracle and pipeline compare identical doubles to an identical
        # threshold (strict <, keep on >=)
        _w, _b, thr = cfg.ensure_qc_model()
        add("quality_classifier", out["qc_score"] < float(thr))
    if cfg.enabled("compression"):
        # cr_ratio was produced by score_pdf with the SAME zlib kernel;
        # the byte gate re-encodes with the same utf-8 definition as the
        # scorer, so pipeline and oracle compare identical doubles
        from qamd_spark.config import compression_params

        lo, hi, mb = compression_params(s["compression"])
        nbytes = pd.Series(
            [len((t if isinstance(t, str) else "").encode("utf-8"))
             for t in out["text"]],
            index=out.index,
        )
        ratio = out["cr_ratio"]
        add(
            "compression",
            (nbytes >= mb)
            & (ratio.notna())
            & ((ratio < lo) | (ratio > hi)),
        )

    name_order = [n for n, _ in conds]
    mat = (
        np.column_stack([c.to_numpy() for _, c in conds])
        if conds
        else np.zeros((len(out), 0), dtype=bool)
    )
    out["rule_hits"] = [
        [n for n, h in zip(name_order, row) if h] for row in mat
    ]
    drop_names = set(cfg.drop_rules())
    drop_idx = [i for i, n in enumerate(name_order) if n in drop_names]
    out["keep"] = ~mat[:, drop_idx].any(axis=1) if drop_idx else True
    return out


def summary_pdf(labeled: pd.DataFrame, cfg: QamdConfig | None = None) -> pd.DataFrame:
    """Per-rule pass/fail counts in registry order (Status analogue,
    reference src/report/mod.rs:126-132; uniform pass = total - fail,
    documented deviation per SURVEY.md §2.3)."""
    cfg = cfg or QamdConfig()
    total = len(labeled)
    hits = labeled["rule_hits"]
    rows = []
    for spec in cfg.enabled_rules():
        fail = int(hits.map(lambda h: spec.name in h).sum())
        rows.append(
            (spec.name, spec.category, cfg.action(spec.name), spec.desc, total - fail, fail)
        )
    return pd.DataFrame(
        rows, columns=["rule", "category", "action", "desc", "pass", "fail"]
    )


# ---------------------------------------------------------------------------
# Pure-pandas twins of the deterministic hash operators (qamd_spark/ops/
# dedup.py). The per-doc kernels (token hashes, shingles, minhash, band
# fold, simhash votes) are the SAME shared numpy functions — like
# turnscore above, bit-identical by construction — while the cross-doc
# candidate logic (bucket grouping, keep-first resolution, pair joins) is
# re-implemented independently in pandas groupby terms. Agreement
# therefore tests the Spark shuffle/join plans, which is the part that
# could diverge.


def minhash_bands_pdf(pdf: pd.DataFrame, id_col: str = "doc_id",
                      text_col: str = "text",
                      string_ids: bool = False) -> pd.DataFrame:
    from qamd_spark.ops import dedup as dd

    ids, bands, hashes = [], [], []
    for doc_id, t in zip(pdf[id_col], pdf[text_col]):
        toks = t.lower().split() if isinstance(t, str) and t else None
        if not toks:
            continue
        th = dd._token_hashes(toks)
        sig = dd._minhash_signature(dd._shingle_hashes_from_tokens(th))
        bh = dd._band_hashes(sig).astype(np.int64)
        ids.extend([doc_id] * dd.N_BANDS)
        bands.extend(range(dd.N_BANDS))
        hashes.extend(bh.tolist())
    return pd.DataFrame(
        {"doc_id": np.asarray(ids, dtype=object if string_ids else np.int64),
         "band": np.asarray(bands, dtype=np.int32),
         "band_hash": np.asarray(hashes, dtype=np.int64)}
    )


def minhash_duplicates_pdf(pdf: pd.DataFrame, id_col: str = "doc_id",
                           text_col: str = "text",
                           string_ids: bool = False) -> pd.DataFrame:
    """(doc_id, dup_of): smallest doc id sharing any band bucket
    (lexicographically smallest when string_ids)."""
    bands = minhash_bands_pdf(pdf, id_col=id_col, text_col=text_col,
                              string_ids=string_ids)
    bucket_min = bands.groupby(["band", "band_hash"])["doc_id"].transform("min")
    cand = bands[bucket_min < bands["doc_id"]].copy()
    cand["bucket_min"] = bucket_min[bucket_min < bands["doc_id"]]
    out = (
        cand.groupby("doc_id", sort=False)["bucket_min"].min().reset_index()
        .rename(columns={"bucket_min": "dup_of"})
    )
    if string_ids:
        return out[["doc_id", "dup_of"]]
    return out[["doc_id", "dup_of"]].astype({"doc_id": np.int64, "dup_of": np.int64})


def simhash_pdf(pdf: pd.DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> pd.DataFrame:
    from qamd_spark.ops import dedup as dd

    bit_positions = np.arange(64, dtype=np.uint64)
    bit_values = (np.uint64(1) << bit_positions).astype(np.uint64)
    ids, sigs = [], []
    for doc_id, t in zip(pdf[id_col], pdf[text_col]):
        ids.append(doc_id)
        toks = t.lower().split() if isinstance(t, str) and t else None
        if not toks:
            sigs.append(0)
            continue
        hs = dd._token_hashes(toks)
        bits = (hs[:, None] >> bit_positions[None, :]) & np.uint64(1)
        votes = (bits.astype(np.int64) * 2 - 1).sum(axis=0)
        sigs.append(np.int64(bit_values[votes > 0].sum(dtype=np.uint64)))
    return pd.DataFrame(
        {"doc_id": np.asarray(ids, dtype=np.int64),
         "simhash": np.asarray(sigs, dtype=np.int64)}
    )


def ngram_jaccard_pdf(pdf: pd.DataFrame, cand: pd.DataFrame, n: int = 3,
                      id_col: str = "doc_id", text_col: str = "text") -> pd.DataFrame:
    """Exact word-n-gram Jaccard for candidate pairs (a, b)."""
    from qamd_spark.ops import dedup as dd

    texts = dict(zip(pdf[id_col], pdf[text_col]))
    js = []
    for a, b in zip(cand["a"], cand["b"]):
        sa = dd._ngram_set(texts.get(a), n)
        sb = dd._ngram_set(texts.get(b), n)
        u = len(sa | sb)
        js.append(len(sa & sb) / u if u else 1.0)
    return pd.DataFrame(
        {"a": cand["a"].to_numpy(dtype=np.int64),
         "b": cand["b"].to_numpy(dtype=np.int64),
         "jaccard": np.asarray(js, dtype=np.float64)}
    )


def simhash_neardups_pdf(pdf: pd.DataFrame, max_hamming: int = 3,
                         id_col: str = "doc_id", text_col: str = "text") -> pd.DataFrame:
    """(doc_id, dup_of, hamming) twin of ops.dedup.simhash_neardups: same
    banding (4 x 16-bit chunks) and the same two-phase bounded top-P
    candidate resolution (min per (bucket, doc_id % N_SIMHASH_SALTS),
    then the N_SIMHASH_CANDS smallest partial minima per bucket), in
    pandas groupby terms."""
    sigs = simhash_pdf(pdf, id_col=id_col, text_col=text_col)
    return simhash_neardups_from_sigs_pdf(sigs, max_hamming=max_hamming)


def simhash_neardups_from_sigs_pdf(
    sigs: pd.DataFrame, max_hamming: int = 3
) -> pd.DataFrame:
    from qamd_spark.ops.dedup import N_SIMHASH_CANDS, N_SIMHASH_SALTS

    sv = sigs["simhash"].to_numpy().astype(np.uint64)
    ids = sigs["doc_id"].to_numpy()
    rows = []
    for i in range(4):
        rows.append(pd.DataFrame(
            {"doc_id": ids, "sig": sv,
             "chunk": np.int32(i),
             "val": ((sv >> np.uint64(16 * i)) & np.uint64(0xFFFF)).astype(np.int64)}
        ))
    chunks = pd.concat(rows, ignore_index=True)
    chunks["_salt"] = chunks["doc_id"] % N_SIMHASH_SALTS
    pm = (
        chunks.groupby(["chunk", "val", "_salt"], as_index=False)["doc_id"]
        .min()
        .rename(columns={"doc_id": "_pm"})
    )
    bucket_cands = (
        pm.sort_values("_pm")
        .groupby(["chunk", "val"], as_index=False)
        .agg(_cands=("_pm", lambda s: list(s)[:N_SIMHASH_CANDS]))
    )
    cand = chunks.merge(bucket_cands, on=["chunk", "val"])
    cand = cand.explode("_cands").rename(columns={"_cands": "cand"})
    cand = cand[cand["cand"].astype(np.int64) < cand["doc_id"]].copy()
    cand["cand"] = cand["cand"].astype(np.int64)
    cand = cand.drop_duplicates(["doc_id", "cand"])
    sig_of = dict(zip(ids, sv))
    xor = cand["sig"].to_numpy() ^ np.array([sig_of[c] for c in cand["cand"]], dtype=np.uint64)
    ham = np.array([int(x).bit_count() for x in xor], dtype=np.int32)
    cand = cand.assign(hamming=ham)
    cand = cand[cand["hamming"] <= max_hamming]
    if len(cand) == 0:
        return pd.DataFrame({"doc_id": pd.Series([], dtype=np.int64),
                             "dup_of": pd.Series([], dtype=np.int64),
                             "hamming": pd.Series([], dtype=np.int32)})
    cand = cand.sort_values(["doc_id", "cand", "hamming"])
    out = cand.groupby("doc_id", sort=False).first().reset_index()
    return pd.DataFrame(
        {"doc_id": out["doc_id"].astype(np.int64),
         "dup_of": out["cand"].astype(np.int64),
         "hamming": out["hamming"].astype(np.int32)}
    )


def winnow_pdf(pdf: pd.DataFrame, k: int = 5, w: int = 4,
               id_col: str = "doc_id", text_col: str = "text") -> pd.DataFrame:
    """Per-doc loop twin of ops.text.winnow_fingerprints: same k-gram
    hash kernel (FNV-ish polynomial + splitmix64), independent window
    selection (explicit truncated windows + leftmost-min scan) in place
    of the batched masked sliding-window formulation."""
    from qamd_spark.ops.dedup import _MASK, _splitmix64

    mult = np.uint64(0x100000001B3)
    rows_id, rows_pos, rows_fp = [], [], []
    for doc_id, t in zip(pdf[id_col], pdf[text_col]):
        b = t.lower().encode("utf-8") if isinstance(t, str) else b""
        if len(b) < k:
            continue
        bb = np.frombuffer(b, dtype=np.uint8).astype(np.uint64)
        n_kg = len(b) - k + 1
        acc = np.zeros(n_kg, dtype=np.uint64)
        for j in range(k):
            acc = (acc * mult + bb[j : j + n_kg]) & _MASK
        kh = _splitmix64(acc)
        seen = set()
        for s in range(max(n_kg - w + 1, 1)):
            win = kh[s : min(s + w, n_kg)]
            pos = s + int(np.argmin(win))  # leftmost min
            if pos not in seen:
                seen.add(pos)
                rows_id.append(doc_id)
                rows_pos.append(pos)
                rows_fp.append(np.int64(kh[pos].astype(np.int64)))
    return pd.DataFrame(
        {"doc_id": np.asarray(rows_id, dtype=np.int64),
         "pos": np.asarray(rows_pos, dtype=np.int64),
         "fp": np.asarray(rows_fp, dtype=np.int64)}
    )


def contamination_pdf(pdf: pd.DataFrame, ref_pdf: pd.DataFrame,
                      min_jaccard: float = 0.5) -> pd.DataFrame:
    """Twin of ops.dedup.cross_corpus_contamination: same band kernels,
    min-ref-per-bucket candidate rule, exact 3-gram Jaccard verify."""
    from qamd_spark.ops import dedup as dd

    d_bands = minhash_bands_pdf(pdf)
    r_bands = minhash_bands_pdf(ref_pdf)
    r_min = (
        r_bands.groupby(["band", "band_hash"], as_index=False)["doc_id"]
        .min()
        .rename(columns={"doc_id": "_ref"})
    )
    cand = (
        d_bands.merge(r_min, on=["band", "band_hash"])
        .groupby("doc_id", as_index=False)["_ref"]
        .min()
        .rename(columns={"_ref": "contaminated_by"})
    )
    texts_d = dict(zip(pdf["doc_id"], pdf["text"]))
    texts_r = dict(zip(ref_pdf["doc_id"], ref_pdf["text"]))
    rows = []
    for d, r in zip(cand["doc_id"], cand["contaminated_by"]):
        sa = dd._ngram_set(texts_r.get(r), 3)
        sb = dd._ngram_set(texts_d.get(d), 3)
        u = len(sa | sb)
        j = len(sa & sb) / u if u else 1.0
        if j >= min_jaccard:
            rows.append((int(d), int(r), j))
    return pd.DataFrame(
        rows, columns=["doc_id", "contaminated_by", "jaccard"]
    ).astype({"doc_id": np.int64, "contaminated_by": np.int64})


def clusters_pdf(pairs: pd.DataFrame) -> pd.DataFrame:
    """Union-find twin of ops.dedup.duplicate_clusters: (doc_id,
    cluster_id = min doc id in the connected component), for every doc
    appearing in the (doc_id, dup_of) pairs."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(pairs["doc_id"], pairs["dup_of"]):
        a, b = int(a), int(b)
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    rows = sorted((v, find(v)) for v in parent)
    return pd.DataFrame(rows, columns=["doc_id", "cluster_id"]).astype(np.int64)


def winnow_containment_pdf(pdf: pd.DataFrame, k: int = 5, w: int = 4,
                           min_shared: int = 2, id_col: str = "doc_id",
                           text_col: str = "text") -> pd.DataFrame:
    """Twin of ops.text.winnow_containment: same keep-first candidate rule
    (each doc vs the min-id owner of each shared fingerprint) and the same
    EXACT distinct-fp intersection, in per-pair set algebra."""
    fps = winnow_pdf(pdf, k=k, w=w, id_col=id_col, text_col=text_col)
    sets = {d: set(g["fp"]) for d, g in fps.groupby(id_col)}
    fmin = fps.groupby("fp")[id_col].min()
    pairs = set()
    for d, s in sets.items():
        for fp in s:
            m = fmin[fp]
            if m < d:
                pairs.add((d, int(m)))
    rows = []
    for d, c in sorted(pairs):
        shared = len(sets[d] & sets[c])
        if shared >= min_shared:
            rows.append(
                (d, c, shared, shared / len(sets[d]), shared / len(sets[c]))
            )
    return pd.DataFrame(
        rows,
        columns=["doc_id", "src_of", "shared_fp", "containment",
                 "containment_src"],
    ).astype({"doc_id": np.int64, "src_of": np.int64, "shared_fp": np.int64})


def quality_score_np(texts) -> np.ndarray:
    """Exact float64 twin of ops/text.quality_score (same fixed-order
    double arithmetic: len gate minus punct/caps/digit penalties,
    clamped to [0,1])."""
    from qamd_spark.ops.text import PUNCT_CLASS

    out = np.zeros(len(texts), dtype=np.float64)
    for i, t in enumerate(texts):
        t = "" if t is None or (isinstance(t, float) and np.isnan(t)) else str(t)
        n = float(len(t))
        if 20 <= n <= 5000:
            len_ok = 1.0
        elif n > 0:
            len_ok = 0.3
        else:
            len_ok = 0.0
        if n > 0:
            p = len(re.findall(PUNCT_CLASS, t)) / n
            u = len(re.findall(r"[A-Z]", t)) / n
            d = len(re.findall(r"[0-9]", t)) / n
        else:
            p = u = d = 0.0
        penalty = (
            (0.3 if p > 0.2 else 0.0)
            + (0.2 if u > 0.3 else 0.0)
            + (0.2 if d > 0.3 else 0.0)
        )
        out[i] = max(0.0, min(1.0, len_ok - penalty))
    return out


def canonical_keepers_pdf(pdf: pd.DataFrame, pairs: pd.DataFrame) -> pd.DataFrame:
    """Exact twin of ops/dedup.canonical_keepers: union-find clusters,
    then per cluster argmax quality (ties -> smallest id)."""
    cl = clusters_pdf(pairs)
    q = pd.Series(
        quality_score_np(list(pdf["text"])), index=pdf["doc_id"].to_numpy()
    )
    m = cl.copy()
    m["_q"] = q.reindex(m["doc_id"].to_numpy()).to_numpy()
    keep = {}
    for cid, grp in m.groupby("cluster_id"):
        best = sorted(zip(-grp["_q"], grp["doc_id"]))[0][1]
        keep[cid] = int(best)
    m["keeper_id"] = m["cluster_id"].map(keep).astype(np.int64)
    m["is_canonical"] = m["doc_id"] == m["keeper_id"]
    return m[["doc_id", "cluster_id", "keeper_id", "is_canonical"]]


def cdc_chunks_pdf(pdf, min_size: int = 16, max_size: int = 256,
                   avg_bits: int = 6, id_col: str = "doc_id",
                   text_col: str = "text") -> pd.DataFrame:
    """Sequential per-byte twin of ops.cdc.cdc_chunk_rows: the textbook
    gear recurrence h = (h << 1) + G[b] mod 2^64 run from h = 0 at each
    document start (plain Python ints), with the same greedy
    min/max/mask boundary rule — independent of the batched closed-form
    shifted-add kernel it verifies."""
    import hashlib as _hl

    from qamd_spark.ops.cdc import _GEAR

    gear = [int(x) for x in _GEAR]
    m64 = (1 << 64) - 1
    mask = (1 << avg_bits) - 1
    rid, rpos, rhash, rlen = [], [], [], []
    for doc_id, t in zip(pdf[id_col], pdf[text_col]):
        b = t.encode("utf-8") if isinstance(t, str) else b""
        n = len(b)
        if n == 0:
            continue
        h = 0
        cand = []
        for i, byte in enumerate(b):
            h = ((h << 1) + gear[byte]) & m64
            if (h & mask) == 0:
                cand.append(i)
        start = 0
        while start < n:
            forced = min(start + max_size, n)
            cut = forced
            for c in cand:
                if c + 1 - start >= min_size and c + 1 <= forced:
                    cut = c + 1
                    break
                if c + 1 > forced:
                    break
            rid.append(doc_id)
            rpos.append(start)
            digest = _hl.md5(b[start:cut]).digest()[:8]
            rhash.append(int.from_bytes(digest, "big", signed=True))
            rlen.append(cut - start)
            start = cut
    return pd.DataFrame(
        {"doc_id": np.asarray(rid, dtype=np.int64),
         "pos": np.asarray(rpos, dtype=np.int64),
         "chunk_hash": np.asarray(rhash, dtype=np.int64),
         "chunk_len": np.asarray(rlen, dtype=np.int64)}
    )


def lcs_len_py(a_toks, b_toks) -> int:
    """Classic 2-D LCS DP — the independent twin of ops.text.lcs_len_np
    (pure Python, no numpy tricks; quadratic memory is fine at twin
    scale)."""
    n, m = len(a_toks), len(b_toks)
    if n == 0 or m == 0:
        return 0
    prev = [0] * (m + 1)
    for i in range(1, n + 1):
        cur = [0] * (m + 1)
        ai = a_toks[i - 1]
        for j in range(1, m + 1):
            if ai == b_toks[j - 1]:
                cur[j] = prev[j - 1] + 1
            else:
                cur[j] = max(prev[j], cur[j - 1])
        prev = cur
    return prev[m]
