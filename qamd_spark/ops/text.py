"""Text-analysis operators for training-data pipelines.

All JVM-side Column expressions unless noted — language-ID/perplexity live
in qamd_spark/ngram.py (pandas-UDF path). These compose with the rule
pipeline but are also exposed standalone for corpus analytics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# exact ASCII punctuation class (mirrors reference normalize_word,
# src/check/dictionary.rs:110-115); valid in Java regex and RE2
PUNCT_CLASS = r"[!-/:-@\[-`{-~]"

def punct_ratio(text: Column) -> Column:
    t = F.coalesce(text, F.lit(""))
    stripped = F.regexp_replace(t, PUNCT_CLASS, "")
    return F.when(
        F.length(t) > 0,
        (F.length(t) - F.length(stripped)).cast("double") / F.length(t).cast("double"),
    ).otherwise(0.0)


def uppercase_ratio(text: Column) -> Column:
    t = F.coalesce(text, F.lit(""))
    low = F.regexp_replace(t, r"[A-Z]", "")
    return F.when(
        F.length(t) > 0,
        (F.length(t) - F.length(low)).cast("double") / F.length(t).cast("double"),
    ).otherwise(0.0)


def digit_ratio(text: Column) -> Column:
    t = F.coalesce(text, F.lit(""))
    nod = F.regexp_replace(t, r"[0-9]", "")
    return F.when(
        F.length(t) > 0,
        (F.length(t) - F.length(nod)).cast("double") / F.length(t).cast("double"),
    ).otherwise(0.0)


# BPE-ish pre-tokenizer: letter runs | digit runs | symbol runs.
# Disjoint alternatives, so Java regex, RE2 (DuckDB) and Python `re`
# agree — the ONE definition shared by the token_count_bpe /
# fertility_by_lang queries and the profile CLI.
BPE_TOK_RX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


def normalize_ws(text: Column) -> Column:
    """Whitespace/control canonicalization before hashing/dedup: strip
    C0/C1 control characters (keep \\t \\n), collapse horizontal
    whitespace runs, collapse 3+ newlines to 2, trim spaces. Fixed
    application order (mirrored verbatim in the normalize_text DuckDB
    twin); one codegen-fused regexp_replace chain, NULL -> ''."""
    t = F.coalesce(text, F.lit(""))
    step1 = F.regexp_replace(t, r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]", "")
    step2 = F.regexp_replace(step1, r"[ \t]+", " ")
    step3 = F.regexp_replace(step2, r"\n{3,}", "\n\n")
    return F.trim(step3)


def quality_score(text: Column) -> Column:
    """Composite heuristic quality score in [0,1] — the classic
    length/punct/caps/digit gate (C4/Gopher-style rules, expressed as one
    weighted score). Deterministic fixed-order double arithmetic."""
    t = F.coalesce(text, F.lit(""))
    n = F.length(t).cast("double")
    len_ok = F.when((n >= 20) & (n <= 5000), F.lit(1.0)).otherwise(
        F.when(n > 0, F.lit(0.3)).otherwise(F.lit(0.0))
    )
    p = punct_ratio(text)
    u = uppercase_ratio(text)
    d = digit_ratio(text)
    penalty = (
        F.when(p > 0.2, F.lit(0.3)).otherwise(F.lit(0.0))
        + F.when(u > 0.3, F.lit(0.2)).otherwise(F.lit(0.0))
        + F.when(d > 0.3, F.lit(0.2)).otherwise(F.lit(0.0))
    )
    score = len_ok - penalty
    return F.greatest(F.lit(0.0), F.least(F.lit(1.0), score))


def grouped_topk(
    df: DataFrame,
    group_col: str,
    score_col: str,
    id_col: str,
    k: int,
) -> DataFrame:
    """EXACT per-group top-k by (score desc, id asc), skew-safe: the same
    two-phase shape as report.locators —

    phase 1: groupBy(group, input partition id) → per-partition sorted
             slice of ≤ k (bounded memory, partial-aggregated);
    phase 2: groupBy(group) over ≤ k × #partitions tiny structs →
             flatten + sort + slice = exact global top-k.

    A Window.partitionBy(group) row_number would put EVERY row of a hot
    group in one task (at 10^12 rows a language partition is ~10^11
    rows); here phase 1's aggregation buffer is bounded by the rows of
    one (group, INPUT partition) — i.e. partition size, set by
    maxPartitionBytes, not group size — and only <= k survive the slice
    into the phase-2 shuffle, whose tasks hold <= k x n_partitions tiny
    structs. Returns (group_col, id_col, score_col, rank) with rank
    1..k — identical selection and order to the SQL
    row_number() OVER (PARTITION BY group ORDER BY score DESC, id).
    Ordering uses struct comparison on (-score, id); exact for finite
    scores (NaNs excluded upstream)."""
    item = F.struct(
        (-F.col(score_col)).alias("_ns"),
        F.col(id_col).alias("_id"),
        F.col(score_col).alias("_s"),
    )
    stage1 = (
        df.select(
            F.col(group_col).alias("_grp"),
            item.alias("_it"),
            F.spark_partition_id().alias("_pid"),
        )
        .groupBy("_grp", "_pid")
        .agg(F.slice(F.sort_array(F.collect_list("_it")), 1, k).alias("_its"))
    )
    merged = stage1.groupBy("_grp").agg(
        F.slice(F.sort_array(F.flatten(F.collect_list("_its"))), 1, k).alias("_its")
    )
    ex = merged.select("_grp", F.posexplode("_its").alias("_pos", "_item"))
    return ex.select(
        F.col("_grp").alias(group_col),
        F.col("_item._id").alias(id_col),
        F.col("_item._s").alias(score_col),
        (F.col("_pos") + 1).cast("int").alias("rank"),
    )


# --------------------------------------------------------------------------
# Gopher-style repetition signals (Rae et al. 2021, "Scaling Language
# Models: Methods, Analysis & Insights from Training Gopher", appendix A:
# repetition filters). Word-n-gram based — the variant that stays
# meaningful on single-line text. All JVM-side Column expressions: the
# per-row n-gram count table is a fold over the SORTED n-gram array
# (run-length counting), so no per-row hash map and no Python stage.
#
# Metric definitions (deterministic, cross-engine exact):
#   top_ngram_char_frac(n)  = max over distinct n-grams g of
#                             count(g) * length(g), / length(trim(text)).
#     (Gopher's "fraction of characters in the most frequent n-gram";
#      ties between count/length combinations resolve by the max of the
#      product, which is order-free and engine-agnostic.)
#   dup_ngram_char_frac(n)  = sum over distinct n-grams g with count >= 2
#                             of count(g) * length(g), / length(trim(text)).
#     (Gopher's "fraction of characters in duplicated n-grams", counting
#      every occurrence; overlaps are not position-deduplicated, so the
#      fraction can exceed 1 on highly repetitive text — documented.)
# Both numerators are exact integers; the single final division is
# IEEE-identical in Spark and DuckDB, so the driver hash-gate holds.


def words_array(text: Column) -> Column:
    """Lowercased space-split word array; [] for null/empty text."""
    t = F.trim(F.coalesce(text, F.lit("")))
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(F.lower(t), " ", -1)
    )


def word_ngrams(words: Column, n: int) -> Column:
    """Array of space-joined word n-grams; [] when fewer than n words."""
    if n == 1:
        return words
    return F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - (n - 1)),
            lambda i: F.array_join(F.slice(words, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def top_ngram_chars(grams: Column) -> Column:
    """max over distinct grams of count*length, via one fold over the
    sorted gram array (run-length counting; run*len grows monotonically
    within a run, so taking greatest at every step is exact)."""
    s = F.array_sort(grams)
    acc0 = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )
    return F.aggregate(
        s,
        acc0,
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc.best,
                F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1))
                * F.length(x),
            ).alias("best"),
        ),
        lambda acc: acc.best,
    )


def dup_ngram_chars(grams: Column) -> Column:
    """sum over distinct grams with count>=2 of count*length, via one
    fold over the sorted gram array: when a run reaches its 2nd element
    add 2*len (retroactively counting the 1st), each further element
    adds len — totalling count*len per duplicated gram."""
    s = F.array_sort(grams)
    acc0 = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("tot")
    )
    return F.aggregate(
        s,
        acc0,
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)).alias("run"),
            (
                acc.tot
                + F.when(
                    x == acc.prev,
                    F.when(acc.run == 1, F.lit(2) * F.length(x)).otherwise(
                        F.length(x)
                    ),
                ).otherwise(F.lit(0))
            ).alias("tot"),
        ),
        lambda acc: acc.tot,
    )


def repetition_signals(text: Column) -> dict[str, Column]:
    """The Gopher repetition panel as named Column expressions:
    top-2/3-gram char fractions + duplicated-5-gram char fraction, and
    the combined keep gate at the Gopher thresholds (0.20 / 0.18 / 0.15).
    """
    w = words_array(text)
    nchars = F.length(F.trim(F.coalesce(text, F.lit(""))))
    denom = nchars.cast("double")

    def frac(num: Column) -> Column:
        return F.when(nchars > 0, num.cast("double") / denom).otherwise(0.0)

    top2 = frac(top_ngram_chars(word_ngrams(w, 2)))
    top3 = frac(top_ngram_chars(word_ngrams(w, 3)))
    dup5 = frac(dup_ngram_chars(word_ngrams(w, 5)))
    keep = (top2 <= 0.20) & (top3 <= 0.18) & (dup5 <= 0.15)
    return {
        "top2gram_frac": top2,
        "top3gram_frac": top3,
        "dup5gram_frac": dup5,
        "repetition_keep": keep,
    }


# --------------------------------------------------------------------------
# Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, "Winnowing:
# Local Algorithms for Document Fingerprinting", SIGMOD 2003): character
# k-gram rolling hashes, then the minimum hash of every w-window is
# selected (leftmost min on ties — deterministic), deduplicated by
# position. Guarantees any shared substring of length >= w + k - 1
# contributes a shared fingerprint — the rolling-hash fingerprinting
# primitive for plagiarism/near-dup detection at corpus scale.

WINNOW_K = 5  # k-gram length (characters)
WINNOW_W = 4  # window size (k-grams)


def _winnow_batch(texts, k=WINNOW_K, w=WINNOW_W):
    """Vectorized winnowing over a whole batch: returns (row_idx, pos, fp)
    int64 arrays. Texts are lowercased, encoded to UTF-8 bytes and packed
    into one array with per-doc slots; k-gram hashes come from k shifted
    vector ops (splitmix64-mixed polynomial); window minima via a
    sliding-window view with cross-doc windows excluded by per-doc valid
    ranges. No per-doc Python loop.

    Requires w <= k: the inter-doc invalid gap in the packed hash array is
    exactly k-1 positions, so a window of length w <= k starting at a
    valid position can never reach past the gap into the next document's
    hashes. For w > k a short document's single window would read the
    neighbor's hashes — batch-composition-dependent fingerprints — so that
    configuration is rejected outright."""
    import numpy as np

    if w > k:
        raise ValueError(
            f"winnowing requires w <= k (got w={w}, k={k}): the inter-doc "
            "mask is k-1 positions, so larger windows could cross document "
            "boundaries in the packed batch"
        )

    from qamd_spark.ops.dedup import (  # shared deterministic kernels
        _MASK,
        _scatter_indices,
        _splitmix64,
    )

    bs = [t.lower().encode("utf-8") if isinstance(t, str) else b"" for t in texts]
    lens = np.fromiter((len(b) for b in bs), dtype=np.int64, count=len(bs))
    keep = lens >= k  # docs shorter than one k-gram emit nothing
    rows_keep = np.flatnonzero(keep)
    if len(rows_keep) == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z, z
    lens = lens[keep]
    offs = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    packed = np.frombuffer(b"".join(bs[i] for i in rows_keep), dtype=np.uint8).astype(
        np.uint64
    )
    # polynomial k-gram hash + splitmix64 finalizer, k shifted vector ops
    n_pos = len(packed) - k + 1
    mult = np.uint64(0x100000001B3)  # FNV-ish odd multiplier
    acc = np.zeros(n_pos, dtype=np.uint64)
    for j in range(k):
        acc = (acc * mult + packed[j : j + n_pos]) & _MASK
    kh = _splitmix64(acc)
    # per-doc k-gram counts and valid window starts
    n_kg = lens - k + 1  # >= 1 by construction
    n_win = np.maximum(n_kg - w + 1, 1)  # short docs: one (short) window
    # mask cross-doc hash positions so they never win a window min
    inv_start = offs[:-1] + n_kg
    inv_lens = np.clip(np.minimum(offs[1:], n_pos) - inv_start, 0, None)
    kh[_scatter_indices(inv_start, inv_lens)] = _MASK
    # sliding window minima over the global hash array
    win = np.lib.stride_tricks.sliding_window_view(
        np.concatenate([kh, np.full(w - 1, _MASK, dtype=np.uint64)]), w
    )
    local_arg = win.argmin(axis=1)  # leftmost min (np tie rule), per start
    # valid window starts per doc: [offs[d], offs[d] + n_win[d])
    wstarts = _scatter_indices(offs[:-1], n_win)
    sel_pos = wstarts + local_arg[wstarts]  # global k-gram index of each min
    sel_doc = np.repeat(np.arange(len(lens), dtype=np.int64), n_win)
    # dedup consecutive selections of the same position (winnowing emits
    # each selected k-gram once)
    first = np.ones(len(sel_pos), dtype=bool)
    first[1:] = (sel_pos[1:] != sel_pos[:-1]) | (sel_doc[1:] != sel_doc[:-1])
    sel_pos, sel_doc = sel_pos[first], sel_doc[first]
    rel_pos = sel_pos - offs[sel_doc]
    return rows_keep[sel_doc], rel_pos, kh[sel_pos].astype(np.int64)


def winnow_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
) -> DataFrame:
    """(doc_id, pos, fp) winnowed fingerprint rows per document — narrow
    Arrow-batched map stage; downstream joins on fp find shared substrings
    of length >= w + k - 1 across the corpus."""
    if w > k:
        # fail fast driver-side; _winnow_batch re-checks as defense in
        # depth (an executor-only check would surface as a mid-job task
        # error, or not at all on empty input)
        raise ValueError(
            f"winnowing requires w <= k (got w={w}, k={k}): the inter-doc "
            "mask is k-1 positions, so larger windows could cross document "
            "boundaries in the packed batch"
        )
    from typing import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("pos", T.LongType()),
            T.StructField("fp", T.LongType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ridx, pos, fp = _winnow_batch(list(pdf[text_col]), k=k, w=w)
            ids = pdf[id_col].to_numpy(dtype=np.int64)[ridx] if len(ridx) else ridx
            yield pd.DataFrame({"doc_id": ids, "pos": pos, "fp": fp})

    return docs.select(id_col, text_col).mapInPandas(run, schema=schema)


def winnow_containment(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    min_shared: int = 2,
) -> DataFrame:
    """Shared-substring / containment pairs — the consumer of
    :func:`winnow_fingerprints` (the SIGMOD'03 use case: which documents
    overlap, and how much). Returns
    (doc_id, src_of, shared_fp, containment) where src_of is the
    earliest (smallest-id) document owning a fingerprint this document
    shares, shared_fp = |FP(doc) ∩ FP(src_of)| (EXACT distinct-
    fingerprint intersection), containment = shared_fp / |FP(doc)| — the
    fraction of this document's fingerprints also present in the source,
    ~ the fraction of its text covered by substrings shared with it —
    and containment_src = shared_fp / |FP(src_of)|, the symmetric
    fraction (distinguishes "doc quotes a bit of src" from "doc IS src
    plus noise": high containment + low containment_src = doc is a
    fragment of a larger source; both high = near-identical documents).

    Scale shape (the same no-all-pairs discipline as minhash_duplicates):
    candidate generation resolves each fingerprint bucket to its MIN doc
    id with a hash aggregate — never a bucket self-join, so a fingerprint
    shared by millions of boilerplate docs collapses in the aggregate —
    then the exact intersection count runs only over candidate pairs via
    an equi-join on (candidate, fp). Keep-first semantics: each document
    is scored against the corpus-FIRST owner of its shared fingerprints
    (the "find the original source" question); doc pairs that share text
    only with each other and not with any earlier doc still surface,
    because the earlier of the two IS the bucket min."""
    from pyspark.storagelevel import StorageLevel

    fps = winnow_fingerprints(docs, id_col=id_col, text_col=text_col, k=k, w=w)
    # dfp feeds FOUR consumers (n_fp, bucket-min, candidate pairs, and
    # the exact-intersection join); without a persist each one re-runs
    # the Python winnowing stage — measured ~2x wall on the full op.
    # 16 B/row, spills to disk beyond memory, evicted LRU.
    dfp = (
        fps.select("doc_id", "fp")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_fp = dfp.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fp"))
    fmin = dfp.groupBy("fp").agg(F.min("doc_id").alias("cand"))
    pairs = (
        dfp.join(fmin, "fp")
        .filter(F.col("cand") < F.col("doc_id"))
        .select("doc_id", "cand")
        .distinct()
    )
    cand_fps = dfp.select(F.col("doc_id").alias("cand"), "fp")
    shared = (
        dfp.join(pairs, "doc_id")
        .join(cand_fps, ["cand", "fp"])
        .groupBy("doc_id", "cand")
        .agg(F.count(F.lit(1)).alias("shared_fp"))
    )
    n_fp_src = n_fp.select(
        F.col("doc_id").alias("cand"), F.col("n_fp").alias("_n_fp_src")
    )
    return (
        shared.filter(F.col("shared_fp") >= min_shared)
        .join(n_fp, "doc_id")
        .join(n_fp_src, "cand")
        .select(
            "doc_id",
            F.col("cand").alias("src_of"),
            "shared_fp",
            (
                F.col("shared_fp").cast("double") / F.col("n_fp").cast("double")
            ).alias("containment"),
            (
                F.col("shared_fp").cast("double") / F.col("_n_fp_src").cast("double")
            ).alias("containment_src"),
        )
    )


# ---------------------------------------------------------------- encoding
# ftfy-style repair of the most common encoding damage in web-scraped
# text: UTF-8 bytes that were decoded as Windows-1252 ("mojibake",
# e.g. 'Ã©' for 'é', 'â€™' for a right single quote). The table is
# DERIVED, not hand-typed: for each intended character, encode to UTF-8
# and decode those bytes as cp1252; characters whose UTF-8 bytes hit a
# cp1252 hole (0x81 0x8D 0x8F 0x90 0x9D — e.g. the right double quote)
# are skipped rather than approximated. Single-pass semantics: doubly
# mojibake'd text (decoded wrongly twice) needs two applications.
MOJIBAKE_TARGETS = "’“–—…éèêëäöüçñíóúâ«»°"
MOJIBAKE_MAP: dict[str, str] = {}
for _c in MOJIBAKE_TARGETS:
    try:
        MOJIBAKE_MAP[_c.encode("utf-8").decode("cp1252")] = _c
    except UnicodeDecodeError:
        pass

# character classes shared with the DuckDB oracle: actual characters are
# embedded (no \uXXXX escapes) so the Java and RE2 regex engines parse
# the identical class
CTRL_CLASS = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]"
ZERO_WIDTH_CLASS = "[​‌‍﻿]"
NON_ASCII_CLASS = "[^\\x00-\\x7f]"


def _count_matches(text: Column, pattern: str) -> Column:
    """Occurrences of a single-char regex class, as an exact integer."""
    return (
        F.length(text) - F.length(F.regexp_replace(text, pattern, ""))
    ).cast("long")


def mojibake_hits(text: Column) -> Column:
    """Total occurrences of known mojibake sequences (exact integer:
    each length delta is a multiple of the pattern length)."""
    total = F.lit(0).cast("long")
    for pat in MOJIBAKE_MAP:
        delta = F.length(text) - F.length(F.replace(text, F.lit(pat), F.lit("")))
        total = total + (delta / F.lit(len(pat))).cast("long")
    return total


def fix_mojibake(text: Column) -> Column:
    """Repair the known mojibake sequences (chained JVM replaces, one
    codegen-fused projection — no Python stage, no shuffle)."""
    out = text
    for pat, rep in MOJIBAKE_MAP.items():
        out = F.replace(out, F.lit(pat), F.lit(rep))
    return out


def encoding_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document encoding-damage panel: control characters,
    zero-width characters, U+FFFD replacement chars, non-ASCII fraction,
    mojibake hits, and the repaired text. All columns are narrow JVM
    expressions over one projection."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    fixed = fix_mojibake(t)
    return df.select(
        "doc_id",
        _count_matches(t, CTRL_CLASS).alias("n_ctrl"),
        _count_matches(t, ZERO_WIDTH_CLASS).alias("n_zero_width"),
        _count_matches(t, "�").alias("n_replacement"),
        F.when(
            F.length(t) > 0,
            _count_matches(t, NON_ASCII_CLASS).cast("double")
            / F.length(t).cast("double"),
        )
        .otherwise(0.0)
        .alias("nonascii_frac"),
        mojibake_hits(t).alias("mojibake_hits"),
        fixed.alias("fixed_text"),
        (fixed != t).alias("was_damaged"),
    )


def encoding_damage(text: Column) -> Column:
    """True when the text shows any encoding damage: a known mojibake
    sequence, a control character, a zero-width character, or U+FFFD.
    Pure JVM boolean (contains + regex class tests) — the pipeline's
    `encoding` rule condition; panel detail lives in encoding_profile."""
    hit = None
    for pat in MOJIBAKE_MAP:
        e = text.contains(F.lit(pat))
        hit = e if hit is None else (hit | e)
    for cls in (CTRL_CLASS, ZERO_WIDTH_CLASS, "�"):
        e = F.regexp_like(text, F.lit(cls))
        hit = hit | e
    return F.coalesce(hit, F.lit(False))


# --------------------------------------------------------------------------
# C4-style line-level filtering (Raffel et al. 2020, "Exploring the Limits
# of Transfer Learning with a Unified Text-to-Text Transformer", §2.2 —
# the C4 cleaning heuristics). The reference engine's closest relative is
# the per-value StringValueOddCharacters / stopword family
# (src/check/value.rs) — this extends the idea from whole-value to
# line-within-value granularity, the form web-corpus curation needs.
#
# Everything is a single codegen-fused projection: split → per-line
# predicate via a higher-order filter → reassemble. Zero shuffles, zero
# Python — at 10^12 rows this is scan-bound.


def line_split(text: Column, delim: str) -> Column:
    """Literal (non-regex) split of text into lines; [] never — null/empty
    text yields ['']. Uses \\Q..\\E quoting so any delimiter is literal."""
    return F.split(F.coalesce(text, F.lit("")), "\\Q" + delim + "\\E", -1)


def line_keep_predicate(
    line: Column,
    min_words: int,
    banned: tuple[str, ...],
    require_terminal: bool,
    terminals: tuple[str, ...] = (".", "!", "?", '"'),
) -> Column:
    """C4 keep-this-line predicate over a trimmed line:
    non-empty AND >= min_words space-split words AND (optionally) ends in
    terminal punctuation AND contains no banned substring (lowercased).
    Word counting splits on a literal single space — identical token
    lists in Spark and DuckDB, so the oracle twin is exact."""
    l = F.trim(line)
    keep = (F.length(l) > 0) & (
        F.size(F.split(l, "\\Q \\E", -1)) >= F.lit(min_words)
    )
    if require_terminal:
        term = F.lit(False)
        for t in terminals:
            term = term | F.endswith(l, F.lit(t))
        keep = keep & term
    low = F.lower(l)
    for b in banned:
        keep = keep & ~low.contains(F.lit(b.lower()))
    return keep


def line_filter_cols(
    text: Column,
    delim: str = "\n",
    min_words: int = 5,
    banned: tuple[str, ...] = ("javascript", "lorem ipsum"),
    require_terminal: bool = True,
    page_banned: tuple[str, ...] = ("lorem ipsum", "{"),
) -> dict[str, Column]:
    """C4 line filter as named Columns:
      kept_text  — surviving lines rejoined with delim ('' if none);
      n_lines    — total lines;
      n_kept     — surviving lines;
      page_drop  — C4 page-level drop (any page_banned substring present
                   anywhere in the doc, case-insensitive);
      doc_keep   — n_kept > 0 AND NOT page_drop.
    """
    lines = line_split(text, delim)
    kept = F.filter(
        lines,
        lambda l: line_keep_predicate(l, min_words, banned, require_terminal),
    )
    low = F.lower(F.coalesce(text, F.lit("")))
    page_drop = F.lit(False)
    for b in page_banned:
        page_drop = page_drop | low.contains(F.lit(b.lower()))
    n_kept = F.size(kept)
    return {
        "kept_text": F.array_join(F.transform(kept, lambda l: F.trim(l)), delim),
        "n_lines": F.size(lines),
        "n_kept": n_kept,
        "page_drop": page_drop,
        "doc_keep": (n_kept > 0) & ~page_drop,
    }


def rechunk_lines(text: Column, words_per_line: int) -> Column:
    """Deterministically re-chunk a one-line text into pseudo-lines of
    words_per_line space-split words, joined by newline — the synthesis
    step that lets the single-line test corpus exercise multi-line
    operators. Cross-engine exact (same arithmetic in the DuckDB twin)."""
    words = F.split(F.coalesce(text, F.lit("")), "\\Q \\E", -1)
    n = F.size(words)
    w = F.lit(words_per_line)
    chunks = F.transform(
        F.sequence(F.lit(1), F.ceil(n.cast("double") / w).cast("int")),
        lambda i: F.array_join(
            F.slice(words, (i - F.lit(1)) * w + F.lit(1), w), " "
        ),
    )
    return F.when(n > 0, F.array_join(chunks, "\n")).otherwise(F.lit(""))


# --------------------------------------------------------------------------
# Unicode-script composition — the script-level complement of langid
# (a Cyrillic page labeled 'en' is a langid bug; a Han fraction > 0 in a
# "latin-only" corpus is a contamination signal). Pure JVM regexp_count
# over script classes; Java calls the classes \p{IsLatin}/\p{IsCyrillic}/
# \p{IsHan} while RE2 (DuckDB) calls them \p{Latin}/\p{Cyrillic}/\p{Han} —
# the SQL twin maps the names, the semantics coincide on these scripts.

SCRIPTS = ("Latin", "Cyrillic", "Han")


def script_counts(text: Column) -> dict[str, Column]:
    t = F.coalesce(text, F.lit(""))
    out = {}
    for s in SCRIPTS:
        out[f"n_{s.lower()}"] = F.regexp_count(t, F.lit(rf"\p{{Is{s}}}"))
    out["n_chars_total"] = F.length(t)
    return out


def script_profile(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, per-script char counts, latin_frac, script_guess). The guess
    is an explicit fixed-order argmax (han > cyrillic > latin > none) so
    ties resolve identically in the SQL twin."""
    c = script_counts(F.col(text_col))
    lat, cyr, han = c["n_latin"], c["n_cyrillic"], c["n_han"]
    guess = (
        F.when((han >= cyr) & (han >= lat) & (han > 0), F.lit("han"))
        .when((cyr >= lat) & (cyr > 0), F.lit("cyrillic"))
        .when(lat > 0, F.lit("latin"))
        .otherwise(F.lit("none"))
    )
    tot = c["n_chars_total"]
    return df.select(
        id_col,
        lat.alias("n_latin"),
        cyr.alias("n_cyrillic"),
        han.alias("n_han"),
        tot.alias("n_chars_total"),
        F.when(
            tot > 0, lat.cast("double") / tot.cast("double")
        ).otherwise(F.lit(0.0)).alias("latin_frac"),
        guess.alias("script_guess"),
    )


def line_dedup_cols(text: Column, delim: str = "\n") -> dict[str, Column]:
    """Within-document duplicate-line removal, keep-first (the other half
    of C4's line handling: its three-sentence dedup is corpus-wide —
    span_dedup here — while pages also drop repeated boilerplate lines
    in place). First-occurrence selection via array_position over the
    index sequence: O(L^2) per doc in line count L (tiny), zero shuffle,
    no Python — and the identical list_position idiom exists in DuckDB,
    so the twin is hash-exact. Returns kept_text / n_lines / n_removed."""
    lines = line_split(text, delim)
    idx = F.sequence(F.lit(1), F.size(lines))
    keep_idx = F.filter(
        idx, lambda i: F.array_position(lines, F.element_at(lines, i)) == i
    )
    kept = F.transform(keep_idx, lambda i: F.element_at(lines, i))
    return {
        "kept_text": F.array_join(kept, delim),
        "n_lines": F.size(lines),
        "n_removed": F.size(lines) - F.size(kept),
    }


# HTML entity decode table — &amp; MUST decode last (decoding it first
# would double-decode '&amp;lt;' into '<'); the order is part of the
# contract and is mirrored verbatim into the DuckDB twin.
HTML_TAG_RX = r"<[^>]*>"
HTML_ENTITIES = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
)


def strip_html(text: Column) -> Column:
    """Web-corpus markup removal: drop tags (each replaced by a space so
    adjacent text nodes don't fuse), decode the common named entities in
    the fixed order above, collapse whitespace runs, trim. One
    codegen-fused projection — no shuffle, no Python; identical regex
    semantics in Java and RE2 (no lookbehind/backrefs)."""
    out = F.regexp_replace(F.coalesce(text, F.lit("")), HTML_TAG_RX, " ")
    for ent, rep in HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(out, r"\s+", " "))


# --------------------------------------------------------------- compression
COMPRESS_LEVEL = 6  # zlib default-ish; frozen so ratios are reproducible


def _compression_batch(texts, level=COMPRESS_LEVEL):
    """Per-text (n_bytes, n_compressed) under zlib at a frozen level.

    zlib output length is deterministic for a given (input, level,
    library) — the C library is the same in driver, executors, and the
    pandas twin inside one container, so the twin comparison is exact.
    Per-row compress() calls are C-side; the Python loop only moves
    bytes objects (no numeric work).
    """
    import zlib

    nb, nc = [], []
    for t in texts:
        # non-str covers both None and a pandas NaN smuggled into an
        # object column — both mean "missing text"
        b = (t if isinstance(t, str) else "").encode("utf-8")
        nb.append(len(b))
        nc.append(len(zlib.compress(b, level)))
    return nb, nc


def compression_profile(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    level: int = COMPRESS_LEVEL,
) -> DataFrame:
    """zlib-compressibility quality proxy (the classic corpus screen:
    boilerplate/repetitive junk compresses far below prose, while
    already-compressed or random payloads don't compress at all).
    One narrow Arrow-batched map stage over (id, text); ratio is one
    IEEE division of exact integer lengths, so it is batch-invariant
    and twin-exact by construction. Empty docs get ratio NULL (a 0-byte
    input has no meaningful compressibility).
    """
    from typing import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("n_bytes", T.LongType()),
            T.StructField("n_compressed", T.LongType()),
            T.StructField("ratio", T.DoubleType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            nb, nc = _compression_batch(list(pdf[text_col]), level=level)
            out = pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(), "n_bytes": nb, "n_compressed": nc}
            )
            out["ratio"] = [
                (c / b) if b > 0 else None for b, c in zip(nb, nc)
            ]
            yield out

    return docs.select(id_col, text_col).mapInPandas(run, schema=schema)


def compression_profile_pdf(pdf, id_col="doc_id", text_col="text",
                            level=COMPRESS_LEVEL):
    """Exact pandas twin of compression_profile (same kernel)."""
    import pandas as pd

    nb, nc = _compression_batch(list(pdf[text_col]), level=level)
    out = pd.DataFrame(
        {id_col: pdf[id_col].to_numpy(), "n_bytes": nb, "n_compressed": nc}
    )
    out["ratio"] = [(c / b) if b > 0 else None for b, c in zip(nb, nc)]
    return out


# ----------------------------------------------------------- ROUGE-L kernel
def lcs_len_np(a_toks, b_toks) -> int:
    """Length of the longest common subsequence of two token lists.

    Vectorized row DP: tokens are factorized to int ids, then per
    a-token one numpy pass over b — cand[j] = max(old[j], old[j-1] +
    eq[j]) followed by a running max (new[j] = max(cand[j], new[j-1]),
    base 0, so np.maximum.accumulate IS the recurrence, exactly).
    O(|a|·|b|) work, O(|b|) memory, no Python inner loop.  Exactness vs
    the classic 2-D DP is property-tested (oracle.lcs_len_py)."""
    import numpy as np

    if not a_toks or not b_toks:
        return 0
    vocab: dict = {}
    A = np.fromiter(
        (vocab.setdefault(t, len(vocab)) for t in a_toks),
        dtype=np.int64,
        count=len(a_toks),
    )
    B = np.fromiter(
        (vocab.setdefault(t, len(vocab)) for t in b_toks),
        dtype=np.int64,
        count=len(b_toks),
    )
    dp = np.zeros(len(B) + 1, dtype=np.int32)
    for x in A:
        eq = (B == x).astype(np.int32)
        cand = np.maximum(dp[1:], dp[:-1] + eq)
        np.maximum.accumulate(cand, out=cand)
        dp[1:] = cand
    return int(dp[-1])
