"""SentencePiece-style unigram-LM tokenizer training (Kudo 2018,
"Subword Regularization", §3 — the unigram language model tokenizer;
public algorithm, re-derived here over a Spark-built word histogram).

This is the second trainable tokenizer family next to ops/bpe.py:
where BPE grows a vocabulary bottom-up by merging pairs, the unigram
LM starts from an over-complete substring vocabulary and prunes it
down under an EM-estimated piece distribution. We implement the
deterministic hard-EM (Viterbi-EM) variant:

  seed   : all substrings (length 1..max_piece_len) of the word
           histogram, weighted by corpus count; top ``seed_size`` by
           (count desc, piece asc) plus EVERY single character seen
           (guarantees every word stays segmentable).
  E-step : Viterbi-segment each DISTINCT word under the current piece
           log-probs.
  M-step : integer piece counts (sum of word counts along Viterbi
           paths); probabilities are recomputed from the counts.
  prune  : keep all single characters + the top multi-char pieces by
           (count desc, piece asc) until ``vocab_size``.

Scale: the corpus is touched exactly once — the word histogram
(``bpe.word_hist``: one partial+final hash aggregate, collected). Seed,
EM and prune run on the driver over that histogram, so the Spark jobs
do not grow with ``iters``. The bound is the driver: the distinct
vocabulary must hold at most ``bpe.MAX_DISTINCT_WORDS`` words.

Determinism: all counts are exact integers; log-probs are
``log(c) - log(total)`` on those integers (``_logp_from_counts``), and
Viterbi ties break toward the smaller split point (longer last piece),
so the vocabulary does not depend on the partitioning of the corpus.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession

from qamd_spark.ops.bpe import word_hist

__all__ = [
    "viterbi_segment",
    "train_unigram",
    "train_unigram_py",
]


def viterbi_segment(
    word: str, logp: dict[str, float], max_piece_len: int
) -> list[str]:
    """Best segmentation of ``word`` under piece log-probs: DP over end
    positions, candidates bounded by ``max_piece_len``. Ties prefer the
    smaller split point (the longer last piece) — strictly-greater
    update, scanning split points in ascending order. Unsegmentable
    words (a character missing from ``logp``) come back whole."""
    n = len(word)
    neg = float("-inf")
    best = [neg] * (n + 1)
    best[0] = 0.0
    back = [0] * (n + 1)
    for i in range(1, n + 1):
        for j in range(max(0, i - max_piece_len), i):
            p = logp.get(word[j:i])
            if p is None or best[j] == neg:
                continue
            s = best[j] + p
            if s > best[i]:
                best[i] = s
                back[i] = j
    if best[n] == neg:
        return [word]
    out: list[str] = []
    i = n
    while i > 0:
        j = back[i]
        out.append(word[j:i])
        i = j
    out.reverse()
    return out


def _logp_from_counts(counts: dict[str, int]) -> dict[str, float]:
    """log(c) - log(total) on exact integer counts. Zero-count pieces
    are dropped."""
    total = sum(counts.values())
    lt = math.log(total)
    return {p: math.log(c) - lt for p, c in counts.items() if c > 0}


def _prune(
    counts: dict[str, int], vocab_size: int
) -> dict[str, int]:
    """All single characters + top multi-char pieces by
    (count desc, piece asc) until vocab_size."""
    chars = {p: c for p, c in counts.items() if len(p) == 1}
    multi = sorted(
        ((p, c) for p, c in counts.items() if len(p) > 1),
        key=lambda pc: (-pc[1], pc[0]),
    )
    keep = dict(chars)
    for p, c in multi:
        if len(keep) >= max(vocab_size, len(chars)):
            break
        keep[p] = c
    return keep


def train_unigram(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 300,
    seed_size: int = 1000,
    max_piece_len: int = 6,
    iters: int = 3,
) -> list[tuple[str, int, float]]:
    """Train the unigram-LM vocabulary from ``df``: collect the word
    histogram (``word_hist``, the one Spark pass) and run
    ``train_unigram_py`` on the driver."""
    return train_unigram_py(
        word_hist(df, text_col), vocab_size, seed_size, max_piece_len, iters
    )


def train_unigram_py(
    word_cnt: dict[str, int],
    vocab_size: int = 300,
    seed_size: int = 1000,
    max_piece_len: int = 6,
    iters: int = 3,
) -> list[tuple[str, int, float]]:
    """The unigram-LM trainer over a {word: count} histogram; returns
    [(piece, count, logp)] sorted by (count desc, piece asc).

    Note: hard-EM keeps only pieces that win at least one Viterbi path
    — characters the corpus never needs as fallback drop out, so words
    unseen at encode time pass through whole (viterbi_segment's
    unsegmentable contract) rather than erroring."""
    sub: dict[str, int] = {}
    for w, c in word_cnt.items():
        for s in range(len(w)):
            for l in range(1, min(max_piece_len, len(w) - s) + 1):
                p = w[s : s + l]
                sub[p] = sub.get(p, 0) + c
    top = sorted(sub.items(), key=lambda pc: (-pc[1], pc[0]))[:seed_size]
    counts = dict(top)
    for p, c in sub.items():
        if len(p) == 1:
            counts[p] = c
    for _ in range(int(iters)):
        logp = _logp_from_counts(counts)
        nxt: dict[str, int] = {}
        for w, c in word_cnt.items():
            for p in viterbi_segment(w, logp, max_piece_len):
                nxt[p] = nxt.get(p, 0) + c
        counts = _prune(nxt, vocab_size)
    logp = _logp_from_counts(counts)
    out = [(p, c, logp[p]) for p, c in counts.items()]
    out.sort(key=lambda r: (-r[1], r[0]))
    return out


def pieces_df(
    spark: SparkSession, pieces: list[tuple[str, int, float]]
) -> DataFrame:
    return spark.createDataFrame(
        pieces, "piece string, cnt long, logp double"
    )
