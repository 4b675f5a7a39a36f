"""BPE tokenizer training + encoding.

Classic byte-pair-encoding merge learning (Sennrich et al. 2016,
"Neural Machine Translation of Rare Words with Subword Units"):

- the corpus reduces ONCE, in Spark, to the distinct (word, count)
  histogram (``word_counts``, one partial+final hash aggregate), which
  ``word_hist`` collects to the driver in one action;
- the merges are learned on the driver over that histogram
  (``learn_merges``): an incremental pair index (pair -> weighted count,
  pair -> ids of the words holding it) and a lazy max-heap, so a merge
  re-counts only the words that contain the winning pair — the index
  Sennrich et al.'s ``learn_bpe`` keeps. Merges are greedy leftmost
  non-overlapping, the textbook semantics.

Scale: training runs the same Spark jobs whatever ``num_merges`` is —
the histogram aggregate and its collect. The bound is the driver: the
distinct vocabulary must hold at most ``MAX_DISTINCT_WORDS`` words, and
``word_hist`` raises above it after reading cap + 1 rows.

Encoding applies the learned ranks in a single Arrow-batched stage with
the rank table shipped in the task closure (GPT-2-style rank-greedy
merge loop, memoized per distinct word within each batch).

Determinism: the winner is the pair with the largest count, ties
broken by (left, right) ascending in code-point order — exact integer
counts and tuple keys, so the merge list does not depend on the
partitioning of the corpus or the order of the histogram.

Reference scope: the reference (ukdataservice/qamd) has no tokenizer;
this extends the training-data-pipeline surface (token_count_bpe /
fertility_by_lang use a FIXED regex tokenizer — this is the learned
one that the fertility/token-budget math ultimately serves).

Unicode note: symbols are Python code points, both in training and in
encoding, so astral text (emoji) merges like any other: ``"😀😀 😀😀"``
learns the single merge ('😀', '😀', 2). Spark's ``lower``/``\\s+`` split
and ``_py_words`` agree on the word boundary; tests/test_bpe.py pins
that on hostile text.
"""

from __future__ import annotations

import heapq
import re
from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Java regex \s (the training-side tokenizer) is the ASCII class below —
# NOT Python's Unicode \s (which also matches NBSP etc.). The encoder
# splits on exactly this class so training and encoding always agree on
# what a word is.
_JAVA_WS_RE = re.compile(r"[ \t\n\x0b\f\r]+")

# Training holds the word histogram on the driver. The BPE learner's pair
# index peaks at about 1.2 kB per distinct word (116 MB for 100k synthetic
# words), so the cap keeps the driver near 1.2 GB. A larger vocabulary is
# refused after cap + 1 rows, not collected; train on a sample of such a
# corpus (``qamd sample``) instead.
MAX_DISTINCT_WORDS = 1_000_000


def _py_words(text: str | None) -> list[str]:
    """Python twin of the Spark-side tokenization (lower + \\s+ split +
    drop empties), used by the encoders. tests/test_bpe.py pins it equal
    to ``word_counts`` on hostile text (NBSP, vertical tab, CRLF, C0
    controls and separators, astral code points, dotted İ, final sigma)."""
    return [w for w in _JAVA_WS_RE.split((text or "").lower()) if w]


def word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus -> distinct (word, count): the one full-corpus pass."""
    t = F.lower(F.trim(F.coalesce(F.col(text_col), F.lit(""))))
    tok = F.explode(F.split(t, r"\s+", -1)).alias("word")
    return (
        df.select(tok)
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def word_hist(df: DataFrame, text_col: str = "text") -> dict[str, int]:
    """Collect the word histogram to the driver, refusing one over
    ``MAX_DISTINCT_WORDS`` distinct words. The ``limit`` makes the bound
    cost no extra job: an over-cap vocabulary stops after cap + 1 rows
    instead of being collected whole."""
    rows = word_counts(df, text_col).limit(MAX_DISTINCT_WORDS + 1).collect()
    if len(rows) > MAX_DISTINCT_WORDS:
        raise ValueError(
            f"{text_col!r} has more than {MAX_DISTINCT_WORDS:,} distinct "
            "words; tokenizer training holds the word histogram on the driver"
        )
    return {r["word"]: r["cnt"] for r in rows}


def _merge_pair(syms: list[str], a: str, b: str) -> list[str]:
    """Greedy leftmost non-overlapping merge of (a, b) -> a+b."""
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def train_bpe(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 50,
    min_pair_count: int = 2,
) -> list[tuple[str, str, int]]:
    """Learn ``num_merges`` BPE merges; returns [(left, right, pair_count)]
    in rank order. Stops early when the best remaining pair occurs fewer
    than ``min_pair_count`` times."""
    return learn_merges(word_hist(df, text_col), num_merges, min_pair_count)


def learn_merges(
    wc: dict[str, int], num_merges: int = 50, min_pair_count: int = 2
) -> list[tuple[str, str, int]]:
    """The merge learner over a {word: count} histogram. ``count`` holds
    every adjacent pair's weighted count and ``where`` the ids of the
    words that may contain it (stale ids are harmless: merging them is
    a no-op), so a merge re-counts only the words holding the winner.
    The heap is lazy: an entry whose count is no longer current is
    dropped when popped, and every count change pushes a fresh entry."""
    syms = [list(w) for w in wc]
    weight = list(wc.values())
    count: dict[tuple[str, str], int] = {}
    where: dict[tuple[str, str], set[int]] = {}

    def tally(i: int, sign: int, touched: set) -> None:
        s = syms[i]
        for p in zip(s, s[1:]):
            count[p] = count.get(p, 0) + sign * weight[i]
            touched.add(p)
            if sign > 0:
                where.setdefault(p, set()).add(i)

    pairs: set[tuple[str, str]] = set()
    for i in range(len(syms)):
        tally(i, 1, pairs)
    heap = [(-count[p], p) for p in pairs]
    heapq.heapify(heap)
    merges: list[tuple[str, str, int]] = []
    while heap and len(merges) < num_merges:
        neg, (a, b) = heapq.heappop(heap)
        if count.get((a, b)) != -neg:
            continue
        if -neg < min_pair_count:
            break
        merges.append((a, b, -neg))
        touched: set[tuple[str, str]] = set()
        for i in where.pop((a, b)):
            new = _merge_pair(syms[i], a, b)
            if len(new) < len(syms[i]):
                tally(i, -1, touched)
                syms[i] = new
                tally(i, 1, touched)
        for p in touched:
            if count[p]:
                heapq.heappush(heap, (-count[p], p))
            else:
                del count[p]
    return merges


def merges_df(spark: SparkSession, merges: Iterable[tuple[str, str, int]]) -> DataFrame:
    rows = [(i, a, b, n) for i, (a, b, n) in enumerate(merges)]
    return spark.createDataFrame(
        rows, "rank int, left string, right string, pair_count long"
    )


# ----------------------------------------------------------------- encoding
def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Rank-greedy BPE encode of one word (GPT-2 encoder loop): repeatedly
    merge the lowest-rank adjacent pair. Identical to replaying the merge
    list in order (proved by test_bpe.py's replay property)."""
    syms = list(word)
    while len(syms) > 1:
        best_rank, best_i = None, -1
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        # merge ALL leftmost non-overlapping occurrences of that pair
        syms = _merge_pair(syms, syms[best_i], syms[best_i + 1])
    return syms


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str, int]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Append ``out_col: array<string>`` — learned-BPE tokens of the
    lower/trim/whitespace-split words, concatenated in order. One
    Arrow-batched stage; the rank dict rides the task closure (64 kB-ish
    for thousands of merges) and each distinct word in a batch is encoded
    once."""
    ranks = {(a, b): i for i, (a, b, _) in enumerate(merges)}
    fields = df.schema.fieldNames()

    @F.pandas_udf("array<string>")
    def _enc(s: pd.Series) -> pd.Series:
        memo: dict[str, list[str]] = {}

        def enc_text(t):
            toks: list[str] = []
            for w in _py_words(t):  # same word boundary as training
                got = memo.get(w)
                if got is None:
                    got = memo[w] = encode_word(w, ranks)
                toks.extend(got)
            return toks

        return s.map(enc_text)

    return df.select(*fields, _enc(F.col(text_col)).alias(out_col))
