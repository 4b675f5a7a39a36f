"""Near-duplicate detection for large-scale training-data pipelines.

Beyond the reference's exact DuplicateValues check (reference
src/check/post.rs:229-260 — exact value-occurrence counting), these are
the standard web-scale near-dup operators:

- exact_duplicates: hash-groupBy keep-first (also in qamd_spark.pipeline)
- minhash_duplicates: shingle → minhash → LSH band bucketing → bucket join
- simhash_signatures: 64-bit simhash per doc (Hamming-near dups)
- ngram_jaccard_pairs: exact Jaccard over candidate pairs (verification
  stage after LSH banding)

All scoring is vectorized numpy inside Arrow-batched pandas UDFs; banding
and candidate joins are native DataFrame shuffles so Catalyst/AQE handle
skew. Hashes are deterministic polynomial/multiply-shift functions (no
Python hash(), which is seed-randomized).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# deterministic 64-bit mixing constants (splitmix64)
_MASK = np.uint64(0xFFFFFFFFFFFFFFFF)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    x = (x + np.uint64(0x9E3779B97F4A7C15)) & _MASK
    z = x
    z = ((z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & _MASK
    z = ((z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & _MASK
    return z ^ (z >> np.uint64(31))


def _token_hashes(tokens: list[str]) -> np.ndarray:
    """Vectorized 64-bit token hashes (pandas SipHash with its fixed
    default key — deterministic across processes and platforms).

    categorize=True (the fast dedup-first path) is only safe when no
    token embeds a NUL: pandas' categorize factorizes through a C-string
    hash table that TRUNCATES at \\x00, so 'a' and 'a\\x00' sharing a
    batch would get the same (first-seen) hash — a batch-composition-
    dependent result. categorize=False siphashes each element's full
    bytes and returns identical values for clean tokens, so the hybrid is
    value-identical and batch-independent."""
    if not tokens:
        return np.empty(0, dtype=np.uint64)
    cat = not any("\x00" in t for t in tokens)
    return pd.util.hash_array(np.asarray(tokens, dtype=object), categorize=cat)


def _exact_codes(flat: list[str]) -> tuple[np.ndarray, np.ndarray]:
    """factorize with FULL-string equality for NUL-bearing batches
    (pd.factorize's C-string keys truncate at \\x00, collapsing distinct
    tokens batch-dependently)."""
    cmap: dict = {}
    codes = np.fromiter(
        (cmap.setdefault(t, len(cmap)) for t in flat),
        dtype=np.int64,
        count=len(flat),
    )
    return codes, np.asarray(list(cmap), dtype=object)


_SHINGLE_K = 5
# fixed odd per-position mixing constants for the k-token combiner
_SHINGLE_C = _splitmix64(np.arange(11, 11 + _SHINGLE_K, dtype=np.uint64)) | np.uint64(1)


def _shingle_hashes_from_tokens(th: np.ndarray, k: int = _SHINGLE_K) -> np.ndarray:
    """64-bit hashes of k-token shingles from precomputed token hashes.

    Fully vectorized: shifted slices × fixed odd constants, then a
    splitmix64 finalizer. Short docs are zero-padded to one shingle."""
    if len(th) < k:
        th = np.concatenate([th, np.zeros(k - len(th), dtype=np.uint64)])
    n = len(th) - k + 1
    acc = np.zeros(n, dtype=np.uint64)
    for j in range(k):
        acc = (acc + th[j : j + n] * _SHINGLE_C[j]) & _MASK
    return _splitmix64(acc)


N_PERM = 64
N_BANDS = 16  # 16 bands x 4 rows — catches Jaccard >= ~0.5 w.h.p.
ROWS_PER_BAND = N_PERM // N_BANDS

# fixed permutation constants derived deterministically from splitmix64
_PERM_A = _splitmix64(np.arange(1, N_PERM + 1, dtype=np.uint64)) | np.uint64(1)
_PERM_B = _splitmix64(np.arange(101, 101 + N_PERM, dtype=np.uint64))


def _minhash_signature(sh: np.ndarray) -> np.ndarray:
    # (n_shingles, 1) * (N_PERM,) -> min over shingles per permutation
    v = (sh[:, None] * _PERM_A[None, :] + _PERM_B[None, :]) & _MASK
    return v.min(axis=0)


# fixed per-band finalizer constants
def _band_hashes(sig: np.ndarray) -> np.ndarray:
    """Fold each band's ROWS_PER_BAND minhash values into one 64-bit
    bucket hash (vectorized over bands)."""
    bands = sig.reshape(N_BANDS, ROWS_PER_BAND)
    acc = np.zeros(N_BANDS, dtype=np.uint64)
    for j in range(ROWS_PER_BAND):
        acc = (acc + bands[:, j] * _SHINGLE_C[j % _SHINGLE_K]) & _MASK
    acc = (acc + np.arange(1, N_BANDS + 1, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15)) & _MASK
    return _splitmix64(acc)


_MINHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("band", T.IntegerType()),
        T.StructField("band_hash", T.LongType()),
    ]
)

_MINHASH_SCHEMA_STR = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("band", T.IntegerType()),
        T.StructField("band_hash", T.LongType()),
    ]
)


def _scatter_indices(offs: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Positions of each doc's items in a packed array with per-doc slots
    starting at offs: repeat(offs, lens) + intra-doc arange. Pure numpy."""
    tot = int(lens.sum())
    if tot == 0:
        return np.empty(0, dtype=np.int64)
    starts = np.zeros(len(lens), dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    intra = np.arange(tot, dtype=np.int64) - np.repeat(starts, lens)
    return np.repeat(offs, lens) + intra


_PERM_CHUNK = 8  # permutations per vector pass (memory: n_shingles x 8 x 8B)


def _batch_band_hashes(tok_lists: list) -> np.ndarray:
    """Vectorized minhash band hashes for a whole batch: (n_docs, N_BANDS)
    int64 for the docs with tokens (order preserved).

    Whole-batch formulation of the per-doc kernels (the oracle twin in
    oracle/oracle.py keeps the per-doc path; exact-equality tests pin this
    vectorization): docs are packed into one zero-padded token-hash
    array, shingle hashes are computed with K shifted vector ops over the
    packed array, cross-doc/padding shingle positions are masked to
    UINT64_MAX (never win a min), and the per-doc permutation minima come
    from np.minimum.reduceat at the doc offsets — no per-doc Python loop.
    """
    docs = [t for t in tok_lists if t]
    n_docs = len(docs)
    if n_docs == 0:
        return np.zeros((0, N_BANDS), dtype=np.int64)
    lens = np.fromiter((len(t) for t in docs), dtype=np.int64, count=n_docs)
    pad_lens = np.maximum(lens, _SHINGLE_K)  # short docs zero-pad to 1 shingle
    offs = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(pad_lens, out=offs[1:])
    packed = np.zeros(int(offs[-1]), dtype=np.uint64)
    packed[_scatter_indices(offs[:-1], lens)] = _token_hashes(
        [w for t in docs for w in t]
    )
    n_pos = len(packed) - _SHINGLE_K + 1  # global candidate shingle starts
    acc = np.zeros(n_pos, dtype=np.uint64)
    for j in range(_SHINGLE_K):
        acc = (acc + packed[j : j + n_pos] * _SHINGLE_C[j]) & _MASK
    sh = _splitmix64(acc)
    # invalid shingle starts (crossing a doc boundary / inside padding):
    # doc d's valid range is [offs[d], offs[d] + pad_lens[d] - K + 1)
    n_valid = pad_lens - _SHINGLE_K + 1
    inv_start = offs[:-1] + n_valid
    inv_lens = np.clip(np.minimum(offs[1:], n_pos) - inv_start, 0, None)
    inv_idx = _scatter_indices(inv_start, inv_lens)
    sig = np.empty((n_docs, N_PERM), dtype=np.uint64)
    for p0 in range(0, N_PERM, _PERM_CHUNK):
        p1 = min(p0 + _PERM_CHUNK, N_PERM)
        v = (sh[:, None] * _PERM_A[None, p0:p1] + _PERM_B[None, p0:p1]) & _MASK
        v[inv_idx, :] = _MASK  # masked positions never win the min
        sig[:, p0:p1] = np.minimum.reduceat(v, offs[:-1], axis=0)
    # band fold (vectorized _band_hashes)
    bands = sig.reshape(n_docs, N_BANDS, ROWS_PER_BAND)
    acc2 = np.zeros((n_docs, N_BANDS), dtype=np.uint64)
    for j in range(ROWS_PER_BAND):
        acc2 = (acc2 + bands[:, :, j] * _SHINGLE_C[j % _SHINGLE_K]) & _MASK
    acc2 = (
        acc2
        + np.arange(1, N_BANDS + 1, dtype=np.uint64)[None, :]
        * np.uint64(0x9E3779B97F4A7C15)
    ) & _MASK
    return _splitmix64(acc2).astype(np.int64)


def minhash_bands(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    string_ids: bool = False,
) -> DataFrame:
    """doc → N_BANDS (band, band_hash) rows. Pandas-UDF stage, narrow;
    fully batch-vectorized (see _batch_band_hashes). ``string_ids=True``
    keeps the id column as a string (conversation-level dedup keys on
    conv_id); keep-first then means lexicographically-smallest id."""

    band_idx = np.arange(N_BANDS, dtype=np.int32)
    schema = _MINHASH_SCHEMA_STR if string_ids else _MINHASH_SCHEMA

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            tok_lists = [
                t.lower().split() if isinstance(t, str) and t else None
                for t in pdf[text_col]
            ]
            kept = [d for d, t in zip(pdf[id_col], tok_lists) if t]
            ids = (
                np.asarray(kept, dtype=object)
                if string_ids
                else np.asarray(kept, dtype=np.int64)
            )
            hashes = _batch_band_hashes(tok_lists)
            yield pd.DataFrame(
                {
                    "doc_id": np.repeat(ids, N_BANDS),
                    "band": np.tile(band_idx, len(ids)),
                    "band_hash": hashes.ravel(),
                }
            )

    return docs.select(id_col, text_col).mapInPandas(run, schema=schema)


def minhash_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    string_ids: bool = False,
) -> DataFrame:
    """LSH candidate near-dups: docs sharing any band bucket.

    Returns (doc_id, dup_of) with dup_of = the smallest doc id in any
    shared bucket (keep-first convention); only rows where dup_of < doc_id.
    Scale shape: bands shuffle on (band, band_hash) — a self-join-free
    min-per-bucket broadcast-back; giant buckets (boilerplate text) are
    bounded by the min() aggregation, not a pairwise explosion.
    """
    from pyspark.storagelevel import StorageLevel

    # bands feed two consumers (the bucket-min aggregate AND the join
    # back); without a persist both branches re-run the Python minhash
    # stage — measured ~1.5x wall on the full op. ~320 B/doc, spills to
    # disk beyond memory; evicted LRU when downstream moves on.
    bands = minhash_bands(
        docs, id_col=id_col, text_col=text_col, string_ids=string_ids
    ).persist(StorageLevel.MEMORY_AND_DISK)
    bucket_min = bands.groupBy("band", "band_hash").agg(
        F.min("doc_id").alias("bucket_min")
    )
    joined = bands.join(bucket_min, ["band", "band_hash"])
    cand = (
        joined.filter(F.col("bucket_min") < F.col("doc_id"))
        .groupBy("doc_id")
        .agg(F.min("bucket_min").alias("dup_of"))
    )
    return cand.select("doc_id", "dup_of")


_SIMHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("simhash", T.LongType()),
    ]
)


def _batch_simhash(tok_lists: list) -> np.ndarray:
    """Vectorized 64-bit simhash for a whole batch: int64 per doc (empty
    docs → 0). Bit votes are summed per doc with np.add.reduceat over the
    concatenated token-hash array — no per-doc Python loop; bit positions
    are processed 16 at a time to bound the vote matrix."""
    n = len(tok_lists)
    out = np.zeros(n, dtype=np.int64)
    docs = [(i, t) for i, t in enumerate(tok_lists) if t]
    if not docs:
        return out
    rows = np.fromiter((i for i, _ in docs), dtype=np.int64, count=len(docs))
    lens = np.fromiter((len(t) for _, t in docs), dtype=np.int64, count=len(docs))
    starts = np.zeros(len(docs), dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    th = _token_hashes([w for _, t in docs for w in t])
    sig = np.zeros(len(docs), dtype=np.uint64)
    for b0 in range(0, 64, 16):
        bit_pos = np.arange(b0, b0 + 16, dtype=np.uint64)
        bits = ((th[:, None] >> bit_pos[None, :]) & np.uint64(1)).astype(np.int32)
        ones = np.add.reduceat(bits, starts, axis=0)  # per-doc set-bit counts
        votes_pos = 2 * ones > lens[:, None]  # majority of tokens set the bit
        weights = (np.uint64(1) << bit_pos).astype(np.uint64)
        sig += (votes_pos * weights[None, :]).sum(axis=1, dtype=np.uint64)
    out[rows] = sig.astype(np.int64)
    return out


def simhash_signatures(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit simhash over word-unigram hashes (batch-vectorized numpy;
    exactness vs the per-doc oracle twin pinned in tests)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            tok_lists = [
                t.lower().split() if isinstance(t, str) and t else None
                for t in pdf[text_col]
            ]
            yield pd.DataFrame(
                {"doc_id": pdf[id_col].to_numpy(dtype=np.int64),
                 "simhash": _batch_simhash(tok_lists)}
            )

    return docs.select(id_col, text_col).mapInPandas(run, schema=_SIMHASH_SCHEMA)


N_SIMHASH_CHUNKS = 4  # 4 x 16-bit chunks: pigeonhole guarantees any pair
                      # with hamming <= 3 shares at least one chunk exactly
N_SIMHASH_SALTS = 16  # phase-1 partial-min classes per bucket (doc_id % S)
N_SIMHASH_CANDS = 4   # candidate predecessors verified per (doc, bucket)


def simhash_neardups(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """Hamming-neighbor join over simhash signatures (the consumer of
    simhash_signatures). See :func:`simhash_neardups_from_sigs` for the
    resolution semantics and recall characteristics. Signatures are
    persisted (16 B/doc, MEMORY_AND_DISK): the banded join and the
    verify join both consume them, and recomputing the Python signature
    stage on each branch measured ~1.5x wall on the full op."""
    from pyspark.storagelevel import StorageLevel

    sigs = simhash_signatures(docs, id_col=id_col, text_col=text_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    return simhash_neardups_from_sigs(sigs, max_hamming=max_hamming)


def simhash_neardups_from_sigs(
    sigs: DataFrame, max_hamming: int = 3
) -> DataFrame:
    """(doc_id, dup_of, hamming) from a (doc_id, simhash) table: dup_of =
    the smallest candidate id whose signature is within ``max_hamming``
    bits among the pairs the banding surfaces (keep-first convention).

    Scale shape mirrors minhash_duplicates: band the 64-bit signature
    into 4 x 16-bit chunks, shuffle on (chunk, value), resolve each
    bucket to a BOUNDED candidate set with hash aggregates (never an
    all-pairs bucket self-join — a giant bucket of near-identical
    boilerplate collapses in the aggregates), then verify candidates
    exactly with bit_count(xor) <= r after joining the signatures back.

    Candidate resolution is a two-phase bounded top-P: phase 1 takes the
    min doc id per (bucket, doc_id % N_SIMHASH_SALTS) — a partial
    (map-side) hash aggregate, so a hot bucket collapses before the
    shuffle; phase 2 folds each bucket's <= N_SIMHASH_SALTS partial
    minima into its P = N_SIMHASH_CANDS smallest (collect_list bounded by
    the salt count). Each doc is then verified against all P bucket
    candidates below it, in every chunk.

    Recall: pigeonhole guarantees any pair within hamming < 4 shares a
    chunk bucket, and with P > 1 a near pair (B, C) survives even when a
    far smaller doc A is the bucket minimum (the r2 min-per-bucket form
    verified B and C only against A and silently missed B–C). Recall is
    still < 1 adversarially: a pair is missed iff, in EVERY bucket it
    shares, the smaller member is crowded out of the candidate set — by
    >= P smaller partial-minima, or by a smaller id in its own salt
    class. The exact same resolution is twinned in
    oracle/oracle.py::simhash_neardups_pdf (bit-exact tests), and the
    planted crowd-out scenario is pinned in tests/test_hash_oracles.py.
    """
    chunk_structs = [
        F.struct(
            F.lit(i).alias("chunk"),
            F.shiftrightunsigned("simhash", 16 * i)
            .bitwiseAND(F.lit(0xFFFF))
            .alias("val"),
        )
        for i in range(N_SIMHASH_CHUNKS)
    ]
    chunks = sigs.select(
        "doc_id", "simhash", F.explode(F.array(*chunk_structs)).alias("c")
    ).select("doc_id", "simhash", F.col("c.chunk").alias("chunk"), F.col("c.val").alias("val"))
    partial_min = chunks.groupBy(
        "chunk", "val", F.pmod("doc_id", F.lit(N_SIMHASH_SALTS)).alias("_salt")
    ).agg(F.min("doc_id").alias("_pm"))
    bucket_cands = partial_min.groupBy("chunk", "val").agg(
        F.slice(F.array_sort(F.collect_list("_pm")), 1, N_SIMHASH_CANDS).alias(
            "_cands"
        )
    )
    cand = (
        chunks.join(bucket_cands, ["chunk", "val"])
        .select("doc_id", "simhash", F.explode("_cands").alias("cand"))
        .filter(F.col("cand") < F.col("doc_id"))
        .dropDuplicates(["doc_id", "cand"])
    )
    cand = cand.join(
        sigs.select(F.col("doc_id").alias("cand"), F.col("simhash").alias("_sig_b")),
        "cand",
    )
    ham = F.bit_count(F.col("simhash").bitwiseXOR(F.col("_sig_b")))
    verified = cand.select("doc_id", "cand", ham.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )
    return (
        verified.groupBy("doc_id")
        .agg(F.min(F.struct("cand", "hamming")).alias("_m"))
        .select(
            "doc_id",
            F.col("_m.cand").alias("dup_of"),
            F.col("_m.hamming").cast("int").alias("hamming"),
        )
    )


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup keep-first by id order, skew-safe agg+join form (same
    plan as qamd_spark/pipeline.text_stats): min(id) per text collapses
    map-side before the shuffle, so a hot duplicate text never pins one
    task the way Window.partitionBy(text) would. Equivalent to
    row_number()>1 because min(id) IS the rank-1 row; eqNullSafe keeps the
    window semantics for NULL texts (one NULL group). The aggregated side
    is aliased to a distinct attribute (_t) so the join predicate never
    references the same lineage on both sides — the unaliased form relies
    on analyzer-side lineage deduplication and logs a "trivially true
    equals predicate" warning."""
    firsts = docs.groupBy(text_col).agg(F.min(id_col).alias("_first_id")).select(
        F.col(text_col).alias("_t"), "_first_id"
    )
    j = docs.join(firsts, docs[text_col].eqNullSafe(F.col("_t")), "left")
    return j.select(
        docs[id_col], (docs[id_col] != F.col("_first_id")).alias("is_dup")
    )


def cross_corpus_contamination(
    docs: DataFrame,
    ref_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Benchmark decontamination: flag documents of ``docs`` that
    near-duplicate any document of ``ref_docs`` (the held-out benchmark /
    test corpus). Returns (doc_id, contaminated_by, jaccard) — one row
    per contaminated doc, contaminated_by = the smallest ref id sharing a
    minhash band bucket, jaccard = the EXACT word-3-gram Jaccard of that
    pair (>= min_jaccard).

    Scale shape: minhash bands for both sides; the ref side collapses to
    min-ref-id per (band, bucket) — a hash aggregate, so the candidate
    join is bounded by distinct buckets, never |docs| x |ref| — then the
    LSH-then-verify discipline: candidates get the exact Jaccard and the
    threshold. The ref corpus is typically tiny next to the training
    corpus (benchmarks are ~10^3-10^6 docs), so the bucket-min table
    broadcasts. Exact pandas twin: oracle/oracle.py::contamination_pdf.
    """
    d_bands = minhash_bands(docs, id_col=id_col, text_col=text_col)
    r_bands = minhash_bands(ref_docs, id_col=id_col, text_col=text_col)
    r_min = r_bands.groupBy("band", "band_hash").agg(
        F.min("doc_id").alias("_ref")
    )
    cand = (
        d_bands.join(r_min, ["band", "band_hash"])
        .groupBy("doc_id")
        .agg(F.min("_ref").alias("contaminated_by"))
    )
    pairs = cand.select(
        F.col("contaminated_by").alias("a"), F.col("doc_id").alias("b")
    )
    ta = ref_docs.select(F.col(id_col).alias("a"), F.col(text_col).alias("text_a"))
    tb = docs.select(F.col(id_col).alias("b"), F.col(text_col).alias("text_b"))
    joined = pairs.join(ta, "a").join(tb, "b")

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("contaminated_by", T.LongType()),
            T.StructField("jaccard", T.DoubleType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["b"].to_numpy(dtype=np.int64),
                    "contaminated_by": pdf["a"].to_numpy(dtype=np.int64),
                    "jaccard": _batch_jaccard(
                        list(pdf["text_a"]), list(pdf["text_b"]), 3
                    ),
                }
            )

    verified = joined.mapInPandas(run, schema=schema)
    return verified.filter(F.col("jaccard") >= min_jaccard)


def duplicate_clusters(pairs: DataFrame, max_iters: int = 25) -> DataFrame:
    """Connected components over near-duplicate pairs: (doc_id,
    cluster_id) for every doc appearing in ``pairs`` (doc_id, dup_of),
    where cluster_id = the smallest doc id in the component. This is the
    step between pairwise dedup output (minhash_duplicates /
    simhash_neardups / winnow_containment) and a group-level keep
    decision: keep-first pairs form CHAINS (C→B, B→A), and dropping "any
    doc with a dup_of" while keeping only cluster minima requires the
    transitive closure.

    Algorithm: hash-to-min label propagation with pointer jumping — each
    iteration every node takes min(own label, min neighbor label, label
    of its label). Pure DataFrame joins + partial-aggregated mins (no
    per-component state, skew-safe: a giant component collapses in the
    min() aggregates), converging in O(log n) iterations rather than
    O(diameter) thanks to the jump step. Per-iteration labels are
    localCheckpoint()ed: iterative self-joins otherwise double the plan
    per iteration. The driver-side loop reads only a single changed-count
    scalar per iteration (no data collect); raises if ``max_iters`` is
    hit without convergence (25 handles components of ~2^25 docs).

    Exact pandas twin (union-find): oracle/oracle.py::clusters_pdf.
    """
    from pyspark.storagelevel import StorageLevel

    edges = pairs.select(
        F.col("doc_id").alias("a"), F.col("dup_of").alias("b")
    )
    # every iteration joins the edge list; without a persist each round
    # re-runs the WHOLE upstream pairs pipeline (e.g. the minhash LSH)
    edges = (
        edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    labels = (
        edges.select(F.col("a").alias("v"))
        .distinct()
        .select("v", F.col("v").alias("lbl"))
        .localCheckpoint()
    )
    for _ in range(max_iters):
        new = _propagate_labels(labels, edges)
        new = new.localCheckpoint()  # truncate iterative lineage
        changed = new.agg(
            F.sum((F.col("lbl") != F.col("_old")).cast("long")).alias("c")
        ).collect()[0]["c"]
        labels = new.select("v", "lbl")
        if not changed:
            # labels are localCheckpoint-materialized; edges no longer needed
            edges.unpersist()
            return labels.select(
                F.col("v").alias("doc_id"), F.col("lbl").alias("cluster_id")
            )
    raise RuntimeError(
        f"duplicate_clusters did not converge in {max_iters} iterations"
    )


def _propagate_labels(labels: DataFrame, edges: DataFrame) -> DataFrame:
    """One hash-to-min + pointer-jump round: (v, lbl, _old) where lbl =
    min(own label, min neighbor label, label of own label). Exposed
    separately so the plan tests can pin the round's join strategy
    (equi-joins + partial-agg min — never a nested-loop join)."""
    nbr = (
        edges.join(
            labels.select(F.col("v").alias("b"), F.col("lbl").alias("_nl")),
            "b",
        )
        .groupBy("a")
        .agg(F.min("_nl").alias("_nbr_min"))
        .select(F.col("a").alias("v"), "_nbr_min")
    )
    jump = labels.select(
        F.col("lbl").alias("_jv"), F.col("v").alias("_of")
    ).join(
        labels.select(F.col("v").alias("_jv"), F.col("lbl").alias("_jl")),
        "_jv",
    ).select(F.col("_of").alias("v"), "_jl")
    return (
        labels.join(nbr, "v", "left")
        .join(jump, "v", "left")
        .select(
            "v",
            F.least(
                "lbl",
                F.coalesce("_nbr_min", "lbl"),
                F.coalesce("_jl", "lbl"),
            ).alias("lbl"),
            (F.col("lbl")).alias("_old"),
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    candidates: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Exact word-n-gram Jaccard for candidate pairs (a, b).

    candidates: DataFrame(a, b) — typically the minhash LSH output.
    Joins text for both sides (broadcast if small) then scores pairs in a
    pandas-UDF stage. This is the verify stage of the classic
    LSH-then-verify dedup pipeline.
    """
    ta = docs.select(F.col(id_col).alias("a"), F.col(text_col).alias("text_a"))
    tb = docs.select(F.col(id_col).alias("b"), F.col(text_col).alias("text_b"))
    pairs = candidates.join(ta, "a").join(tb, "b")

    schema = T.StructType(
        [
            T.StructField("a", T.LongType()),
            T.StructField("b", T.LongType()),
            T.StructField("jaccard", T.DoubleType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[["a", "b"]].copy()
            out["jaccard"] = _batch_jaccard(
                list(pdf["text_a"]), list(pdf["text_b"]), n
            )
            yield out

    return pairs.mapInPandas(run, schema=schema)


def _batch_jaccard(texts_a: list, texts_b: list, n: int) -> np.ndarray:
    """Exact n-gram Jaccard for aligned text pairs, batch-vectorized.

    Tokens are factorized over the batch and each n-gram packed as a
    base-V integer (V = #distinct + 1; 1-based digits, absent positions
    0) — a BIJECTION onto the tuple space (short docs' < n-token tuples
    occupy distinct lengths, so no collisions; the tuple-set oracle twin
    in oracle/oracle.py pins equality). Per-pair distinct/union counts
    come from one lexsort + first-occurrence bincount over the whole
    batch — no per-pair Python set algebra. Falls back to the tuple-set
    path on the (unrealistic) V**n overflow."""
    m = len(texts_a)
    if m == 0:
        return np.empty(0, dtype=np.float64)
    toks = [
        t.lower().split() if isinstance(t, str) else [] for t in texts_a + texts_b
    ]
    all_tok = [w for tl in toks for w in tl]
    if not all_tok:
        return np.ones(m, dtype=np.float64)  # both-empty pairs: jaccard 1
    if any("\x00" in w for w in all_tok):  # see _exact_codes
        codes, uniq = _exact_codes(all_tok)
    else:
        codes, uniq = pd.factorize(np.asarray(all_tok, dtype=object))
    V = np.uint64(len(uniq) + 1)
    if float(V) ** n >= 2.0**63:  # pragma: no cover - ~10^6 distinct @ n=3
        return np.fromiter(
            (
                (len(sa & sb) / u if (u := len((sa := _ngram_set(x, n)) | (sb := _ngram_set(y, n)))) else 1.0)
                for x, y in zip(texts_a, texts_b)
            ),
            dtype=np.float64,
            count=m,
        )
    lens = np.fromiter((len(t) for t in toks), dtype=np.int64, count=2 * m)
    nz = lens > 0
    pad_lens = np.where(nz, np.maximum(lens, n), 0)
    offs = np.zeros(2 * m + 1, dtype=np.int64)
    np.cumsum(pad_lens, out=offs[1:])
    packed = np.zeros(int(offs[-1]), dtype=np.uint64)
    packed[_scatter_indices(offs[:-1], lens)] = codes.astype(np.uint64) + np.uint64(1)
    n_pos = max(len(packed) - n + 1, 0)
    acc = np.zeros(n_pos, dtype=np.uint64)
    for j in range(n):
        acc += packed[j : j + n_pos] * (V ** np.uint64(j))
    n_grams = np.where(nz, pad_lens - n + 1, 0)
    gram_row = np.repeat(np.arange(2 * m, dtype=np.int64), n_grams)
    grams = acc[_scatter_indices(offs[:-1], n_grams)]
    # distinct grams within each (row, side)
    order = np.lexsort((grams, gram_row))
    gr, gv = gram_row[order], grams[order]
    first = np.ones(len(gr), dtype=bool)
    first[1:] = (gr[1:] != gr[:-1]) | (gv[1:] != gv[:-1])
    gr, gv = gr[first], gv[first]
    pair = gr % m  # rows 0..m-1 = a-side, m..2m-1 = b-side of pair (row % m)
    d_side = np.bincount(gr, minlength=2 * m)
    # union per pair: distinct over both sides
    order2 = np.lexsort((gv, pair))
    pr, pv = pair[order2], gv[order2]
    u_first = np.ones(len(pr), dtype=bool)
    u_first[1:] = (pr[1:] != pr[:-1]) | (pv[1:] != pv[:-1])
    union = np.bincount(pr[u_first], minlength=m).astype(np.float64)
    inter = d_side[:m] + d_side[m:] - union
    return np.where(union > 0, inter / np.maximum(union, 1), 1.0)


def _ngram_set(text, n: int) -> set:
    if not isinstance(text, str):
        return set()
    toks = text.lower().split()
    if len(toks) < n:
        return {tuple(toks)} if toks else set()
    return {tuple(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def span_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 5,
) -> DataFrame:
    """C4-style corpus-wide duplicate-span removal (Raffel et al. 2020
    deduplicate three-sentence spans; here the span is a fixed window of
    ``span_tokens`` whitespace tokens, the sentence-free analogue for
    transcript text). Every aligned span that occurs more than once in
    the corpus is kept only at its first occurrence — ordered by
    (id, span position) — and removed everywhere else; each document's
    text is reassembled from its surviving spans.

    Returns (doc_id, clean_text, n_spans, n_removed) for EVERY input
    document (documents losing all spans keep an empty clean_text).
    Tokenisation drops empty tokens, so runs of spaces collapse to one
    separator in the reassembled text (a cleaning op normalises).

    Scale shape: spans are built per-row with array expressions (no
    token-level explode — the explode is at span granularity, ~1/W the
    rows). Keep-first avoids a min(struct) aggregate (which Spark plans
    as a SortAggregate over EVERY span): one fully hash-aggregable pass
    computes (count, min(doc_id)) per span — map-side combine collapses
    hot boilerplate spans before the shuffle — and the positional
    tie-break (min span_idx inside the keeper doc) is resolved only for
    spans that actually duplicate, the same dup-only discipline as
    pipeline.text_stats. Unique spans (the vast majority) never touch
    the keeper machinery. Aggregated sides are aliased (_c) so join
    predicates reference distinct attributes. Reassembly shuffles once
    more on the id; collect_list is bounded by a single document's span
    count. At 100 TB the span-text shuffle key can be swapped for
    xxhash64(span) to cut shuffle bytes ~8x (64-bit collision odds are
    negligible but nonzero, so the exact-text key is the default
    contract here).
    """
    if span_tokens < 1:
        raise ValueError(f"span_tokens must be >= 1, got {span_tokens}")
    W = int(span_tokens)
    toks = F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), " "),
        lambda x: x != F.lit(""),
    )
    n = F.size(toks)
    nch = F.ceil(n / F.lit(W)).cast("int")
    spans = F.when(
        n > F.lit(0),
        F.transform(
            F.sequence(F.lit(0), nch - F.lit(1)),
            lambda i: F.array_join(F.slice(toks, i * W + 1, W), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    base = docs.select(F.col(id_col).alias("doc_id"), spans.alias("_spans"))
    ex = base.select(
        "doc_id", F.posexplode("_spans").alias("span_idx", "span")
    )
    stats = ex.groupBy("span").agg(
        F.count(F.lit(1)).alias("_n"), F.min("doc_id").alias("_d0")
    )
    dup = stats.where(F.col("_n") > 1).select(
        F.col("span").alias("_c"), "_d0"
    )
    keep_idx = (
        ex.join(dup, ex["span"] == F.col("_c"))
        .where(F.col("doc_id") == F.col("_d0"))
        .groupBy("_c")
        .agg(F.min("span_idx").alias("_i0"))
    )
    keepers = dup.join(keep_idx, "_c")
    kept = (
        ex.join(keepers, ex["span"] == F.col("_c"), "left")
        .where(
            F.col("_c").isNull()
            | (
                (F.col("doc_id") == F.col("_d0"))
                & (F.col("span_idx") == F.col("_i0"))
            )
        )
        .select("doc_id", "span_idx", "span")
    )
    re_docs = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("span_idx", "span"))),
                lambda s: s["span"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("int").alias("_n_kept"),
    )
    counts = base.select("doc_id", F.size("_spans").alias("n_spans"))
    return counts.join(re_docs, "doc_id", "left").select(
        "doc_id",
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        F.col("n_spans").cast("int").alias("n_spans"),
        (F.col("n_spans") - F.coalesce(F.col("_n_kept"), F.lit(0)))
        .cast("int")
        .alias("n_removed"),
    )


def canonical_keepers(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Quality-preferring representative selection for near-duplicate
    clusters (the keep-one-copy step of C4/RefinedWeb-style dedup, but
    keeping the BEST copy rather than the first): connected components
    over ``pairs`` (doc_id, dup_of), then per cluster the member with
    the highest ops/text.quality_score — ties broken to the smallest id.

    Returns (doc_id, cluster_id, keeper_id, is_canonical) for every doc
    appearing in ``pairs``; docs in no cluster are trivially canonical
    and not emitted.

    Scale shape: clusters come from duplicate_clusters (log-rounds
    min-label propagation); the argmax is max(struct(score, -id)) —
    a SortAggregate, but only over CLUSTER MEMBERS (docs that actually
    near-duplicate, a small fraction of the corpus) — the same dup-only
    discipline as span_dedup/text_stats. Exact pandas twin:
    oracle/oracle.py::canonical_keepers_pdf.
    """
    from qamd_spark.ops.text import quality_score

    clusters = duplicate_clusters(pairs)
    scored = docs.select(
        F.col(id_col).alias("doc_id"),
        quality_score(F.col(text_col)).alias("_q"),
    )
    m = clusters.join(scored, "doc_id")
    k = (
        m.groupBy("cluster_id")
        .agg(
            F.max(
                F.struct(F.col("_q").alias("_s"), (-F.col("doc_id")).alias("_nid"))
            ).alias("_k")
        )
        .select(
            F.col("cluster_id").alias("_cl"),
            (-F.col("_k._nid")).cast("long").alias("keeper_id"),
        )
    )
    return (
        m.join(k, m["cluster_id"] == F.col("_cl"))
        .select(
            "doc_id",
            "cluster_id",
            "keeper_id",
            (F.col("doc_id") == F.col("keeper_id")).alias("is_canonical"),
        )
    )


# --------------------------------------------------------------------------
# Bloom-filter incremental dedup — "is this text already in the historical
# corpus?" without joining against the historical corpus. The CCNet /
# Dolma-style scale play: history is 10^12 rows, the fresh crawl shard is
# 10^9; an equi-join on text hash shuffles both sides, while a Bloom
# filter reduces history to a fixed-size bit table built once and joined
# broadcast-style against the probe's hash positions.
#
# Everything stays JVM-side — no Python stage, no driver-side bitmap:
#   build: k salted xxhash64 positions per text -> (word_idx = pos/64,
#          bit_or(1 << pos%64)) hash aggregate -> <= m/64 rows.
#   probe: same k positions -> join the word table on word_idx (tiny ->
#          broadcast; AQE degrades to shuffle join if m is sized huge) ->
#          a doc is maybe_dup iff ALL k of its bits are set (min over hit).
#
# Guarantees: NO false negatives (a probe text byte-equal to any history
# text always has all k bits set — same hash, same salt, same m).
# False-positive rate ~ (1 - e^{-kn/m})^k; size m ~ 10 bits per history
# row with k = 7 for ~1%. The reference's DuplicateValues check
# (src/check/post.rs:228-257) is the exact-equality ancestor; this is its
# cross-corpus approximate-membership scale form.


def bloom_positions(text, m: int, k: int = 7):
    """Array Column of k bit positions for text: pmod(xxhash64(text
    salted with the probe index), m). Null text hashes as ''."""
    t = F.coalesce(text, F.lit(""))
    return F.array(
        *[
            F.pmod(F.xxhash64(F.concat(t, F.lit(f"\x00bloom{i}"))), F.lit(m))
            for i in range(k)
        ]
    )


def bloom_build(
    history: DataFrame, text_col: str = "text", m: int = 1 << 20, k: int = 7
) -> DataFrame:
    """The packed Bloom bit table of the history corpus: (word_idx long,
    bits long) with at most m/64 rows. One explode + one hash aggregate
    (map-side combined); nothing touches the driver."""
    pos = (
        history.select(
            F.explode(bloom_positions(F.col(text_col), m, k)).alias("_pos")
        )
        .select(
            (F.col("_pos") / 64).cast("long").alias("word_idx"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(_pos, 64) AS INT))").alias("_bit"),
        )
    )
    return pos.groupBy("word_idx").agg(F.bit_or("_bit").alias("bits"))


def bloom_probe(
    probe: DataFrame,
    bloom_words: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    m: int = 1 << 20,
    k: int = 7,
) -> DataFrame:
    """(id_col, maybe_dup): maybe_dup = all k Bloom bits set in the
    history table. Probe positions explode to k rows per doc, join the
    bit table on word_idx (broadcast at sane m; missing word -> miss),
    and a min-over-hits aggregate folds back to one row per doc."""
    pos = probe.select(
        F.col(id_col),
        F.explode(bloom_positions(F.col(text_col), m, k)).alias("_pos"),
    ).select(
        id_col,
        (F.col("_pos") / 64).cast("long").alias("word_idx"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(_pos, 64) AS INT))").alias("_bit"),
    )
    hit = pos.join(F.broadcast(bloom_words), "word_idx", "left").select(
        id_col,
        F.coalesce(F.col("bits").bitwiseAND(F.col("_bit")) != 0, F.lit(False)).alias("_hit"),
    )
    return hit.groupBy(id_col).agg(F.min("_hit").alias("maybe_dup"))


def corpus_diff(
    a: DataFrame,
    b: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Snapshot diff between two corpus versions by content hash:
    (id, status) with status in added / removed / changed / unchanged —
    the bookkeeping step of iterative crawls (what changed since the
    last dump decides what re-enters the pipeline). One full-outer
    equi-join on the id; content compared via md5 of the raw text so
    renamed/moved text bodies still count as changed. The reference's
    file-level input fingerprint (qamd check invalidation) is the
    whole-corpus ancestor; this is its per-row form."""
    ha = a.select(
        F.col(id_col).alias("_id"),
        F.md5(F.coalesce(F.col(text_col), F.lit("\x00null"))).alias("_ha"),
    )
    hb = b.select(
        F.col(id_col).alias("_id"),
        F.md5(F.coalesce(F.col(text_col), F.lit("\x00null"))).alias("_hb"),
    )
    j = ha.join(hb, "_id", "full_outer")
    status = (
        F.when(F.col("_ha").isNull(), F.lit("added"))
        .when(F.col("_hb").isNull(), F.lit("removed"))
        .when(F.col("_ha") != F.col("_hb"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select(F.col("_id").alias(id_col), status.alias("status"))


def ngram_contamination(
    train: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """GPT-3-style exact n-gram decontamination (Brown et al. 2020
    appendix C; PaLM uses the same recipe): a training doc is
    contaminated if it shares any exact lowercased word n-gram with the
    benchmark corpus. Per doc: distinct-gram count, overlapping-gram
    count, overlap fraction, contaminated flag — the exact complement of
    the LSH-then-Jaccard cross_corpus_contamination above (this one has
    zero false positives/negatives for the n-gram criterion and is plain
    SQL, so it carries a hash-exact DuckDB twin).

    Scale shape: grams are DISTINCT per doc before the join (bounded by
    doc length), the benchmark side collapses to a distinct gram set
    (tiny — benchmarks are ~10^5 docs vs 10^12 train) and broadcasts;
    the per-doc rollup is one partial-aggregated count. Docs shorter
    than n words have zero grams and report overlap 0."""
    from qamd_spark.ops.text import word_ngrams, words_array

    def grams(df):
        return df.select(
            F.col(id_col),
            F.explode(
                F.array_distinct(
                    word_ngrams(words_array(F.col(text_col)), n)
                )
            ).alias("gram"),
        )

    tg = grams(train)
    bg = grams(benchmark).select("gram").distinct()
    per_doc = tg.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_grams"))
    hits = (
        tg.join(F.broadcast(bg), "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    j = per_doc.join(hits, id_col, "left").select(
        id_col,
        "n_grams",
        F.coalesce(F.col("n_overlap"), F.lit(0)).alias("n_overlap"),
        (
            F.coalesce(F.col("n_overlap"), F.lit(0)).cast("double")
            / F.col("n_grams").cast("double")
        ).alias("overlap_frac"),
        (F.coalesce(F.col("n_overlap"), F.lit(0)) > 0).alias("contaminated"),
    )
    # docs with < n words have no grams at all — report them explicitly
    short = train.select(F.col(id_col)).exceptAll(per_doc.select(id_col))
    return j.unionByName(
        short.select(
            id_col,
            F.lit(0).cast("long").alias("n_grams"),
            F.lit(0).cast("long").alias("n_overlap"),
            F.lit(0.0).alias("overlap_frac"),
            F.lit(False).alias("contaminated"),
        )
    )


def substr_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window_tokens: int = 5,
) -> DataFrame:
    """ExactSubstr-style corpus-wide duplicate-substring removal (Lee et
    al. 2021, "Deduplicating Training Data Makes Language Models
    Better", §4.1 — the suffix-array ExactSubstr pass, re-expressed at
    whitespace-token grain for Spark): every SLIDING window of
    ``window_tokens`` tokens (all starts 0..n-W, not span_dedup's
    aligned W-token chunks) that occurs more than once corpus-wide is
    kept only at its first occurrence — ordered by (doc_id, start) —
    and a token is removed when ANY dropped window covers it, so
    shifted duplicates that the aligned pass misses are caught and
    overlapping dropped windows merge into maximal removed intervals,
    exactly ExactSubstr's behaviour on its duplicated spans.

    Returns (doc_id, clean_text, n_tokens, n_removed,
    n_dropped_windows) for EVERY input document: docs shorter than W
    tokens emit no windows and keep all their text (ExactSubstr ignores
    substrings below the length threshold); docs losing every token
    keep an empty clean_text. Tokenisation drops empty tokens, so runs
    of spaces collapse to one separator in the reassembled text.

    Scale shape: windows are built per-row with array expressions and
    exploded at window grain (~1 row per token — inherently W× the
    aligned pass's shuffle; at 100 TB swap the shuffle key for
    xxhash64(gram) to cut shuffle bytes ~8×, same caveat as
    span_dedup). Keep-first is the fully hash-aggregable dup-only
    discipline: one (count, min(doc_id)) pass per gram — map-side
    combine collapses hot boilerplate before the shuffle — and the
    positional tie-break (min start inside the keeper doc) is resolved
    only for grams that actually duplicate. Removal never explodes at
    token grain: each doc's dropped starts come back as ONE sorted
    array and the coverage test is a JVM higher-order filter/exists
    over the token array — O(tokens × dropped-starts) per doc, bounded
    by document length. Aggregated sides are aliased (_c) so join
    predicates reference distinct attributes.
    """
    if window_tokens < 1:
        raise ValueError(f"window_tokens must be >= 1, got {window_tokens}")
    W = int(window_tokens)
    toks = F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), " "),
        lambda x: x != F.lit(""),
    )
    base = docs.select(F.col(id_col).alias("doc_id"), toks.alias("_toks"))
    n = F.size("_toks")
    grams = F.when(
        n >= F.lit(W),
        F.transform(
            F.sequence(F.lit(0), n - F.lit(W)),
            lambda i: F.array_join(F.slice("_toks", i + 1, W), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    ex = base.select(
        "doc_id", F.posexplode(grams).alias("pos", "gram")
    )
    stats = ex.groupBy("gram").agg(
        F.count(F.lit(1)).alias("_n"), F.min("doc_id").alias("_d0")
    )
    dup = stats.where(F.col("_n") > 1).select(
        F.col("gram").alias("_c"), "_d0"
    )
    first_pos = (
        ex.join(dup, ex["gram"] == F.col("_c"))
        .where(F.col("doc_id") == F.col("_d0"))
        .groupBy("_c")
        .agg(F.min("pos").alias("_i0"))
    )
    dropped = (
        ex.join(dup.join(first_pos, "_c"), ex["gram"] == F.col("_c"))
        .where(
            (F.col("doc_id") != F.col("_d0"))
            | (F.col("pos") != F.col("_i0"))
        )
        .select("doc_id", "pos")
    )
    starts = dropped.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("pos")).alias("_starts")
    )
    j = base.join(starts, "doc_id", "left")
    ss = F.coalesce(F.col("_starts"), F.array().cast("array<int>"))
    covered = lambda i: F.exists(  # noqa: E731
        ss, lambda s: (i >= s) & (i <= s + F.lit(W - 1))
    )
    clean = F.filter("_toks", lambda x, i: ~covered(i))
    return j.select(
        "doc_id",
        F.array_join(clean, " ").alias("clean_text"),
        F.size("_toks").cast("int").alias("n_tokens"),
        (F.size("_toks") - F.size(clean)).cast("int").alias("n_removed"),
        F.size(ss).cast("int").alias("n_dropped_windows"),
    )


def setsim_join(
    df: DataFrame,
    n: int = 3,
    t_num: int = 1,
    t_den: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT set-similarity self-join with prefix filtering (SSJoin,
    Chaudhuri/Ganti/Kaushik ICDE'06; prefix ordering per Bayardo et al.
    WWW'07, the algorithm family PPJoin refines): all document pairs
    whose word-n-gram shingle sets have Jaccard >= t_num/t_den, with
    ZERO false negatives — the exact counterpart of the probabilistic
    minhash/simhash paths (reference parity: the same duplicate-value
    intent as src/check/post.rs DuplicateValues, lifted to fuzzy text).

    Exactness discipline: the threshold is carried as a rational. The
    accept test is inter*(t_num+t_den) >= t_num*(na+nb) — pure int64
    (J >= t  <=>  inter*den >= num*(na+nb-inter)) — and the emitted
    jaccard is ONE IEEE division of exact ints, so a SQL engine running
    the naive all-pairs join bit-matches (the DuckDB oracle does exactly
    that, which also empirically re-proves the filter lossless on every
    gate run).

    Scale shape (the reason this isn't an all-pairs join): a doc pair
    with J >= t must (a) have size ratio min/max >= t and (b) share a
    token among each side's first |s| - ceil(t*|s|) + 1 tokens under a
    GLOBAL rarest-first frequency order (prefix-filter lemma). So the
    join explodes ONLY prefixes, ordered by broadcast-free document
    frequencies from one hash aggregate. Measured growth (BENCH/
    ANALYSIS.md r5): per-decade exponent ~1.3, intrinsic to enumerating
    prefix candidates over a CLOSED token vocabulary (prefix lists
    lengthen as df's grow with n) — no verification-side filter trims
    enumeration, so the DECLARED 100 TB posture is: run this exact
    audit on a deterministic hash-sample (pre-filter doc_id % K == 0,
    expressible identically in Spark and any SQL oracle, coverage 1/K
    declared with the audit output), with linear minhash as the
    full-corpus default. The PPJoin POSITIONAL filter
    (Xiao et al. WWW'08 lemma 2) then drops any candidate whose best
    possible overlap 1 + min(na-1-pa, nb-1-pb) — pa/pb the 0-based
    prefix positions of the shared token in each side's global order —
    falls below the required overlap ceil(t/(1+t)*(na+nb)); survivors
    collapse through a per-pair groupBy (partial+final agg, same
    shuffle a distinct would cost) that ALSO applies PPJoin's
    accumulated-overlap bound k + min(na-1-max pa, nb-1-max pb) >= alpha
    (r5 — see the inline proof at the candidate block) BEFORE the verify
    joins; the exact intersection runs once per surviving candidate via
    array_intersect on the two shingle arrays (bounded by candidates,
    never N^2). Both ceilings are computed as (x + d - 1) div d — exact
    integer ceiling, no float boundary risk anywhere in the filters.

    The frequency ranking attaches via a JOIN back onto the exploded
    shingles (never collect_list(doc) per token: a hot template shingle
    appearing in millions of docs would make that list a single-row
    bomb, while the join shuffles it across partitions). At bench scale
    (sf0.1, one parquet block) AQE coalesces every stage to one task, so
    wall time there is serial-execution floor, not plan cost."""
    from pyspark.storagelevel import StorageLevel

    from qamd_spark.ops.text import word_ngrams, words_array

    toks = df.select(
        F.col(id_col).alias("doc"),
        F.array_distinct(
            word_ngrams(words_array(F.col(text_col)), n)
        ).alias("toks"),
    ).filter(F.size("toks") > 0)
    tok = toks.select("doc", F.explode("toks").alias("token"))
    dfreq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("dfr"))
    # The ranked relation feeds FOUR consumers (both self-join sides and
    # both verify sides); without pinning it the diamond re-runs the
    # scan+shingle+dfreq pipeline 12x (measured; neither static nor AQE
    # exchange reuse collapses it). Same persist discipline as
    # simhash_neardups above — ~corpus-sized, spills to disk.
    ranked = (
        tok.join(dfreq, "token")
        .groupBy("doc")
        .agg(
            F.array_sort(F.collect_list(F.struct("dfr", "token"))).alias(
                "rt"
            ),
            F.count(F.lit(1)).cast("long").alias("nt"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    ceil_tn = F.expr(f"(nt * {t_num} + {t_den - 1}) div {t_den}")
    plen = (F.col("nt") - ceil_tn + 1).cast("int")
    pref = ranked.select(
        "doc",
        "nt",
        F.posexplode(
            F.slice(F.col("rt").getField("token"), F.lit(1), plen)
        ).alias("pos", "token"),
    )
    a = pref.select(
        F.col("doc").alias("doc_a"),
        F.col("nt").alias("na"),
        F.col("pos").alias("pa"),
        "token",
    )
    b = pref.select(
        F.col("doc").alias("doc_b"),
        F.col("nt").alias("nb"),
        F.col("pos").alias("pb"),
        F.col("token").alias("tok_b"),
    )
    # required overlap for J >= t: alpha = ceil(t/(1+t) * (na+nb))
    alpha = F.expr(
        f"((na + nb) * {t_num} + {t_num + t_den - 1}) div {t_num + t_den}"
    )
    ubound = 1 + F.least(
        F.col("na") - 1 - F.col("pa"), F.col("nb") - 1 - F.col("pb")
    )
    # r5 (VERDICT item 3): the dedupe of candidate pairs is a groupBy
    # instead of distinct (same shuffle), which exposes PPJoin's
    # ACCUMULATED-overlap bound declaratively: per pair, k = number of
    # shared prefix tokens and (pam, pbm) = positions of the shared
    # prefix token with the largest global rank (positions within each
    # doc are monotone in the shared (dfr, token) total order, so the
    # max-pa token IS the max-pb token). Every shared token outside
    # those k ranks strictly after it in BOTH docs, hence
    #   overlap <= k + min(na-1-pam, nb-1-pbm)
    # — tighter than any single token's Lemma-2 bound whenever k > 1
    # (the per-token ubound filter above still runs first, pruning rows
    # before the shuffle). Lossless by construction: an upper-bound
    # filter; the exact verify below is unchanged, so results are
    # bit-identical (the DuckDB all-pairs oracle re-proves this on
    # every gate run).
    cand = (
        a.join(b, (a["token"] == b["tok_b"]) & (a["doc_a"] < b["doc_b"]))
        .filter(
            F.least("na", "nb") * t_den >= F.greatest("na", "nb") * t_num
        )
        .filter(ubound >= alpha)
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.max("pa").alias("pam"),
            F.max("pb").alias("pbm"),
            F.min("na").alias("na"),
            F.min("nb").alias("nb"),
        )
        .filter(
            F.col("k")
            + F.least(
                F.col("na") - 1 - F.col("pam"), F.col("nb") - 1 - F.col("pbm")
            )
            >= alpha
        )
        .select("doc_a", "doc_b")
    )
    # verify arrays come off the SAME persisted relation (array_intersect
    # is order-insensitive, so the frequency-sorted token arrays serve)
    ta = ranked.select(
        F.col("doc").alias("doc_a"),
        F.col("rt").getField("token").alias("toks_a"),
    )
    tb = ranked.select(
        F.col("doc").alias("doc_b"),
        F.col("rt").getField("token").alias("toks_b"),
    )
    v = (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("toks_a", "toks_b"))
            .cast("long")
            .alias("inter"),
            F.size("toks_a").cast("long").alias("na"),
            F.size("toks_b").cast("long").alias("nb"),
        )
    )
    return v.filter(
        F.col("inter") * (t_num + t_den)
        >= (F.col("na") + F.col("nb")) * t_num
    ).select(
        "doc_a",
        "doc_b",
        "inter",
        "na",
        "nb",
        (
            F.col("inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("inter")).cast("double")
        ).alias("jaccard"),
    )


def _deletion_variants(tok, max_ed: int = 2):
    """All strings reachable from ``tok`` by deleting up to ``max_ed``
    (default 2) characters, as a deduplicated JVM array Column — the
    FastSS deletion neighborhood D<=k (Bocek et al., U. Zurich TR
    ifi-2007.02 "Fast Similarity Search in Large Dictionaries").

    Pure higher-order-function SQL (transform/flatten over sequence) so
    the whole neighborhood stays inside whole-stage codegen — no Python
    in the hot path. |D<=2(t)| = 1 + L + L(L-1)/2, bounded for word-
    length tokens (L=10 -> 56 variants)."""
    if max_ed not in (1, 2):
        raise ValueError("edit_join supports max_ed in {1, 2}")
    n = F.length(tok)
    # delete position i (1-based)
    del1 = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.concat(
            tok.substr(F.lit(1), i - 1), tok.substr(i + 1, n)
        ),
    )
    parts = [F.array(tok), del1]
    if max_ed == 2:
        # delete positions i < j: prefix + mid gap + suffix
        del2 = F.flatten(
            F.transform(
                F.sequence(F.lit(1), n - 1),
                lambda i: F.transform(
                    F.sequence(i + 1, n),
                    lambda j: F.concat(
                        tok.substr(F.lit(1), i - 1),
                        tok.substr(i + 1, j - i - 1),
                        tok.substr(j + 1, n),
                    ),
                ),
            )
        )
        parts.append(F.when(n >= 2, del2).otherwise(F.array()))
    return F.array_distinct(F.concat(*parts))


def edit_join(
    vocab: DataFrame,
    max_ed: int = 2,
    tok_col: str = "tok",
) -> DataFrame:
    """EXACT edit-distance self-join over a vocabulary: all token pairs
    with levenshtein(a, b) <= max_ed, via the FastSS / SymSpell
    deletion-neighborhood equi-join — the spelling-variant miner that
    canonicalizes near-identical vocabulary before tokenizer training
    (reference parity: the fuzzy analogue of the spellcheck family,
    src/check/post.rs spellcheck — membership there, edit proximity
    here).

    Zero false negatives: ed(a, b) <= k implies the deletion
    neighborhoods D<=k(a) and D<=k(b) intersect (align the optimal edit
    script; deleting each side's edited positions reaches the common
    subsequence, and each side deletes at most k chars — FastSS lemma).
    So candidates = pairs sharing ANY deletion variant, then ONE exact
    `levenshtein` verify per surviving pair. A naive all-pairs SQL
    oracle re-proves the filter lossless on every gate run.

    Scale shape: variant explode is linear in vocab (x <=56 variants per
    token), the self-join is an equi-join on the variant string (shuffle
    hash/sort-merge, never a cartesian), candidates collapse through a
    partial+final distinct agg BEFORE the O(L^2) levenshtein runs, and
    frequencies attach by two equi-joins afterwards. Short tokens
    (len <= k) all share the empty variant — a bounded hot bucket AQE
    splits; at web scale you'd route len <= k through the tiny
    all-pairs bucket explicitly. Every emitted column is a string or an
    exact int, so the DuckDB twin bit-matches."""
    toks = vocab.select(F.col(tok_col).alias("t"), F.col("c"))
    var = toks.select(
        "t", F.explode(_deletion_variants(F.col("t"), max_ed)).alias("v")
    )
    a = var.select(F.col("t").alias("tok_a"), "v")
    b = var.select(F.col("t").alias("tok_b"), F.col("v").alias("vb"))
    cand = (
        a.join(b, (a["v"] == b["vb"]) & (a["tok_a"] < b["tok_b"]))
        .select("tok_a", "tok_b")
        .distinct()
    )
    pairs = cand.select(
        "tok_a",
        "tok_b",
        F.levenshtein("tok_a", "tok_b").cast("long").alias("dist"),
    ).filter(F.col("dist") <= max_ed)
    ca = toks.select(F.col("t").alias("tok_a"), F.col("c").alias("c_a"))
    cb = toks.select(F.col("t").alias("tok_b"), F.col("c").alias("c_b"))
    return pairs.join(ca, "tok_a").join(cb, "tok_b").select(
        "tok_a", "tok_b", "dist", "c_a", "c_b"
    )
