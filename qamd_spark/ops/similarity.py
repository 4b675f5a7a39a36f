"""Similarity search over an embedding column (array<float>).

- brute_force_topk: exact cosine top-k — the correctness baseline. The
  query side is broadcast; dot products are JVM-side higher-order
  functions (zip_with + aggregate), no Python in the hot path.
- lsh_topk: random-hyperplane LSH variant — the scale path. Each vector
  gets a b-bit signature from fixed (deterministic) hyperplanes; top-k is
  computed only within matching buckets (multi-probe over all queries'
  buckets), turning the O(N·Q) crossJoin into a bucket-equi-join that
  shuffles on the signature. Recall < 1 by construction; the baseline is
  the oracle for it.

At 100 TB: brute force is only sane for tiny Q (broadcast) — the plan is
scan-once, narrow, so it parallelizes perfectly; LSH bounds the candidate
set when Q is large. An IVF variant would k-means the corpus first; LSH
avoids the training pass and is deterministic, which we need.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(c):
    return F.sqrt(F.aggregate(F.transform(c, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def brute_force_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qe",
) -> DataFrame:
    """Exact cosine top-k of emb rows for each query row (queries small →
    broadcast). Returns (qid, neighbor, sim, rank)."""
    e = emb.select(F.col(id_col).alias("_nid"), _as_double(vec_col).alias("_e"))
    q = queries.select(F.col(qid_col).alias("qid"), _as_double(qvec_col).alias("_q"))
    pairs = e.crossJoin(F.broadcast(q)).filter(F.col("_nid") != F.col("qid"))
    sim = _dot("_e", "_q") / (_norm("_e") * _norm("_q"))
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("neighbor"))
    return (
        pairs.select("qid", F.col("_nid").alias("neighbor"), sim.alias("sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _hyperplanes(dim: int, bits: int, seed: int = 7) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((bits, dim)).astype(np.float64)


def _all_hyperplanes(dim: int, bits: int, n_tables: int) -> np.ndarray:
    """(n_tables, bits, dim) deterministic hyperplane stack — one fixed
    seed per table, so signatures are reproducible across runs/processes."""
    return np.stack(
        [_hyperplanes(dim, bits, seed=7 + 97 * t) for t in range(n_tables)]
    )


def lsh_signatures(
    df: DataFrame,
    planes: np.ndarray,
    id_col: str,
    vec_col: str,
    out_id: str,
) -> DataFrame:
    """(out_id, tbl, sig) rows: for each input vector, one b-bit signature
    per LSH table (bit i of table t = sign of plane (t, i) · vec).

    One Arrow-batched pandas stage with the hyperplane matrix shipped in
    the function closure (serialized once per worker — the broadcast-
    variable pattern): per batch a single (n, L·b) matmul, then a bit-
    pack. This replaces the previous JVM-expression formulation, which
    emitted bits × dim F.lit plan nodes per table (≈4k literals at
    dim=64 and ~50k at dim=768 — Catalyst plan-size blowup long before
    data size matters). Signatures are bit-identical to that formulation
    (same planes, same `dot >= 0` rule).
    """
    from typing import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    n_tables, bits, dim = planes.shape
    flat = planes.reshape(n_tables * bits, dim)  # row t*bits + i
    weights = (np.int64(1) << np.arange(bits, dtype=np.int64))
    schema = T.StructType(
        [
            T.StructField(out_id, T.LongType()),
            T.StructField("tbl", T.IntegerType()),
            T.StructField("sig", T.LongType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tbl_idx = np.arange(n_tables, dtype=np.int32)
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            bits_on = (V @ flat.T >= 0).reshape(n, n_tables, bits)
            sigs = (bits_on * weights).sum(axis=2).astype(np.int64)
            yield pd.DataFrame(
                {
                    out_id: np.repeat(
                        pdf[id_col].to_numpy(dtype=np.int64), n_tables
                    ),
                    "tbl": np.tile(tbl_idx, n),
                    "sig": sigs.ravel(),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(run, schema=schema)


def lsh_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.9,
    bits: int = 4,
    n_tables: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs at corpus scale: LSH-bucket
    the WHOLE table (no query set), resolve each (table, signature)
    bucket to its min id with a hash aggregate — the same
    no-all-pairs-bucket-join shape as minhash_duplicates, so a giant
    bucket of identical boilerplate embeddings collapses in the
    aggregate — then verify candidates with the exact cosine and keep
    the smallest passing candidate (keep-first). Returns
    (vec_id, dup_of, sim); recall < 1 by LSH construction (raise
    n_tables/lower bits for higher-recall regimes), precision = 1 (exact
    verify). This replaces the bounded O(N^2) self-join of the
    embedding_neardup demo as the 100 TB path.
    """
    base = emb.select(F.col(id_col).alias("_nid"), _as_double(vec_col).alias("_e"))
    sigs = lsh_signatures(
        base, _all_hyperplanes(dim, bits, n_tables), "_nid", "_e", "_nid"
    )
    bmin = sigs.groupBy("tbl", "sig").agg(F.min("_nid").alias("_cand"))
    cand = (
        sigs.join(bmin, ["tbl", "sig"])
        .filter(F.col("_cand") < F.col("_nid"))
        .select("_nid", "_cand")
        .dropDuplicates(["_nid", "_cand"])
    )
    cand = cand.join(base, "_nid").join(
        base.select(F.col("_nid").alias("_cand"), F.col("_e").alias("_ce")), "_cand"
    )
    sim = _dot("_e", "_ce") / (_norm("_e") * _norm("_ce"))
    verified = cand.select("_nid", "_cand", sim.alias("sim")).filter(
        F.col("sim") >= threshold
    )
    return (
        verified.groupBy("_nid")
        .agg(F.min(F.struct("_cand", "sim")).alias("_m"))
        .select(
            F.col("_nid").alias(id_col),
            F.col("_m._cand").alias("dup_of"),
            F.col("_m.sim").alias("sim"),
        )
    )


def _assign_stage(df, cent: np.ndarray, id_out: str, vec_col: str):
    """(id, cluster) rows: nearest centroid by cosine, one Arrow-batched
    matmul per batch (centroid matrix in the closure — broadcast-style)."""
    from typing import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    C = cent / np.maximum(np.linalg.norm(cent, axis=1, keepdims=True), 1e-12)
    schema = T.StructType(
        [T.StructField(id_out, T.LongType()), T.StructField("cluster", T.IntegerType())]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf.iloc[:, 1]])
            Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
            yield pd.DataFrame(
                {
                    id_out: pdf.iloc[:, 0].to_numpy(dtype=np.int64),
                    "cluster": (Vn @ C.T).argmax(axis=1).astype(np.int32),
                }
            )

    return df.select(df.columns[0], vec_col).mapInPandas(run, schema=schema)


def ivf_train(
    emb: DataFrame,
    n_clusters: int = 16,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Deterministic IVF coarse quantizer: spherical k-means via Lloyd
    iterations expressed as DataFrame jobs. Init = the vectors with the
    ``n_clusters`` smallest ids (deterministic, no RNG); each iteration is
    assign (Arrow matmul stage) → posexplode → groupBy(cluster, pos)
    avg — all partial-aggregated — with only the (n_clusters × dim)
    centroid matrix collected to the driver between iterations (the
    classic driver-coordinated iterative-algorithm shape; the data never
    leaves executors).
    """
    base = emb.select(F.col(id_col).alias("_nid"), _as_double(vec_col).alias("_e"))
    seeds = base.orderBy("_nid").limit(n_clusters).collect()
    cent = np.stack([np.asarray(r["_e"], dtype=np.float64) for r in seeds])
    for _ in range(n_iters):
        assigned = _assign_stage(base, cent, "_nid", "_e").join(base, "_nid")
        sums = (
            assigned.select("cluster", F.posexplode("_e").alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("c"))
            .collect()
        )
        new = cent.copy()
        acc: dict = {}
        for r in sums:
            acc.setdefault(r["cluster"], {})[r["pos"]] = r["s"] / r["c"]
        for cl, d in acc.items():
            new[cl] = [d[p] for p in range(len(d))]
        cent = new
    return cent


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    cent: np.ndarray,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qe",
) -> DataFrame:
    """IVF approximate cosine top-k: corpus rows carry their coarse
    cluster; each query probes its ``n_probe`` nearest clusters and
    rescored exactly only within them. Complements lsh_topk: IVF wins on
    CLUSTERED corpora (candidate set ~ n_probe/n_clusters of the data),
    LSH on uniform ones, and both replace the O(N·Q) crossJoin. Returns
    (qid, neighbor, sim, rank); recall < 1 by construction.
    """
    e_base = emb.select(F.col(id_col).alias("_nid"), _as_double(vec_col).alias("_e"))
    q_base = queries.select(F.col(qid_col).alias("qid"), _as_double(qvec_col).alias("_q"))
    e = _assign_stage(e_base, cent, "_nid", "_e").join(e_base, "_nid")
    # queries are few: probe list computed driver-side from the collected
    # query vectors (deterministic), then broadcast-joined on cluster
    qrows = q_base.collect()
    Cn = cent / np.maximum(np.linalg.norm(cent, axis=1, keepdims=True), 1e-12)
    probes = []
    for r in qrows:
        qv = np.asarray(r["_q"], dtype=np.float64)
        qv = qv / max(np.linalg.norm(qv), 1e-12)
        order = np.argsort(-(Cn @ qv), kind="stable")[:n_probe]
        probes.extend((int(r["qid"]), int(c)) for c in order)
    spark = emb.sparkSession
    probe_df = spark.createDataFrame(probes, "qid long, cluster int")
    cand = e.join(F.broadcast(probe_df), "cluster").join(
        F.broadcast(q_base), "qid"
    ).filter(F.col("_nid") != F.col("qid"))
    sim = _dot("_e", "_q") / (_norm("_e") * _norm("_q"))
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("neighbor"))
    return (
        cand.select("qid", F.col("_nid").alias("neighbor"), sim.alias("sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    bits: int = 4,
    n_tables: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qe",
) -> DataFrame:
    """Approximate cosine top-k via multi-table random-hyperplane LSH.

    A (q, n) pair is a candidate if they share the b-bit bucket in ANY of
    the L tables (recall ≈ 1 − (1 − p_bit^b)^L, p_bit = 1 − θ/π). Each
    vector emits L (table, sig) rows; the equi-join on (table, sig)
    replaces the O(N·Q) crossJoin, and candidates are deduped before the
    exact rescoring. bits/n_tables trade candidate volume for recall —
    defaults are tuned for mid-similarity neighbors; raise n_tables for
    near-orthogonal corpora.
    """
    e_base = emb.select(F.col(id_col).alias("_nid"), _as_double(vec_col).alias("_e"))
    q_base = queries.select(F.col(qid_col).alias("qid"), _as_double(qvec_col).alias("_q"))

    # signatures travel WITHOUT the vector payload (ids only through the
    # signature stage/join); vectors are joined back just for the exact
    # rescore
    planes = _all_hyperplanes(dim, bits, n_tables)
    e = lsh_signatures(e_base, planes, "_nid", "_e", "_nid")
    q = lsh_signatures(q_base, planes, "qid", "_q", "qid")
    cand = (
        e.join(F.broadcast(q), ["tbl", "sig"])
        .filter(F.col("_nid") != F.col("qid"))
        .select("qid", "_nid")
        .dropDuplicates(["qid", "_nid"])
    )
    cand = cand.join(e_base, "_nid").join(F.broadcast(q_base), "qid")
    sim = _dot("_e", "_q") / (_norm("_e") * _norm("_q"))
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("neighbor"))
    return (
        cand.select("qid", F.col("_nid").alias("neighbor"), sim.alias("sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _assign_stage_exact(df, cent: np.ndarray, id_out: str, vec_col: str):
    """(id, cluster) rows like _assign_stage, but BLAS-free: the
    similarity matrix is np.add.reduce over an explicit (n, k, d)
    product instead of a matmul. BLAS threaded reductions are not
    bit-reproducible across processes (measured 1e-5 driver-vs-executor
    drift on this host for the quality classifier); add.reduce is a
    fixed sequential-pairwise kernel, so executor scores equal a local
    pandas twin bit-for-bit — semantic_dedup's exactness test depends on
    this. ~k×slower than the matmul; use _assign_stage when recall-level
    agreement is enough (IVF)."""
    from typing import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    C = cent / np.maximum(np.linalg.norm(cent, axis=1, keepdims=True), 1e-12)
    schema = T.StructType(
        [T.StructField(id_out, T.LongType()), T.StructField("cluster", T.IntegerType())]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf.iloc[:, 1]])
            Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
            scores = np.add.reduce(Vn[:, None, :] * C[None, :, :], axis=2)
            yield pd.DataFrame(
                {
                    id_out: pdf.iloc[:, 0].to_numpy(dtype=np.int64),
                    "cluster": scores.argmax(axis=1).astype(np.int32),
                }
            )

    return df.select(df.columns[0], vec_col).mapInPandas(run, schema=schema)


def semantic_dedup(
    emb: DataFrame,
    cent: np.ndarray,
    threshold: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-duplicate removal —
    assign every embedding to its nearest coarse-quantizer centroid
    (``cent`` from ivf_train), then search duplicate pairs ONLY within a
    cluster; cross-cluster pairs are never compared. Keep-first by id
    (the convention of every dedup op here): v is a duplicate iff some u
    with u.id < v.id in v's cluster has cos(u, v) >= threshold; dup_of =
    the smallest such u. Returns one row per dropped vector:
    (vec_id, cluster, dup_of, sim-with-dup_of).

    Scale shape: the quadratic step is the within-cluster self-join —
    O(sum n_c^2) candidate rows, bounded by cluster granularity exactly
    as in the paper (k is chosen so E[n_c] is small; they run k=50k on
    LAION). The join is a shuffle equi-join on cluster, so AQE skew
    handling splits a hot cluster across tasks; the per-pair cosine is a
    JVM zip_with/aggregate fold (no Python), and the keep-first argmin
    is a partial-aggregated min-of-struct. Assignment uses the BLAS-free
    exact stage so the pandas twin (oracle.semantic_dedup_pdf) matches
    bit-for-bit.
    """
    e_base = emb.select(F.col(id_col).alias("_nid"), _as_double(vec_col).alias("_e"))
    a = _assign_stage_exact(e_base, cent, "_nid", "_e").join(e_base, "_nid")
    left = a.select(
        "cluster", F.col("_nid").alias("_uid"), F.col("_e").alias("_ue")
    )
    right = a.select(
        "cluster", F.col("_nid").alias("vec_id"), F.col("_e").alias("_ve")
    )
    sim = _dot("_ue", "_ve") / (_norm("_ue") * _norm("_ve"))
    hits = (
        right.join(left, "cluster")
        .filter(F.col("_uid") < F.col("vec_id"))
        .select("vec_id", "cluster", F.col("_uid").alias("_u"), sim.alias("_s"))
        .filter(F.col("_s") >= F.lit(float(threshold)))
    )
    return (
        hits.groupBy("vec_id", "cluster")
        .agg(
            F.min(
                F.struct(F.col("_u").alias("dup_of"), F.col("_s").alias("sim"))
            ).alias("_k")
        )
        .select(
            "vec_id",
            "cluster",
            F.col("_k.dup_of").alias("dup_of"),
            F.col("_k.sim").alias("sim"),
        )
    )


def prototype_scores(
    emb: DataFrame,
    cent: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SSL-prototype pruning scores (Sorscher et al. 2022, "Beyond neural
    scaling laws"): cosine similarity of each vector to its assigned
    (argmax-cosine) k-means centroid. At large data scale the LOW-
    prototypicality ("hard") examples carry the information and the high
    ones are redundant — this score is the ranking key for
    prototype-based pruning. Returns (id, cluster, proto).

    Same BLAS-free np.add.reduce kernel as ``_assign_stage_exact`` (the
    reduction runs over the dim axis per (row, centroid), so scores are
    batch-composition invariant and bit-equal to the local pandas twin
    ``oracle.prototype_scores_pdf``); one narrow Arrow stage, no shuffle —
    only the (k × dim) centroid matrix rides the closure."""
    from typing import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    C = cent / np.maximum(np.linalg.norm(cent, axis=1, keepdims=True), 1e-12)
    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("cluster", T.IntegerType()),
            T.StructField("proto", T.DoubleType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf.iloc[:, 1]])
            Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
            scores = np.add.reduce(Vn[:, None, :] * C[None, :, :], axis=2)
            am = scores.argmax(axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf.iloc[:, 0].to_numpy(dtype=np.int64),
                    "cluster": am.astype(np.int32),
                    "proto": scores[np.arange(len(am)), am],
                }
            )

    return emb.select(id_col, vec_col).mapInPandas(run, schema=schema)


class PcaModel:
    """Frozen PCA model: ``mean`` (d,), ``components`` (k, d) rows =
    principal axes (orthonormal, deterministically sign-fixed), ``eigvals``
    (k,) descending explained variances, ``explained_ratio`` (k,)."""

    def __init__(self, mean, components, eigvals, explained_ratio):
        self.mean = mean
        self.components = components
        self.eigvals = eigvals
        self.explained_ratio = explained_ratio


def pca_train(
    emb: DataFrame,
    k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> PcaModel:
    """Exact-covariance PCA trainer as a distributed two-moment pass:
    each Arrow batch emits ONE partial row (n, Σv, flattened Σvvᵀ), so
    only #batches × (d + d²) floats ever reach the driver — the same
    bounded-coordination shape as ``ivf_train``'s centroid collect; the
    eigendecomposition runs driver-side on the d×d covariance (d is the
    embedding width, never the corpus size). Partials are combined in
    sorted-by-min-id order with math.fsum per entry, so the combine step
    adds no float-order nondeterminism on top of batch composition.

    Eigenvectors are sign-fixed deterministically (largest-|w| entry made
    positive) and ordered by descending eigenvalue. No RNG anywhere."""
    import math
    from typing import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("min_id", T.LongType()),
            T.StructField("n", T.LongType()),
            T.StructField("s", T.ArrayType(T.DoubleType())),
            T.StructField("g", T.ArrayType(T.DoubleType())),
        ]
    )

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf.iloc[:, 1]])
            yield pd.DataFrame(
                {
                    "min_id": [int(pdf.iloc[:, 0].min())],
                    "n": [len(V)],
                    "s": [V.sum(axis=0).tolist()],
                    "g": [(V.T @ V).ravel().tolist()],
                }
            )

    rows = (
        emb.select(id_col, vec_col).mapInPandas(partials, schema=schema).collect()
    )
    rows.sort(key=lambda r: r["min_id"])
    d = len(rows[0]["s"])
    n = sum(r["n"] for r in rows)
    s = np.array([math.fsum(r["s"][i] for r in rows) for i in range(d)])
    g = np.array(
        [math.fsum(r["g"][i] for r in rows) for i in range(d * d)]
    ).reshape(d, d)
    mean = s / n
    cov = g / n - np.outer(mean, mean)
    cov = (cov + cov.T) / 2.0  # enforce exact symmetry for eigh
    eigvals, eigvecs = np.linalg.eigh(cov)
    order = np.argsort(eigvals)[::-1][:k]
    W = eigvecs[:, order].T.copy()  # (k, d)
    for i in range(W.shape[0]):  # deterministic sign convention
        j = int(np.argmax(np.abs(W[i])))
        if W[i, j] < 0:
            W[i] = -W[i]
    ev = eigvals[order]
    total = math.fsum(np.maximum(eigvals, 0.0).tolist()) or 1.0
    return PcaModel(mean, W, ev, ev / total)


def pca_project(
    emb: DataFrame,
    model: PcaModel,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Project each embedding onto the model's principal axes and score
    the L2 reconstruction error. One narrow Arrow stage, no shuffle —
    only the (k×d) component matrix and the mean ride the closure. Every
    reduction runs with np.add.reduce over a FIXED axis order, so
    outputs are batch-composition invariant and bit-equal to the local
    numpy twin (tests/test_ops.py::test_pca_projection_matches_numpy_twin)."""
    from typing import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    W = np.asarray(model.components, dtype=np.float64)
    mu = np.asarray(model.mean, dtype=np.float64)
    kk = W.shape[0]
    fields = [T.StructField(id_col, T.LongType())]
    fields += [T.StructField(f"pc{i + 1}", T.DoubleType()) for i in range(kk)]
    fields += [T.StructField("recon_err", T.DoubleType())]
    schema = T.StructType(fields)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf.iloc[:, 1]])
            X = V - mu
            Y = np.add.reduce(X[:, None, :] * W[None, :, :], axis=2)  # (n, k)
            R = X - np.add.reduce(Y[:, :, None] * W[None, :, :], axis=1)
            err = np.sqrt(np.add.reduce(R * R, axis=1))
            out = {id_col: pdf.iloc[:, 0].to_numpy(dtype=np.int64)}
            for i in range(kk):
                out[f"pc{i + 1}"] = Y[:, i]
            out["recon_err"] = err
            yield pd.DataFrame(out)

    return emb.select(id_col, vec_col).mapInPandas(run, schema=schema)


def kcenter_select(
    emb: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez 1985 2-approximation;
    the facility-location seeding behind diverse-subset curation and
    k-means++-style init): pick the min-id vector, then k-1 times pick
    the vector FARTHEST (squared L2) from everything chosen so far.
    Returns one row per selected center: (sel_order, vec_id, radius_sq)
    where radius_sq is the coverage radius at selection time (the
    non-increasing max-min distance sequence — row j's radius bounds the
    clustering cost of ANY j-center solution to within 2x).

    Determinism: distances are LEFT-FOLD double sums over the dim axis
    (`F.aggregate`, sequential — bit-equal to the pure-Python twin
    ``oracle.kcenter_select_pdf``); the arg-max breaks ties by min id
    via TakeOrdered, so the selection is unique. No RNG anywhere.

    Scale: each iteration is ONE distributed job — per-row min distance
    to the <= k broadcast-literal centers (JVM codegen, no Python), then
    a per-partition top-1 TakeOrdered (no global sort). Only k rows ever
    reach the driver (the same bounded-collect contract as ivf_train's
    centroids). Distances are recomputed from the center list each pass
    (stateless O(k^2 N/p) folds) rather than checkpointing an
    incremental mindist column — at k <= a few dozen the recompute is
    cheaper than persisting a mutated corpus-sized relation across k
    lineage steps."""
    if k < 1:
        raise ValueError("k must be >= 1")
    spark = emb.sparkSession
    base = emb.select(
        F.col(id_col).cast("long").alias("_id"),
        _as_double(vec_col).alias("_v"),
    )
    first = base.orderBy("_id").limit(1).collect()[0]
    centers = [(int(first["_id"]), list(first["_v"]))]
    out = [(0, int(first["_id"]), None)]
    for _ in range(1, k):
        dists = []
        for _, cv in centers:
            lit_c = F.array(*[F.lit(float(x)) for x in cv])
            diff2 = F.zip_with(F.col("_v"), lit_c, lambda x, y: (x - y) * (x - y))
            dists.append(F.aggregate(diff2, F.lit(0.0), lambda a, x: a + x))
        md = dists[0] if len(dists) == 1 else F.least(*dists)
        row = (
            base.select("_id", "_v", md.alias("_md"))
            .orderBy(F.desc("_md"), F.asc("_id"))
            .limit(1)
            .collect()[0]
        )
        centers.append((int(row["_id"]), list(row["_v"])))
        out.append((len(centers) - 1, int(row["_id"]), float(row["_md"])))
    return spark.createDataFrame(
        out, "sel_order int, vec_id long, radius_sq double"
    )


# ---------------------------------------------------------------------------
# Product quantization (Jégou, Douze & Schmid, TPAMI 2011): compress each
# d-dim vector to m sub-codes (one byte-scale int per subspace) and rank by
# asymmetric distance (ADC) against per-query lookup tables. THE memory lever
# at 100 TB: the ranking scan reads m ints per vector instead of d floats
# (here 4 ints vs 64 floats = 64x), and the lookup join is a broadcast of
# |Q| * m * k tiny rows. Complements ivf_topk (candidate pruning) — real
# systems stack them (IVF-PQ); here each is auditable on its own.

PQ_TRAIN_SCALE = 1 << 30  # subvector values quantized to 2^-30 for exact sums
PQ_ADC_SCALE = 1 << 20  # lookup-table entries as int64 micro-distances


def _pq_normalize(V: np.ndarray) -> np.ndarray:
    return V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)


def _pq_assign_np(V: np.ndarray, cb: np.ndarray) -> np.ndarray:
    """(n, m) int32 code matrix: per subspace, argmin squared-L2 to the
    codebook (first-minimum tie rule = lowest code id). The SAME numpy
    expression runs in the Arrow stages and the pure twins, so
    assignments are bit-identical across engines."""
    m, k, dsub = cb.shape
    out = np.empty((len(V), m), dtype=np.int32)
    for s in range(m):
        Vs = V[:, s * dsub : (s + 1) * dsub]
        diff = Vs[:, None, :] - cb[s][None, :, :]
        out[:, s] = (diff * diff).sum(axis=2).argmin(axis=1).astype(np.int32)
    return out


def pq_train(
    emb: DataFrame,
    m: int = 4,
    k: int = 16,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Deterministic PQ codebook training: per-subspace L2 k-means over
    unit-normalized vectors (normalized cosine ranking == L2 ranking), all
    m subspaces trained in the SAME distributed jobs. Init = the k
    smallest ids' subvectors (no RNG). Each Lloyd iteration is ONE Arrow
    stage that assigns codes AND pre-aggregates per-(sub, code) subvector
    sums map-side — per batch it emits at most m*k*dsub partial rows
    (values quantized to int64 at 2^-30 so the shuffle-side sum is
    order-free integer arithmetic: exact per batch because a 10k-row
    Arrow batch keeps bincount's float64 weights below 2^53, exact across
    batches because int64 carries ~9e5 such partials; at planetary row
    counts you would drop to float partials, the documented ivf_train
    tradeoff) — then one tiny groupBy over those partials; only the
    (m, k, dsub) codebook crosses the driver between iterations.

    Returns codebooks of shape (m, k, dsub). Requires d % m == 0."""
    from typing import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    base = emb.select(
        F.col(id_col).cast("long").alias("_nid"), _as_double(vec_col).alias("_e")
    )
    seeds = base.orderBy("_nid").limit(k).collect()
    if len(seeds) < k:
        raise ValueError(f"pq_train needs >= k={k} vectors")
    S = _pq_normalize(
        np.stack([np.asarray(r["_e"], dtype=np.float64) for r in seeds])
    )
    d = S.shape[1]
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    cb = np.stack([S[:, s * dsub : (s + 1) * dsub].copy() for s in range(m)])

    schema = T.StructType(
        [
            T.StructField("sub", T.IntegerType()),
            T.StructField("code", T.IntegerType()),
            T.StructField("subpos", T.IntegerType()),
            T.StructField("s", T.LongType()),
            T.StructField("c", T.LongType()),
        ]
    )

    for _ in range(n_iters):
        cb_now = cb  # bind for the closure

        def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            mm, kk, dd = cb_now.shape
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                V = _pq_normalize(
                    np.stack(
                        [np.asarray(v, dtype=np.float64) for v in pdf["_e"]]
                    )
                )
                codes = _pq_assign_np(V, cb_now)
                Vq = np.rint(V * PQ_TRAIN_SCALE)  # float64, values < 2^31
                rows = {"sub": [], "code": [], "subpos": [], "s": [], "c": []}
                for s_i in range(mm):
                    cnt = np.bincount(codes[:, s_i], minlength=kk)
                    for j in range(dd):
                        w = np.bincount(
                            codes[:, s_i],
                            weights=Vq[:, s_i * dd + j],
                            minlength=kk,
                        )
                        rows["sub"].extend([s_i] * kk)
                        rows["code"].extend(range(kk))
                        rows["subpos"].extend([j] * kk)
                        rows["s"].extend(w.astype(np.int64))
                        rows["c"].extend(cnt.astype(np.int64))
                yield pd.DataFrame(rows)

        agg = (
            base.select("_e")
            .mapInPandas(partials, schema=schema)
            .groupBy("sub", "code", "subpos")
            .agg(F.sum("s").alias("s"), F.sum("c").alias("c"))
            .collect()
        )
        new = cb.copy()
        for r in agg:
            if r["c"] > 0:
                new[r["sub"], r["code"], r["subpos"]] = (
                    float(r["s"]) / float(r["c"])
                ) / PQ_TRAIN_SCALE
        cb = new
    return cb


def pq_encode(
    emb: DataFrame,
    cb: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>) — one column-pruned Arrow stage; the codes
    relation is what a 100 TB deployment PERSISTS (m ints per vector)."""
    from typing import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("codes", T.ArrayType(T.IntegerType())),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = _pq_normalize(
                np.stack([np.asarray(v, dtype=np.float64) for v in pdf.iloc[:, 1]])
            )
            codes = _pq_assign_np(V, cb)
            yield pd.DataFrame(
                {
                    "vec_id": pdf.iloc[:, 0].to_numpy(dtype=np.int64),
                    "codes": list(codes),
                }
            )

    return emb.select(
        F.col(id_col).cast("long"), _as_double(vec_col)
    ).mapInPandas(run, schema=schema)


def pq_adc_topk(
    emb: DataFrame,
    queries: DataFrame,
    cb: np.ndarray,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qe",
) -> DataFrame:
    """Asymmetric-distance top-k: each query's exact squared-L2 to every
    codebook centroid becomes a |Q| * m * n_codes lookup table (int64
    micro-distances at 2^-20 — rank arithmetic is ORDER-FREE integer
    sums, so the ranking is partitioning-invariant by construction),
    broadcast-joined onto the posexploded code relation; per-(qid, id)
    ADC distance is one integer sum of m terms, top-k is a bounded
    window over qid. Returns (qid, neighbor, adc_dist, rank)."""
    m, kk, dsub = cb.shape
    qrows = queries.select(
        F.col(qid_col).alias("qid"), _as_double(qvec_col).alias("_q")
    ).collect()
    lut = []
    for r in qrows:
        qv = _pq_normalize(
            np.asarray(r["_q"], dtype=np.float64)[None, :]
        )[0]
        for s in range(m):
            qs = qv[s * dsub : (s + 1) * dsub]
            diff = cb[s] - qs[None, :]
            t = np.rint((diff * diff).sum(axis=1) * PQ_ADC_SCALE).astype(
                np.int64
            )
            lut.extend(
                (int(r["qid"]), s, c, int(t[c])) for c in range(kk)
            )
    spark = emb.sparkSession
    lut_df = spark.createDataFrame(lut, "qid long, sub int, code int, t long")
    codes = pq_encode(emb, cb, id_col=id_col, vec_col=vec_col)
    exploded = codes.select(
        F.col("vec_id").alias("neighbor"),
        F.posexplode("codes").alias("sub", "code"),
    )
    dist = (
        exploded.join(F.broadcast(lut_df), ["sub", "code"])
        .filter(F.col("neighbor") != F.col("qid"))
        .groupBy("qid", "neighbor")
        .agg(F.sum("t").alias("adc_dist"))
    )
    w = Window.partitionBy("qid").orderBy(F.asc("adc_dist"), F.asc("neighbor"))
    return dist.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def ivfpq_topk(
    emb: DataFrame,
    queries: DataFrame,
    cent: np.ndarray,
    cb: np.ndarray,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qe",
) -> DataFrame:
    """IVF-PQ: the two approximate layers STACKED the way a real
    billion-vector index runs (FAISS IVFPQ; Jégou TPAMI 2011 §V) —
    the IVF coarse quantizer prunes candidates to each query's n_probe
    nearest clusters, then PQ asymmetric distance ranks ONLY those
    candidates from their m-int codes. The ranking scan at 100 TB
    touches ~n_probe/n_clusters of the code relation and never the raw
    vectors; recall composes multiplicatively (IVF candidate recall x
    PQ ranking agreement), which is exactly what the ann_ivfpq audit
    measures against the exact top-k.

    Plan shape: cluster assignment (Arrow matmul stage) and code
    encoding (Arrow argmin stage) are both narrow; the probe list and
    the |Q|*m*k_codes ADC lookup are driver-built from the collected
    query slab (bounded by construction) and broadcast; ADC distance is
    an ORDER-FREE int64 sum per (qid, candidate); top-k windows over
    the bounded per-qid candidate set."""
    m, kk, dsub = cb.shape
    e_base = emb.select(
        F.col(id_col).cast("long").alias("_nid"), _as_double(vec_col).alias("_e")
    )
    # coarse layer: cluster per corpus row + per-query probe list
    assigned = _assign_stage(e_base, cent, "_nid", "_e")
    q_base = queries.select(
        F.col(qid_col).alias("qid"), _as_double(qvec_col).alias("_q")
    )
    qrows = q_base.collect()
    Cn = cent / np.maximum(np.linalg.norm(cent, axis=1, keepdims=True), 1e-12)
    probes, lut = [], []
    for r in qrows:
        qv = np.asarray(r["_q"], dtype=np.float64)
        qn = qv / max(np.linalg.norm(qv), 1e-12)
        order = np.argsort(-(Cn @ qn), kind="stable")[:n_probe]
        probes.extend((int(r["qid"]), int(c)) for c in order)
        for s in range(m):
            diff = cb[s] - qn[s * dsub : (s + 1) * dsub][None, :]
            t = np.rint((diff * diff).sum(axis=1) * PQ_ADC_SCALE).astype(
                np.int64
            )
            lut.extend((int(r["qid"]), s, c, int(t[c])) for c in range(kk))
    spark = emb.sparkSession
    probe_df = spark.createDataFrame(probes, "qid long, cluster int")
    lut_df = spark.createDataFrame(lut, "qid long, sub int, code int, t long")
    # fine layer: PQ codes, pruned to probed clusters BEFORE the lookup
    codes = pq_encode(emb, cb, id_col=id_col, vec_col=vec_col).join(
        assigned.select(F.col("_nid").alias("vec_id"), "cluster"), "vec_id"
    )
    cand = codes.join(F.broadcast(probe_df), "cluster").filter(
        F.col("vec_id") != F.col("qid")
    )
    dist = (
        cand.select("qid", F.col("vec_id").alias("neighbor"),
                    F.posexplode("codes").alias("sub", "code"))
        .join(F.broadcast(lut_df), ["qid", "sub", "code"])
        .groupBy("qid", "neighbor")
        .agg(F.sum("t").alias("adc_dist"))
    )
    w = Window.partitionBy("qid").orderBy(F.asc("adc_dist"), F.asc("neighbor"))
    return dist.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def procrustes_train(
    pairs: DataFrame,
    id_col: str = "vec_id",
    old_col: str = "v_old",
    new_col: str = "v_new",
) -> np.ndarray:
    """Orthogonal Procrustes alignment trainer — the embedding-version
    migration primitive: when a corpus is re-embedded with a new model
    (or a fine-tuned checkpoint), indexes, centroids, and cached
    neighbors built on the old space die unless the spaces are aligned;
    the best orthogonal map R = argmin_R ||V_new − V_old·R||_F has the
    closed form R = U·Vᵀ from the SVD of M = V_oldᵀ·V_new (Schönemann
    1966). Distributed exactly like ``pca_train``'s moment pass: each
    Arrow batch emits ONE partial row (min_id, flattened d×d batch
    cross-covariance), partials are fsum-combined in sorted-by-min-id
    order on the driver, and the d×d SVD runs driver-side (d = the
    embedding width, never the corpus size — the ivf_train bounded-
    coordination shape). Sign-fixing is unnecessary: R is unique when
    M's singular values are positive (generic embeddings), and the
    composition U·Vᵀ is deterministic for a deterministic M."""
    import math
    from typing import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("min_id", T.LongType()),
            T.StructField("m", T.ArrayType(T.DoubleType())),
        ]
    )

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            A = np.stack([np.asarray(v, dtype=np.float64) for v in pdf.iloc[:, 1]])
            B = np.stack([np.asarray(v, dtype=np.float64) for v in pdf.iloc[:, 2]])
            yield pd.DataFrame(
                {
                    "min_id": [int(pdf.iloc[:, 0].min())],
                    "m": [(A.T @ B).ravel().tolist()],
                }
            )

    rows = (
        pairs.select(id_col, old_col, new_col)
        .mapInPandas(partials, schema=schema)
        .collect()
    )
    rows.sort(key=lambda r: r["min_id"])
    dd = len(rows[0]["m"])
    d = int(round(dd**0.5))
    m = np.array([math.fsum(r["m"][i] for r in rows) for i in range(dd)]).reshape(
        d, d
    )
    u, _sv, vt = np.linalg.svd(m)
    return u @ vt


def cross_set_leakage(
    train: DataFrame,
    probe: DataFrame,
    threshold: float = 0.999,
    bits: int = 12,
    n_tables: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe: bool = True,
) -> DataFrame:
    """Semantic cross-set contamination: for each probe vector (an eval
    candidate), its best train-side match with exact cosine >= threshold,
    candidates from a direct (tbl, sig) bucket equi-join of both sides'
    LSH signatures under SHARED hyperplanes.

    Unlike lsh_neardup_pairs' min-per-bucket resolution, the probe side
    joins every train member of its buckets — recall for EXACT
    duplicates is 1 by construction (identical vectors share every
    table's signature AT ANY BIT WIDTH), which is the guarantee a leak
    detector needs.  That construction is what lets `bits` be wide:
    r4's bits=4 meant 16 buckets/table, so an UNRELATED (probe, train)
    pair collided in a given table with p≈1/16 — with 16 tables the
    expected candidate set was ≈0.64·|probe|·|train|, effectively
    quadratic (r4 VERDICT item 2).  bits=12 makes a table 4096 buckets,
    and distance-1 multi-probe on the PROBE side (Lv et al., VLDB 2007
    — probe the exact bucket plus every 1-bit-flip bucket, (1+bits)
    probes/table, corpus relation untouched) recovers the near-dup
    recall that narrower buckets used to provide by accident: at
    τ=0.999 (angle ≤ 2.6°, per-plane flip p=θ/π≈0.014) a true near-dup
    matches a 12-bit table with p≈0.84 exactly and ≈0.99 within one
    flip, so the 16-table miss probability is < 1e-12, while unrelated
    collisions drop to ≈(1+12)/4096 ≈ 0.003 per table — ~20× fewer
    candidates than bits=4 with recall preserved.

    Verification is the exact JVM-fold cosine, ties broken to the
    smallest train id.  The probe side is the small relation (an eval
    release, even at 100 TB train), so its signature/probe relation is
    broadcast — the candidate join never shuffles the train corpus.

    Skew guard (r5): identical train vectors are collapsed to their
    min-id representative BEFORE signatures — a dup-heavy corpus (the
    realistic regime a leak detector faces: one boilerplate document
    embedded 10^5 times) would otherwise make every copy share every
    (tbl, sig) bucket and explode the candidate join by the copy count.
    The collapse is a partial+final hash aggregate (the hot key folds
    map-side, the dedup_exact discipline) and is LOSSLESS for this
    operator's output: identical vectors have identical cosine to any
    probe, and the best-match tie already breaks to the smallest train
    id — exactly the representative kept.
    """
    planes = _all_hyperplanes(dim, bits, n_tables)
    tb = (
        train.select(F.col(id_col).alias("_tid"), _as_double(vec_col).alias("_te"))
        .groupBy("_te")
        .agg(F.min("_tid").alias("_tid"))
        .select("_tid", "_te")
    )
    pv = probe.select(F.col(id_col).alias("_pid"), _as_double(vec_col).alias("_pe"))
    tsig = lsh_signatures(tb, planes, "_tid", "_te", "_tid")
    psig = lsh_signatures(pv, planes, "_pid", "_pe", "_pid")
    if multiprobe:
        flips = F.array(*([F.lit(0)] + [F.lit(1 << i) for i in range(bits)]))
        psig = psig.select(
            "_pid", "tbl", F.explode(flips).alias("_f"), "sig"
        ).select(
            "_pid", "tbl", F.col("sig").bitwiseXOR(F.col("_f")).alias("sig")
        )
    cand = (
        tsig.join(F.broadcast(psig), ["tbl", "sig"])
        .select("_pid", "_tid")
        .dropDuplicates(["_pid", "_tid"])
    )
    cand = cand.join(F.broadcast(pv), "_pid").join(tb, "_tid")
    sim = _dot("_pe", "_te") / (_norm("_pe") * _norm("_te"))
    verified = cand.select("_pid", "_tid", sim.alias("sim")).filter(
        F.col("sim") >= F.lit(float(threshold))
    )
    best = verified.groupBy("_pid").agg(
        F.max(F.struct(F.col("sim"), (-F.col("_tid")).alias("_nt"))).alias("_m")
    )
    return best.select(
        F.col("_pid").alias("probe_id"),
        (-F.col("_m._nt")).alias("train_id"),
        F.col("_m.sim").alias("sim"),
    )


def lsh_multiprobe_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    bits: int = 4,
    n_tables: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qe",
) -> DataFrame:
    """Multi-probe LSH top-k (Lv et al., VLDB 2007): each query probes
    its exact bucket PLUS every distance-1 bit-flip bucket in every
    table — (1 + bits) probes per table instead of one, recovering the
    neighbors that land one hyperplane to the side WITHOUT growing the
    table count (the memory cost of raising n_tables is L× the
    signature relation; probing is free at query time).

    Candidate recall is a strict superset of lsh_topk's at the same
    (bits, n_tables): the probe set contains the exact bucket
    (pinned in tests/test_ops.py).  The probe explode happens on the
    QUERY side only — the corpus signature relation is untouched, so
    the join stays |corpus sigs| × broadcast(|Q|·L·(1+bits)) — and
    candidates still dedupe before the single exact rescore."""
    e_base = emb.select(F.col(id_col).alias("_nid"), _as_double(vec_col).alias("_e"))
    q_base = queries.select(
        F.col(qid_col).alias("qid"), _as_double(qvec_col).alias("_q")
    )
    planes = _all_hyperplanes(dim, bits, n_tables)
    e = lsh_signatures(e_base, planes, "_nid", "_e", "_nid")
    q = lsh_signatures(q_base, planes, "qid", "_q", "qid")
    flips = F.array(*([F.lit(0)] + [F.lit(1 << i) for i in range(bits)]))
    qprobe = q.select(
        "qid", "tbl", F.explode(flips).alias("_f"), "sig"
    ).select("qid", "tbl", F.col("sig").bitwiseXOR(F.col("_f")).alias("sig"))
    cand = (
        e.join(F.broadcast(qprobe), ["tbl", "sig"])
        .filter(F.col("_nid") != F.col("qid"))
        .select("qid", "_nid")
        .dropDuplicates(["qid", "_nid"])
    )
    cand = cand.join(e_base, "_nid").join(F.broadcast(q_base), "qid")
    sim = _dot("_e", "_q") / (_norm("_e") * _norm("_q"))
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("neighbor"))
    return (
        cand.select("qid", F.col("_nid").alias("neighbor"), sim.alias("sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
