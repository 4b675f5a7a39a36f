"""Integer-exact PageRank over a directed edge table, as DataFrame jobs.

Web-corpus curation ranks source domains by link authority (the
Common-Crawl-style quality prior: a page from a well-linked domain is
likelier to be prose than spam). PageRank is the canonical iterative
graph algorithm, and this module expresses it the Spark-first way: the
edge table is the only large state, each iteration is ONE shuffle
equi-join (ranks -> edges on src) plus ONE partial+final hash aggregate
(sum of contributions per dst), and lineage is truncated per round with
``localCheckpoint`` (the dedup_clusters precedent). The only
driver-side values are the node count and the iteration counter —
bounded by construction.

Exactness discipline: float PageRank is order-dependent (a parallel sum
of double contributions depends on partitioning), so ranks are kept as
int64 fixed-point at SCALE = 1e12. Per iteration:

    share(v)   = rank(v) // out_deg(v)                (exact int div)
    s(u)       = sum of share(v) over in-edges v->u   (exact int64 sum)
    rank'(u)   = BASE + (DAMPING_NUM * s(u)) // 100
    BASE       = ((100 - DAMPING_NUM) * SCALE) // (100 * n_nodes)

Every operation is integer, so the result is independent of partition
count, Arrow batch composition and engine — the pure-Python twin
(``pagerank_py``) matches bit-for-bit. Floor division leaks a few units
of mass per node per round, and dangling nodes (out_deg = 0) leak their
whole rank rather than redistributing it — both deterministic, both
documented; this is the rank ORDERING tool, not a probability
distribution (sum(rank) < SCALE by design).

Scale notes (100 TB): the rank table has one row per node and shuffles
on node id; the edge table shuffles once per iteration on src. Skewed
in-degree (every web graph) lands in the partial aggregate's map-side
combine — the hot dst key receives pre-summed partials, never raw
edges. Fixed iteration count (default 10) keeps the job DAG static; no
convergence collect is needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 10**12
DAMPING_NUM = 85  # damping factor 0.85 as an exact percent


def pagerank(
    edges: DataFrame, iters: int = 10, materialize: bool = True
) -> DataFrame:
    """PageRank over ``edges(src, dst)`` (long ids, self-loops and
    duplicate edges allowed — they are dropped/deduped here).

    Returns one row per node: node, rank_e12 (int64 fixed-point),
    rank (rank_e12 / 1e12 — one division, presentation only),
    out_deg, in_deg.

    ``materialize=True`` (default) eagerly localCheckpoints the result
    and releases the cached edge/degree tables (the duplicate_clusters
    convention — no storage leak across repeated calls); pass False to
    get the lazy plan (plan inspection / composition) at the cost of
    the caches staying pinned until the session drops them.
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    e = (
        edges.select(
            F.col("src").cast("long").alias("src"),
            F.col("dst").cast("long").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .persist()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n = nodes.count()  # the one driver-side scalar
    if n == 0:
        raise ValueError("pagerank: empty edge set (no non-loop edges)")
    base = ((100 - DAMPING_NUM) * SCALE) // (100 * n)
    out_deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    in_deg = e.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).alias("in_deg")
    )
    ranks = nodes.select("node", F.lit(SCALE // n).alias("rank_e12"))
    deg = nodes.join(out_deg, "node", "left").select(
        "node", F.coalesce("out_deg", F.lit(0)).alias("out_deg")
    ).persist()

    for _ in range(iters):
        shares = (
            ranks.join(deg, "node")
            .filter(F.col("out_deg") > 0)
            .select(
                F.col("node").alias("src"),
                # integer `div`, NOT `/` (double division rounds-to-nearest
                # and can cross an integer boundary before the cast)
                F.expr("rank_e12 div out_deg").alias("share"),
            )
        )
        s = (
            e.join(shares, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("share").alias("s"))
        )
        ranks = nodes.join(s, "node", "left").select(
            "node",
            (
                F.lit(base)
                + F.expr(
                    f"({DAMPING_NUM} * coalesce(s, 0L)) div 100"
                )
            ).cast("long").alias("rank_e12"),
        ).localCheckpoint(eager=False)

    out = (
        ranks.join(deg, "node")
        .join(in_deg, "node", "left")
        .select(
            "node",
            "rank_e12",
            (F.col("rank_e12").cast("double") / F.lit(float(SCALE))).alias(
                "rank"
            ),
            "out_deg",
            F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
        )
    )
    if materialize:
        # eager checkpoint materializes the result so the cached inputs
        # can be released (the duplicate_clusters convention — no
        # storage leak across repeated calls)
        out = out.localCheckpoint()
        e.unpersist()
        nodes.unpersist()
        deg.unpersist()
    return out


def pagerank_py(edges: list[tuple[int, int]], iters: int = 10) -> dict:
    """Pure-Python integer twin of :func:`pagerank` — bit-exact by
    construction (all-integer arithmetic is order-free)."""
    es = sorted({(s, d) for s, d in edges if s != d})
    nodes = sorted({s for s, _ in es} | {d for _, d in es})
    n = len(nodes)
    base = ((100 - DAMPING_NUM) * SCALE) // (100 * n)
    out_deg: dict[int, int] = {}
    for s, _ in es:
        out_deg[s] = out_deg.get(s, 0) + 1
    ranks = {v: SCALE // n for v in nodes}
    for _ in range(iters):
        agg: dict[int, int] = {}
        for s, d in es:
            if out_deg.get(s, 0) > 0:
                agg[d] = agg.get(d, 0) + ranks[s] // out_deg[s]
        ranks = {
            v: base + (DAMPING_NUM * agg.get(v, 0)) // 100 for v in nodes
        }
    return ranks


def kcore(edges: DataFrame, k: int = 3, max_iters: int = 100) -> DataFrame:
    """k-core filter by iterative peeling — the graph-quality prior
    that survives what degree alone cannot: a link-farm hub has high
    degree but its neighbors are throwaway pages, so it falls out of
    the k-core the moment they are peeled; membership requires the
    whole NEIGHBORHOOD to be k-dense (the standard web-graph spam /
    core-community filter alongside pagerank's authority score).
    Semantics: nodes of the undirected SIMPLE graph (self-loops
    dropped, multi-edges collapsed) that survive repeated removal of
    all nodes with degree < k; returns (node, core_degree) — the
    degree within the final core.

    Scale shape: each round is one partial+final hash aggregate
    (degrees) + two semi-join filters of the edge list against the
    surviving-node set; lineage is truncated per round with
    localCheckpoint (the duplicate_clusters discipline) and ONLY the
    surviving-node count (a scalar) reaches the driver. Rounds are
    bounded by the peel depth (≤ max degeneracy ordering passes),
    typically a handful on power-law graphs."""
    e = edges.select(
        F.col("src").cast("long").alias("a"), F.col("dst").cast("long").alias("b")
    ).filter(F.col("a") != F.col("b"))
    und = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()
    alive = und.localCheckpoint()
    prev = -1
    deg = None
    for _ in range(max_iters):
        deg = alive.groupBy("a").agg(F.count(F.lit(1)).alias("core_degree"))
        keep = deg.filter(F.col("core_degree") >= k).select("a").localCheckpoint()
        n = keep.count()
        if n == prev:
            break
        prev = n
        alive = (
            alive.join(keep, "a")
            .join(keep.select(F.col("a").alias("b")), "b")
            .select("a", "b")
            .localCheckpoint()
        )
    return deg.filter(F.col("core_degree") >= k).select(
        F.col("a").alias("node"), "core_degree"
    )


def kcore_py(edges: list, k: int = 3) -> dict:
    """Pure-Python twin of ``kcore`` (exact: same simple-graph
    semantics, order-independent fixpoint)."""
    from collections import defaultdict

    adj = defaultdict(set)
    for a, b in edges:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    changed = True
    while changed:
        changed = False
        for n in list(adj):
            if len(adj[n]) < k:
                for m in adj[n]:
                    adj[m].discard(n)
                del adj[n]
                changed = True
    return {n: len(ns) for n, ns in adj.items()}


LPA_ITERS = 8


def lpa_communities(edges: DataFrame, n_iters: int = LPA_ITERS) -> DataFrame:
    """Synchronous label-propagation communities (Raghavan et al. 2007)
    over an undirected edge table — the denser-than-connectivity
    grouping: components joins anything touching, LPA splits a component
    into its internally-well-connected template families (near-dup
    clusters bridged by one accidental pair stay separate).

    Deterministic by construction: labels start as node ids; each round
    every node adopts the most frequent label among its neighbors, ties
    broken to the SMALLEST label (max(struct(count, -label)) — exact
    integers, so the result is partition- and engine-independent and the
    pure-Python twin (lpa_py) matches bit-for-bit). Synchronous updates
    can oscillate on bipartite structures, so the round count is FIXED
    (no convergence collect): the audit wants a reproducible grouping,
    not a fixpoint proof.

    Per round: one shuffle equi-join (labels -> edges on dst) + two
    partial+final hash aggregates; ``localCheckpoint`` truncates lineage
    per round (the pagerank discipline). State is one row per node.
    """
    e = edges.selectExpr("src", "dst").where("src != dst")
    und = (
        e.union(e.selectExpr("dst as src", "src as dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = und.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(n_iters):
        nbr = und.join(
            labels.select(F.col("node").alias("dst"), "label"), "dst"
        ).select(F.col("src").alias("node"), "label")
        counts = nbr.groupBy("node", "label").agg(F.count(F.lit(1)).alias("c"))
        labels = (
            counts.groupBy("node")
            .agg(
                F.max(
                    F.struct(F.col("c"), (-F.col("label")).alias("nl"))
                ).alias("m")
            )
            .select("node", (-F.col("m.nl")).alias("label"))
            .localCheckpoint(eager=True)
        )
    return labels.select("node", F.col("label").alias("community"))


def lpa_py(edges: list, n_iters: int = LPA_ITERS) -> dict:
    """Pure-Python twin of lpa_communities: same init, same synchronous
    rounds, same most-frequent-then-smallest tie-break."""
    from collections import Counter, defaultdict

    adj = defaultdict(set)
    for s, d in edges:
        if s != d:
            adj[s].add(d)
            adj[d].add(s)
    labels = {n: n for n in adj}
    for _ in range(n_iters):
        new = {}
        for n, nbrs in adj.items():
            cnt = Counter(labels[v] for v in nbrs)
            best = max(cnt.items(), key=lambda kv: (kv[1], -kv[0]))
            new[n] = best[0]
        labels = new
    return labels
