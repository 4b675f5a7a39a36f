"""Integer-exact PageRank (qamd_spark/ops/graph.py).

Evidence contract for the rows-only `pagerank` driver query: the Spark
result equals the pure-Python integer twin bit-for-bit on the exact
graph the query builds, known orderings hold on a hand graph, and the
result is invariant to partitioning (all-integer arithmetic is
order-free by construction — these tests pin that no float sneaks in).
"""

import pandas as pd
import pytest

from qamd_spark.ops.graph import SCALE, pagerank, pagerank_py

SF = "/root/testdata/sf0.001"
PR_NODES = 97


def _twin_edges():
    doc_id = pd.read_parquet(f"{SF}/documents.parquet")["doc_id"]
    src = (doc_id % PR_NODES).to_numpy()
    extra = (doc_id % 13).to_numpy()
    edges = []
    for j in (1, 2, 3):
        dst = (src * 31 + 17 * j + extra) % PR_NODES
        edges.extend(zip(src.tolist(), dst.tolist()))
    return edges


def test_pagerank_bit_exact_vs_python_twin(spark):
    import __spark_entry__ as E

    got = {
        r["node"]: r["rank_e12"]
        for r in E.q_pagerank(spark, SF).collect()
    }
    want = pagerank_py(_twin_edges(), iters=10)
    assert got == want
    # deterministic floor-loss mass contract: never above SCALE
    assert sum(got.values()) <= SCALE
    assert min(got.values()) > 0


def test_pagerank_hand_graph_ordering(spark):
    # triangle 0->1->2->0 plus an extra spoke 3->1: node 1 has the only
    # double in-degree and must out-rank the rest at the fixpoint
    edges = [(0, 1), (1, 2), (2, 0), (3, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r for r in pagerank(df, iters=10).collect()}
    want = pagerank_py(edges, iters=10)
    assert {k: v["rank_e12"] for k, v in got.items()} == want
    assert got[1]["rank_e12"] == max(want.values())
    assert got[1]["in_deg"] == 2 and got[1]["out_deg"] == 1
    # the spoke has no in-edges: exactly the base teleport mass
    base = ((100 - 85) * SCALE) // (100 * 4)
    assert got[3]["rank_e12"] == base == min(want.values())
    assert got[3]["out_deg"] == 1 and got[3]["in_deg"] == 0


def test_pagerank_partitioning_invariance(spark):
    import __spark_entry__ as E

    e = E._pr_edges(spark, SF)
    a = {
        r["node"]: r["rank_e12"]
        for r in pagerank(e.repartition(1), iters=4).collect()
    }
    b = {
        r["node"]: r["rank_e12"]
        for r in pagerank(e.repartition(13), iters=4).collect()
    }
    assert a == b


def test_pagerank_rejects_zero_iters(spark):
    df = spark.createDataFrame([(0, 1)], "src long, dst long")
    with pytest.raises(ValueError):
        pagerank(df, iters=0)


def test_components_matches_union_find_twin(spark):
    """The `components` query (edge-generic duplicate_clusters over the
    domain graph) equals the exact union-find pandas twin."""
    import pandas as pd

    import __spark_entry__ as E
    from oracle.oracle import clusters_pdf

    got = {
        (r["doc_id"], r["cluster_id"])
        for r in E.q_components(spark, SF).collect()
    }
    pairs = pd.DataFrame(_twin_edges(), columns=["doc_id", "dup_of"])
    want = {
        (r.doc_id, r.cluster_id)
        for r in clusters_pdf(pairs).itertuples()
    }
    assert got == want


def test_pagerank_rejects_empty_edges(spark):
    df = spark.createDataFrame([(5, 5)], "src long, dst long")  # loop only
    with pytest.raises(ValueError, match="empty edge set"):
        pagerank(df, iters=1)


def test_kcore_matches_python_peel_twin(spark):
    import __spark_entry__ as E
    from qamd_spark.ops.graph import kcore_py

    got = {
        r["node"]: r["core_degree"] for r in E.q_kcore(spark, SF).collect()
    }
    want = kcore_py(_twin_edges(), k=3)
    assert got == want
    assert got, "domain graph must have a non-empty 3-core"
    assert all(d >= 3 for d in got.values())


def test_kcore_hand_graph(spark):
    """Triangle+tail: the K4 clique survives k=3, the pendant chain and
    the high-degree star hub (degree 4, all leaf neighbors) peel away."""
    from qamd_spark.ops.graph import kcore

    edges = (
        # K4 on 1-4
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
        # pendant chain off node 4
        + [(4, 5), (5, 6)]
        # star hub 10 with 4 leaves: degree 4 but no dense neighborhood
        + [(10, 11), (10, 12), (10, 13), (10, 14)]
    )
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {r["node"]: r["core_degree"] for r in kcore(df, k=3).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert all(v == 3 for v in out.values())


# ---------------------------------------------------------------- LPA
def test_lpa_bit_exact_vs_python_twin(spark):
    import __spark_entry__ as E
    from qamd_spark.ops.graph import lpa_py

    got = {
        r["node"]: r["community"]
        for r in E.q_lpa_communities(spark, SF).collect()
    }
    want = lpa_py(_twin_edges())
    assert got == want


def test_lpa_two_cliques_with_bridge(spark):
    """Two 4-cliques joined by one bridge edge: components would merge
    them; LPA keeps two communities (each clique converges to its min
    id — the bridge's single vote never outweighs 3 clique votes)."""
    from qamd_spark.ops.graph import lpa_communities, lpa_py

    edges = []
    for base in (0, 10):
        for i in range(4):
            for j in range(i + 1, 4):
                edges.append((base + i, base + j))
    edges.append((3, 10))  # the bridge
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["community"] for r in lpa_communities(df).collect()}
    assert got == lpa_py(edges)
    left = {got[n] for n in (0, 1, 2)}
    right = {got[n] for n in (11, 12, 13)}
    assert left == {0} and right == {10}
    assert len({got[n] for n in got}) >= 2
