"""Iterative graph algorithms as DataFrame plans.

Companion to ``dedup.dup_clusters`` (connected components): PageRank,
the other canonical iterative graph workload a corpus-scale pipeline
needs (authority scoring of a link/citation/interaction graph for
quality weighting — the original web-scale use).

All arithmetic is EXACT INTEGER math on a fixed mass pool, so every
iteration is order-independent and bit-reproducible on any engine (the
same portability contract as the k-means / exact-sum family):

- each node starts with ``mass DIV N`` units;
- a node's per-edge contribution is ``pr DIV out_degree`` (floor);
- next rank = ``(15 * (mass DIV N)) DIV 100 + (85 * sum(contribs)) DIV
  100`` — the 0.85 damping expressed in integer percent. Mass lost to
  floors and dangling nodes is dropped (defined contract; rank ORDER,
  the useful output, is unaffected).

Physical shape per iteration (the Pregel/GraphX shape): one join of the
node-rank relation onto the edge list keyed by source (THE PageRank
shuffle — co-partition edges and ranks on the node key to pay it once),
one map-side-combined sum keyed by destination, one left join back to
the node set. Degrees and N are computed once; N rides as a broadcast
1-row aggregate, never a driver collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MASS = 10**12


def pagerank(
    edges: DataFrame,
    n_iter: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
    damping_pct: int = 85,
) -> DataFrame:
    """Integer-exact PageRank over a directed edge list (parallel edges
    count once per occurrence, like repeated links). Returns (node,
    pr) with ``pr`` in MASS units after ``n_iter`` synchronous
    iterations."""
    if not 0 <= damping_pct <= 100:
        raise ValueError(f"damping_pct must be in [0,100], got {damping_pct}")
    # Anchor the edge list only: it feeds the degree table, the node set
    # and each round's join. No action runs inside the loop, so the rounds
    # run as one plan whose size grows linearly with n_iter, and exchange
    # reuse shares the repeated node/degree work within it.
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")).localCheckpoint()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    ncnt = nodes.agg(F.count("*").alias("__n"))
    deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    e_deg = e.join(deg, "src")
    init = F.expr(f"CAST({MASS} AS BIGINT) DIV __n")
    pr = nodes.crossJoin(F.broadcast(ncnt)).select("node", init.alias("pr"))
    keep = damping_pct
    for _ in range(n_iter):
        contrib = (
            e_deg.join(pr.select(F.col("node").alias("src"), "pr"), "src")
            .select(F.col("dst").alias("node"), F.expr("pr DIV deg").alias("c"))
        )
        sums = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        pr = (
            nodes.join(sums, "node", "left")
            .crossJoin(F.broadcast(ncnt))
            .select(
                "node",
                (
                    F.expr(f"({100 - keep} * (CAST({MASS} AS BIGINT) DIV __n)) DIV 100")
                    + F.expr(f"({keep} * coalesce(s, CAST(0 AS BIGINT))) DIV 100")
                ).alias("pr"),
            )
        )
    return pr


def triangle_stats(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Global triangle census of an undirected graph — one row:
    n_nodes, n_edges, n_wedges, n_triangles, and the global clustering
    coefficient in integer micro-units (3T·1e6 DIV wedges).

    The scale-correct algorithm, not the naive one: edges are ORIENTED
    from the lower to the higher endpoint in (degree, node) order
    (degree ordering = the compact-forward / Latapy trick), which turns
    the graph into a DAG whose max out-degree is O(sqrt(m)) — so the
    wedge join (out-neighbor pairs per source) is bounded per node even
    on hub-heavy power-law graphs, where the naive a<b orientation
    explodes on the hubs. Each triangle is then counted exactly once by
    closing the (v, w) pair with the oriented edge between them. Three
    hash joins + map-side-combinable aggregates; everything integer.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") < F.col("b"))
        .distinct()
        # anchored: e feeds degree, the orientation join and (via fwd)
        # three more consumers — without the checkpoint Catalyst clones
        # the whole dedup subtree per consumer and the plan re-derives
        # the edge set ~6x
        .localCheckpoint()
    )
    deg = (
        e.select(F.col("a").alias("n"))
        .unionAll(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count("*").cast("long").alias("d"))
    )
    ed = (
        e.join(deg.select(F.col("n").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("n").alias("b"), F.col("d").alias("db")), "b")
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    # anchored: both wedge sides and the closing join read it (unanchored A/B runs were mixed)
    fwd = ed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
    ).localCheckpoint()
    x = fwd.select(F.col("u"), F.col("v"), F.col("dv"))
    y = fwd.select(F.col("u"), F.col("v").alias("w"), F.col("dv").alias("dw"))
    # out-neighbor pairs per source, ordered by the SAME (degree, node)
    # key as the orientation, so the closing edge is exactly fwd(v, w)
    wedges2 = x.join(y, "u").filter(
        F.struct(F.col("dv"), F.col("v")) < F.struct(F.col("dw"), F.col("w"))
    )
    closed = wedges2.join(
        fwd.select(F.col("u").alias("v"), F.col("v").alias("w")), ["v", "w"]
    )
    tri = closed.agg(F.count("*").cast("long").alias("n_triangles"))
    stats = deg.agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.sum("d").alias("__deg_sum"),
        F.sum(F.expr("d * (d - 1) DIV 2")).cast("long").alias("n_wedges"),
    )
    return (
        stats.join(tri)
        .select(
            "n_nodes",
            F.expr("__deg_sum DIV 2").cast("long").alias("n_edges"),
            "n_wedges",
            "n_triangles",
            F.expr(
                "IF(n_wedges > 0, (3 * n_triangles * 1000000) DIV n_wedges, NULL)"
            ).cast("long").alias("gcc_micro"),
        )
    )


def bfs_levels(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
) -> DataFrame:
    """Multi-source BFS: minimum hop distance from any seed node, out to
    ``max_hops``. Returns (node, dist) with dist in [0, max_hops];
    unreachable nodes are absent.

    The Pregel frontier shape — the third canonical iterative graph
    workload next to ``pagerank`` and ``dedup.dup_clusters`` (reach /
    contamination-radius analysis: "everything within k links of these
    seeds"). Per hop: ONE join of the current frontier onto the edge
    list keyed by source (the BFS shuffle — co-partition edges and the
    frontier on the node key to pay it once), a distinct on the
    neighbor set, and a left-anti join against the settled set so each
    node is labeled at its FIRST (minimal) hop. The frontier shrinks to
    new nodes only, so per-hop work is proportional to the expanding
    ring, never the whole settled set; an isEmpty probe stops early
    once the component is exhausted. All relations are
    localCheckpointed per hop — BFS lineage is inherently iterative and
    an unanchored chain would re-derive every prior hop per iteration.

    Everything is exact set algebra (no floats, no randomness), so the
    result is independent of partitioning and identical to a serial
    BFS by definition.
    """
    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0, got {max_hops}")
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).localCheckpoint()
    dist = (
        seeds.select(F.col(node_col).alias("node"))
        .distinct()
        .select("node", F.lit(0).cast("long").alias("dist"))
        # every hop's anti-join re-reads the seeds; unanchored, bfs01 ran 31 jobs, not 29
        .localCheckpoint()
    )
    frontier = dist.select("node")
    for hop in range(1, max_hops + 1):
        neigh = (
            frontier.join(e, frontier["node"] == e["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        new = (
            neigh.join(dist, "node", "left_anti")
            .select("node", F.lit(hop).cast("long").alias("dist"))
            .localCheckpoint()
        )
        if new.isEmpty():
            break
        # the settled set is a UNION of per-hop checkpointed frontiers —
        # each leg is already materialized, so re-checkpointing the union
        # every hop (a full copy of the whole settled set, quadratic over
        # the run) buys nothing: the per-hop anti-join scans the same
        # checkpointed RDDs either way, and the union plan is max_hops
        # legs deep at worst.
        dist = dist.unionAll(new)
        frontier = new.select("node")
    return dist
