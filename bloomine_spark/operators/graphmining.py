"""Graph-mining operators over crawl-scale edge lists: triangle
counting / local clustering coefficients and synchronous label-
propagation communities.

Both consume the directed (src, dst) host-edge relation the linkgraph
family builds and stay fully relational (SQL-oracle-checkable):

* ``triangle_counts`` — the degree-orientation algorithm (Cohen 2009 /
  Suri & Vassilvitskii WWW'11, the MapReduce-era standard): orient each
  undirected edge from its lower (degree, node) endpoint to its higher
  one, making the graph acyclic, so every triangle materializes EXACTLY
  ONCE as a wedge at its lowest corner plus one closing-edge join. The
  wedge fan-out at a node is bounded by its ORIENTED out-degree ≤
  O(√m), which is what keeps the self-join alive on a power-law crawl
  graph where a raw neighbor self-join at the top host would be
  degree² ≈ 10¹²·rows.
* ``lpa_communities`` — synchronous label propagation (Raghavan 2007)
  with deterministic (count DESC, label ASC) tie-breaking and a fixed
  round count, so the result is a pure function of the graph that a
  SQL oracle unrolls round by round. Per round only (node, label) rows
  move: one exchange of labels onto the statically partitioned edge
  list, one partial-aggregated count exchange — the pagerank shuffle
  envelope with a string instead of a double.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["undirected_edges", "triangle_counts", "lpa_communities", "k_core"]


def undirected_edges(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Distinct canonical undirected edges ``(a, b)`` with ``a < b``;
    self-loops drop. One exchange (the distinct)."""
    s, d = F.col(src_col), F.col(dst_col)
    return (
        edges.filter(s != d)
        .select(
            F.least(s, d).alias("a"),
            F.greatest(s, d).alias("b"),
        )
        .distinct()
    )


def triangle_counts(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Per-node triangle counts and local clustering coefficient over
    the undirected view of ``edges``: ``(node, degree, triangles,
    lcc)`` where ``lcc = 2·T / (d·(d−1))`` (0.0 when ``d < 2`` — never
    an ANSI divide-by-zero).

    Orientation key is the struct ``(degree, node)`` — a total order,
    so the oriented graph is acyclic and each triangle {u,v,w} with
    u < v < w under it appears exactly once: wedge (u→v, u→w) with
    v < w closed by the (v→w) edge, which the orientation guarantees
    is the only direction that edge can carry.
    """
    und = undirected_edges(edges, src_col, dst_col)
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("degree").alias("_da"))
    db = deg.select(F.col("node").alias("b"), F.col("degree").alias("_db"))
    ka = F.struct(F.col("_da").alias("d"), F.col("a").alias("n"))
    kb = F.struct(F.col("_db").alias("d"), F.col("b").alias("n"))
    oriented = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(ka < kb, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(ka < kb, F.col("b")).otherwise(F.col("a")).alias("v"),
            F.when(ka < kb, F.col("_db")).otherwise(F.col("_da")).alias("_dv"),
        )
    )
    e1 = oriented.select("u", F.col("v").alias("v1"), F.col("_dv").alias("_d1"))
    e2 = oriented.select("u", F.col("v").alias("v2"), F.col("_dv").alias("_d2"))
    k1 = F.struct(F.col("_d1").alias("d"), F.col("v1").alias("n"))
    k2 = F.struct(F.col("_d2").alias("d"), F.col("v2").alias("n"))
    wedges = e1.join(e2, "u").filter(k1 < k2).select("u", "v1", "v2")
    closing = oriented.select(
        F.col("u").alias("v1"), F.col("v").alias("v2")
    )
    tris = wedges.join(closing, ["v1", "v2"]).select("u", "v1", "v2")
    corner = (
        tris.select(F.explode(F.array("u", "v1", "v2")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("triangles"))
    )
    d = F.col("degree").cast("double")
    return (
        deg.join(corner, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce(F.col("triangles"), F.lit(0)).alias("triangles"),
        )
        .withColumn(
            "lcc",
            F.when(
                F.col("degree") >= 2,
                2.0 * F.col("triangles").cast("double") / (d * (d - 1.0)),
            ).otherwise(F.lit(0.0)),
        )
    )


def lpa_communities(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    rounds: int = 6,
    stats: dict | None = None,
) -> DataFrame:
    """Synchronous label propagation → ``(node, community)``.

    Every node starts labelled with itself; each round every node
    adopts the most frequent label among its (undirected) neighbors,
    ties to the smallest label — the deterministic variant, evaluated
    SYNCHRONOUSLY so round t+1 is a pure function of round t and a SQL
    oracle can unroll it. Fixed ``rounds`` (no data-dependent stop):
    bipartite structures can oscillate under synchronous updates, and a
    fixed count keeps the result engine-portable anyway.

    Scale shape: the both-direction neighbor list is hash-partitioned
    once on ``src`` and reused; per round one (node, label) exchange in
    and one partially-aggregated (node, label, cnt) exchange out.
    Lineage is truncated per round with ``localCheckpoint`` (swap to
    ``checkpoint`` on a real cluster), the connected-components
    discipline.
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    und = undirected_edges(edges, src_col, dst_col)
    nbrs = (
        und.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionByName(und.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .repartition("src")
    )
    nbrs.persist()
    labels = (
        nbrs.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
    )
    for _ in range(int(rounds)):
        msgs = nbrs.join(
            labels.withColumnRenamed("node", "src"), "src"
        ).select(F.col("dst").alias("node"), "label")
        cnt = msgs.groupBy("node", "label").agg(F.count("*").alias("cnt"))
        labels = (
            cnt.groupBy("node")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("cnt")).alias("nc"), F.col("label").alias("l")
                    )
                ).alias("m")
            )
            .select("node", F.col("m.l").alias("label"))
            .localCheckpoint(eager=True)
        )
    if stats is not None:
        stats["rounds"] = int(rounds)
    nbrs.unpersist()
    return labels.select("node", F.col("label").alias("community"))


def k_core(
    edges: DataFrame,
    k: int,
    src_col: str = "src",
    dst_col: str = "dst",
    rounds: int = 8,
    stats: dict | None = None,
) -> DataFrame:
    """k-core decomposition by synchronous peeling: repeatedly drop
    every node whose degree in the SURVIVING subgraph is < ``k``; what
    remains after convergence is the k-core (Seidman 1983's "network
    degeneracy" subgraph — the standard crawl/social-graph denoiser).
    Returns ``(node, degree)`` for surviving nodes, degree measured in
    the final subgraph.

    Fixed ``rounds`` of SYNCHRONOUS peeling (round t+1 is a pure
    function of round t), so a SQL oracle can unroll it and the result
    is engine-portable; with enough rounds this IS the k-core fixpoint
    (each round either removes a node or is the fixpoint, and
    ``stats["converged_early"]`` reports whether the fixpoint was
    reached — peeling converges in O(peel depth) rounds, typically far
    below the worst case).

    Scale shape: per round one degree aggregation (narrow (node, long)
    rows) and two semi-join-shaped filters of the edge relation against
    the survivor set; lineage truncated per round with
    ``localCheckpoint`` (swap to ``checkpoint`` on a real cluster).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    und = undirected_edges(edges, src_col, dst_col)
    live = (
        und.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .unionByName(und.select(F.col("b").alias("u"), F.col("a").alias("v")))
    )
    prev_edges = None
    for r in range(int(rounds)):
        deg = live.groupBy("u").agg(F.count("*").alias("d"))
        keep = deg.filter(F.col("d") >= int(k)).select("u")
        nxt = (
            live.join(keep, "u")
            .join(keep.withColumnRenamed("u", "v"), "v")
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
        if stats is not None:
            n_now = nxt.count()
            if prev_edges is not None and n_now == prev_edges:
                stats["converged_early"] = True
                stats["rounds_run"] = r + 1
                live = nxt
                break
            prev_edges = n_now
        live = nxt
    if stats is not None:
        stats.setdefault("converged_early", False)
        stats.setdefault("rounds_run", int(rounds))
    return live.groupBy(F.col("u").alias("node")).agg(
        F.count("*").alias("degree")
    )
