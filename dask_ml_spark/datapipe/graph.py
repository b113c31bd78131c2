"""Graph centrality over DataFrame edge lists — the domain-authority
signal web-curation pipelines attach to documents (a PageRank-style
score over the outlink/co-link graph decides which domains' text is
kept at higher rates).

Spark-first shape: the edge table is degree-normalized ONCE and
cut; every PageRank iteration is then one equi join
(ranks x edges on src) plus one groupBy(dst) aggregate — a single
shuffle per iteration, with rank state bounded by #nodes rows.
Dangling mass (nodes with no out-edges) is redistributed uniformly,
the standard correction, costing one 1-row aggregate per iteration.
Deterministic given (graph, iters, damping) — SQL-replayable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dask_ml_spark.utils import cut


def pagerank(edges: DataFrame, iters: int = 10, damping: float = 0.85,
             src_col: str = "src", dst_col: str = "dst",
             weight_col: str | None = None) -> DataFrame:
    """Weighted PageRank. Returns (node, rank) with Σ rank = 1.

    ``edges`` is a directed edge list; parallel edges sum their
    weights (weight 1 each when ``weight_col`` is None).
    """
    w = (F.col(weight_col).cast("double") if weight_col
         else F.lit(1.0))
    # e feeds nodes/deg/norm — cut so the edge aggregation (and the
    # possibly-expensive upstream edge extraction)
    # evaluates once, not once per reference; nodes symmetrize with one
    # in-row explode instead of a unionAll that doubled the subtree
    e = cut(edges.select(F.col(src_col).alias("src"),
                         F.col(dst_col).alias("dst"), w.alias("w"))
            .groupBy("src", "dst").agg(F.sum("w").alias("w")))
    nodes = cut(e.select(F.explode(F.array(F.col("src"), F.col("dst")))
                         .alias("node"))
                .distinct())
    n = nodes.count()
    deg = e.groupBy("src").agg(F.sum("w").alias("out_w"))
    # out-degree-normalized edges, built once and reused every iteration
    norm = cut(e.join(deg, "src")
               .select("src", "dst", (F.col("w") / F.col("out_w")).alias("p")))
    # the dangling-node SET is static — computed once, not per iteration
    dangling_nodes = cut(nodes.join(norm.select(F.col("src").alias("node")),
                                    "node", "left_anti"))
    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    base = (1.0 - damping) / n
    for i in range(iters):
        # checkpoint the (#nodes-row, tiny) rank table every iteration:
        # it feeds BOTH the contribution join and the dangling-mass
        # aggregate, and without the cut the plan would double per
        # iteration; materializing #nodes rows is cheap
        ranks = ranks.localCheckpoint()
        contrib = (norm.join(ranks, norm.src == ranks.node)
                   .groupBy("dst")
                   .agg(F.sum(F.col("p") * F.col("rank")).alias("c")))
        dangling = (ranks.join(dangling_nodes, "node", "left_semi")
                    .agg(F.coalesce(F.sum("rank"), F.lit(0.0))
                         .alias("dm")))
        ranks = (nodes.join(contrib, nodes.node == contrib.dst, "left")
                 .crossJoin(F.broadcast(dangling))
                 .select("node",
                         (F.lit(base)
                          + F.lit(damping)
                          * (F.coalesce(F.col("c"), F.lit(0.0))
                             + F.col("dm") / n)).alias("rank")))
    return ranks


def smooth_scores(edges: DataFrame, scores: DataFrame,
                  id_col: str = "doc_id", score_col: str = "score",
                  src_col: str = "src", dst_col: str = "dst",
                  alpha: float = 0.5, iters: int = 1) -> DataFrame:
    """Neighborhood score smoothing over an edge list — quality/label
    propagation: each round blends a node's score with the mean of its
    out-neighbors' scores,

        s_{t+1}(v) = (1 - alpha) * s_t(v) + alpha * mean_{v->u} s_t(u)

    and a node with no out-edges keeps its own score. Fed by
    ``similarity.knn_graph`` this is the standard trick for denoising
    per-document quality signals (a good doc surrounded by spam gets
    pulled down, an unlucky heuristic score gets pulled up by its
    semantic neighbors).

    Shape at 100 TB: per iteration ONE equi join (edges x scores on
    dst — uniform key) and one groupBy(src) aggregate (bounded by the
    graph's out-degree, k for a k-NN graph — no hot groups), plus a
    left join back. Edge table cut once when several
    rounds will reuse it; score state is #nodes rows. Deterministic —
    SQL-replayable.

    Output: (id, score).
    """
    cur = scores.select(F.col(id_col),
                        F.col(score_col).cast("double").alias("__s"))
    if iters <= 0:
        return cur.select(F.col(id_col), F.col("__s").alias(score_col))
    e = (edges.select(F.col(src_col).alias("__src"),
                      F.col(dst_col).alias("__dst")))
    if iters > 1:
        # cut: the (possibly expensive, e.g. knn_graph) edge table
        # materializes with the first smoothing round's job and LATER
        # rounds reuse the blocks. With a single round the edge plan
        # has exactly one consumer — a cut there buys no reuse and
        # still pays both its build-time physical planning (the lazy
        # checkpoint plans the subtree via toRdd) and a full
        # executor-side block materialization of the edge table.
        e = cut(e)
    for i in range(iters):
        nb = (e.join(cur.select(F.col(id_col).alias("__dst"), "__s"), "__dst")
              .groupBy("__src").agg(F.avg("__s").alias("__nb")))
        cur = (cur.join(nb.select(F.col("__src").alias(id_col), "__nb"),
                        id_col, "left")
               .select(F.col(id_col),
                       F.when(F.col("__nb").isNull(), F.col("__s"))
                       .otherwise((1.0 - alpha) * F.col("__s")
                                  + alpha * F.col("__nb")).alias("__s")))
        if i < iters - 1:
            # truncate BETWEEN rounds (the pagerank idiom): keeps the
            # plan one-iteration deep instead of stacking every
            # round's joins, and the next round reads cur twice (the
            # nb join + the join back). The LAST round's state has no
            # next round — its cut served only callers that consume
            # the returned frame more than once, at the price of
            # materializing the result an extra time; such callers cut
            # at the call site instead.
            cur = cut(cur)
    return cur.select(F.col(id_col), F.col("__s").alias(score_col))


def triangle_count(edges: DataFrame, src_col: str = "src",
                   dst_col: str = "dst") -> DataFrame:
    """Per-node triangle counts over an UNDIRECTED graph (direction,
    parallel edges, and self-loops in the input are normalized away).
    Returns (node, triangles) for every node on >= 1 edge.

    Spark-first shape — the degree-orientation algorithm (Cohen 2009,
    "Graph Twiddling in a MapReduce World"): orient every undirected
    edge from the (degree, id)-smaller endpoint to the larger, so each
    triangle is counted exactly once from its smallest-degree corner
    AND the wedge fan-out per node is bounded by its ORIENTED
    out-degree, which is O(sqrt(m)) on any graph — a power-law hub
    with degree 10^6 contributes wedges only through edges oriented
    OUT of it, of which there are few. Wedge generation is one
    self-join on the oriented source with an explicit keyed
    repartition (the AQE input-size trap: a small edge table feeding
    an exploding self-join would otherwise coalesce into one task);
    closure is one equi-join of wedges against oriented edges; node
    counts are one explode + groupBy.
    """
    a, b = F.col(src_col), F.col(dst_col)
    # und feeds the degree count AND the orientation join — cut so the
    # distinct (and upstream edge derivation) evaluates once; the
    # degree union is one in-row explode
    und = cut(edges
              .where(a != b)
              .select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
              .distinct())
    deg = (und.select(F.explode(F.array(F.col("u"), F.col("v")))
                      .alias("node"))
           .groupBy("node").agg(F.count(F.lit(1)).alias("deg")))
    # orient u->v when (deg, id) of u < of v; join degrees in (small
    # deg table — AQE broadcasts when it fits)
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    oriented = (und.join(du, "u").join(dv, "v")
                .select(
                    F.when((F.col("du") < F.col("dv"))
                           | ((F.col("du") == F.col("dv"))
                              & (F.col("u") < F.col("v"))),
                           F.struct(F.col("u").alias("s"),
                                    F.col("v").alias("t")))
                    .otherwise(F.struct(F.col("v").alias("s"),
                                        F.col("u").alias("t")))
                    .alias("e"))
                .select(F.col("e.s").alias("s"), F.col("e.t").alias("t")))
    sc = edges.sparkSession.sparkContext
    n_parts = max(sc.defaultParallelism, 1)
    # cut: consumed three times (2 wedge sides + closure)
    oriented = cut(oriented.repartition(n_parts))
    # the wedge join EXPLODES (sum of C(outdeg, 2) rows from a small
    # edge input), and the cut erased any partitioning info —
    # so both join inputs carry their own EXPLICIT keyed repartition
    # (AQE-exempt): sized by key count, not by the small input bytes
    # AQE would otherwise coalesce into a handful of exploding tasks
    w1 = (oriented.select(F.col("s").alias("a"), F.col("t").alias("b"))
          .repartition(n_parts, "a"))
    w2 = (oriented.select(F.col("s").alias("a"), F.col("t").alias("c"))
          .repartition(n_parts, "a"))
    wedges = (w1.join(w2, "a")
              .where(F.col("b") < F.col("c")))
    closing = oriented.select(F.col("s").alias("b"), F.col("t").alias("c")) \
        .unionByName(oriented.select(F.col("s").alias("c"),
                                     F.col("t").alias("b")))
    tris = wedges.join(closing, ["b", "c"])
    return (tris
            .select(F.explode(F.array("a", "b", "c")).alias("node"))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("triangles")))
