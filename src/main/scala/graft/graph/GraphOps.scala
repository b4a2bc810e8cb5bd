package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._

/** Closeness scoring + induced-subgraph extraction over a BFS result
  * (reference O18-O19, app.py:551-642). */
object GraphOps {

  /** Per-node closeness score (app.py:551-589):
    *   start → 1.0; unreachable or dist > maxDepth → 0.0;
    *   else ((D - dist + 1)/(D + 1)) * weight_factor, where
    *   weight_factor = 0.5 + 0.5 * pw/max_w over the traversal's global max
    *   accumulated weight (1.0 when max_w ≤ 0 — start-only traversals).
    * The global max is a 1-row aggregate broadcast into the plan (the
    * reference's traversal-wide coupling, app.py:576-589). This plan form
    * serves the declared queries (q_graph_score, q_hybrid);
    * [[closenessRows]] computes the same scores over a traversal already
    * on the driver, for `Engine.hybridSearch`.
    */
  def closeness(bfs: DataFrame, start: Column, maxDepth: Int): DataFrame = {
    val mw = bfs.agg(max("path_weight").as("max_w"))
    bfs.crossJoin(broadcast(mw))
      .withColumn("graph_score",
        when(col("node") === start, 1.0)
          .when(col("dist") > maxDepth, 0.0)
          .otherwise(
            ((lit(maxDepth) - col("dist") + 1) / lit(maxDepth + 1.0)) *
              when(col("max_w") > 0,
                lit(0.5) + lit(0.5) * col("path_weight") / col("max_w"))
                .otherwise(1.0)))
      .drop("max_w")
  }

  /** Row form of [[closeness]] over a traversal held on the driver —
    * the (node, dist, path_weight) rows of [[Bfs.traverse]] — computing
    * what the plan computes: `max_w` is Spark's `max` (nulls skipped, NaN
    * greatest), `max_w > 0` is SQL's comparison, a null path weight
    * scores null when `max_w > 0`, and the arithmetic runs in the plan's
    * order, so every score is bit-identical. */
  def closenessRows(bfs: Seq[(String, Int, java.lang.Double)], start: String,
                    maxDepth: Int): Seq[(String, java.lang.Double)] = {
    val maxW = bfs.flatMap(r => Option(r._3)).map(_.doubleValue)
      .reduceOption((a, b) => if (SQLOrderingUtil.compareDoubles(b, a) > 0) b else a)
    val weighted = maxW.exists(SQLOrderingUtil.compareDoubles(_, 0.0) > 0)
    bfs.map { case (node, dist, pw) =>
      val factor: java.lang.Double =
        if (!weighted) 1.0 else if (pw == null) null else 0.5 + 0.5 * pw / maxW.get
      val score: java.lang.Double =
        if (node == start) 1.0
        else if (dist > maxDepth) 0.0
        else if (factor == null) null
        else (maxDepth - dist + 1) / (maxDepth + 1.0) * factor
      (node, score)
    }
  }

  /** Induced subgraph: all edges with BOTH endpoints in the visited set —
    * deliberately NOT filtered by edge type (app.py:613-634 quirk: off-type
    * edges between visited nodes are reported). Two left-semi joins; the
    * visited set is usually small → broadcast. */
  def inducedEdges(edges: DataFrame, visited: DataFrame,
                   srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    val v = broadcast(visited.select(col("node")))
    edges
      .join(v, edges(srcCol) === v("node"), "left_semi")
      .join(v, edges(dstCol) === v("node"), "left_semi")
  }
}
