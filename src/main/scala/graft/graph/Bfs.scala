package graft.graph

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Depth-limited directed weighted BFS (reference O17, app.py:512-549) with
  * the frontier and labels on the driver, as the reference's in-process
  * queue keeps them — every level is one filtered edge scan
  * (`src IN frontier`) collected to the driver.
  *
  * Semantics (SURVEY §7.5.1, deliberate spec choice): `dist` is the exact
  * hop count; `path_weight` is the **max accumulated weight among
  * shortest paths** — the clean fixpoint of the reference's label rule
  * (min dist, then max weight at equal dist, app.py:540-544). The reference
  * does not re-propagate improved weights (queue-order artifact,
  * app.py:547); the clean semantics agrees on every graph its tests
  * exercise (chains, stars, 2-cycles) and is what the recursive-CTE oracle
  * computes, so the declared checks are self-consistent.
  *
  * Scale: a level costs one job (a filtered scan, no shuffle) and the loop
  * stops at the first empty frontier, so a traversal runs at most `depth`
  * jobs and holds nothing in the block manager. Each level's collected
  * edges plus the visited set pass [[GraphAnalytics.requireDriverFits]]
  * before they are kept: an ego traversal's frontier is a handful of ids,
  * and one that would not fit the driver fails loudly. The isolated-start
  * short-circuit (app.py:521-525) falls out naturally: an empty first
  * level leaves only the start row. Depth is assumed small (≤ ~10, as in
  * all reference workloads); whole-graph traversals belong to GraphX
  * Pregel.
  */
object Bfs {

  /** @param edges DataFrame with `srcCol`, `dstCol`, `weightCol` (+ optional
    *              type column filtered by `edgeType`)
    * @param start literal Column of the same type as src/dst (e.g. lit(0L))
    * @return a local DataFrame(node, dist: int, path_weight: double); `node`
    *         has the type a union of `start` and `dstCol` widens to. A null
    *         dst is a row of its own at each level it is reached, never
    *         expanded (it matches no src and no visited node).
    */
  def traverse(edges: DataFrame, start: Column, depth: Int,
               srcCol: String = "src", dstCol: String = "dst",
               weightCol: String = "weight",
               edgeType: Option[(String, String)] = None): DataFrame = {
    val spark = edges.sparkSession
    val e = edgeType.fold(edges) { case (c, t) => edges.filter(col(c) === t) }
    // evaluated over a one-row local relation: on the driver, no job
    val startNode = spark.createDataFrame(java.util.List.of(Row()), StructType(Nil))
      .select(start.as("node"))
    val nodeType = startNode.unionByName(e.select(col(dstCol).as("node")))
      .schema("node").dataType
    val s0 = startNode.select(col("node").cast(nodeType)).head().get(0)

    // keys compare with Scala's cooperative `==`, so an Int src finds the
    // Long frontier id it equals, as Spark's widening join comparison does
    val visited = mutable.HashSet[Any](s0)
    val rows = mutable.ArrayBuffer(Row(s0, 0, 0.0))
    var frontier = Map[Any, java.lang.Double](s0 -> 0.0)
    var d = 0
    while (d < depth && frontier.nonEmpty) {
      d += 1
      val hop = e.filter(col(srcCol).isin(frontier.keys.toSeq: _*))
        .select(col(srcCol), col(dstCol).cast(nodeType), col(weightCol).cast("double"))
        .collect()
      GraphAnalytics.requireDriverFits(hop.length.toLong + visited.size, s"BFS level $d")
      // min hop: only unvisited dsts; then Spark's max of pw(src) + w
      // (nulls skipped, NaN greatest) over the level's parallel paths
      val next = mutable.LinkedHashMap.empty[Any, java.lang.Double]
      hop.foreach { r =>
        val dst = r.get(1)
        if (dst == null || !visited(dst)) {
          val src = frontier(r.get(0))
          val pw: java.lang.Double =
            if (src == null || r.isNullAt(2)) null else src + r.getDouble(2)
          next(dst) = next.get(dst).fold(pw)(maxOf(_, pw))
        }
      }
      next.foreach { case (n, pw) => rows += Row(n, d, pw) }
      visited ++= next.keys.filter(_ != null)
      frontier = next.toMap.filter(_._1 != null)
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("node", nodeType),
      StructField("dist", IntegerType, nullable = false),
      StructField("path_weight", DoubleType))))
  }

  /** Spark's `max` over two nullable doubles: nulls skipped, NaN greatest. */
  private def maxOf(a: java.lang.Double, b: java.lang.Double): java.lang.Double =
    if (a == null) b
    else if (b == null || java.lang.Double.compare(a, b) >= 0) a
    else b
}
