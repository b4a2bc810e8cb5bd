package graft.graph

import org.apache.spark.graphx.{Edge => GxEdge, Graph, VertexId}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** GraphX-backed graph analytics — the RDD/Pregel forms of whole-graph
  * computation (BASELINE.json north star: "graph analytics via GraphX"),
  * run by the GraphX query module (`rel.GraphXQueries`) and used by the
  * tests as a reference. Connected components everywhere else is
  * [[GraphAnalytics.connectedComponents]]; its string-keyed callers map
  * ids through [[stringVertexMapping]] first (SURVEY §1.4). Vertex ids
  * here are the Long node ids of the derived fixture graphs.
  */
object GraphXOps {

  /** Build a GraphX graph from an edge DataFrame (src, dst, weight). */
  def fromEdges(edges: DataFrame): Graph[Long, Double] = {
    val es = edges.select(col("src").cast("long"), col("dst").cast("long"),
        col("weight").cast("double"))
      .rdd.map(r => GxEdge(r.getLong(0), r.getLong(1), r.getDouble(2)))
    Graph.fromEdges(es, defaultValue = 0L,
      edgeStorageLevel = StorageLevel.MEMORY_AND_DISK,
      vertexStorageLevel = StorageLevel.MEMORY_AND_DISK)
  }

  /** String-keyed edge frame → GraphX-ready long-keyed edges + the vertex
    * mapping (SURVEY §1.4: dense-rank over sorted distinct ids — fully
    * deterministic, unlike hashing, and reversible by join). */
  def stringVertexMapping(edges: DataFrame, srcCol: String, dstCol: String)
      : DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // dense ranks WITHOUT a global window: distributed range-sort of the
    // distinct vertex set, then zipWithIndex (per-partition offsets from
    // one count pass — no single-partition shuffle anywhere). Determinism:
    // ids are distinct and totally ordered, so rank = sorted position,
    // identical to the row_number it replaces.
    edges.select(col(srcCol).cast("string").as("sid"))
      .unionByName(edges.select(col(dstCol).cast("string").as("sid")))
      .distinct()
      .as[String].rdd
      .sortBy(identity)
      .zipWithIndex()
      .map { case (s, i) => (s, i + 1L) }
      .toDF("sid", "vid")
  }

  /** Connected components (undirected closure) → (node, component) where
    * component = min node id reachable. Deterministic → oracle-checkable.
    * q_graphx_cc's subject and the tests' reference for
    * [[GraphAnalytics.connectedComponents]]. */
  def connectedComponents(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    fromEdges(edges).connectedComponents()
      .vertices.toDF("node", "component")
      .select($"node", $"component")
  }

  /** PageRank (damping 0.85) — float-iterative, so declared rows-only
    * (no cross-engine hash oracle); ranks are still deterministic within
    * the engine for a fixed iteration count. */
  def pageRank(edges: DataFrame, iters: Int = 10): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    fromEdges(edges).staticPageRank(iters)
      .vertices.toDF("node", "rank")
      .select($"node", round($"rank", 6).as("rank"))
  }

  /** Pregel single-source shortest-hop with max-weight tie-break — the
    * same label semantics as [[Bfs.traverse]] (min dist, then max
    * accumulated weight), run to fixpoint instead of a driver loop.
    * Returns only reached vertices (dist < unbounded depth). */
  def pregelBfs(edges: DataFrame, start: Long, maxDepth: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val g = fromEdges(edges)
    val init = (Int.MaxValue, 0.0)
    val bfs = g.mapVertices((id, _) => if (id == start) (0, 0.0) else init)
      .pregel(init, maxIterations = maxDepth)(
        vprog = (_, attr, msg) =>
          if (msg._1 < attr._1 || (msg._1 == attr._1 && msg._2 > attr._2)) msg
          else attr,
        sendMsg = t => {
          val (d, w) = t.srcAttr
          if (d == Int.MaxValue || d >= maxDepth) Iterator.empty
          else {
            val cand = (d + 1, w + t.attr)
            val (dd, dw) = t.dstAttr
            if (cand._1 < dd || (cand._1 == dd && cand._2 > dw))
              Iterator((t.dstId, cand))
            else Iterator.empty
          }
        },
        mergeMsg = (a, b) =>
          if (a._1 < b._1 || (a._1 == b._1 && a._2 > b._2)) a else b)
    bfs.vertices
      .filter { case (_, (d, _)) => d != Int.MaxValue }
      .map { case (id, (d, w)) => (id, d, w) }
      .toDF("node", "dist", "path_weight")
  }
}
