package graft.perfbench

import scala.collection.mutable

/** Plain-Scala model of the serving store: the expected answer of every
  * request, computed without Spark. It is updated by every write the
  * benchmark makes, with the ids and timestamps the server assigned.
  *
  * Scores follow the engine's documented arithmetic term for term (dot
  * products accumulated left to right in double, min-max normalisation,
  * closeness (D − d + 1)/(D + 1) · (0.5 + 0.5·w/max_w)), so a correct
  * engine matches to the last bits and the check can be tight. */
final class ServingModel(val dim: Int) {
  import ServingModel._

  val nodes = mutable.HashMap.empty[String, MNode]
  val edges = mutable.HashMap.empty[String, MEdge]
  private val out = mutable.HashMap.empty[String, mutable.Set[String]]
  private val in = mutable.HashMap.empty[String, mutable.Set[String]]

  def putNode(n: MNode): Unit = nodes(n.id) = n

  def putEdge(e: MEdge): Unit = {
    edges.get(e.id).foreach(unlink)
    edges(e.id) = e
    out.getOrElseUpdate(e.source, mutable.Set.empty) += e.id
    in.getOrElseUpdate(e.target, mutable.Set.empty) += e.id
  }

  private def unlink(e: MEdge): Unit = {
    out.get(e.source).foreach(_ -= e.id)
    in.get(e.target).foreach(_ -= e.id)
  }

  def deleteEdge(id: String): Unit = edges.remove(id).foreach(unlink)

  /** Node delete cascades to every incident edge. */
  def deleteNode(id: String): Unit = {
    nodes.remove(id)
    (out.remove(id).toSeq.flatten ++ in.remove(id).toSeq.flatten).foreach(deleteEdge)
  }

  def outgoing(id: String): Seq[MEdge] =
    out.get(id).toSeq.flatten.map(edges).sortBy(_.id)
  def incoming(id: String): Seq[MEdge] =
    in.get(id).toSeq.flatten.map(edges).sortBy(_.id)

  def dot(v: Array[Float], q: Array[Float]): Double = {
    val n = math.min(v.length, q.length)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += v(i).toDouble * q(i).toDouble; i += 1 }
    acc
  }

  /** Exact top-k by (score desc, id asc) over nodes with a `dim` vector
    * whose metadata matches every filter entry. */
  def vectorSearch(q: Array[Float], topK: Int,
                   filter: Map[String, String]): Seq[(String, Double)] = {
    val heap = mutable.PriorityQueue.empty[(String, Double)](ScoreOrder)
    nodes.valuesIterator.foreach { n =>
      if (n.vector.length == q.length &&
          filter.forall { case (k, v) => n.metadata.get(k).contains(v) }) {
        heap += (n.id -> dot(n.vector, q))
        if (heap.size > topK) heap.dequeue()
      }
    }
    heap.dequeueAll.reverse.toSeq
  }

  /** Depth-limited BFS: hop distance and, among shortest paths, the largest
    * accumulated weight. Returns node → (dist, path_weight), start included. */
  def bfs(start: String, depth: Int, etype: Option[String]): Map[String, (Int, Double)] = {
    val visited = mutable.HashMap(start -> (0, 0.0))
    var frontier = Map(start -> 0.0)
    var d = 0
    while (d < depth && frontier.nonEmpty) {
      d += 1
      val next = mutable.HashMap.empty[String, Double]
      frontier.foreach { case (u, pw) =>
        out.get(u).foreach(_.foreach { eid =>
          val e = edges(eid)
          if (etype.forall(_ == e.etype) && !visited.contains(e.target)) {
            val w = pw + e.weight
            if (next.get(e.target).forall(_ < w)) next(e.target) = w
          }
        })
      }
      next.foreach { case (v, w) => visited(v) = (d, w) }
      frontier = next.toMap
    }
    visited.toMap
  }

  /** Graph search: reached nodes minus the start, by (distance, id), and
    * the induced edges (any type) among all reached nodes, by id. */
  def graphSearch(start: String, depth: Int, etype: Option[String])
      : (Seq[(String, Int, Double)], Seq[MEdge]) = {
    val reached = bfs(start, depth, etype)
    val hits = reached.toSeq.filter(_._1 != start)
      .map { case (id, (d, w)) => (id, d, w) }
      .sortBy(h => (h._2, h._1))
    val induced = reached.keysIterator.flatMap(id => out.get(id).toSeq.flatten)
      .map(edges).filter(e => reached.contains(e.target)).toSeq.sortBy(_.id)
    (hits, induced)
  }

  /** Hybrid search: min-max normalised vector score fused with graph
    * closeness from `start` (edge type ignored; the start scores 0), final
    * score > 0, top-k by (final desc, id). Rows are
    * (id, vec_norm, graph_score, final_score). */
  def hybridSearch(q: Array[Float], start: String, depth: Int, vw: Double,
                   gw: Double, topK: Int): Seq[(String, Double, Double, Double)] = {
    val scores = nodes.valuesIterator.filter(_.vector.length == q.length)
      .map(n => n.id -> dot(n.vector, q)).toMap
    val vmin = if (scores.isEmpty) 0.0 else scores.valuesIterator.min
    val vmax = if (scores.isEmpty) 0.0 else scores.valuesIterator.max
    val reached = bfs(start, depth, None)
    val maxW = reached.valuesIterator.map(_._2).max
    def closeness(d: Int, w: Double): Double =
      ((depth - d + 1).toDouble / (depth + 1.0)) *
        (if (maxW > 0) 0.5 + 0.5 * w / maxW else 1.0)
    val heap = mutable.PriorityQueue.empty[(String, Double)](ScoreOrder)
    val parts = mutable.HashMap.empty[String, (Double, Double)]
    nodes.keysIterator.foreach { id =>
      val vn = scores.get(id).fold(0.0)(s =>
        if (vmax == vmin) 1.0 else (s - vmin) / (vmax - vmin))
      val gs = if (id == start) 0.0
               else reached.get(id).fold(0.0) { case (d, w) => closeness(d, w) }
      val f = vw * vn + gw * gs
      if (f > 0) {
        heap += (id -> f)
        parts(id) = (vn, gs)
        if (heap.size > topK) heap.dequeue()
      }
    }
    heap.dequeueAll[(String, Double)].reverse.map { case (id, f) =>
      val (vn, gs) = parts(id)
      (id, vn, gs, f)
    }.toSeq
  }
}

object ServingModel {
  final case class MNode(id: String, text: String, metadata: Map[String, String],
      createdAt: String, updatedAt: String, vector: Array[Float])
  final case class MEdge(id: String, source: String, target: String,
      etype: String, weight: Double)

  /** Max-heap order whose head is the WORST hit: lowest score, then largest
    * id — dequeuing it keeps the best k. */
  val ScoreOrder: Ordering[(String, Double)] = (a, b) => {
    val c = java.lang.Double.compare(b._2, a._2)
    if (c != 0) c else a._1.compareTo(b._1)
  }

  def of(corpus: Corpus, dim: Int): ServingModel = {
    val m = new ServingModel(dim)
    corpus.nodes.foreach { n =>
      m.putNode(MNode(n.id, n.text, n.metadata, n.createdAt, n.createdAt,
        graft.functions.HashEmbed.encode(n.text, dim)))
    }
    corpus.edges.foreach(e => m.putEdge(MEdge(e.id, e.source, e.target, e.etype, e.weight)))
    m
  }
}
