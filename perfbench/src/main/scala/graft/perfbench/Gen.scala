package graft.perfbench

import java.util.SplittableRandom

import scala.collection.mutable

final case class CorpusNode(id: String, text: String,
    metadata: Map[String, String], createdAt: String)

final case class CorpusEdge(id: String, source: String, target: String,
    etype: String, weight: Double)

final case class Corpus(vocab: IndexedSeq[String],
    nodes: IndexedSeq[CorpusNode], edges: IndexedSeq[CorpusEdge])

/** One request of a serving workload. Node and edge references are symbolic
  * so the stream is a pure function of the seed: a corpus id stands for
  * itself, `new#k` for the k-th node the stream creates (its server-assigned
  * id is bound at run time), `edge#k` likewise for created edges, and
  * `missing#k` for an id that never exists (a 404 probe). */
sealed trait Op { def kind: String }
object Op {
  final case class Vector(text: String, filter: Option[(String, String)]) extends Op {
    def kind: String = if (filter.isEmpty) "vector" else "vector_filter"
  }
  final case class Graph(start: String, depth: Int, etype: Option[String]) extends Op {
    def kind = "graph"
  }
  final case class Hybrid(text: String, start: String) extends Op { def kind = "hybrid" }
  final case class GetNode(node: String) extends Op { def kind = "get_node" }
  final case class CreateNode(handle: String, text: String,
      metadata: Map[String, String]) extends Op { def kind = "write" }
  final case class UpdateNode(node: String, text: String,
      metadata: Option[Map[String, String]]) extends Op { def kind = "write" }
  final case class DeleteNode(node: String) extends Op { def kind = "write" }
  final case class CreateEdge(handle: String, source: String, target: String,
      etype: String, weight: Double) extends Op { def kind = "write" }
  final case class UpdateEdge(edge: String, etype: String, weight: Double) extends Op {
    def kind = "write"
  }
  final case class DeleteEdge(edge: String) extends Op { def kind = "write" }

  val Kinds: Seq[String] = Seq("vector", "vector_filter", "graph", "hybrid", "get_node", "write")
}

/** Deterministic inputs: the same seed gives a byte-identical corpus and
  * request stream, a different seed a different one. Only the seed and the
  * sizes below feed the generator. */
object Gen {
  val NodeTypes: IndexedSeq[String] = Vector("article", "note", "paper", "post")
  val EdgeTypes: IndexedSeq[String] = Vector("cites", "links", "mentions", "related")
  val Authors = 50
  val VocabSize = 4000
  /** Out-degree follows a truncated power law d^-1.8 on 1..200: mean ≈ 5
    * edges per node, a few hubs with hundreds. */
  val MaxOutDegree = 200
  val DegreeExponent = 1.8

  /** Cumulative weights of a rank distribution ∝ 1/(rank+1)^s; sampled by
    * binary search. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val c = new Array[Double](n)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += math.pow(i + 1.0, -s); c(i) = acc; i += 1 }
      c
    }
    def sample(rng: SplittableRandom): Int = {
      val u = rng.nextDouble() * cdf(n - 1)
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  private val Onsets = "b c d f g h k l m n p r s t v z br ch st tr".split(' ')
  private val Vowels = "a e i o u ai ea ou".split(' ')

  def vocabulary(rng: SplittableRandom, size: Int = VocabSize): IndexedSeq[String] = {
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < size) {
      val syl = 2 + rng.nextInt(3)
      seen += (0 until syl).map(_ =>
        Onsets(rng.nextInt(Onsets.length)) + Vowels(rng.nextInt(Vowels.length))).mkString
    }
    seen.toIndexedSeq
  }

  def nodeId(i: Int): String = f"n$i%07d"
  def edgeId(i: Int): String = f"e$i%08d"
  def weight(rng: SplittableRandom): Double =
    math.round((0.5 + 2.5 * rng.nextDouble()) * 1000) / 1000.0

  def words(rng: SplittableRandom, vocab: IndexedSeq[String], zipf: Zipf,
            min: Int, max: Int): String =
    (0 until min + rng.nextInt(max - min + 1)).map(_ => vocab(zipf.sample(rng)))
      .mkString(" ")

  def metadata(rng: SplittableRandom): Map[String, String] = Map(
    "type" -> NodeTypes(rng.nextInt(NodeTypes.length)),
    "author" -> f"author${rng.nextInt(Authors)}%02d")

  def corpus(seed: Long, n: Int): Corpus = {
    val rng = new SplittableRandom(seed)
    val vocab = vocabulary(rng)
    val wordZipf = new Zipf(vocab.length, 1.0)
    val nodes = (0 until n).map { i =>
      CorpusNode(nodeId(i), words(rng, vocab, wordZipf, 6, 12), metadata(rng),
        java.time.Instant.ofEpochSecond(1704067200L + i).toString)
    }
    val degree = new Zipf(MaxOutDegree, DegreeExponent)
    val edges = Vector.newBuilder[CorpusEdge]
    var e = 0
    var src = 0
    while (src < n) {
      val d = math.min(degree.sample(rng) + 1, n - 1)
      var k = 0
      while (k < d) {
        var dst = rng.nextInt(n)
        while (dst == src) dst = rng.nextInt(n)
        edges += CorpusEdge(edgeId(e), nodeId(src), nodeId(dst),
          EdgeTypes(rng.nextInt(EdgeTypes.length)), weight(rng))
        e += 1
        k += 1
      }
      src += 1
    }
    Corpus(vocab, nodes, edges.result())
  }

  /** Read composition of one block: exact shares of the request mix (25%
    * vector, 10% vector with metadata filter, 25% graph, 25% hybrid, 15%
    * get-node), shuffled within the block so every block carries the same
    * work and block times are comparable. */
  val ReadBlock: Seq[String] =
    Seq.fill(5)("vector") ++ Seq.fill(2)("vector_filter") ++ Seq.fill(5)("graph") ++
      Seq.fill(5)("hybrid") ++ Seq.fill(3)("get_node")
  /** Graph depths of one block's five graph requests (1–3). */
  val GraphDepths: Seq[Int] = Seq(1, 2, 2, 3, 3)
  val WriteKinds: Seq[String] = Seq("create_node", "update_node", "delete_node",
    "create_edge", "update_edge", "delete_edge")
  /** Writes per block: three of each kind, beside one read block (20 reads
    * + 18 writes). */
  val WritesPerKind = 3

  /** A live set with O(1) add, remove and uniform draw. */
  final class LiveSet {
    private val items = mutable.ArrayBuffer.empty[String]
    private val pos = mutable.HashMap.empty[String, Int]
    def size: Int = items.size
    def contains(x: String): Boolean = pos.contains(x)
    def add(x: String): Unit = if (!pos.contains(x)) { pos(x) = items.size; items += x }
    def remove(x: String): Unit = pos.remove(x).foreach { i =>
      val last = items.remove(items.size - 1)
      if (i < items.size) { items(i) = last; pos(last) = i }
    }
    def draw(rng: SplittableRandom): String = items(rng.nextInt(items.size))
  }
}

/** The request stream of a serving workload, generated block by block. It
  * tracks which nodes and edges are live (symbolically) so reads and writes
  * always target ids that exist, except the deliberate 404 probes. */
final class OpStream(corpus: Corpus, seed: Long) {
  import Gen._
  private val rng = new SplittableRandom(seed ^ 0x5DEECE66DL)
  private val wordZipf = new Zipf(corpus.vocab.length, 1.0)
  /** Graph starts: Zipf over node ids, ranked by a seeded permutation. */
  private val startRank: IndexedSeq[String] = {
    val ids = corpus.nodes.map(_.id).toArray
    var i = ids.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t; i -= 1
    }
    ids.toIndexedSeq
  }
  private val startZipf = new Zipf(startRank.length, 1.0)

  private val liveNodes = new LiveSet
  private val createdNodes = new LiveSet
  private val deadNodes = mutable.ArrayBuffer.empty[String]
  private val liveEdges = new LiveSet
  private val endpoints = mutable.HashMap.empty[String, (String, String)]
  private val incident = mutable.HashMap.empty[String, mutable.Set[String]]
  corpus.nodes.foreach(n => liveNodes.add(n.id))
  corpus.edges.foreach(e => addEdge(e.id, e.source, e.target))

  private var nodeHandles = 0
  private var edgeHandles = 0
  private var missing = 0
  private val usedTexts = mutable.HashSet.empty[String]

  private def addEdge(id: String, s: String, t: String): Unit = {
    liveEdges.add(id)
    endpoints(id) = (s, t)
    incident.getOrElseUpdate(s, mutable.Set.empty) += id
    incident.getOrElseUpdate(t, mutable.Set.empty) += id
  }
  private def removeEdge(id: String): Unit = {
    liveEdges.remove(id)
    endpoints.remove(id).foreach { case (s, t) =>
      incident.get(s).foreach(_ -= id); incident.get(t).foreach(_ -= id)
    }
  }

  /** A query text no earlier request used, drawn from the corpus vocabulary. */
  private def queryText(): String = {
    var t = words(rng, corpus.vocab, wordZipf, 3, 6)
    while (usedTexts.contains(t)) t = words(rng, corpus.vocab, wordZipf, 3, 6)
    usedTexts += t
    t
  }

  /** A live node: one read in five targets a node the run created (when
    * one is live), else Zipf over corpus ids. */
  private def startNode(): String =
    if (createdNodes.size > 0 && rng.nextInt(5) == 0) createdNodes.draw(rng)
    else {
      var id = startRank(startZipf.sample(rng))
      var tries = 0
      while (!liveNodes.contains(id) && tries < 16) {
        id = startRank(startZipf.sample(rng)); tries += 1
      }
      if (liveNodes.contains(id)) id else liveNodes.draw(rng)
    }

  private def read(kind: String, depth: => Int): Op = kind match {
    case "vector" => Op.Vector(queryText(), None)
    case "vector_filter" =>
      Op.Vector(queryText(), Some("type" -> NodeTypes(rng.nextInt(NodeTypes.length))))
    case "graph" =>
      val d = depth
      Op.Graph(startNode(), d,
        if (rng.nextInt(4) == 0) Some(EdgeTypes(rng.nextInt(EdgeTypes.length))) else None)
    case "hybrid" => Op.Hybrid(queryText(), startNode())
    case "get_node" =>
      // one get in ten probes the 404 path: a deleted node when the run
      // deleted one, else an id that never existed
      if (rng.nextInt(10) == 0) {
        if (deadNodes.nonEmpty) Op.GetNode(deadNodes(rng.nextInt(deadNodes.size)))
        else { missing += 1; Op.GetNode(s"missing#$missing") }
      } else Op.GetNode(startNode())
  }

  private def write(kind: String): Op = kind match {
    case "create_node" =>
      val h = s"new#$nodeHandles"; nodeHandles += 1
      liveNodes.add(h); createdNodes.add(h)
      Op.CreateNode(h, words(rng, corpus.vocab, wordZipf, 6, 12), metadata(rng))
    case "update_node" =>
      Op.UpdateNode(startNode(), words(rng, corpus.vocab, wordZipf, 6, 12),
        if (rng.nextBoolean()) Some(metadata(rng)) else None)
    case "delete_node" =>
      val id = if (createdNodes.size > 0 && rng.nextBoolean()) createdNodes.draw(rng)
               else liveNodes.draw(rng)
      liveNodes.remove(id); createdNodes.remove(id); deadNodes += id
      incident.remove(id).foreach(_.toSeq.foreach(removeEdge))
      Op.DeleteNode(id)
    case "create_edge" =>
      val s = startNode()
      var t = liveNodes.draw(rng)
      while (t == s) t = liveNodes.draw(rng)
      val h = s"edge#$edgeHandles"; edgeHandles += 1
      addEdge(h, s, t)
      Op.CreateEdge(h, s, t, EdgeTypes(rng.nextInt(EdgeTypes.length)), weight(rng))
    case "update_edge" =>
      Op.UpdateEdge(liveEdges.draw(rng), EdgeTypes(rng.nextInt(EdgeTypes.length)), weight(rng))
    case "delete_edge" =>
      val id = liveEdges.draw(rng)
      removeEdge(id)
      Op.DeleteEdge(id)
  }

  private def shuffled[A](xs: Seq[A]): Seq[A] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1
    }
    a.toSeq.asInstanceOf[Seq[A]]
  }

  /** The next block: one read block plus three writes of each kind, in a
    * seeded order. Ops are generated in that order, so liveness
    * at each op reflects every earlier write. */
  def nextBlock(): IndexedSeq[Op] = {
    val depths = shuffled(GraphDepths).iterator
    val slots = shuffled(ReadBlock.map(Left(_)) ++
      WriteKinds.flatMap(k => Seq.fill(WritesPerKind)(Right(k))))
    slots.map {
      case Left(kind)  => read(kind, depths.next())
      case Right(kind) => write(kind)
    }.toIndexedSeq
  }
}
