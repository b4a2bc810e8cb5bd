package graft

import scala.util.Random

import graft.api.{AnnMode, Engine}
import graft.functions.{vec, HashEmbed}
import graft.graph.{Bfs, GraphOps}
import graft.hybrid.HybridSearch
import graft.model._
import graft.store.{Embeddings, Scored, TableCatalog}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Serving requests are keyed reads on a catalog snapshot; these checks
  * hold them to the Spark plans they replaced, kept here as the reference:
  * the `join` / `orderBy` / `limit` tail of vector search in every
  * [[AnnMode]], [[HybridSearch.fuse]] over [[GraphOps.closeness]], and the
  * filters over the catalog's DataFrames that getNode and graph search
  * ran, with the traversal by [[Bfs.traverse]]. Answers must agree row
  * for row, every score to the bit.
  *
  * The catalogs are seeded and loaded through [[TableCatalog.load]]. They
  * hold tied scores from duplicate texts, ids that differ only in a
  * supplementary character (UTF-16 and UTF-8 order them differently),
  * orphan embeddings, dangling edges, self-loops, parallel edges, and a
  * user-supplied embedding of the wrong dimension. */
class ServingEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  private val ts = "2024-01-01T00:00:00Z"
  private val words = Seq("graph", "vector", "spark", "join", "index", "query", "node", "edge")
  private val tiedIds = Seq("t-\uFFFD", "t-\uD83D\uDE00", "t-\uD83D\uDE01")

  /** An Engine over a seeded random catalog of `n` nodes. */
  private def engineFor(seed: Int, n: Int = 40): Engine = {
    val rnd = new Random(seed)
    def text() = Seq.fill(2 + rnd.nextInt(4))(words(rnd.nextInt(words.size))).mkString(" ")
    val shared = text()
    val ids = (0 until n).map(i => s"n-$i") ++ tiedIds
    val nodes = ids.map { id =>
      // the tied ids and every fifth node share one text: tied scores
      val t = if (id.startsWith("t-") || rnd.nextInt(5) == 0) shared else text()
      val meta = rnd.nextInt(6) match {
        case 0 => Map.empty[String, String]
        case 1 => Map("type" -> "rare")
        case k => Map("type" -> Seq("a", "b")(k % 2), "lang" -> Seq("en", "de")(rnd.nextInt(2)))
      }
      Node(id, t, meta, ts, ts)
    }
    val embedded = nodes.filter(_ => rnd.nextInt(8) != 0)
    val orphans = (0 until 4).map(i => Node(s"orphan-$i", if (i < 2) shared else text(),
      Map("type" -> "a"), ts, ts))
    val embeddings = (embedded ++ orphans).map(nd =>
      EmbeddingRow(nd.id, HashEmbed.encode(nd.text, HashEmbed.DefaultDim).toSeq,
        HashEmbed.DefaultDim))
    val targets = ids ++ Seq("ghost-0", "ghost-1")
    val edges = (0 until 4 * n).map { i =>
      val src = if (i % 23 == 0) "ghost-2" else ids(rnd.nextInt(ids.size))
      EdgeRow(s"e-$i", src, targets(rnd.nextInt(targets.size)),
        Seq("t1", "t2")(rnd.nextInt(2)), Seq(0.5, 1.0, 2.5)(rnd.nextInt(3)), ts)
    } ++ tiedIds.map(t => EdgeRow(s"e-$t", "n-0", t, "t1", 1.0, ts)) ++
      // a self-loop, on a supplementary-character id too, and parallel edges
      Seq(EdgeRow("e-loop-0", "n-0", "n-0", "t1", 0.5, ts),
        EdgeRow("e-loop-\uD83D\uDE00", tiedIds(1), tiedIds(1), "t2", 2.5, ts),
        EdgeRow("e-par-0", tiedIds(1), tiedIds(2), "t1", 1.0, ts),
        EdgeRow("e-par-1", tiedIds(1), tiedIds(2), "t2", 2.5, ts),
        EdgeRow("e-par-2", tiedIds(1), tiedIds(2), "t1", 0.5, ts),
        EdgeRow("e-par-3", "n-1", "n-2", "t1", 1.0, ts),
        EdgeRow("e-par-4", "n-1", "n-2", "t1", 2.5, ts))
    val catalog = new TableCatalog(spark)
    catalog.load(nodes.toDF(), embeddings.toDF(), edges.toDF())
    val e = new Engine(catalog)
    // a user-supplied embedding of the wrong dimension
    e.createNode("wrong dimension " + shared, Map("type" -> "a"),
      embedding = Some(Seq.fill(8)(0.5f)))
    e
  }

  private lazy val engines = Seq(1, 2, 3).map(s => engineFor(s))

  private def bits(x: Double): Long = java.lang.Double.doubleToRawLongBits(x)

  private def vectorKey(h: VectorHit) = (h.id, h.text, h.metadata, bits(h.vectorScore))
  private def hybridKey(h: HybridHit) =
    (h.id, h.text, bits(h.vectorScore), bits(h.graphScore), bits(h.finalScore))

  /** Vector search as one Spark plan over the Engine's candidate set. */
  private def vectorPlan(e: Engine, text: String, topK: Int, filter: Map[String, String],
                         mode: AnnMode): Seq[VectorHit] = {
    val q = HashEmbed.encode(text, e.dim)
    val eligible = e.catalog.embeddings.filter($"dim" === q.length)
    val candidates = e.candidateIds(e.catalog.snapshot, q, topK, filter.nonEmpty, mode)
      .fold(eligible)(ids => eligible.filter($"node_id".isin(ids: _*)))
    val scored = candidates
      .select($"node_id".as("id"),
        vec.dot($"vector", typedlit(q.toSeq.map(_.toDouble))).as("vector_score"))
      .join(e.catalog.nodes, "id")
    filter.foldLeft(scored) { case (df, (k, v)) => df.filter(element_at($"metadata", k) === v) }
      .orderBy($"vector_score".desc, $"id")
      .limit(topK)
      .select($"id", $"text", $"metadata", $"vector_score".as("vectorScore"))
      .as[VectorHit].collect().toSeq
  }

  /** Hybrid search as [[HybridSearch.fuse]] over [[GraphOps.closeness]]. */
  private def hybridPlan(e: Engine, text: String, vw: Double, gw: Double, topK: Int,
                         start: Option[String], depth: Int): Option[Seq[HybridHit]] = {
    val nodes = e.catalog.nodes
    if (start.exists(s => nodes.filter($"id" === s).isEmpty)) None
    else {
      val q = HashEmbed.encode(text, e.dim)
      val vecScores = e.catalog.embeddings.filter($"dim" === q.length)
        .select($"node_id".as("id"),
          vec.dot($"vector", typedlit(q.toSeq.map(_.toDouble))).as("vector_score"))
      val graphScores = start.map { s =>
        val bfs = Bfs.traverse(e.catalog.edges, lit(s), depth,
          srcCol = "source", dstCol = "target", weightCol = "weight")
        GraphOps.closeness(bfs, lit(s), depth)
          .filter($"node" =!= s).select($"node".as("id"), $"graph_score")
      }
      val fused = HybridSearch.fuse(nodes, vecScores, graphScores, vw, gw, topK)
        .select($"id", $"vec_norm", $"graph_score", $"final_score")
        .as[(String, Double, Double, Double)].collect()
      val texts = nodes.filter($"id".isin(fused.map(_._1): _*))
        .select($"id", $"text").as[(String, String)].collect().toMap
      Some(fused.toSeq.map { case (id, vn, gs, f) => HybridHit(id, texts(id), vn, gs, f) })
    }
  }

  private def info(e: EdgeRow) = EdgeInfo(e.id, e.source, e.target, e.etype, e.weight)

  /** The edges of `df` in Spark's order by id. */
  private def edgeInfos(df: org.apache.spark.sql.DataFrame): Seq[EdgeInfo] =
    df.as[EdgeRow].collect().sortBy(_.id)(Engine.SparkStringOrder).map(info).toSeq

  /** getNode as filters over the catalog's DataFrames. */
  private def getNodePlan(e: Engine, id: String): Option[NodeDetails] = {
    val c = e.catalog
    c.nodes.filter($"id" === id).as[Node].collect().headOption.map { node =>
      val emb = c.embeddings.filter($"node_id" === id).as[EmbeddingRow].collect().headOption
      val incident = edgeInfos(c.edges.filter($"source" === id || $"target" === id))
      NodeDetails(node.id, node.text, node.metadata, node.created_at, node.updated_at,
        emb.nonEmpty, emb.map(_.vector),
        incident.filter(_.source == node.id), incident.filter(_.target == node.id))
    }
  }

  /** graphSearch as [[Bfs.traverse]] over the edge DataFrame, then `id IN`
    * filters for the visited nodes' rows and the induced edges. */
  private def graphPlan(e: Engine, start: String, depth: Int,
                        etype: Option[String]): Option[GraphSearchResult] = {
    val c = e.catalog
    val bfs = Bfs.traverse(c.edges, lit(start), depth, srcCol = "source", dstCol = "target",
      weightCol = "weight", edgeType = etype.map(("etype", _)))
      .as[(String, Int, Double)].collect()
    val visited = bfs.map(_._1).filter(_ != null)
    val rows = c.nodes.filter($"id".isin(visited: _*)).as[Node].collect().map(n => n.id -> n).toMap
    val (first, reached) = bfs.partition(_._2 == 0)
    if (!rows.contains(first.head._1)) None
    else {
      val nodes = reached.sortBy(h => (h._2, h._1))(
          Ordering.Tuple2(Ordering.Int, Engine.SparkStringOrder))
        .flatMap { case (id, dist, pw) =>
          rows.get(id).map(n => GraphNodeHit(n.id, n.text, n.metadata, dist, pw))
        }.toSeq
      val induced = edgeInfos(c.edges
        .filter($"source".isin(visited: _*) && $"target".isin(visited: _*)))
      Some(GraphSearchResult(start, depth, etype, nodes, induced))
    }
  }

  private def edgeKey(x: EdgeInfo) = (x.id, x.source, x.target, x.etype, bits(x.weight))
  private def nodeKey(n: NodeDetails) = (n.id, n.text, n.metadata, n.created_at, n.updated_at,
    n.hasEmbedding, n.embedding.map(_.map(f => java.lang.Float.floatToRawIntBits(f))),
    n.outgoing.map(edgeKey), n.incoming.map(edgeKey))
  private def graphKey(g: GraphSearchResult) = (g.startId, g.depth, g.edgeType,
    g.nodes.map(h => (h.id, h.text, h.metadata, h.distance, bits(h.pathWeight))),
    g.edges.map(edgeKey))

  /** getNode and graphSearch == their plan forms on every id of `e`, plus
    * dangling, orphan and missing ids, at depths 0–3, with and without a type. */
  private def assertReadsAgree(e: Engine, what: String): Unit = {
    val ids = e.catalog.nodes.select($"id").as[String].collect().toSeq ++
      Seq("ghost-0", "ghost-2", "orphan-0", "missing")
    ids.foreach { id =>
      assert(e.getNode(id).map(nodeKey) == getNodePlan(e, id).map(nodeKey), s"$what: getNode $id")
    }
    val starts = Seq("n-0", "n-1", "n-7", "ghost-0", "missing") ++ tiedIds
    for (start <- starts; depth <- 0 to 3; etype <- Seq(None, Some("t1"), Some("t2"))) {
      assert(e.graphSearch(start, depth, etype).map(graphKey) ==
        graphPlan(e, start, depth, etype).map(graphKey), s"$what: graph $start, $depth, $etype")
    }
  }

  test("getNode and graphSearch == filters over the catalog frames, before and after writes") {
    engines.zipWithIndex.foreach { case (e, i) => assertReadsAgree(e, s"catalog $i") }
    // writes move rows and rewrite the indexes: a re-upserted edge changes
    // its endpoints, a deleted node takes its self-loop and parallel edges
    val e = engineFor(4)
    assertReadsAgree(e, "fresh")
    val a = e.createNode("a new node", Map("type" -> "a"))
    val loop = e.createEdge(a.id, a.id, "t1", 1.5).get
    e.createEdge("n-0", a.id, "t2", 2.0)
    e.catalog.upsertEdge(EdgeRow("e-par-3", "n-2", "n-1", "t2", 0.5, ts))
    e.updateEdge(loop.id, weight = Some(3.0))
    assert(e.deleteNode(tiedIds(1)))
    assert(e.deleteEdge("e-par-4"))
    e.updateNode("n-7", text = Some("rewritten"), regenEmbedding = true)
    assertReadsAgree(e, "after writes")
  }

  private val filters = Seq(
    Map.empty[String, String],
    Map("type" -> "a"),
    Map("type" -> "a", "lang" -> "de"),
    Map("type" -> "rare"),         // fewer rows than most topK
    Map("type" -> "no such type")) // no row

  test("vectorSearch == the join/orderBy/limit plan, brute force") {
    engines.zipWithIndex.foreach { case (e, i) =>
      val shared = e.catalog.nodes.filter($"id" === tiedIds.head).select($"text").as[String].head()
      // "" embeds to the zero vector: every score is 0.0
      val texts = Seq(shared, "graph vector join", "edge", "")
      for ((text, t) <- texts.zipWithIndex; (filter, f) <- filters.zipWithIndex) {
        val topK = Seq(0, 1, 3, 10, 1000)((i + t + f) % 5)
        val got = e.vectorSearch(text, topK, filter)
        val want = vectorPlan(e, text, topK, filter, AnnMode.BruteForce)
        assert(got.map(vectorKey) == want.map(vectorKey),
          s"catalog $i, '$text', $filter, top $topK:\n$got\n$want")
      }
    }
  }

  test("vectorSearch == the join/orderBy/limit plan, approximate modes") {
    val e = engines.head
    for (mode <- Seq(AnnMode.TrainedIvf(nprobe = 2), AnnMode.Sq8(rerank = 8));
         text <- Seq("graph vector join", "spark index query node");
         filter <- filters.take(4); topK <- Seq(1, 5, 1000)) {
      val got = e.vectorSearch(text, topK, filter, mode)
      val want = vectorPlan(e, text, topK, filter, mode)
      assert(got.map(vectorKey) == want.map(vectorKey),
        s"$mode, '$text', $filter, top $topK:\n$got\n$want")
    }
  }

  test("hybridSearch == fuse over closeness: weights, starts, depths") {
    val weights = Seq((0.7, 0.3), (1.0, 0.0), (0.0, 1.0), (-0.5, 1.0), (1.0, -1.0), (0.0, 0.0))
    engines.zipWithIndex.foreach { case (e, i) =>
      val starts = Seq(None, Some("n-0"), Some("n-7"), Some("missing"))
      for (((vw, gw), w) <- weights.zipWithIndex; (start, s) <- starts.zipWithIndex) {
        val (topK, depth) = Seq((10, 2), (1000, 3), (0, 1), (3, 1))((i + w + s) % 4)
        val text = Seq("graph vector join", "edge", "")((i + w) % 3)
        val got = e.hybridSearch(text, vw, gw, topK, start, depth)
        val want = hybridPlan(e, text, vw, gw, topK, start, depth)
        assert(got.map(_.map(hybridKey)) == want.map(_.map(hybridKey)),
          s"catalog $i, '$text', ($vw, $gw), $start, top $topK, depth $depth:\n$got\n$want")
      }
    }
  }

  /** vectorSearch and hybridSearch == their plan forms on `e`. */
  private def assertSearchesAgree(e: Engine, what: String): Unit = {
    for (text <- Seq("graph vector join", "grown node edge", ""); filter <- filters.take(3);
         topK <- Seq(1, 10, 1000)) {
      assert(e.vectorSearch(text, topK, filter).map(vectorKey) ==
        vectorPlan(e, text, topK, filter, AnnMode.BruteForce).map(vectorKey), s"$what: '$text', $filter, $topK")
    }
    for ((vw, gw) <- Seq((0.7, 0.3), (1.0, 0.0)); start <- Seq(None, Some("n-0"))) {
      assert(e.hybridSearch("graph vector join", vw, gw, 20, start, 2).map(_.map(hybridKey)) ==
        hybridPlan(e, "graph vector join", vw, gw, 20, start, 2).map(_.map(hybridKey)),
        s"$what: hybrid ($vw, $gw) from $start")
    }
  }

  test("vector and hybrid search == their plans after writes that grow and compact the arena") {
    val e = engineFor(5)
    val slots = e.catalog.snapshot.embeddingSlots
    // rows that fill several new blocks, then a new vector for half of them
    val rows = 3 * Embeddings.MinBlockFloats / HashEmbed.DefaultDim
    val created = (0 until rows).map(i => e.createNode(s"${words(i % 8)} grown ${words(i * 3 % 8)}",
      Map("type" -> Seq("a", "b")(i % 2))).id)
    created.take(rows / 2).foreach(id =>
      e.updateNode(id, text = Some(s"edge node $id"), regenEmbedding = true))
    assert(e.catalog.snapshot.embeddingSlots == slots + rows + rows / 2)
    assertSearchesAgree(e, "grown")
    // deletes until dead slots outnumber live ones: the arena compacts
    val before = e.catalog.snapshot.embeddingSlots
    created.iterator.takeWhile(_ => e.catalog.snapshot.embeddingSlots >= before)
      .foreach(id => assert(e.deleteNode(id)))
    assert(e.catalog.snapshot.embeddingSlots < before, "the arena compacted")
    assertSearchesAgree(e, "compacted")
  }

  test("closenessRows == closeness: null and NaN weights, a null node, depth overrun") {
    val rnd = new Random(7)
    for (round <- 0 until 20) {
      val weights = Seq[java.lang.Double](null, Double.NaN, 0.0, 0.5, 1.5, 3.0)
      val rows = ("s", 0, java.lang.Double.valueOf(0.0)) +: (0 until 1 + rnd.nextInt(6)).map { i =>
        val node = if (i == 0 && round % 3 == 0) null else s"v$i"
        val pw = if (round % 4 == 0) weights(rnd.nextInt(3) + 3) else weights(rnd.nextInt(6))
        (node, 1 + rnd.nextInt(3), pw)
      }
      val depth = 1 + rnd.nextInt(3)
      val bfs = spark.createDataFrame(spark.sparkContext.parallelize(
          rows.map { case (n, d, w) => org.apache.spark.sql.Row(n, d, w) }, 2),
        Bfs.traverse(Seq(("a", "b", 1.0)).toDF("src", "dst", "weight"), lit("a"), 1).schema)
      val want = GraphOps.closeness(bfs, lit("s"), depth).select($"node", $"graph_score")
        .collect().map(r => (r.getString(0), Option(r.get(1)).map(d => bits(d.asInstanceOf[Double]))))
        .sortBy(_.toString).toSeq
      val got = GraphOps.closenessRows(rows, "s", depth)
        .map { case (n, s) => (n, Option(s).map(d => bits(d))) }.sortBy(_.toString)
      assert(got == want, s"round $round, depth $depth, $rows")
    }
  }

  /** `rows` (distinct ids) as the scored rows a snapshot's arena gives. */
  private def scored(rows: Seq[(String, Double)]): Scored = new Scored {
    private val keys = rows.map(r => UTF8String.fromString(r._1)).toArray
    def size: Int = keys.length
    def key(i: Int): UTF8String = keys(i)
    def score(i: Int): Double = rows(i)._2
    def row(k: UTF8String): Int = keys.indexOf(k)
  }

  test("fuseRows == fuse: NaN, ties, orphans, zero, negative and infinite weights") {
    val rnd = new Random(11)
    val universe = (0 until 8).map(i => s"n$i")
    val nodes = universe.toDF("id")
    val scorePool = Seq(0.25, 0.25, 0.5, 0.9, -0.3, Double.NaN)
    val weights = Seq((0.7, 0.3), (1.0, 0.0), (0.0, 1.0), (-1.0, 0.5), (0.0, 0.0),
      (Double.PositiveInfinity, 0.3))
    for (round <- 0 until 24) {
      val vecIds = rnd.shuffle(universe :+ "orphan").take(rnd.nextInt(7))
      val vecScores = vecIds.map(_ -> scorePool(rnd.nextInt(if (round % 2 == 0) 5 else 6)))
      val graph = rnd.shuffle(universe :+ "dangling").take(rnd.nextInt(5))
        .map(_ -> (if (rnd.nextInt(5) == 0) null else java.lang.Double.valueOf(rnd.nextInt(4) / 3.0)))
      val (vw, gw) = weights(round % weights.size)
      val g = if (graph.isEmpty) None
        else Some(graph.map { case (id, s) => (id, Option(s).map(_.doubleValue)) }
          .toDF("id", "graph_score").repartition(2))
      val want = HybridSearch.fuse(nodes, vecScores.toDF("id", "vector_score"), g, vw, gw, 1000)
        .select($"id", $"vec_norm", $"graph_score", $"final_score")
        .as[(String, Double, Double, Double)].collect().toSeq
      val f = HybridSearch.fuseRows(scored(vecScores), graph, vw, gw, universe)
      val got = Engine.rank(f.size)(f.finalScore, f.key)
        .map(i => (f.key(i).toString, f.vecNorm(i), f.graphScore(i), f.finalScore(i)))
        .filter(r => universe.contains(r._1)).toSeq
      def key(r: (String, Double, Double, Double)) = (r._1, bits(r._2), bits(r._3), bits(r._4))
      assert(got.map(key) == want.map(key),
        s"round $round ($vw, $gw): $vecScores / $graph\n$got\n$want")
    }
  }
}
