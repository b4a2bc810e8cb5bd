package graft.perfbench

import scala.collection.mutable

import graft.api.{Engine, EngineHttpServer}
import graft.functions.{vec, HashEmbed}
import graft.graph.{Bfs, GraphOps}
import graft.hybrid.HybridSearch
import graft.model.{EdgeRow, EmbeddingRow, Node}
import graft.store.TableCatalog
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The serving workload: the engine's HTTP API over loopback, one client
  * in a closed loop (the server runs one request at a time, so more
  * clients would only queue), sending reads and nearly as many writes (18
  * to a block's 20 reads). */
final class Serve(spark: SparkSession, cfg: Config) {
  import Serve._
  import spark.implicits._

  private val dim = HashEmbed.DefaultDim

  val result = new RunResult
  /** Which part of the run a request belongs to, kept in its record. */
  private var phase = "warmup"
  /** Reads sent in the traced phase, to pick replays and their order. */
  private var tracedReads = 0

  /** Symbolic id (see [[Op]]) → id the server knows. */
  private val bound = mutable.HashMap.empty[String, String]
  private def resolve(sym: String): String =
    if (sym.startsWith("missing#")) "missing-" + sym.drop(8) else bound.getOrElse(sym, sym)

  def run(): RunResult = {
    val setupT0 = System.nanoTime()
    val corpus = Gen.corpus(cfg.seed, CorpusNodes)
    val genS = (System.nanoTime() - setupT0) / 1e9
    val (catalog, loadS) = Serve.load(spark, corpus, dim)
    val srvT0 = System.nanoTime()
    val engine = new Engine(catalog, dim)
    val server = new EngineHttpServer(engine, 0)
    server.start()
    val serverS = (System.nanoTime() - srvT0) / 1e9
    try {
      val http = new Http(server.boundPort)
      val model = ServingModel.of(corpus, dim)
      // warm-up: one request of every kind, checked, outside the timed
      // phase but inside set-up time
      val w0 = System.nanoTime()
      warmUp(corpus).foreach(op => execute(http, model, op, engine, catalog, None))
      val warmS = (System.nanoTime() - w0) / 1e9
      result.samples.clear()
      result.setupS = cfg.sessionS + (System.nanoTime() - setupT0) / 1e9
      result.env("corpus_nodes") = corpus.nodes.size
      result.env("corpus_edges") = corpus.edges.size
      result.env("setup_parts") = Map("session_s" -> cfg.sessionS, "generate_s" -> genS,
        "load_s" -> loadS, "server_s" -> serverS, "warmup_s" -> warmS)
      result.env("ops_per_block") = Gen.ReadBlock.size + Gen.WriteKinds.size * Gen.WritesPerKind

      // a traced run sends the same stream as an untraced one, with spans
      // and Spark listeners on, and calls into the layers between requests
      val stream = new OpStream(corpus, cfg.seed)
      val traced = if (cfg.trace) Some((new Tracer, new SparkProbe(spark))) else None
      traced.foreach(_._2.attach())
      phase = if (cfg.trace) "traced" else "timed"
      val blocks = timedBlocks(stream, http, model, engine, catalog, traced)
      result.metric("total_s", Stats.median(result.blockS.toSeq), "s")
      result.latencyMetrics()
      result.env("blocks") = blocks
      traced.foreach { case (t, p) =>
        val checkpointMb = storageMb()
        storeProbes(catalog, corpus, t)
        p.attribute(t.spans.toSeq)
        layerMetrics(t, p, blocks, loadS, checkpointMb)
        p.detach()
        result.spans = t.spans.toSeq
      }
    } finally server.stop()
    result
  }

  /** Warm-up requests: every read and write kind once, the writes on a node
    * and an edge the warm-up itself creates and finally deletes, so the
    * timed stream starts from the generated corpus. */
  private def warmUp(corpus: Corpus): Seq[Op] = {
    val a = corpus.nodes.head.id
    val b = corpus.nodes(1).id
    Seq(Op.Vector("warm up vector", None),
      Op.Vector("warm up filter", Some("type" -> Gen.NodeTypes.head)),
      Op.Graph(a, 2, None), Op.Hybrid("warm up hybrid", a), Op.GetNode(a),
      Op.CreateNode("warm#0", "warm up node", Map("type" -> "note")),
      Op.UpdateNode("warm#0", "warm up node updated", None),
      Op.CreateEdge("warmedge#0", "warm#0", b, Gen.EdgeTypes.head, 1.0),
      Op.UpdateEdge("warmedge#0", Gen.EdgeTypes(1), 2.0),
      Op.DeleteEdge("warmedge#0"), Op.DeleteNode("warm#0"))
  }

  /** Whole blocks of the stream until `cfg.seconds` have passed (at least
    * one). A block's time is the sum of its requests' latencies; checks and
    * traced extras between requests are not in it. */
  private def timedBlocks(stream: OpStream, http: Http, model: ServingModel, engine: Engine,
                          catalog: TableCatalog, traced: Option[(Tracer, SparkProbe)]): Int = {
    val deadline = System.nanoTime() + (cfg.seconds * 1e9).toLong
    var blocks = 0
    while (blocks == 0 || System.nanoTime() < deadline) {
      var blockMs = 0.0
      stream.nextBlock().foreach { op =>
        blockMs += execute(http, model, op, engine, catalog, traced)
      }
      result.blockS += blockMs / 1000
      blocks += 1
    }
    blocks
  }

  /** Send one request, time it, check it against the model (untimed) and
    * apply it to the model. Returns its latency in ms. A traced request
    * gets layer spans: the read replayed on the Engine and over HTTP, and
    * direct calls into the layers beneath. */
  private def execute(http: Http, model: ServingModel, op: Op, engine: Engine,
                      catalog: TableCatalog, traced: Option[(Tracer, SparkProbe)]): Double = {
    traced.foreach(_._1.newRequest())
    val reply = traced.fold(request(http, op, resolve)) { case (t, _) =>
      t.span("request." + op.kind)(t.span("api.http")(request(http, op, resolve)))
    }
    val error =
      try Checks.check(op, reply.status, reply.body, model, bound, resolve, dim)
      catch { case e: Throwable => Some(s"check raised $e") }
    result.record(op.kind, reply.ms, error, Map("phase" -> phase,
      "op" -> op.toString, "status" -> reply.status))
    // a wrong reply is counted; its layers are not traced
    if (error.isEmpty) traced.foreach { case (t, p) =>
      layerCalls(t, p, http, op, reply.body, engine, catalog)
    }
    reply.ms
  }

  // ------------------------------------------------------ traced layers
  private def layerCalls(t: Tracer, p: SparkProbe, http: Http, op: Op, body: String,
                         engine: Engine, catalog: TableCatalog): Unit = {
    def embed(text: String): Array[Float] =
      t.span("functions.hash_embed")(HashEmbed.encode(text, dim))
    // every other read is replayed warm (the timed request compiled its
    // code) three ways: on the Engine directly, over HTTP traced, and over
    // HTTP with the probe paused; the order rotates from one replayed read
    // to the next, so each way runs first, second and third equally often
    // and no side of a comparison is always the warmer one
    def replays(engineCall: => Unit): Unit = {
      if (tracedReads % 2 == 0) {
        var traced = 0.0
        var untraced = 0.0
        val calls = Seq[() => Unit](
          () => t.span("api.engine")(engineCall),
          () => traced = RunResult.timeMs(t.span("api.http_replay")(request(http, op, resolve))),
          () => untraced = p.paused(RunResult.timeMs(request(http, op, resolve))))
        val k = (tracedReads / 2) % calls.size
        (calls.drop(k) ++ calls.take(k)).foreach(_())
        result.replayPairs += ((traced, untraced))
      }
      tracedReads += 1
    }
    op match {
      case Op.Vector(text, filter) =>
        replays(engine.vectorSearch(text, TopK, filter.toMap))
        embed(text)
      case Op.Graph(start, depth, etype) =>
        replays(engine.graphSearch(resolve(start), depth, etype))
        t.span("graph.bfs")(Bfs.traverse(catalog.edges, lit(resolve(start)), depth,
          srcCol = "source", dstCol = "target", weightCol = "weight",
          edgeType = etype.map(("etype", _))))
        val visited = Json.read(body) match {
          case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]("nodes").asInstanceOf[Seq[_]].size + 1
          case _ => 0
        }
        result.bfsVisited += visited.toDouble
      case Op.Hybrid(text, start) =>
        val s = resolve(start)
        replays(engine.hybridSearch(text, VectorWeight, GraphWeight, TopK, Some(s), HybridDepth))
        val q = embed(text)
        val bfs = t.span("graph.bfs")(Bfs.traverse(catalog.edges, lit(s), HybridDepth,
          srcCol = "source", dstCol = "target", weightCol = "weight"))
        t.span("hybrid.fuse") {
          val vecScores = catalog.embeddings.filter($"dim" === q.length)
            .select($"node_id".as("id"),
              vec.dot($"vector", typedlit(q.toSeq.map(_.toDouble))).as("vector_score"))
          val graphScores = GraphOps.closeness(bfs, lit(s), HybridDepth)
            .filter($"node" =!= s).select($"node".as("id"), $"graph_score")
          HybridSearch.fuse(catalog.nodes, vecScores, Some(graphScores),
            VectorWeight, GraphWeight, TopK).collect()
        }
      case Op.GetNode(node) => replays(engine.getNode(resolve(node)))
      case Op.CreateNode(_, text, _) => embed(text)
      case Op.UpdateNode(_, text, _) => embed(text)
      case _ => ()
    }
  }

  /** Store-layer probes, after the timed phase: each TableCatalog write on
    * a throwaway node and edge that the probe itself removes again, so the
    * catalog ends with the rows it started with. */
  private def storeProbes(catalog: TableCatalog, corpus: Corpus, t: Tracer): Unit = {
    val other = corpus.nodes.head.id
    (0 until StoreProbes).foreach { i =>
      t.newRequest()
      val id = s"probe-node-$i"
      val eid = s"probe-edge-$i"
      val text = s"probe node $i"
      t.span("store.upsert_node")(catalog.upsertNode(Node(id, text, Map.empty,
        EdgeCreatedAt, EdgeCreatedAt)))
      t.span("store.upsert_embedding")(catalog.upsertEmbedding(
        EmbeddingRow(id, HashEmbed.encode(text, dim).toSeq, dim)))
      t.span("store.upsert_edge")(catalog.upsertEdge(
        EdgeRow(eid, id, other, Gen.EdgeTypes.head, 1.0, EdgeCreatedAt)))
      t.span("store.delete_edge")(catalog.deleteEdge(eid))
      t.span("store.delete_node")(catalog.deleteNode(id))
    }
  }

  private def storageMb(): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  // ------------------------------------------------------------ metrics
  private def layerMetrics(t: Tracer, p: SparkProbe, blocks: Int, loadS: Double,
                           checkpointMb: Double): Unit = {
    val spans = t.spans.toSeq
    val byRequest = spans.groupBy(_.request)
    def named(n: String) = spans.filter(_.name == n)
    def medianMs(n: String) = { val d = named(n).map(_.durationMs); if (d.isEmpty) 0.0 else Stats.median(d) }
    val http = named("api.http")
    // HTTP cost over the direct Engine call for the same read, both warm
    val overhead = byRequest.values.flatMap { ss =>
      for (h <- ss.find(_.name == "api.http_replay"); e <- ss.find(_.name == "api.engine"))
        yield h.durationMs - e.durationMs
    }.toSeq
    result.layer("api.http_ms", if (overhead.isEmpty) 0.0 else Stats.median(overhead), "ms")
    val kindOf = byRequest.flatMap { case (r, ss) =>
      ss.find(_.name.startsWith("request.")).map(r -> _.name.stripPrefix("request."))
    }
    Op.Kinds.foreach { kind =>
      val hs = http.filter(h => kindOf.get(h.request).contains(kind))
      result.layer(s"api.$kind.jobs", Stats.mean(hs.map(_.counts.getOrElse("jobs", 0.0))), "count")
      result.layer(s"api.$kind.driver_ms", if (hs.isEmpty) 0.0 else Stats.median(hs.map(h =>
        h.durationMs - Tracer.covered(p.jobIntervals(h)))), "ms")
    }
    result.layer("store.load_s", loadS, "s")
    Seq("upsert_node", "upsert_embedding", "upsert_edge", "delete_node", "delete_edge")
      .foreach(op => result.layer(s"store.${op}_ms", medianMs(s"store.$op"), "ms"))
    result.layer("store.checkpoint_mb", checkpointMb, "MB")
    result.layer("functions.hash_embed_us", medianMs("functions.hash_embed") * 1000, "us")
    val graphBfs = named("graph.bfs").filter(s => kindOf.get(s.request).contains("graph"))
    result.layer("graph.bfs_ms", if (graphBfs.isEmpty) 0.0 else Stats.median(graphBfs.map(_.durationMs)), "ms")
    result.layer("graph.bfs_jobs", Stats.mean(graphBfs.map(_.counts.getOrElse("jobs", 0.0))), "count")
    result.layer("graph.bfs_visited_rows", Stats.mean(result.bfsVisited.toSeq), "rows")
    val fuse = named("hybrid.fuse")
    result.layer("hybrid.fuse_ms", medianMs("hybrid.fuse"), "ms")
    result.layer("hybrid.fuse_jobs", Stats.mean(fuse.map(_.counts.getOrElse("jobs", 0.0))), "count")
    RunResult.sparkLayers(result, http, blocks, spark.sparkContext.defaultParallelism)
  }
}

object Serve {
  /** Nodes in the generated corpus (about five edges each). */
  val CorpusNodes = 2000
  /** Store probe rounds after a traced run. */
  val StoreProbes = 3
  val EdgeCreatedAt = "2024-01-01T00:00:00Z"
  val TopK = 10
  val HybridDepth = 2
  val VectorWeight = 0.7
  val GraphWeight = 0.3

  /** Load a corpus into a fresh catalog: node and edge rows from the
    * generator, embeddings by the engine's own HashEmbed expression.
    * Returns the catalog and the seconds the load took. */
  def load(spark: SparkSession, corpus: Corpus, dim: Int): (TableCatalog, Double) = {
    import spark.implicits._
    val t0 = System.nanoTime()
    val parts = spark.sparkContext.defaultParallelism
    val nodes = spark.createDataset(spark.sparkContext.parallelize(corpus.nodes.map(n =>
      Node(n.id, n.text, n.metadata, n.createdAt, n.createdAt)), parts)).toDF()
    val edges = spark.createDataset(spark.sparkContext.parallelize(corpus.edges.map(e =>
      EdgeRow(e.id, e.source, e.target, e.etype, e.weight, EdgeCreatedAt)), parts)).toDF()
    val embeddings = nodes.select($"id".as("node_id"),
      vec.hashEmbed($"text", dim).as("vector"), lit(dim).as("dim"))
    val catalog = new TableCatalog(spark)
    catalog.load(nodes, embeddings, edges)
    (catalog, (System.nanoTime() - t0) / 1e9)
  }

  /** The HTTP request for one op, with symbolic ids resolved. */
  def request(http: Http, op: Op, resolve: String => String): Http.Reply = op match {
    case Op.Vector(text, filter) =>
      http.call("POST", "/search/vector", Some(Map("query_text" -> text, "top_k" -> TopK) ++
        filter.map { case (k, v) => "metadata_filter" -> Map(k -> v) }))
    case Op.Graph(start, depth, etype) =>
      val q = Seq("start_id" -> resolve(start), "depth" -> depth.toString) ++
        etype.map("type" -> _)
      http.call("GET", "/search/graph?" + q.map { case (k, v) =>
        k + "=" + java.net.URLEncoder.encode(v, "UTF-8") }.mkString("&"))
    case Op.Hybrid(text, start) =>
      http.call("POST", "/search/hybrid", Some(Map("query_text" -> text,
        "vector_weight" -> VectorWeight, "graph_weight" -> GraphWeight, "top_k" -> TopK,
        "graph_start_id" -> resolve(start), "graph_depth" -> HybridDepth)))
    case Op.GetNode(node) => http.call("GET", "/nodes/" + resolve(node))
    case Op.CreateNode(_, text, md) =>
      http.call("POST", "/nodes", Some(Map("text" -> text, "metadata" -> md)))
    case Op.UpdateNode(node, text, md) =>
      http.call("PUT", "/nodes/" + resolve(node), Some(Map("text" -> text,
        "regen_embedding" -> true) ++ md.map("metadata" -> _)))
    case Op.DeleteNode(node) => http.call("DELETE", "/nodes/" + resolve(node))
    case Op.CreateEdge(_, s, t, etype, w) =>
      http.call("POST", "/edges", Some(Map("source" -> resolve(s), "target" -> resolve(t),
        "type" -> etype, "weight" -> w)))
    case Op.UpdateEdge(edge, etype, w) =>
      http.call("PUT", "/edges/" + resolve(edge), Some(Map("type" -> etype, "weight" -> w)))
    case Op.DeleteEdge(edge) => http.call("DELETE", "/edges/" + resolve(edge))
  }

}
