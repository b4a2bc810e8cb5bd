package graft.perfbench

import scala.collection.mutable

import graft.api.{Engine, EngineHttpServer}
import graft.functions.HashEmbed

/** The serving model must agree with the Engine, or every benchmark run
  * would report wrong answers. A ~200-node corpus keeps this quick. */
class ModelSpec extends SparkSuite {
  private val dim = HashEmbed.DefaultDim

  private lazy val corpus = Gen.corpus(5, 200)

  test("model and Engine agree on vector, graph and hybrid search") {
    val (catalog, _) = Serve.load(spark, corpus, dim)
    val engine = new Engine(catalog, dim)
    val model = ServingModel.of(corpus, dim)
    // every read kind on corpus nodes; writes are covered over HTTP below
    val ids = corpus.nodes.map(_.id)
    def text(i: Int) = corpus.vocab.slice(i, i + 4).mkString(" ")
    val reads = Seq(Op.Vector(text(0), None), Op.Vector(text(7), Some("type" -> Gen.NodeTypes(1))),
      Op.Graph(ids(0), 1, None), Op.Graph(ids(3), 2, Some(Gen.EdgeTypes.head)),
      Op.Graph(ids(5), 3, None), Op.Hybrid(text(11), ids(2)), Op.Hybrid(text(20), ids(9)),
      Op.GetNode(ids(4)))
    reads.foreach {
      case Op.Vector(text, filter) =>
        val got = engine.vectorSearch(text, Serve.TopK, filter.toMap).map(h => (h.id, h.vectorScore))
        assert(got == model.vectorSearch(HashEmbed.encode(text, dim), Serve.TopK, filter.toMap))
      case Op.Graph(start, depth, etype) =>
        val r = engine.graphSearch(start, depth, etype).get
        val (hits, induced) = model.graphSearch(start, depth, etype)
        assert(r.nodes.map(n => (n.id, n.distance, n.pathWeight)) == hits)
        assert(r.edges.map(_.id) == induced.map(_.id))
      case Op.Hybrid(text, start) =>
        val got = engine.hybridSearch(text, Serve.VectorWeight, Serve.GraphWeight, Serve.TopK,
          Some(start), Serve.HybridDepth).get
        val want = model.hybridSearch(HashEmbed.encode(text, dim), start, Serve.HybridDepth,
          Serve.VectorWeight, Serve.GraphWeight, Serve.TopK)
        assert(got.map(h => (h.id, h.vectorScore, h.graphScore, h.finalScore)) == want)
      case Op.GetNode(id) =>
        assert(engine.getNode(id).map(_.outgoing.map(_.id)) ==
          model.nodes.get(id).map(_ => model.outgoing(id).map(_.id)))
      case other => fail(s"not a read: $other")
    }
  }

  test("every HTTP reply of a block passes the checks; corrupted replies fail them") {
    val (catalog, _) = Serve.load(spark, corpus, dim)
    val server = new EngineHttpServer(new Engine(catalog, dim), 0)
    server.start()
    try {
      val http = new Http(server.boundPort)
      val model = ServingModel.of(corpus, dim)
      val bound = mutable.HashMap.empty[String, String]
      def resolve(s: String) =
        if (s.startsWith("missing#")) "missing-" + s.drop(8) else bound.getOrElse(s, s)
      val stream = new OpStream(corpus, 9)
      val ops = stream.nextBlock()
      ops.foreach { op =>
        val r = Serve.request(http, op, resolve)
        assert(Checks.check(op, r.status, r.body, model, bound, resolve, dim).isEmpty, op)
      }
      assert(bound.keys.exists(_.startsWith("new#")) && bound.keys.exists(_.startsWith("edge#")))

      // one corrupted field is enough to fail a request
      val vector = ops.collectFirst { case v: Op.Vector => v }.get
      val r = Serve.request(http, vector, resolve)
      def checkBody(body: String) =
        Checks.check(vector, r.status, body, model, bound, resolve, dim)
      assert(checkBody(r.body).isEmpty)
      val score = "\"vector_score\":([0-9.eE-]+)".r.findFirstMatchIn(r.body).get
      val bumped = r.body.patch(score.start(1), (score.group(1).toDouble + 1e-6).toString,
        score.group(1).length)
      assert(checkBody(bumped).exists(_.contains("score")))
      val hits = Json.read(r.body).asInstanceOf[Seq[Any]]
      assert(checkBody(Json.write(hits.reverse)).nonEmpty)
      assert(Checks.check(vector, 500, r.body, model, bound, resolve, dim).exists(_.contains("status")))
      val missing = Op.GetNode("missing#1")
      val nf = Serve.request(http, missing, resolve)
      assert(nf.status == 404)
      assert(Checks.check(missing, 200, nf.body, model, bound, resolve, dim).nonEmpty)
    } finally server.stop()
  }
}
