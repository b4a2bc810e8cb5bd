package graft

import graft.api.Engine
import graft.functions.vec
import graft.store.TableCatalog
import org.apache.spark.graft.JobCounter
import org.apache.spark.sql.functions._

/** Jobs and Dataset actions per serving request on a 200-node Engine.
  * Both counts repeat exactly from run to run, so a rise here is a real
  * regression. A request reads one catalog snapshot with keyed lookups and
  * scores vectors in a driver loop, so every request here runs no job and
  * no Catalyst query: writes, getNode and stats, graph search, and vector
  * and hybrid search. */
class ServingJobsSpec extends SparkSpec {
  import spark.implicits._

  private val ts = "2024-01-01T00:00:00Z"

  lazy val engine: Engine = {
    val ids = spark.range(200).select($"id".as("i"))
    val nodes = ids.select(concat(lit("n-"), $"i").as("id"),
      concat(lit("node text "), $"i" % 17, lit(" word "), $"i").as("text"),
      map(lit("type"), ($"i" % 4).cast("string")).as("metadata"),
      lit(ts).as("created_at"), lit(ts).as("updated_at"))
    val embeddings = nodes.select($"id".as("node_id"),
      vec.hashEmbed($"text", 256).as("vector"), lit(256).as("dim"))
    val edges = ids.crossJoin(Seq(1L, 3L, 7L).toDF("k"))
      .select(concat(lit("e-"), $"i", lit("-"), $"k").as("id"),
        concat(lit("n-"), $"i").as("source"),
        concat(lit("n-"), ($"i" * $"k" + 11) % 200).as("target"),
        concat(lit("t"), $"k").as("etype"),
        (lit(0.5) + $"i" % 5).as("weight"), lit(ts).as("created_at"))
    val catalog = new TableCatalog(spark)
    catalog.load(nodes, embeddings, edges)
    new Engine(catalog)
  }

  lazy val counter = new JobCounter(spark)

  /** `body`'s result, after asserting it ran no job and no Dataset action. */
  private def none[A](what: String)(body: => A): A = {
    val (a, jobs, actions) = counter.countActions(body)
    info(s"$what: $jobs jobs, $actions actions")
    assert(jobs == 0, s"$what: $jobs jobs")
    assert(actions == 0, s"$what: $actions Dataset actions")
    a
  }

  test("graphSearch runs no job") {
    engine.graphSearch("n-0", 1) // warm-up
    for (depth <- 1 to 3; etype <- Seq(None, Some("t1"))) {
      val g = none(s"depth $depth, type $etype")(engine.graphSearch("n-0", depth, etype))
      if (etype.isEmpty)
        assert(g.get.nodes.map(_.distance).max == depth, "the traversal reaches every level")
    }
  }

  test("getNode runs no job") {
    val n = none("getNode")(engine.getNode("n-5"))
    assert(n.get.outgoing.size == 3 && n.get.incoming.nonEmpty)
    assert(none("getNode of a missing id")(engine.getNode("missing")).isEmpty)
  }

  test("node and edge writes run no job") {
    val n = none("create node")(engine.createNode("a written node", Map("type" -> "w")))
    none("update node")(engine.updateNode(n.id, text = Some("rewritten"),
      regenEmbedding = true))
    val e = none("create edge")(engine.createEdge(n.id, "n-7", "tw", 2.0)).get
    assert(none("create edge, missing endpoint")(engine.createEdge(n.id, "missing", "tw")).isEmpty)
    assert(none("update edge")(engine.updateEdge(e.id, weight = Some(3.0))).get.weight == 3.0)
    assert(none("delete edge")(engine.deleteEdge(e.id)))
    assert(none("delete node")(engine.deleteNode(n.id)))
    assert(!none("delete missing node")(engine.deleteNode(n.id)))
    assert(engine.getNode(n.id).isEmpty)
  }

  test("vectorSearch runs no job, filtered or not") {
    engine.vectorSearch("node text 3", topK = 10)
    val v = none("vector")(engine.vectorSearch("node text 5", topK = 10))
    assert(v.size == 10)
    // a filter that keeps a quarter of the nodes
    val f = none("filtered vector")(engine.vectorSearch("node text 5", topK = 10,
      metadataFilter = Map("type" -> "1")))
    assert(f.size == 10 && f.forall(_.metadata("type") == "1"))
  }

  test("hybridSearch runs no job") {
    engine.hybridSearch("node text 3", topK = 10, graphStartId = Some("n-0"))
    val h = none("hybrid")(
      engine.hybridSearch("node text 5", topK = 10, graphStartId = Some("n-0")))
    assert(h.get.size == 10)
    assert(none("hybrid, missing start")(
      engine.hybridSearch("node text 5", graphStartId = Some("missing"))).isEmpty)
  }

  test("stats runs no job") {
    val s = none("stats")(engine.stats())
    assert(s.totalNodes == 200 && s.nodesWithEmbeddings == 200 && s.totalEdges == 600)
  }
}
