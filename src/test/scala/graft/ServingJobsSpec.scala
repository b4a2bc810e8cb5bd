package graft

import graft.api.Engine
import graft.functions.vec
import graft.store.TableCatalog
import org.apache.spark.graft.JobCounter
import org.apache.spark.sql.functions._

/** Jobs per serving request on a 200-node Engine. Job counts repeat
  * exactly from run to run, so a rise here is a real regression. The
  * catalog's tables are driver-held `LocalRelation`s and Spark folds a
  * filter or projection over one on the driver, so a graph request, a
  * getNode and every write run no job; vector and hybrid search still
  * join, sort and aggregate as Spark jobs. */
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

  test("graphSearch runs no job") {
    engine.graphSearch("n-0", 1) // warm-up
    for (depth <- 1 to 3) {
      val (g, jobs, _) = counter.count(engine.graphSearch("n-0", depth))
      info(s"depth $depth: $jobs jobs")
      assert(g.get.nodes.map(_.distance).max == depth, "the traversal reaches every level")
      assert(jobs == 0, s"depth $depth: $jobs jobs")
    }
  }

  test("getNode runs no job") {
    val (n, jobs, _) = counter.count(engine.getNode("n-5"))
    info(s"$jobs jobs")
    assert(n.get.outgoing.size == 3 && n.get.incoming.nonEmpty)
    assert(jobs == 0, s"$jobs jobs")
  }

  test("node and edge writes run no job") {
    def noJobs[A](what: String)(body: => A): A = {
      val (a, jobs, _) = counter.count(body)
      info(s"$what: $jobs jobs")
      assert(jobs == 0, s"$what: $jobs jobs")
      a
    }
    val n = noJobs("create node")(engine.createNode("a written node", Map("type" -> "w")))
    noJobs("update node")(engine.updateNode(n.id, text = Some("rewritten"),
      regenEmbedding = true))
    val e = noJobs("create edge")(engine.createEdge(n.id, "n-7", "tw", 2.0)).get
    assert(noJobs("update edge")(engine.updateEdge(e.id, weight = Some(3.0))).get.weight == 3.0)
    assert(noJobs("delete edge")(engine.deleteEdge(e.id)))
    assert(noJobs("delete node")(engine.deleteNode(n.id)))
    assert(engine.getNode(n.id).isEmpty)
  }

  test("vectorSearch runs at most 2 jobs") {
    engine.vectorSearch("node text 3", topK = 10)
    val (v, jobs, _) = counter.count(engine.vectorSearch("node text 5", topK = 10))
    info(s"$jobs jobs")
    assert(v.size == 10)
    assert(jobs <= 2, s"$jobs jobs")
  }

  test("hybridSearch runs at most 7 jobs") {
    engine.hybridSearch("node text 3", topK = 10, graphStartId = Some("n-0"))
    val (h, jobs, _) = counter.count(
      engine.hybridSearch("node text 5", topK = 10, graphStartId = Some("n-0")))
    info(s"$jobs jobs")
    assert(h.get.size == 10)
    assert(jobs <= 7, s"$jobs jobs")
  }
}
