package graft

import graft.api.Engine
import graft.functions.vec
import graft.store.TableCatalog
import org.apache.spark.graft.JobCounter
import org.apache.spark.sql.functions._

/** Jobs per serving request on a 200-node Engine. Job counts repeat
  * exactly from run to run, so a rise here is a real regression: a graph
  * request is `depth` BFS scans plus the node-row and induced-edge scans,
  * with no shuffle; getNode is the node, embedding and incident-edge
  * collects. */
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

  test("graphSearch runs at most depth + 2 jobs and no shuffle") {
    engine.graphSearch("n-0", 1) // warm-up
    for (depth <- 1 to 3) {
      val (g, jobs, shuffles) = counter.count(engine.graphSearch("n-0", depth))
      info(s"depth $depth: $jobs jobs, $shuffles shuffle stages")
      assert(g.get.nodes.map(_.distance).max == depth, "the traversal reaches every level")
      assert(jobs <= depth + 2, s"depth $depth: $jobs jobs")
      assert(shuffles == 0, s"depth $depth: $shuffles shuffle stages")
    }
  }

  test("getNode runs 3 jobs") {
    val (n, jobs, _) = counter.count(engine.getNode("n-5"))
    info(s"$jobs jobs")
    assert(n.get.outgoing.size == 3 && n.get.incoming.nonEmpty)
    assert(jobs == 3, s"$jobs jobs")
  }

  test("hybridSearch runs at most 13 jobs") {
    engine.hybridSearch("node text 3", topK = 10, graphStartId = Some("n-0"))
    val (h, jobs, _) = counter.count(
      engine.hybridSearch("node text 5", topK = 10, graphStartId = Some("n-0")))
    info(s"$jobs jobs")
    assert(h.get.size == 10)
    assert(jobs <= 13, s"$jobs jobs")
  }
}
