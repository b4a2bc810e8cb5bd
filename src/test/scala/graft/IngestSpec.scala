package graft

import graft.api.Engine
import graft.model.{EdgeRow, Node}
import graft.store.TableCatalog
import graft.streaming.EventStreams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming mutation ingestion: node rows streamed into the live catalog,
  * visible to engine searches after each micro-batch; last-write-wins. */
class IngestSpec extends SparkSpec {
  import spark.implicits._

  test("streamed node mutations upsert into the catalog (last-write-wins)") {
    implicit val sql = spark.sqlContext
    val catalog = new TableCatalog(spark)
    val engine = new Engine(catalog)
    val stream = MemoryStream[Node]
    val q = EventStreams.ingestNodes(stream.toDS(), catalog)
    try {
      stream.addData(
        Node("n1", "first version", Map("v" -> "1"), "t0", "t0"),
        Node("n2", "other node", Map.empty, "t0", "t0"))
      q.processAllAvailable()
      assert(engine.getNode("n1").get.text == "first version")
      assert(engine.stats().totalNodes == 2)

      stream.addData(Node("n1", "second version", Map("v" -> "2"), "t0", "t1"))
      q.processAllAvailable()
      val n1 = engine.getNode("n1").get
      assert(n1.text == "second version", "upsert replaces, not duplicates")
      assert(n1.metadata == Map("v" -> "2"))
      assert(engine.stats().totalNodes == 2)
    } finally q.stop()
  }

  test("bulk edge upsert (streaming-edge sink path) is last-write-wins") {
    val catalog = new TableCatalog(spark)
    val engine = new Engine(catalog)
    val a = engine.createNode("ea")
    val b = engine.createNode("eb")
    catalog.upsertEdges(Seq(
      graft.model.EdgeRow("e1", a.id, b.id, "t", 1.0, "t0")).toDF())
    catalog.upsertEdges(Seq(
      graft.model.EdgeRow("e1", a.id, b.id, "t", 9.0, "t1"),
      graft.model.EdgeRow("e2", b.id, a.id, "t", 2.0, "t1")).toDF())
    assert(engine.getEdge("e1").get.weight == 9.0, "second write wins")
    assert(engine.stats().totalEdges == 2)
  }

  test("engine connected components over string-keyed store") {
    val catalog = new TableCatalog(spark)
    val engine = new Engine(catalog)
    val ids = (1 to 5).map(i => engine.createNode(s"cc node $i", autoEmbed = false).id)
    engine.createEdge(ids(0), ids(1), "cc", 1.0)
    engine.createEdge(ids(2), ids(1), "cc", 1.0) // undirected closure joins 0-1-2
    engine.createEdge(ids(3), ids(4), "cc", 1.0) // separate component
    val cc = engine.connectedComponents().toMap
    assert(cc.keySet == Set(ids(0), ids(1), ids(2), ids(3), ids(4)))
    assert(cc(ids(0)) == cc(ids(1)) && cc(ids(1)) == cc(ids(2)))
    assert(cc(ids(3)) == cc(ids(4)))
    assert(cc(ids(0)) != cc(ids(3)))
    assert(cc(ids(0)) == Seq(ids(0), ids(1), ids(2)).min,
      "component labeled by smallest member id")
    // ids that sort differently from creation order
    Seq("n-c" -> "n-a", "n-b" -> "n-d", "n-d" -> "n-a").zipWithIndex.foreach {
      case ((s, t), i) => catalog.upsertEdge(EdgeRow(s"cc-e$i", s, t, "cc", 1.0, "t0"))
    }
    val named = engine.connectedComponents().filter(_._1.startsWith("n-")).toMap
    assert(named == Map("n-a" -> "n-a", "n-b" -> "n-a", "n-c" -> "n-a", "n-d" -> "n-a"))
  }

  test("engine connected components: a self-loop-only node is its own component") {
    val catalog = new TableCatalog(spark)
    val engine = new Engine(catalog)
    Seq(("e1", "loop", "loop"), ("e2", "y", "x")).foreach { case (id, s, t) =>
      catalog.upsertEdge(EdgeRow(id, s, t, "cc", 1.0, "t0"))
    }
    assert(engine.connectedComponents() ==
      Seq("loop" -> "loop", "x" -> "x", "y" -> "x"))
  }

  test("engine connected components: representative is the UTF-16-smallest id") {
    val catalog = new TableCatalog(spark)
    val engine = new Engine(catalog)
    val (bmp, astral) = ("a\uFFFD", "a\uD83D\uDE00") // U+FFFD, U+1F600
    catalog.upsertEdge(EdgeRow("e1", bmp, astral, "cc", 1.0, "t0"))
    // rows in Spark's (UTF-8) id order; the label is String.compareTo's minimum
    assert(engine.connectedComponents() == Seq(bmp -> astral, astral -> astral))
  }
}
