package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.util.Random

import graft.api.Engine
import graft.functions.HashEmbed
import graft.model.{EdgeRow, EmbeddingRow, Node, Stats}
import graft.store.{Embeddings, Snapshot, TableCatalog}

/** The serving store: durability (save → fresh catalog → load → identical
  * engine-visible state; the parquet form IS the store's durable form),
  * the keyed load, and one atomic snapshot per reader. */
class StoreSpec extends SparkSpec {
  import spark.implicits._

  private val ts = "2024-01-01T00:00:00Z"

  test("catalog parquet round-trip preserves nodes, embeddings, edges") {
    val e1 = new Engine(new TableCatalog(spark))
    val a = e1.createNode("persisted node A", Map("k" -> "v"))
    val b = e1.createNode("persisted node B", autoEmbed = false)
    e1.createEdge(a.id, b.id, "durable", 2.5)

    val dir = java.nio.file.Files.createTempDirectory("graft-store").toString
    e1.catalog.save(dir)

    val c2 = new TableCatalog(spark)
    c2.load(
      spark.read.parquet(s"$dir/nodes.parquet"),
      spark.read.parquet(s"$dir/embeddings.parquet"),
      spark.read.parquet(s"$dir/edges.parquet"))
    val e2 = new Engine(c2)

    assert(e2.stats() == e1.stats())
    val got = e2.getNode(a.id).get
    assert(got.text == "persisted node A")
    assert(got.metadata == Map("k" -> "v"))
    assert(got.hasEmbedding && got.embedding.get == a.embedding.get)
    assert(got.outgoing.exists(x => x.target == b.id && x.weight == 2.5))
    // mutations on the restored catalog keep working
    assert(e2.deleteNode(b.id))
    assert(e2.getNode(b.id).isEmpty)
    assert(e1.getNode(b.id).nonEmpty, "snapshot isolation between catalogs")
  }

  test("load keeps the last row per key, in every table and both edge indexes") {
    val nodes = Seq(Node("a", "old a", Map.empty, ts, ts), Node("b", "b", Map.empty, ts, ts),
      Node("c", "c", Map.empty, ts, ts), Node("a", "new a", Map("v" -> "2"), ts, ts))
    val embeddings = Seq(EmbeddingRow("a", Seq(1f, 0f), 2), EmbeddingRow("a", Seq(0f, 1f), 2))
    // e1 is loaded twice with other endpoints: a → b, then c → a
    val edges = Seq(EdgeRow("e1", "a", "b", "t", 1.0, ts), EdgeRow("e2", "b", "c", "t", 1.0, ts),
      EdgeRow("e1", "c", "a", "u", 2.0, ts))
    val c = new TableCatalog(spark)
    c.load(nodes.toDF(), embeddings.toDF(), edges.toDF())
    val e = new Engine(c)
    assert(e.stats() == Stats(3, 1, 2))
    assert(c.nodes.as[Node].collect().map(_.id).toSeq == Seq("b", "c", "a"),
      "a repeated key takes its last row's place")
    val a = e.getNode("a").get
    assert(a.text == "new a" && a.metadata == Map("v" -> "2") && a.embedding.get == Seq(0f, 1f))
    assert(a.outgoing.isEmpty && a.incoming.map(_.id) == Seq("e1"))
    assert(e.getNode("b").get.incoming.isEmpty)
    assert(e.getNode("b").get.outgoing.map(_.id) == Seq("e2"))
    assert(e.getNode("c").get.outgoing.map(x => (x.id, x.target, x.weight)) == Seq(("e1", "a", 2.0)))
    assert(e.graphSearch("a", 2).get.nodes.isEmpty, "a has no out-edge")
    assert(e.graphSearch("b", 2).get.nodes.map(_.id) == Seq("c", "a"))
    // the cascade follows the kept rows: deleting c takes e1 and e2
    assert(e.deleteNode("c"))
    assert(e.stats() == Stats(2, 1, 0))
    assert(e.getNode("a").get.incoming.isEmpty && e.getNode("b").get.outgoing.isEmpty)
  }

  test("readers see one snapshot: 3 readers beside a writer deleting nodes") {
    val n = 300
    val nodes = (0 until n).map(i => Node(s"n$i", s"text $i", Map.empty, ts, ts))
    val edges = (0 until 3 * n).map(i =>
      EdgeRow(s"e$i", s"n${i % n}", s"n${(i * 7 + 1) % n}", "t", 1.0, ts))
    val c = new TableCatalog(spark)
    c.load(nodes.toDF(), Seq.empty[EmbeddingRow].toDF(), edges.toDF())
    val e = new Engine(c)
    @volatile var writing = true
    val errors = new ConcurrentLinkedQueue[String]()
    val reads = new java.util.concurrent.atomic.AtomicInteger
    val readers = (0 until 3).map { r =>
      new Thread(() => {
        val rnd = new Random(r)
        while (writing) {
          // every edge of the reader's snapshot has both endpoints in it
          val s = c.snapshot
          val ids = s.nodeIds
          val out = ids.flatMap(s.outEdges)
          if (out.size != s.stats.totalEdges)
            errors.add(s"${s.stats.totalEdges} edges, ${out.size} with a source node")
          out.filterNot(x => s.hasNode(x.target)).foreach(x => errors.add(s"dangling $x"))
          ids.flatMap(s.inEdges).filterNot(x => s.hasNode(x.source))
            .foreach(x => errors.add(s"dangling $x"))
          // and a graph search reads one snapshot: its edges join its nodes
          val start = s"n${rnd.nextInt(n)}"
          e.graphSearch(start, 2).foreach { g =>
            val seen = g.nodes.map(_.id).toSet + start
            g.edges.filterNot(x => seen(x.source) && seen(x.target))
              .foreach(x => errors.add(s"graph from $start: edge $x off its nodes"))
          }
          reads.incrementAndGet()
        }
      })
    }
    readers.foreach(_.start())
    try {
      while (reads.get < 3 && readers.forall(_.isAlive)) Thread.sleep(1)
      new Random(9).shuffle((0 until n).toList).take(n / 2).foreach { i =>
        c.deleteNode(s"n$i")
        Thread.sleep(1)
      }
    } finally writing = false
    readers.foreach(_.join())
    assert(errors.isEmpty, String.valueOf(errors.peek()))
    assert(reads.get > 0)
    assert(e.stats().totalNodes == n / 2)
  }

  test("a node and its embedding publish in one snapshot: readers beside createNode and updateNode") {
    val c = new TableCatalog(spark)
    val e = new Engine(c, dim = 16)
    @volatile var writing = true
    val errors = new ConcurrentLinkedQueue[String]()
    val reads = new java.util.concurrent.atomic.AtomicInteger
    val readers = (0 until 2).map { _ =>
      new Thread(() => {
        while (writing) {
          // every node of the snapshot carries the embedding of its text
          val s = c.snapshot
          s.allNodes.foreach { n =>
            val v = s.embedding(n.id).map(_.vector)
            if (!v.contains(HashEmbed.encode(n.text, e.dim).toSeq))
              errors.add(s"${n.id} '${n.text}' has embedding $v")
          }
          if (s.stats.totalNodes != s.stats.nodesWithEmbeddings) errors.add(s"stats ${s.stats}")
          reads.incrementAndGet()
        }
      })
    }
    readers.foreach(_.start())
    try {
      while (reads.get < 2 && readers.forall(_.isAlive)) Thread.sleep(1)
      (0 until 60).foreach { i =>
        val n = e.createNode(s"created $i")
        e.updateNode(n.id, text = Some(s"updated $i"), regenEmbedding = true)
      }
    } finally writing = false
    readers.foreach(_.join())
    assert(errors.isEmpty, String.valueOf(errors.peek()))
    assert(e.stats() == Stats(60, 60, 0))
  }

  test("writes racing on one node: no dangling edge, no deleted node back, no update lost") {
    val c = new TableCatalog(spark)
    val e = new Engine(c)
    def race(first: => Any, second: => Any): Unit = {
      val go = new java.util.concurrent.CyclicBarrier(2)
      val t = new Thread(() => { go.await(); first })
      t.start()
      go.await()
      second
      t.join()
    }
    (0 until 100).foreach { i =>
      val a = e.createNode(s"a $i", autoEmbed = false).id
      val b = e.createNode(s"b $i", autoEmbed = false).id
      val ab = e.createEdge(a, b, "t").get.id
      // a delete of b against an edge create, an edge update and a node
      // update that each read b (or its edge) first
      race(e.deleteNode(b), {
        e.createEdge(a, b, "t"); e.updateEdge(ab, weight = Some(2.0))
        e.updateNode(b, text = Some(s"b' $i"))
      })
      val s = c.snapshot
      // every edge of the snapshot has both endpoints in it
      val linked = s.nodeIds.flatMap(s.outEdges).count(x => s.hasNode(x.target))
      assert(s.stats.totalEdges == linked, s"round $i: a dangling edge")
      assert(!s.hasNode(b), s"round $i: the deleted node is back")
      // two partial updates of one node both apply
      race(e.updateNode(a, metadata = Some(Map("k" -> "v"))), e.updateNode(a, text = Some(s"a' $i")))
      val got = e.getNode(a).get
      assert((got.text, got.metadata) == (s"a' $i", Map("k" -> "v")), s"round $i: an update was lost")
    }
  }

  test("concurrent deletes of one node or one edge: exactly one reports the delete") {
    val e = new Engine(new TableCatalog(spark))
    // the results of two calls of `del` released together
    def both(del: => Boolean): Seq[Boolean] = {
      val go = new java.util.concurrent.CyclicBarrier(2)
      val other = new java.util.concurrent.atomic.AtomicBoolean
      val t = new Thread(() => { go.await(); other.set(del) })
      t.start()
      go.await()
      val mine = del
      t.join()
      Seq(mine, other.get)
    }
    (0 until 300).foreach { i =>
      val a = e.createNode(s"a $i", autoEmbed = false).id
      val b = e.createNode(s"b $i", autoEmbed = false).id
      val ab = e.createEdge(a, b, "t").get.id
      assert(both(e.deleteEdge(ab)).count(identity) == 1, s"round $i: edge")
      assert(both(e.deleteNode(a)).count(identity) == 1, s"round $i: node")
    }
  }

  test("a reader holding an old snapshot keeps its scores while the arena grows and compacts") {
    val dim = 8
    val c = new TableCatalog(spark)
    val rnd = new Random(3)
    def vector() = Seq.fill(dim)(rnd.nextFloat() * 2 - 1)
    (0 until 40).foreach(i => c.upsertEmbedding(EmbeddingRow(s"k$i", vector(), dim)))
    val old = c.snapshot
    val q = Array.fill(dim)(rnd.nextFloat() - 0.5f)
    def scoresOf(s: Snapshot) = {
      val sc = s.vectorScores(q)
      (0 until sc.size).map(i => (sc.key(i).toString, java.lang.Double.doubleToRawLongBits(sc.score(i))))
    }
    val want = scoresOf(old)
    val wantRows = (0 until 40).map(i => old.embedding(s"k$i"))
    @volatile var writing = true
    val errors = new ConcurrentLinkedQueue[String]()
    val reads = new java.util.concurrent.atomic.AtomicInteger
    val reader = new Thread(() => {
      while (writing) {
        val got = scoresOf(old)
        if (got != want) errors.add(s"scores moved: ${got.diff(want).take(3)}")
        reads.incrementAndGet()
      }
    })
    reader.start()
    // enough rows to fill several blocks, every old key replaced twice,
    // then deletes until dead slots outnumber live ones
    val rows = 4 * Embeddings.MinBlockFloats / dim
    var compactions = 0
    try {
      while (reads.get < 1 && reader.isAlive) Thread.sleep(1)
      (0 until rows).foreach(i => c.upsertEmbedding(EmbeddingRow(s"new$i", vector(), dim)))
      (0 until 2).foreach(_ => (0 until 40).foreach(i =>
        c.upsertEmbedding(EmbeddingRow(s"k$i", vector(), dim))))
      assert(c.snapshot.embeddingSlots == 40 + rows + 80)
      (0 until rows).foreach { i =>
        val before = c.snapshot.embeddingSlots
        c.upsertNode(Node(s"new$i", "t", Map.empty, ts, ts))
        c.deleteNode(s"new$i")
        if (c.snapshot.embeddingSlots < before) compactions += 1
      }
    } finally writing = false
    reader.join()
    assert(errors.isEmpty, String.valueOf(errors.peek()))
    assert(compactions > 0, "the deletes compact the arena")
    assert(scoresOf(old) == want && (0 until 40).map(i => old.embedding(s"k$i")) == wantRows)
    assert(c.snapshot.stats.nodesWithEmbeddings == 40)
  }
}
