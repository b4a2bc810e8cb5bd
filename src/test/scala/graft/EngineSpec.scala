package graft

import graft.api.Engine
import graft.store.TableCatalog

/** Port of the reference's 13 black-box tests (test_final.py) against the
  * engine facade — same fixtures, same assertions (SURVEY §5). */
class EngineSpec extends SparkSpec {

  lazy val engine = new Engine(new TableCatalog(spark))

  test("TC-API-01: create node round-trips text/metadata, auto-embeds") {
    val n = engine.createNode("Venkat's note on caching",
      Map("type" -> "note", "author" -> "v", "tc" -> "TC-API-01"))
    assert(n.id.nonEmpty)
    assert(n.hasEmbedding && n.embedding.get.length == 256)
    val got = engine.getNode(n.id).get
    assert(got.text == "Venkat's note on caching")
    assert(got.metadata == Map("type" -> "note", "author" -> "v", "tc" -> "TC-API-01"))
  }

  test("TC-API-02: GET node lists outgoing edge with type+weight") {
    val a = engine.createNode("node A tc2")
    val b = engine.createNode("node B tc2")
    val e = engine.createEdge(a.id, b.id, "cites", 1.5).get
    val got = engine.getNode(a.id).get
    assert(got.outgoing.exists(x =>
      x.id == e.id && x.target == b.id && x.etype == "cites" && x.weight == 1.5))
    assert(engine.getNode(b.id).get.incoming.exists(_.id == e.id))
  }

  test("TC-API-03: update text with regen changes embedding (cosine < 0.99)") {
    val n = engine.createNode("original quantum physics paper")
    val before = n.embedding.get
    val after = engine.updateNode(n.id,
      text = Some("completely different cooking recipes collection"),
      regenEmbedding = true).get
    assert(after.text == "completely different cooking recipes collection")
    val emb = after.embedding.get
    val cos = before.zip(emb).map { case (x, y) => x.toDouble * y }.sum
    assert(cos < 0.99, s"embedding must change, cosine=$cos")
  }

  test("TC-API-04: delete node cascades to embedding and incident edges") {
    val x = engine.createNode("node X tc4")
    val y = engine.createNode("node Y tc4")
    val e1 = engine.createEdge(x.id, y.id, "rel", 1.0).get
    val e2 = engine.createEdge(y.id, x.id, "rel", 2.0).get
    assert(engine.deleteNode(x.id))
    assert(engine.getNode(x.id).isEmpty)
    assert(engine.getEdge(e1.id).isEmpty && engine.getEdge(e2.id).isEmpty)
    assert(engine.getNode(y.id).nonEmpty, "other endpoint survives")
    assert(!engine.deleteNode(x.id), "second delete → 404")
  }

  test("TC-API-05: edge CRUD; updated weight visible in graph path_weight") {
    val a = engine.createNode("node A tc5")
    val b = engine.createNode("node B tc5")
    val e = engine.createEdge(a.id, b.id, "linked", 1.0).get
    assert(engine.updateEdge(e.id, weight = Some(3.5)).get.weight == 3.5)
    assert(engine.getEdge(e.id).get.weight == 3.5)
    val g = engine.graphSearch(a.id, depth = 1).get
    val hit = g.nodes.find(_.id == b.id).get
    assert(hit.pathWeight == 3.5, s"path_weight ${hit.pathWeight}")
    assert(engine.deleteEdge(e.id))
    assert(engine.getEdge(e.id).isEmpty)
  }

  test("TC-VEC-01: cosine ordering A>B>C for graded texts, top >= 0.5") {
    val q = "deep learning image classification convolutional neural networks"
    val a = engine.createNode("Convolutional neural networks for deep learning image classification tasks")
    val b = engine.createNode("Deep learning methods for audio classification and speech processing")
    val c = engine.createNode("Classical music orchestras and symphonies")
    val hits = engine.vectorSearch(q, topK = 1000)
    val rank = hits.map(_.id).zipWithIndex.toMap
    assert(rank(a.id) < rank(b.id) && rank(b.id) < rank(c.id))
    assert(hits.find(_.id == a.id).get.vectorScore >= 0.5)
  }

  test("TC-VEC-02: top_k > dataset returns exactly nodes_with_embeddings") {
    val s = engine.stats()
    val hits = engine.vectorSearch("anything at all", topK = 100000)
    assert(hits.size == s.nodesWithEmbeddings)
  }

  test("TC-VEC-03: metadata_filter returns only matching nodes") {
    engine.createNode("filter target one", Map("type" -> "vfilter"))
    engine.createNode("filter target two", Map("type" -> "vfilter"))
    engine.createNode("filter excluded", Map("type" -> "other"))
    val hits = engine.vectorSearch("filter target", topK = 1000,
      metadataFilter = Map("type" -> "vfilter"))
    assert(hits.size == 2)
    assert(hits.forall(_.metadata("type") == "vfilter"))
  }

  test("AnnMode: approximate serving modes agree with the brute-force contract") {
    import graft.api.AnnMode
    // brute force IS the default: an explicit BruteForce is the same call
    val base = engine.vectorSearch("filter target", topK = 5)
    assert(engine.vectorSearch("filter target", topK = 5,
      mode = AnnMode.BruteForce) == base, "explicit BruteForce == default")
    // exhaustive-budget approximate modes must return EXACTLY the
    // brute-force rows (candidate set covers the corpus, rerank is the
    // same exact dot) — same ids, same scores, same order
    val nCells = 64 // >= number of trained cells on the tiny fixture
    val ivf = engine.vectorSearch("filter target", topK = 5,
      mode = AnnMode.TrainedIvf(nprobe = nCells))
    assert(ivf == base, s"TrainedIvf(all cells) must equal brute force:\n$ivf\n$base")
    val sq8 = engine.vectorSearch("filter target", topK = 5,
      mode = AnnMode.Sq8(rerank = 100000))
    assert(sq8 == base, s"Sq8(full rerank) must equal brute force:\n$sq8\n$base")
    // metadata post-filter works through the approximate path
    val f = engine.vectorSearch("filter target", topK = 1000,
      metadataFilter = Map("type" -> "vfilter"),
      mode = AnnMode.TrainedIvf(nprobe = nCells))
    assert(f.size == 2 && f.forall(_.metadata("type") == "vfilter"))
    // quantizer cache invalidates on embedding mutation: a node created
    // AFTER the first trained search must be findable by the next one
    val fresh = engine.createNode("freshly added quantizer cache probe")
    val after = engine.vectorSearch("freshly added quantizer cache probe",
      topK = 3, mode = AnnMode.TrainedIvf(nprobe = nCells))
    assert(after.exists(_.id == fresh.id),
      "stale quantizer: post-mutation node missing from trained search")
    engine.deleteNode(fresh.id)
  }

  test("TC-GRAPH-01/02/03 through the engine API") {
    // chain A→B→C→D, depth 2
    val Seq(a, b, c, d) = Seq("gA", "gB", "gC", "gD").map(t => engine.createNode(s"graph node $t"))
    engine.createEdge(a.id, b.id, "graph-01", 1.0)
    engine.createEdge(b.id, c.id, "graph-01", 1.0)
    engine.createEdge(c.id, d.id, "graph-01", 1.0)
    val g1 = engine.graphSearch(a.id, depth = 2).get
    assert(g1.nodes.map(_.id).toSet == Set(b.id, c.id), "depth limit + start excluded")
    // type filter
    val p1 = engine.createNode("typed paper 1")
    val p2 = engine.createNode("typed paper 2")
    engine.createEdge(a.id, p1.id, "author_of", 1.0)
    engine.createEdge(a.id, p2.id, "cites", 1.0)
    val g2 = engine.graphSearch(a.id, depth = 1, edgeType = Some("author_of")).get
    assert(g2.nodes.map(_.id).toSet == Set(p1.id))
    // cycle terminates
    val x = engine.createNode("cycle X")
    val y = engine.createNode("cycle Y")
    engine.createEdge(x.id, y.id, "cycle", 1.0)
    engine.createEdge(y.id, x.id, "cycle", 1.0)
    val g3 = engine.graphSearch(x.id, depth = 3).get
    assert(g3.nodes.map(_.id).toSet == Set(y.id), "cycle: start excluded, terminates")
    // missing start → 404
    assert(engine.graphSearch("node-nonexistent").isEmpty)
  }

  test("TC-HYB-01/02: fusion formula + weight extremes (test_final.py:632-796)") {
    val q = "deep learning image classification convolutional neural networks"
    val vSim = engine.createNode("Convolutional neural networks deep learning image classification", Map("tc" -> "hyb"))
    val neutral = engine.createNode("Completely unrelated topic about gardening", Map("tc" -> "hyb"))
    val gClose = engine.createNode("Another unrelated text about carpentry", Map("tc" -> "hyb"))
    engine.createEdge(neutral.id, gClose.id, "hyb", 1.0)

    // 0.7/0.3: every hit satisfies final == 0.7*vec + 0.3*graph (eps 1e-6)
    val hits = engine.hybridSearch(q, 0.7, 0.3, topK = 1000,
      graphStartId = Some(neutral.id), graphDepth = 2).get
    hits.foreach { h =>
      assert(math.abs(h.finalScore - (0.7 * h.vectorScore + 0.3 * h.graphScore)) < 1e-6,
        s"formula exactness: $h")
    }
    val rank = hits.map(_.id).zipWithIndex.toMap
    assert(rank(vSim.id) < rank(gClose.id), "V-similar outranks G-close at 0.7/0.3")

    // (1.0, 0.0) reproduces vector ordering prefix-for-prefix
    val hv = engine.hybridSearch(q, 1.0, 0.0, topK = 1000).get
    val pure = engine.vectorSearch(q, topK = 1000)
    assert(hv.map(_.id) == pure.map(_.id).take(hv.size),
      "hybrid(1,0) ordering == vector search ordering prefix")

    // (0.0, 1.0): final == graph_score, and the TRUE nearest neighbor is
    // FIRST — the anchor itself must not appear (test_final.py:749-779's
    // g_idx == 0 requirement; see Engine.hybridSearch start-exclusion note)
    val hg = engine.hybridSearch(q, 0.0, 1.0, topK = 1000,
      graphStartId = Some(neutral.id), graphDepth = 2).get
    hg.foreach(h => assert(h.finalScore == h.graphScore))
    assert(hg.headOption.map(_.id).contains(gClose.id),
      s"G-close must rank FIRST in graph-only mode, got ${hg.map(_.id)}")
    assert(!hg.exists(_.id == neutral.id), "anchor excluded from graph-only results")
    assert(!hg.exists(_.id == vSim.id), "zero-graph node dropped (final == 0)")

    // missing graph start → 404
    assert(engine.hybridSearch(q, graphStartId = Some("node-missing")).isEmpty)
  }

  test("graph and node reads order ids as Spark does: UTF-8 bytes, not UTF-16") {
    import graft.model.{EdgeRow, Node}
    val (bmp, astral) = ("a\uFFFD", "a\uD83D\uDE00") // U+FFFD, U+1F600
    assert(astral.compareTo(bmp) < 0, "UTF-16 order puts the emoji first")
    val ts = "2024-01-01T00:00:00Z"
    val start = "utf8-order-start"
    Seq(start, astral, bmp).foreach(id =>
      engine.catalog.upsertNode(Node(id, s"text of $id", Map.empty, ts, ts)))
    // edge ids equal the target ids, so both edge lists sort on them too;
    // the self-loop is listed as outgoing and as incoming
    val loop = "utf8-loop"
    Seq(astral -> astral, bmp -> bmp, loop -> start).foreach { case (id, target) =>
      engine.catalog.upsertEdge(EdgeRow(id, start, target, "utf8", 1.0, ts))
    }
    val g = engine.graphSearch(start, depth = 1).get
    assert(g.nodes.map(_.id) == Seq(bmp, astral))
    assert(g.edges.map(_.id) == Seq(bmp, astral, loop))
    val n = engine.getNode(start).get
    assert(n.outgoing.map(_.id) == Seq(bmp, astral, loop))
    assert(n.incoming.map(_.id) == Seq(loop))
  }

  test("stats counts nodes / embeddings / edges") {
    val before = engine.stats()
    val n = engine.createNode("stats probe", autoEmbed = false)
    val after = engine.stats()
    assert(after.totalNodes == before.totalNodes + 1)
    assert(after.nodesWithEmbeddings == before.nodesWithEmbeddings)
    engine.deleteNode(n.id)
  }

  test("the BM25 index follows the nodes table: a node write replaces it, others keep it") {
    val e = new Engine(new TableCatalog(spark))
    val a = e.createNode("alpha bravo charlie", autoEmbed = false)
    val b = e.createNode("delta echo foxtrot", autoEmbed = false)
    // a term in one of two documents has a BM25 idf of 0
    Seq("india juliett", "kilo lima").foreach(e.createNode(_, autoEmbed = false))
    // the index is held on the driver: a build leaves no persistent RDD
    val (first, built) = persistedBy(e.bm25Search("alpha"))
    assert(first.map(_.id) == Seq(a.id) && e.bm25BuildCount == 1, "the first search builds the index")
    assert(built.isEmpty, s"a build left persistent RDDs $built")
    val (again, kept) = persistedBy {
      e.createEdge(a.id, b.id, "t")
      e.catalog.upsertEmbedding(graft.model.EmbeddingRow(b.id, Seq(1f, 0f), 2))
      e.bm25Search("alpha")
    }
    assert(again == first && kept.isEmpty && e.bm25BuildCount == 1,
      "an edge or embedding write must not rebuild the index")
    val c = e.createNode("golf hotel alpha", autoEmbed = false)
    val (later, rebuilt) = persistedBy(e.bm25Search("golf"))
    assert(later.map(_.id) == Seq(c.id) && e.bm25BuildCount == 2, "a node created after the build is found")
    assert(rebuilt.isEmpty, s"a rebuild left persistent RDDs $rebuilt")
  }

  test("BM25 search over store (declared capability, O15)") {
    engine.createNode("bm25 unique zebra quagga document")
    val hits = engine.bm25Search("zebra quagga")
    assert(hits.nonEmpty && hits.forall(_.score > 0))
  }
}
