package graft

import graft.api.{AnnMode, Engine}
import graft.pipeline.Similarity
import graft.search.AnnArtifacts
import org.apache.spark.sql.functions._

/** Trained-ANN persistence (search/AnnArtifacts.scala + Engine.save/
  * loadAnnIndex) — the round-8 gap: trained artifacts were session-
  * scoped. Pins the two contracts the design demands: a warmed restart
  * serves TrainedIvf WITHOUT retraining with row-identical results, and
  * a stale artifact is refused rather than silently served. */
class AnnPersistSpec extends SparkSpec {
  import spark.implicits._

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft-ann").toString

  // Deterministic bulk load (fixed ids — a UUID per createNode would make
  // every "restart" a different snapshot and defeat the fingerprint test).
  private def populate(e: Engine, n: Int): Unit = {
    import graft.functions.HashEmbed
    import graft.model.{EmbeddingRow, Node}
    val nodes = (0 until n).map { i =>
      Node(f"node-$i%04d", s"document number $i about topic ${i % 7}",
        Map("k" -> (i % 3).toString), "2026-01-01T00:00:00Z",
        "2026-01-01T00:00:00Z")
    }
    val embs = nodes.map(nd =>
      EmbeddingRow(nd.id, HashEmbed.encode(nd.text, e.dim).toSeq, e.dim))
    e.catalog.load(nodes.toDF(), embs.toDF(),
      spark.emptyDataset[graft.model.EdgeRow].toDF())
  }

  test("save -> load -> search is row-identical to train -> search, no retrain") {
    val dir = tmp()
    val e1 = new Engine(spark)
    populate(e1, 60)
    val trained = e1.vectorSearch("document topic 3", topK = 5,
      mode = AnnMode.TrainedIvf(nprobe = 2))
    e1.saveAnnIndex(dir)

    // "restarted session": a fresh Engine over the same data — its own
    // cache is cold and its version counter restarts from the replayed
    // mutations, which is exactly why the artifact carries a CONTENT
    // fingerprint instead of a session version.
    val e2 = new Engine(spark)
    populate(e2, 60)
    assert(e2.loadAnnIndex(dir), "fingerprint must match the same data")
    val served = e2.vectorSearch("document topic 3", topK = 5,
      mode = AnnMode.TrainedIvf(nprobe = 2))
    assert(served == trained, "loaded index must serve identical rows")
    assert(e2.quantizerTrainCount == 0,
      "a warmed session must serve TrainedIvf without retraining")
  }

  test("SQ8 serving uses the cached scale: one corpus scan, persisted, identical rows") {
    val dir = tmp()
    val e1 = new Engine(spark)
    populate(e1, 60)
    val inline = e1.vectorSearch("document topic 2", topK = 5,
      mode = AnnMode.Sq8(rerank = 16))
    assert(e1.sq8TrainCount == 1, "first Sq8 search trains the scale once")
    e1.vectorSearch("another query entirely", topK = 5,
      mode = AnnMode.Sq8(rerank = 16))
    assert(e1.sq8TrainCount == 1, "second search must reuse the cached scale")
    e1.saveAnnIndex(dir)

    val e2 = new Engine(spark)
    populate(e2, 60)
    assert(e2.loadAnnIndex(dir))
    val served = e2.vectorSearch("document topic 2", topK = 5,
      mode = AnnMode.Sq8(rerank = 16))
    assert(served == inline, "persisted scale must serve identical rows")
    assert(e2.sq8TrainCount == 0,
      "a warmed session serves Sq8 without rescanning the corpus")
  }

  test("stale artifact is refused after a mutation") {
    val dir = tmp()
    val e = new Engine(spark)
    populate(e, 30)
    e.saveAnnIndex(dir)
    e.createNode("a brand new document changes the snapshot")
    assert(!e.loadAnnIndex(dir),
      "fingerprint mismatch must refuse the artifact")
    // and the next trained search retrains rather than serving nothing
    val hits = e.vectorSearch("document", topK = 3,
      mode = AnnMode.TrainedIvf(nprobe = 2))
    assert(hits.nonEmpty && e.quantizerTrainCount >= 1)
  }

  test("a TrainedIvf training, a retrain after a write and a load leave no persistent RDD") {
    val ivf = AnnMode.TrainedIvf(nprobe = 2)
    val dir = tmp()
    val e1 = new Engine(spark)
    populate(e1, 60)
    assert(persistedBy(e1.vectorSearch("document topic 3", topK = 5, mode = ivf))._2.isEmpty)
    e1.saveAnnIndex(dir)
    assert(persistedBy {
      e1.createNode("a write replaces the embeddings table")
      e1.vectorSearch("document topic 3", topK = 5, mode = ivf)
    }._2.isEmpty)
    assert(e1.quantizerTrainCount == 2, "the write must retrain")
    val e2 = new Engine(spark)
    populate(e2, 60)
    assert(persistedBy {
      assert(e2.loadAnnIndex(dir))
      e2.vectorSearch("document topic 3", topK = 5, mode = ivf)
    }._2.isEmpty)
    assert(e2.quantizerTrainCount == 0)
  }

  test("two Engines of different dim over one catalog each train their own quantizer") {
    val cat = new graft.store.TableCatalog(spark)
    val e8 = new Engine(cat, dim = 8)
    val e16 = new Engine(cat, dim = 16)
    (0 until 12).foreach { i =>
      e8.createNode(s"small doc $i about topic ${i % 3}")
      e16.createNode(s"large doc $i about topic ${i % 3}")
    }
    Seq(e8, e16).foreach { e =>
      val brute = e.vectorSearch("doc about topic 1", topK = 5)
      // every cell probed: the candidate set is the whole corpus
      val ivf = e.vectorSearch("doc about topic 1", topK = 5, mode = AnnMode.TrainedIvf(nprobe = 64))
      e.vectorSearch("doc about topic 1", topK = 5, mode = AnnMode.Sq8(rerank = 16))
      assert(brute.size == 5 && ivf == brute, s"dim ${e.dim}: $ivf vs $brute")
      assert((e.quantizerTrainCount, e.sq8TrainCount, e.annFallbackCount) == (1, 1, 0),
        s"dim ${e.dim}")
    }
  }

  test("artifact round-trips centroids, PQ codebook, and SQ8 scale") {
    val emb = (0L until 64L)
      .map(i => (i.toString, Seq.tabulate(8)(d => (i % 5 + d).toFloat), 8))
      .toDF("node_id", "vector", "dim")
    val keyed = emb.select(xxhash64($"node_id").as("kid"),
      $"vector".cast("array<double>").as("v"))
    val cent = Similarity.kmeansCentroids(keyed, "kid", "v", iters = 1)
    val cb = Similarity.pqCodebookTrained(
      emb.select($"node_id".cast("long").as("vid"), $"vector".as("v")),
      "vid", "v", dim = 8, m = 4, iters = 1)
    val fp = AnnArtifacts.fingerprintOf(emb)
    val dir = tmp()
    AnnArtifacts(cent, Some(cb), Some(3.5), fp).save(dir)
    val back = AnnArtifacts.load(spark, dir)
    assert(back.fingerprint == fp)
    assert(back.sq8Scale.contains(3.5))
    assert(back.centroids.orderBy($"cid").collect()
      .sameElements(cent.orderBy($"cid").collect()))
    val cbCols = cb.columns.map(col)
    assert(back.pqCodebook.get.orderBy(cbCols: _*).collect()
      .sameElements(cb.orderBy(cbCols: _*).collect()))
  }

  test("fingerprint is order-independent and content-sensitive") {
    val a = Seq(("x", Seq(1f, 2f), 2), ("y", Seq(3f, 4f), 2))
      .toDF("node_id", "vector", "dim")
    val b = Seq(("y", Seq(3f, 4f), 2), ("x", Seq(1f, 2f), 2))
      .toDF("node_id", "vector", "dim")
    val c = Seq(("x", Seq(1f, 2f), 2), ("y", Seq(3f, 4.0001f), 2))
      .toDF("node_id", "vector", "dim")
    assert(AnnArtifacts.fingerprintOf(a) == AnnArtifacts.fingerprintOf(b))
    assert(AnnArtifacts.fingerprintOf(a) != AnnArtifacts.fingerprintOf(c))
  }
}
