package graft

import org.apache.spark.sql.Row

/** Release safety of the session-artifact memo: `Artifacts.releaseUnowned`
  * frees a finished query's checkpoint blocks, never the blocks a shared
  * training holds (a blanket unpersist once broke six trained queries,
  * whose second sharer then read checkpoint blocks that were gone). */
class ArtifactsSpec extends SparkSpec {

  /** One declared sharer for each artifact that holds checkpoint blocks. */
  private val sharers = Seq(
    "tokenized_docs" -> "q_text_vocab",
    "sgns_training" -> "q_graph_embed_auc",
    "eval_base_frame" -> "q_eval_rouge",
    "kmeans_centroids" -> "q_ann_ivf_trained",
    "pq_codebook" -> "q_ann_pq_trained",
    "quality_features + logreg_weights" -> "q_text_classifier_eval",
    "nsw_index" -> "q_ann_nsw_recall",
    "unigram_lm" -> "q_text_unigram_fertility",
    "domain_features + softmax_weights" -> "q_text_domain_eval",
    "pca_parts" -> "q_vec_whiten")

  private def rows(query: String): Seq[Row] =
    SparkEntry.queries(query)(spark, sf).collect().toSeq

  private def assertOnlyOwnedLeft(): Unit = {
    val left = spark.sparkContext.getPersistentRDDs.keySet
    val owned = Artifacts.owned(spark)
    assert(left.subsetOf(owned), s"unowned persistent RDDs left: ${left -- owned}")
  }

  sharers.foreach { case (artifact, query) =>
    test(s"$query reads $artifact back identically after releaseUnowned") {
      val first = rows(query)
      assert(first.nonEmpty)
      Artifacts.releaseUnowned(spark)
      assertOnlyOwnedLeft()
      assert(rows(query) == first)
      Artifacts.releaseUnowned(spark)
      assertOnlyOwnedLeft()
    }
  }

  test("an artifact builds once per (session, dir) and owns the blocks its value reads") {
    var builds = 0
    var scratch = -1
    val a = Artifact("spec_range") { (s, dir) =>
      builds += 1
      s.range(7).localCheckpoint()
      scratch = s.sparkContext.getPersistentRDDs.keySet.max
      s.range(dir.length.toLong).localCheckpoint()
    }
    val df = a(spark, "abc")
    assert(a(spark, "abc") eq df)
    assert(builds == 1)
    val id = spark.sparkContext.getPersistentRDDs.keySet.max
    assert(Artifacts.owned(spark).contains(id))
    assert(!Artifacts.owned(spark).contains(scratch), "a build's intermediate is not owned")

    spark.range(5).localCheckpoint()
    val perQuery = spark.sparkContext.getPersistentRDDs.keySet.max
    assert(Artifacts.releaseUnowned(spark) >= 1)
    assert(!spark.sparkContext.getPersistentRDDs.contains(perQuery))
    assert(!spark.sparkContext.getPersistentRDDs.contains(scratch))
    assert(spark.sparkContext.getPersistentRDDs.contains(id))
    assert(df.count() == 3L, "the owned checkpoint survives the release")
    assertOnlyOwnedLeft()

    assert(a(spark, "abcd").count() == 4L)
    assert(builds == 2, "another dir is another artifact")
  }
}
