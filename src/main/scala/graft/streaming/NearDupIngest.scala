package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.streaming.StreamingQuery
import graft.pipeline.Dedup

/** Streaming NEAR-duplicate ingestion — [[IngestDedup]]'s exact-digest
  * pipeline upgraded to MinHash-LSH: each micro-batch of documents is
  * near-dup-pruned within itself, then LSH-probed against the
  * ACCUMULATED index of accepted documents' band keys, candidates are
  * verified by estimated Jaccard against the index signatures, and
  * survivors append (bands + signatures) to the index. This is the
  * production crawl-ingest shape for fuzzy dedup at 100 TB: per batch,
  * index work is one (band, bkey) equi-join + one signature equi-join on
  * the verified candidates — never an all-pairs pass and never a re-read
  * of accepted text; index state is |accepted| × (bands + numHashes)
  * small fixed-width rows.
  *
  * Semantics (spec-pinned, StreamingSpec): within a batch a document is
  * dropped if ANY smaller-id batch member est-matches it (the same pair
  * rule as the declared q_dedup_minhash_pairs); across batches keep-first
  * arrival wins — a chain a ~ b ~ c (a ≁ c) accepts a, drops b, and
  * ACCEPTS c, because only ACCEPTED documents enter the index (greedy
  * left-to-right dedup, the Lee et al. / production convention; a naive
  * batch pair rule would over-drop c).
  */
object NearDupIngest {

  /** Accumulated index over accepted documents: band keys (doc_id, band,
    * bkey) for candidate generation and signature rows (doc_id, i, mh)
    * for est-Jaccard verification, each a [[StateFrame]].
    * Thread-confined to the streaming query's sequential foreachBatch
    * callback. At cluster scale both are lake tables partitioned by bkey
    * prefix / doc bucket. */
  final class SigIndex(bands0: DataFrame, sigs0: DataFrame) extends BatchOnce {
    private val b = new StateFrame(bands0)
    private val s = new StateFrame(sigs0)
    def bands: DataFrame = b.get
    def sigs: DataFrame = s.get
    def add(newBands: DataFrame, newSigs: DataFrame): Unit = {
      b.update(_.unionByName(newBands))
      s.update(_.unionByName(newSigs))
    }
  }

  def indexOf(corpus: DataFrame, idCol: String, textCol: String,
              numHashes: Int = 16, rowsPerBand: Int = 4): SigIndex = {
    val mh = Dedup.minhashSignatures(corpus, idCol, textCol, numHashes)
      .localCheckpoint()
    try new SigIndex(Dedup.bandKeys(mh, rowsPerBand), mh)
    finally bridge.unpersistCheckpoint(mh)
  }

  /** One micro-batch step, shared by streaming and batch callers.
    * Returns the accepted (idCol) rows; callers append the matching
    * bands/sigs via [[SigIndex.add]] (the [[start]] wrapper does). */
  def dedupBatch(batch: DataFrame, idCol: String, textCol: String,
                 index: SigIndex, numHashes: Int = 16, rowsPerBand: Int = 4,
                 threshold: Double = 0.5): (DataFrame, DataFrame, DataFrame) = {
    val mh = Dedup.minhashSignatures(batch.select(col(idCol).as("doc_id"),
      col(textCol)), "doc_id", textCol, numHashes).localCheckpoint()
    val bands = Dedup.bandKeys(mh, rowsPerBand).localCheckpoint()
    // within-batch: the declared pair rule — drop b when any smaller-id
    // batch member a shares a band and est-Jaccard >= threshold
    val innerCand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")).distinct()
    val innerDrop = Dedup.estJaccard(innerCand, mh, mh, numHashes)
      .filter(col("est_jaccard") >= threshold)
      .select(col("b").as("doc_id")).distinct()
    val surv = mh.select(col("doc_id")).distinct()
      .join(innerDrop, Seq("doc_id"), "left_anti")
    // cross-batch: LSH-probe the index with the survivors' band keys,
    // verify by est-Jaccard against the index signatures
    val crossCand = bands.join(surv, "doc_id").as("x")
      .join(index.bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey"))
      .select(col("y.doc_id").as("a"), col("x.doc_id").as("b")).distinct()
    val crossDrop = Dedup.estJaccard(crossCand, index.sigs, mh, numHashes)
      .filter(col("est_jaccard") >= threshold)
      .select(col("b").as("doc_id")).distinct()
    val accepted = surv.join(crossDrop, Seq("doc_id"), "left_anti")
      .select(col("doc_id").as(idCol)).localCheckpoint()
    val acc = accepted.select(col(idCol).as("doc_id"))
    (accepted, bands.join(acc, "doc_id"), mh.join(acc, "doc_id"))
  }

  /** Start the streaming pipeline ([[BatchOnce.start]]): per batch dedup
    * → `sink(accepted)` → index append (after sink success, mirroring
    * [[IngestDedup.start]]'s retry discipline). The sink must consume
    * `accepted` before it returns: once the index holds the batch's rows,
    * the step frees its scratch checkpoints (`accepted`, and the batch's
    * signatures and band keys). */
  def start(docStream: DataFrame, idCol: String, textCol: String,
            index: SigIndex, numHashes: Int = 16, rowsPerBand: Int = 4,
            threshold: Double = 0.5, checkpoint: Option[String] = None)(
            sink: DataFrame => Unit): StreamingQuery =
    index.start(docStream, checkpoint) { batch =>
      val (accepted, nb, ns) = dedupBatch(batch, idCol, textCol, index,
        numHashes, rowsPerBand, threshold)
      sink(accepted)
      index.add(nb, ns)
      // nb and ns scan exactly the step's checkpoints: accepted, bands, mh
      (bridge.rddLeaves(nb) ++ bridge.rddLeaves(ns)).distinct.foreach(_.unpersist(blocking = false))
    }
}
