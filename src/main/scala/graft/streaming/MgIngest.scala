package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming maintenance of the Misra–Gries frequent-items summary —
  * the DETERMINISTIC heavy-hitter monitor over an unbounded key stream,
  * completing the sketch-maintenance family (CmsIngest: probabilistic
  * point queries; HistogramIngest: quantiles; this: guaranteed-complete
  * frequent-item candidates).
  *
  * Each micro-batch reduces map-side to its ≤ k−1-counter summary via
  * [[graft.pipeline.HeavyHitters.summary]] (one mergeable Aggregator
  * pass, never a per-key groupBy), and the accumulated summary absorbs
  * it with the PODS'12 mergeable-summaries rule
  * ([[graft.pipeline.HeavyHitters.mergeCounts]]: sum, subtract the k-th
  * largest, drop non-positives). The merged summary keeps the n/k
  * undercount bound at ANY shard split or arrival order, so every key
  * with true frequency > n/k is in the maintained candidate set at all
  * times. The candidate SET is merge-order-dependent (only the superset
  * guarantee is order-free) — exactly like the batch sketch — so reads
  * go through the same two-pass recipe as the declared
  * q_sketch_heavyhit: recount ONLY the ≤ k−1 maintained candidates
  * exactly, threshold cnt·k > n. The recount output is deterministic
  * and equals the batch query's (StreamingSpec pins streamed == batch).
  *
  * Unlike the additive sketches a REPLAYED batch would not just
  * double-count, it would re-trigger subtractions — the
  * [[BatchOnce.applyOnce]] high-water mark makes the maintained summary
  * exactly-once across a checkpoint restart.
  *
  * State is ≤ k−1 (key, count) pairs — CONSTANT, independent of stream
  * length and key cardinality; it lives on the driver here (single-JVM
  * form) and as a k-row lake table whose MERGE applies the same
  * subtract-cut rule at cluster scale.
  */
object MgIngest {

  /** The maintained summary. Thread-confined to the streaming query's
    * batch callback (foreachBatch runs sequentially). */
  final class MgIndex(val k: Int) extends BatchOnce {
    @volatile private var state: Map[String, Long] = Map.empty
    def summary: Map[String, Long] = state
    def candidates: Seq[String] = state.keys.toSeq.sorted
    def add(delta: Map[String, Long]): Unit =
      state = graft.pipeline.HeavyHitters.mergeCounts(state, delta, k)
  }

  def emptyIndex(k: Int): MgIndex = new MgIndex(k)

  /** Start the maintenance query: each arriving micro-batch's ≤ k−1
    * summary merges into `index`. Pass `checkpoint` to make the query
    * restartable from committed offsets. */
  def start(stream: DataFrame, keyCol: String, index: MgIndex,
            checkpoint: Option[String] = None): StreamingQuery =
    index.start(stream, checkpoint) { batch =>
      val row = batch.agg(graft.pipeline.HeavyHitters.summary(col(keyCol), index.k).as("s"))
        .head()
      index.add(row.getSeq[org.apache.spark.sql.Row](0)
        .map(r => r.getString(0) -> r.getLong(1)).toMap)
    }

  /** The deterministic read: exact recount of the maintained candidates
    * over `corpus`, keeping keys with cnt·k > n — identical recipe (and
    * output) to the declared batch q_sketch_heavyhit. */
  def exactHeavyHitters(corpus: DataFrame, keyCol: String, index: MgIndex)
      : DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cand = index.candidates.toDF("__k")
    val keyed = corpus.select(col(keyCol).as("__k"))
    val tot = keyed.agg(count(lit(1)).as("n"))
    keyed.join(broadcast(cand), "__k")
      .groupBy(col("__k")).agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(tot))
      .filter(col("cnt") * index.k > col("n"))
      .select(col("__k").as("k"), col("cnt"))
      .orderBy(col("cnt").desc, col("k"))
  }
}
