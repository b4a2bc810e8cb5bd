package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming incremental exact-dedup ingestion (SURVEY §2.B.10 × the
  * dedup suite) — the arriving-crawl-shard pipeline a 100 TB corpus runs
  * continuously: each micro-batch of documents is deduped WITHIN itself
  * (min-id per content digest), then anti-joined against the ACCUMULATED
  * corpus digest index; survivors append to the corpus store and their
  * digests to the index. The corpus side is only ever touched as a
  * digest index — one (h)-keyed anti-join per batch, never a re-read of
  * corpus text — and index state grows with DISTINCT accepted digests,
  * not stream length. Batch form: the declared, oracle-checked
  * q_dedup_incremental (rel/ScaleQueries.scala); StreamingSpec asserts
  * the streaming pipeline over any shard split equals that batch result
  * on the same data (keep-first across id-ordered shards == global
  * min-id per digest).
  *
  * The index is a [[StateFrame]]; at cluster scale it is a digest table in
  * the lake (Delta/parquet, partitioned by digest prefix) and
  * `addAccepted` is an append.
  */
object IngestDedup {

  /** The accumulated corpus digest index: one `h` (md5 hex) per accepted
    * document. Thread-confined to the streaming query's batch callback
    * (foreachBatch batches run sequentially). */
  final class DigestIndex(initial: DataFrame) extends BatchOnce {
    private val idx = new StateFrame(initial.select(col("h")).distinct())
    def digests: DataFrame = idx.get
    def addAccepted(accepted: DataFrame): Unit =
      idx.update(_.unionByName(accepted.select(col("h"))).distinct())
  }

  /** Build the index from an existing corpus' text column. */
  def indexOf(corpus: DataFrame, textCol: String): DigestIndex =
    new DigestIndex(corpus.select(md5(col(textCol)).as("h")))

  /** One micro-batch step, shared by streaming and batch callers:
    * within-batch keep-min-id per digest, then drop everything the index
    * has seen. Returns (idCol, h) — the accepted rows. */
  def dedupBatch(batch: DataFrame, idCol: String, textCol: String,
                 index: DigestIndex): DataFrame =
    batch.groupBy(md5(col(textCol)).as("h")).agg(min(col(idCol)).as(idCol))
      .join(index.digests, Seq("h"), "left_anti")
      .select(col(idCol), col("h"))

  /** Start the streaming pipeline ([[BatchOnce.start]]): docStream rows
    * (idCol, textCol) → per-batch dedup → `sink(accepted)` → index update.
    * The index update happens AFTER the sink call succeeds, so a failed
    * batch retries without having poisoned the index (at-least-once sink,
    * exactly-once index semantics under Spark's foreachBatch retry
    * contract). The sink must consume `accepted` before it returns: its
    * blocks are freed once the index holds its digests.
    * StreamingRecoverySpec pins kill-and-restart == clean run. */
  def start(docStream: DataFrame, idCol: String, textCol: String,
            index: DigestIndex, checkpoint: Option[String] = None)(
            sink: DataFrame => Unit): StreamingQuery =
    index.start(docStream, checkpoint) { batch =>
      val accepted = dedupBatch(batch, idCol, textCol, index).localCheckpoint()
      sink(accepted)
      index.addAccepted(accepted)
      bridge.unpersistCheckpoint(accepted)
    }
}
