package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming maintenance of the mergeable fixed-width histogram — the
  * streaming form of [[graft.pipeline.Sketches.histogramQuantiles]]'
  * phase-1 sketch, in the ingest shape of [[IngestDedup]]: each
  * micro-batch reduces to its integer bucket counts map-side, and the
  * accumulated histogram absorbs them with ONE keyed sum per batch.
  * Because bucket counts are integers under addition, the streamed
  * sketch is EXACTLY the batch sketch on the same data — any shard
  * split, any arrival order (StreamingSpec pins this, plus that
  * quantile estimates read from the maintained histogram equal the
  * batch sketch's estimates).
  *
  * State is |distinct buckets| fixed-width rows — value-range/width,
  * independent of stream length; the monitoring shape for a quantile
  * dashboard over an unbounded stream at any scale. The index is a
  * [[StateFrame]]; at cluster scale it is a keyed table in the lake and
  * `add` is a MERGE.
  */
object HistogramIngest {

  /** The accumulated histogram (b, c). Thread-confined to the streaming
    * query's batch callback (foreachBatch batches run sequentially). */
  final class HistIndex(initial: DataFrame) extends BatchOnce {
    private def norm(df: DataFrame): DataFrame = df.groupBy(col("b")).agg(sum(col("c")).as("c"))
    private val idx = new StateFrame(norm(initial))
    def hist: DataFrame = idx.get
    def add(delta: DataFrame): Unit = idx.update(s => norm(s.unionByName(delta)))
  }

  def emptyIndex(spark: SparkSession): HistIndex = {
    import spark.implicits._
    new HistIndex(Seq.empty[(Long, Long)].toDF("b", "c"))
  }

  /** One micro-batch's bucket counts — the map-side reduction shared by
    * the streaming path and the batch cross-check. */
  def bucketCounts(batch: DataFrame, valCol: String, width: Long): DataFrame = {
    require(width >= 1, s"bucket width must be >= 1 (got $width)")
    batch.select(col(valCol).cast("long").as("x"))
      .filter(col("x").isNotNull)
      .groupBy(expr(s"x DIV ${width}L").as("b"))
      .agg(count(lit(1)).as("c"))
  }

  /** Start the maintenance query: each arriving micro-batch folds its
    * bucket counts into `index`. Bucket counts are ADDITIVE, so a
    * replayed batch would double-count — the [[BatchOnce.applyOnce]]
    * guard makes the maintained histogram exactly-once across a
    * checkpoint restart; pass `checkpoint` to make the query
    * restartable from committed offsets. */
  def start(stream: DataFrame, valCol: String, width: Long,
            index: HistIndex, checkpoint: Option[String] = None): StreamingQuery =
    index.start(stream, checkpoint)(batch => index.add(bucketCounts(batch, valCol, width)))
}
