package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming maintenance of the Count-Min sketch — the heavy-hitter /
  * frequency monitor over an unbounded key stream, in the ingest shape of
  * [[HistogramIngest]]: each micro-batch reduces to its (row, bucket)
  * counter increments map-side via [[graft.pipeline.Sketches.cmsBuild]],
  * and the accumulated sketch absorbs them with ONE keyed sum per batch.
  * CMS counters are integers under addition, so the streamed sketch is
  * EXACTLY the batch-built sketch on the same data at any shard split or
  * arrival order — and every read ([[graft.pipeline.Sketches.cmsEstimate]]
  * point queries, heavy-hitter probes against a key universe) gives
  * identical answers from either (StreamingSpec pins both).
  *
  * State is depth×width fixed-width rows — a constant decided at sketch
  * creation, independent of stream length and of the key cardinality
  * (the whole point of sketching the stream instead of counting it). The
  * sketch is a [[StateFrame]]; at cluster scale it is a keyed table in the
  * lake and `add` is a MERGE.
  */
object CmsIngest {

  /** The accumulated sketch (d, bucket, c). Thread-confined to the
    * streaming query's batch callback (foreachBatch runs sequentially). */
  final class CmsIndex(initial: DataFrame) extends BatchOnce {
    private def norm(df: DataFrame): DataFrame =
      df.groupBy(col("d"), col("bucket")).agg(sum(col("c")).as("c"))
    private val idx = new StateFrame(norm(initial))
    def sketch: DataFrame = idx.get
    def add(delta: DataFrame): Unit = idx.update(s => norm(s.unionByName(delta)))
  }

  def emptyIndex(spark: SparkSession): CmsIndex = {
    import spark.implicits._
    new CmsIndex(Seq.empty[(Int, Long, Long)].toDF("d", "bucket", "c"))
  }

  /** Start the maintenance query: each arriving micro-batch folds its
    * CMS increments into `index`. CMS counters are ADDITIVE, so a
    * replayed batch would double-count — the [[BatchOnce.applyOnce]]
    * guard is what makes the maintained sketch exactly-once across a
    * checkpoint restart; pass `checkpoint` to make the query
    * restartable from committed offsets. */
  def start(stream: DataFrame, keyCol: String, depth: Int, width: Int,
            index: CmsIndex, checkpoint: Option[String] = None): StreamingQuery =
    index.start(stream, checkpoint) { batch =>
      index.add(graft.pipeline.Sketches.cmsBuild(batch, keyCol, depth, width))
    }
}
