package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Exactly-once guard for foreachBatch state updates across query
  * restarts.
  *
  * After a restart from a checkpointLocation, Structured Streaming
  * REPLAYS the last micro-batch whose offsets committed but whose batch
  * did not (foreachBatch is at-least-once) — and the replayed batch keeps
  * its ORIGINAL batchId. Counting/merge state that blindly re-applied the
  * replay would double-count; applying each batchId at most once makes
  * every accumulated index exactly-once under that replay. BatchIds are
  * monotone within one checkpoint lineage (they continue, never reset,
  * across restarts), so a high-water mark suffices.
  *
  * This single-JVM guard survives a query restart because the state
  * object does; in a cross-JVM restart the state is a lake table and the
  * SAME high-water mark is the MERGE's by-batch-id idempotence key (the
  * standard Delta/Iceberg `txnVersion` pattern).
  */
trait BatchOnce {
  @volatile private var applied = -1L

  /** Highest batchId applied so far (-1 before the first). */
  def appliedBatch: Long = applied

  /** Run `f` iff `batchId` has not been applied yet, then advance the
    * high-water mark. Synchronized for safety, though foreachBatch
    * callbacks of one query run sequentially. */
  def applyOnce(batchId: Long)(f: => Unit): Unit = synchronized {
    if (batchId > applied) { f; applied = batchId }
  }

  /** Start the streaming query that runs `step` on each micro-batch of
    * `stream`, [[applyOnce]]-guarded, so a batch replayed after a restart
    * is a no-op. Pass `checkpoint` to make the query restartable from
    * committed offsets: a new `start` against the same location (and the
    * same holder and stream) resumes where the last one committed.
    *
    * A step that hands a frame to a sink frees that frame's blocks once
    * the sink returns, so a sink must consume its frame (collect it, write
    * it) before it returns, never keep it. */
  def start(stream: DataFrame, checkpoint: Option[String])(
      step: DataFrame => Unit): StreamingQuery = {
    val w = stream.writeStream.outputMode("append")
    checkpoint.foreach(w.option("checkpointLocation", _))
    w.foreachBatch((batch: DataFrame, batchId: Long) => applyOnce(batchId)(step(batch))).start()
  }
}
