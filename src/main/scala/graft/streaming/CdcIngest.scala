package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming CDC changelog ingestion (SURVEY §2.B.10 × the table-
  * maintenance suite) — the continuously-maintained-snapshot pipeline a
  * CDC-fed lake runs: each micro-batch of change events reduces to its
  * per-key LAST op, merges into the accumulated last-op state by
  * (ts, event_id) recency — a pure max, so ARRIVAL ORDER NEVER MATTERS:
  * any shard split of the same changelog converges to the same state —
  * and the applied snapshot is one key join of that state against the
  * base table. State is one fixed-width row per distinct changed key,
  * independent of stream length. Batch form: the declared, oracle-checked
  * q_cdc_apply (rel/ExtQueries.scala) built from these same helpers;
  * StreamingSpec asserts the streamed pipeline over an arbitrary shard
  * split equals that batch result exactly.
  *
  * The state is a [[StateFrame]]; at cluster scale it is a keyed
  * Delta/parquet table and `merge` is the day's MERGE INTO.
  */
object CdcIngest {

  /** The declared event→changelog derivation shared by the batch query
    * and the streaming pipeline: key = user_id·11 (hits existing customer
    * keys AND past the range so inserts occur), DELETE on 'error' events
    * else UPSERT, new balance = floor-to-cents of the event value (floor,
    * not round: both engines floor the identical double product, while
    * half-up vs half-even rounding of .xx5 diverges). */
  def changelogOf(events: DataFrame): DataFrame =
    events.select((col("user_id") * 11).as("key"), col("ts"), col("event_id"),
      when(col("event_type") === "error", "D").otherwise("U").as("op"),
      (floor(col("value") * 100) / 100.0).as("val"))

  /** Per-key latest op by (ts DESC, event_id DESC) — the key-partitioned
    * window both the batch query and each micro-batch run. */
  def lastOps(log: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("key"))
      .orderBy(col("ts").desc, col("event_id").desc)
    log.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("key"), col("ts"), col("event_id"), col("op"), col("val"))
  }

  /** Apply the last-op state to a (key, bal) base snapshot:
    * kept / updated / inserted rows, deletes dropped. */
  def applySnapshot(base: DataFrame, last: DataFrame): DataFrame = {
    val kept = base.join(last.select(col("key")), Seq("key"), "left_anti")
      .select(col("key"), col("bal"), lit("kept").as("status"))
    val upserts = last.filter(col("op") === "U")
      .join(base.select(col("key"), lit(1).as("inb")), Seq("key"), "left")
      .select(col("key"), col("val").as("bal"),
        when(col("inb").isNotNull, "updated").otherwise("inserted").as("status"))
    kept.unionByName(upserts)
  }

  /** Accumulated per-key last-op state. Thread-confined to the streaming
    * query's batch callback (foreachBatch batches run sequentially). */
  final class ChangeState(spark: SparkSession) extends BatchOnce {
    import spark.implicits._
    private val st = new StateFrame(
      Seq.empty[(Long, java.sql.Timestamp, Long, String, Double)]
        .toDF("key", "ts", "event_id", "op", "val"))
    def state: DataFrame = st.get
    /** Merge a batch's last-ops: recency is decided by (ts, event_id),
      * never arrival order, so any interleaving converges. */
    def merge(batchLast: DataFrame): Unit = st.update(s => lastOps(s.unionByName(batchLast)))
  }

  /** Start the streaming pipeline: a raw event stream → per-batch
    * changelog reduce → state merge, [[BatchOnce.applyOnce]]-guarded
    * (the (ts, event_id) max-merge is idempotent anyway — the guard
    * makes that explicit and uniform with the counting pipelines). Read
    * the maintained snapshot any time with
    * `applySnapshot(base, state.state)`; pass `checkpoint` to make the
    * query restartable from committed offsets. */
  def start(eventStream: DataFrame, state: ChangeState,
            checkpoint: Option[String] = None): StreamingQuery =
    state.start(eventStream, checkpoint)(batch => state.merge(lastOps(changelogOf(batch))))
}
