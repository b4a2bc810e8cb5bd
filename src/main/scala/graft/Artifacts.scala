package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.graft.bridge

import scala.jdk.CollectionConverters._

/** A derivation that several declared queries share — a trained
  * quantizer, the SGNS weights, the tokenized corpus, a fixture reader —
  * built once per (session, fixture dir) and kept while the session's
  * SparkContext lives, the way a serving engine trains an index once per
  * snapshot. Declared once as a `val`; `apply` builds on the first call
  * and returns the memoized value after. Builds must be deterministic
  * (every sharer then reads the same rows it would have derived itself).
  *
  * The memo OWNS the checkpoint blocks its build created and its value
  * still reads. Everything else a query persists is the query's own, and
  * [[Artifacts.releaseUnowned]] frees it. */
final class Artifact[T](val name: String)(
    private[graft] val build: (SparkSession, String) => T) {
  def apply(spark: SparkSession, dir: String): T = Artifacts.get(this, spark, dir)
}

object Artifact {
  def apply[T](name: String)(build: (SparkSession, String) => T): Artifact[T] =
    new Artifact(name)(build)
}

object Artifacts {

  /** One built (or building) artifact. The lazy val makes the build run
    * once per key even under concurrent lookups; a build that throws
    * leaves the slot empty, so the next lookup retries. It owns the RDDs
    * persisted during the build that its value still reads: a build's
    * intermediate checkpoints are released like a query's. */
  private final class Slot(val spark: SparkSession, build: () => Any) {
    @volatile var owned: Set[Int] = Set.empty
    lazy val value: Any = {
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val v = build()
      val persisted = (sc.getPersistentRDDs.keySet -- before).toSet
      owned = reads(v).fold(persisted)(persisted.intersect)
      v
    }
  }

  /** Ids of the RDDs `v` reads — its frames' RDD leaves and all their
    * lineage — or None when `v` is not a frame or a tuple of frames (its
    * build then owns all it persisted). */
  private def reads(v: Any): Option[Set[Int]] = v match {
    case df: Dataset[_] =>
      val seen = scala.collection.mutable.Set.empty[Int]
      def walk(r: RDD[_]): Unit =
        if (seen.add(r.id)) r.dependencies.foreach(d => walk(d.rdd))
      bridge.rddLeaves(df).foreach(walk)
      Some(seen.toSet)
    case p: Product =>
      p.productIterator.map(reads).foldLeft(Option(Set.empty[Int])) {
        case (Some(a), Some(b)) => Some(a ++ b)
        case _                  => None
      }
    case _ => None
  }

  private val store = new ConcurrentHashMap[(Artifact[_], SparkSession, String), Slot]()

  private[graft] def get[T](a: Artifact[T], spark: SparkSession, dir: String): T = {
    val key = (a, spark, dir)
    Option(store.get(key)).getOrElse {
      // a miss is the only time the store grows, so it is where entries
      // of stopped contexts (and with them their sessions) are dropped
      store.keySet.removeIf(_._2.sparkContext.isStopped)
      store.computeIfAbsent(key, _ => new Slot(spark, () => a.build(spark, dir)))
    }.value.asInstanceOf[T]
  }

  /** Ids of the persistent RDDs that artifacts on `spark`'s SparkContext
    * own (every session of the context, since blocks are per context). */
  private[graft] def owned(spark: SparkSession): Set[Int] = {
    val sc = spark.sparkContext
    store.values.asScala.filter(_.spark.sparkContext eq sc).flatMap(_.owned).toSet
  }

  /** Unpersist every persistent RDD on `spark`'s SparkContext that no
    * artifact owns — the finished queries' checkpoint blocks — and return
    * how many were freed. A local checkpoint truncates lineage, so its
    * blocks are the only copy: call this only between queries, when no
    * query, artifact build or serving [[graft.api.Engine]] on the same
    * context still reads a frame it did not get from an artifact. */
  def releaseUnowned(spark: SparkSession): Int = {
    val keep = owned(spark)
    val free = spark.sparkContext.getPersistentRDDs.filter { case (id, _) => !keep(id) }
    free.values.foreach(_.unpersist(blocking = true))
    free.size
  }
}
