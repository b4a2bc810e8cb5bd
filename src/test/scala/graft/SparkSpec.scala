package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for specs — one per suite, local[4], UTC, nanos-as-long
  * (events fixture), 8 shuffle partitions for small-data speed. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-wh").toString)
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"

  /** `f`'s value and the ids of the persistent RDDs it left behind. */
  def persistedBy[T](f: => T): (T, Set[Int]) = {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val r = f
    (r, spark.sparkContext.getPersistentRDDs.keySet.toSet -- before)
  }
}
