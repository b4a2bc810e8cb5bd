package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet fixture loaders (TESTDATA.md / FIXTURES.md §B).
  *
  * All declared queries read these tables; at cluster scale the same code
  * reads the production lake — `spark.read.parquet` gives partition pruning,
  * predicate pushdown and column pruning for free via the Parquet DSv2 source.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // Plans are immutable, so each table's reader is a session artifact;
  // this drops the repeated parquet-footer schema reads that otherwise
  // dominate registerViews (10 tables × every sqlBoth query).
  private val frames: Map[String, Artifact[DataFrame]] = all.map { name =>
    name -> Artifact(s"table_$name") { (spark, sfDir) =>
      val df = spark.read.parquet(s"$sfDir/$name.parquet")
      if (name == "events") normalizeEventsTs(df) else df
    }
  }.toMap

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    frames(name)(spark, sfDir)

  /** Normalize `events.ts` to a session-TZ TIMESTAMP regardless of how the
    * fixture generation wrote it. Two encodings exist in the wild:
    *   - parquet TIMESTAMP(NANOS): Spark's vectorized reader rejects it, so
    *     sessions set spark.sql.legacy.parquet.nanosAsLong=true and it arrives
    *     as a nanos long → truncate with integer DIV (a double roundtrip would
    *     lose precision at 2^63) exactly as DuckDB truncates ns→µs;
    *   - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false): arrives as
    *     TIMESTAMP_NTZ → cast to TIMESTAMP, value-preserving because every
    *     session pins spark.sql.session.timeZone=UTC (matching DuckDB, which
    *     reads the same column as plain TIMESTAMP).
    * Both land on the identical micros instant, so oracle hashes agree. */
  private[graft] def normalizeEventsTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }

  // Fixture row counts are as immutable as the plans — memoized so the
  // spaced-quantizer queries (⌈√n⌉ codebook sizing) pass n down instead of
  // paying a count job per call (an extra scheduling round-trip per query
  // at cluster scale).
  private val counts: Map[String, Artifact[Long]] = all.map { name =>
    name -> Artifact(s"rows_$name")((spark, sfDir) => apply(spark, sfDir, name).count())
  }.toMap

  def rowCount(spark: SparkSession, sfDir: String, name: String): Long =
    counts(name)(spark, sfDir)

  /** Register every fixture as a temp view so declared queries can use
    * `spark.sql` where the DataFrame API is clumsier (GROUPING SETS etc.). */
  def registerViews(spark: SparkSession, sfDir: String): Unit =
    all.foreach(n => apply(spark, sfDir, n).createOrReplaceTempView(n))
}

/** One declared operator query: a Spark implementation plus (usually) an
  * equivalent ANSI-SQL oracle the driver runs in DuckDB over the same parquet.
  * `oracle == None` → driver records a weaker rows-only check (reserved for
  * ops DuckDB cannot express, e.g. Murmur3 hash embeddings).
  */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {
  def sqlBoth(name: String, sparkSql: String, duckSql: String): QueryDef =
    QueryDef(name, (s, dir) => { Tables.registerViews(s, dir); s.sql(sparkSql) }, Some(duckSql))
}
