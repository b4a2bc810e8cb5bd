package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.pipeline.TextOps

/** The built BM25 "index": materialized per-(doc,term) TF and per-term IDF
  * tables plus corpus stats. Both DataFrames are `localCheckpoint`ed at
  * build time, so searches run pure joins — no re-tokenization, no corpus
  * re-scan. The reference keeps the same derived state in driver memory and
  * rebuilds it O(N) on every write (app.py:453-471, 772-773); here the
  * rebuild is explicit ([[Bm25.build]]), and `api.Engine` derives the index
  * from the catalog's nodes table, so a node write replaces it. At cluster scale the two
  * tables would persist as bucketed parquet keyed by term.
  */
final case class Bm25Index(tf: DataFrame, idf: DataFrame, n: Long, avgdl: Double) {
  /** Persist the index as parquet — the durable cluster-scale form. At real
    * scale both tables would be bucketed by `t` so the scoring joins
    * co-locate without a shuffle; the fixture-scale writer keeps plain
    * parquet (the search path broadcasts the tiny term/idf sides anyway). */
  def save(dir: String): Unit = {
    import tf.sparkSession.implicits._
    tf.write.mode("overwrite").parquet(s"$dir/tf.parquet")
    idf.write.mode("overwrite").parquet(s"$dir/idf.parquet")
    Seq((n, avgdl)).toDF("n", "avgdl")
      .write.mode("overwrite").parquet(s"$dir/stats.parquet")
  }
}

object Bm25Index {
  /** Reopen a saved index: searches run against the parquet directly (no
    * rebuild, no tokenization — the warm-start path after a restart). */
  def load(spark: org.apache.spark.sql.SparkSession, dir: String): Bm25Index = {
    val stats = spark.read.parquet(s"$dir/stats.parquet").head()
    Bm25Index(
      spark.read.parquet(s"$dir/tf.parquet"),
      spark.read.parquet(s"$dir/idf.parquet"),
      stats.getAs[Long]("n"), stats.getAs[Double]("avgdl"))
  }
}

/** BM25-Okapi keyword scoring as pure DataFrame aggregation algebra
  * (reference O14-O15, app.py:453-489; formula per rank_bm25 0.2.2's
  * BM25Okapi: k1=1.5, b=0.75, idf = ln((N-df+0.5)/(df+0.5)) with negative
  * idfs floored to epsilon * avg_idf, epsilon=0.25).
  *
  * At 100 TB the TF build is one explode+groupBy shuffle keyed on (doc,
  * term); scoring joins the tiny query term list (broadcast) against TF, so
  * the only big shuffle is the final per-doc sum, which Catalyst runs
  * partial+final.
  */
object Bm25 {
  val K1 = 1.5
  val B = 0.75
  val Epsilon = 0.25

  /** Reference tokenization: lowercase, split on whitespace (app.py:365-366,
    * 456-458); trim + drop empties so "" never becomes a term. */
  def tokens(text: Column): Column =
    filter(split(lower(trim(text)), "\\s+"), t => t =!= "")

  /** O14: build the index — the only pass that touches document text.
    * Tokenization runs exactly once (TF is checkpointed before the three
    * downstream consumers read it: corpus stats, per-term DF, scoring). */
  def build(docs: DataFrame, idCol: String, textCol: String): Bm25Index = {
    val spark = docs.sparkSession
    import spark.implicits._

    val tf = TextOps.spread(docs)
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .withColumn("dl", size($"toks"))
      .select($"doc_id", $"dl", explode($"toks").as("t"))
      .groupBy($"doc_id", $"t")
      .agg(count(lit(1)).as("tf"), first($"dl").as("dl"))
      .localCheckpoint()

    // corpus stats: N over ALL docs (token-less included, matching
    // BM25Okapi's corpus_size/avgdl); sum(dl) from the TF table is
    // unaffected by token-less docs (they contribute 0). Empty corpus →
    // empty searches (reference contract, app.py:398-399 analog).
    val n = docs.count()
    if (n == 0) return Bm25Index(tf, tf.limit(0), 0L, 0.0)
    val sumDl = tf.select($"doc_id", $"dl").distinct()
      .agg(coalesce(sum($"dl"), lit(0L))).as[Long].head()
    val avgdl = sumDl.toDouble / n

    val idfRaw = tf.groupBy($"t").agg(count(lit(1)).as("df"))
      .withColumn("idf_raw", log((lit(n.toDouble) - $"df" + 0.5) / ($"df" + 0.5)))
    val avgIdf = idfRaw.agg(avg($"idf_raw").as("avg_idf"))
    val idf = idfRaw.crossJoin(broadcast(avgIdf))
      .select($"t",
        when($"idf_raw" < 0, lit(Epsilon) * $"avg_idf").otherwise($"idf_raw").as("idf"))
      .localCheckpoint()
    Bm25Index(tf, idf, n, avgdl)
  }

  /** O15: search a built index — joins only, reference semantics
    * (score > 0 filter per app.py:486), deterministic (score rounded to 6dp
    * before ranking, doc id tie-break). */
  def search(index: Bm25Index, terms: Seq[String], topK: Int): DataFrame = {
    val spark = index.tf.sparkSession
    import spark.implicits._
    if (index.n == 0)
      return index.tf.select($"doc_id", lit(0.0).as("score")).limit(0)
    val q = terms.toDF("t")
    index.tf.join(broadcast(q), "t")
      .join(broadcast(index.idf), "t")
      .withColumn("contrib",
        $"idf" * ($"tf" * (K1 + 1.0)) /
          ($"tf" + lit(K1) * (lit(1.0 - B) + lit(B) * $"dl" / lit(index.avgdl))))
      .groupBy($"doc_id")
      .agg(round(sum($"contrib"), 6).as("score"))
      .filter($"score" > 0)
      .orderBy($"score".desc, $"doc_id")
      .limit(topK)
  }

  /** One-shot convenience: build + search in a single composed call (the
    * declared q_bm25 shape — identical results to pre-index rounds). */
  def score(docs: DataFrame, idCol: String, textCol: String,
            terms: Seq[String], topK: Int): DataFrame =
    search(build(docs, idCol, textCol), terms, topK)
}
