package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted trained-ANN artifacts — the durable counterpart of the
  * quantizer the Engine derives from its embeddings table (the round-8
  * gap: k-means centroids / PQ codebooks / SQ8 params were recomputed per
  * session, while at 100 TB a trained index is a versioned persisted artifact,
  * exactly like [[Bm25Index]]).
  *
  * Contents: the IVF coarse-quantizer centroids (cid, cv), optionally a
  * PQ codebook (s, cid, cs) and the SQ8 scalar scale, plus the CONTENT
  * FINGERPRINT of the embeddings snapshot they were trained on. The
  * fingerprint — bit_xor over per-row xxhash64(node_id, vector, dim) —
  * is order-independent and computable in one cheap scan, so a reopened
  * session can prove the artifact matches the data WITHOUT trusting any
  * session-local identity of the table (which a restart loses) and
  * without retraining. Staleness = fingerprint mismatch → the loader
  * refuses and the caller retrains; a trained index must never silently
  * serve a different snapshot than it was built from.
  */
final case class AnnArtifacts(
    centroids: DataFrame,
    pqCodebook: Option[DataFrame],
    sq8Scale: Option[Double],
    fingerprint: Long) {

  /** Persist as parquet — the durable cluster-scale form (on a real
    * cluster this directory lives in object storage next to the table,
    * keyed by snapshot id). */
  def save(dir: String): Unit = {
    import centroids.sparkSession.implicits._
    centroids.write.mode("overwrite").parquet(s"$dir/centroids.parquet")
    pqCodebook.foreach(
      _.write.mode("overwrite").parquet(s"$dir/pq_codebook.parquet"))
    Seq((fingerprint, sq8Scale))
      .toDF("fingerprint", "sq8_scale")
      .write.mode("overwrite").parquet(s"$dir/meta.parquet")
  }
}

object AnnArtifacts {

  /** Order-independent content fingerprint of an embeddings snapshot
    * `(node_id, vector, dim)`: bit_xor of per-row xxhash64 — one
    * map-side-combinable scan, no sort, no overflow. */
  def fingerprintOf(embeddings: DataFrame): Long = {
    val r = embeddings
      .agg(coalesce(bit_xor(xxhash64(col("node_id"), col("vector"),
        col("dim"))), lit(0L)))
      .head()
    r.getLong(0)
  }

  /** Reopen a saved artifact set. The caller checks `fingerprint`
    * against [[fingerprintOf]] the live snapshot before serving (see
    * Engine.loadAnnIndex). */
  def load(spark: SparkSession, dir: String): AnnArtifacts = {
    val meta = spark.read.parquet(s"$dir/meta.parquet").head()
    // Probe the optional codebook through the Hadoop FileSystem API, not
    // java.io.File: this directory's documented home is object storage
    // (HDFS/S3), where a local-file stat is always false and a persisted
    // codebook would silently load as None.
    val pqPath = new org.apache.hadoop.fs.Path(s"$dir/pq_codebook.parquet")
    val fs = pqPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    AnnArtifacts(
      centroids = spark.read.parquet(s"$dir/centroids.parquet"),
      pqCodebook =
        if (fs.exists(pqPath)) Some(spark.read.parquet(s"$dir/pq_codebook.parquet"))
        else None,
      sq8Scale =
        if (meta.isNullAt(meta.fieldIndex("sq8_scale"))) None
        else Some(meta.getAs[Double]("sq8_scale")),
      fingerprint = meta.getAs[Long]("fingerprint"))
  }
}
