package graft.store

import scala.collection.mutable
import scala.reflect.runtime.universe.TypeTag

import graft.graph.GraphAnalytics
import graft.model.{EdgeRow, EmbeddingRow, Node, Stats}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge
import org.apache.spark.unsafe.types.UTF8String

/** The serving store (SURVEY §7.4): the reference's three tables
  * (app.py:84-124), each an immutable vector of rows held on the driver.
  *
  * The reference keeps its tables in one in-process SQLite file, where a
  * point read or an `INSERT OR REPLACE` is a local call (app.py:126-348).
  * Here a row is the `UnsafeRow` its model encoder makes (`Node`,
  * `EmbeddingRow`, `EdgeRow`) and a write is a driver-side edit of the
  * table's vector: drop the key, then append the new row; a node delete
  * cascades the same way to its embedding and every incident edge
  * (app.py:81, 105, 118-119; TC-API-04). Each edit re-exposes the table
  * as a DataFrame over a `LocalRelation` of its rows, so no write runs a
  * Spark job. Spark's optimizer evaluates a Filter, Project or Limit over
  * a `LocalRelation` on the driver (`ConvertToLocalRelation`), so point
  * reads, existence probes, BFS levels and id scans run no job either;
  * joins, sorts and aggregates over the tables still do.
  *
  * Readers always see a consistent table: its rows and its frame are
  * swapped together (read-your-writes for the single-writer workload the
  * reference's tests exercise, app.py:79-82). Nothing is checkpointed and
  * nothing is held in the block manager.
  *
  * The catalog is bounded by the driver heap: [[load]] passes each input's
  * size through [[GraphAnalytics.requireDriverFits]] and fails loudly above
  * it. At cluster scale the same contracts map to Delta/Iceberg MERGE and
  * partition-level rewrites.
  */
final class TableCatalog(val spark: SparkSession) {
  import TableCatalog._

  private val nodesT = new Table[Node](spark)
  private val embeddingsT = new Table[EmbeddingRow](spark)
  private val edgesT = new Table[EdgeRow](spark)

  def nodes: DataFrame = nodesT.df
  def embeddings: DataFrame = embeddingsT.df
  def edges: DataFrame = edgesT.df

  /** The held tables' row counts, read under the write lock so the three
    * agree with one another; no Spark job. */
  def stats: Stats = synchronized {
    Stats(nodesT.size, embeddingsT.size, edgesT.size)
  }

  /** Monotonic node-snapshot version — bumped by every node mutation so
    * derived-index caches (e.g. the Engine's BM25 index) can invalidate on
    * write, mirroring the reference's rebuild-on-mutation contract
    * (app.py:772-773) without rebuilding on read. */
  @volatile private var nodesVer: Long = 0L
  def nodesVersion: Long = nodesVer

  /** Monotonic embeddings-snapshot version — the invalidation key for
    * derived vector-index artifacts (the Engine's session-cached trained
    * coarse quantizer), same contract as [[nodesVersion]]. */
  @volatile private var embeddingsVer: Long = 0L
  def embeddingsVersion: Long = embeddingsVer

  /** O1/O2: upsert (INSERT OR REPLACE, app.py:131-134). */
  def upsertNode(n: Node): Unit = synchronized {
    nodesT.upsert(Seq(n))
    nodesVer += 1
  }

  /** O6: upsert embedding (app.py:238-241). */
  def upsertEmbedding(e: EmbeddingRow): Unit = synchronized {
    embeddingsT.upsert(Seq(e))
    embeddingsVer += 1
  }

  /** O8: upsert edge. */
  def upsertEdge(e: EdgeRow): Unit = synchronized {
    edgesT.upsert(Seq(e))
  }

  /** O4: delete node + FK cascade to its embedding and ALL incident edges
    * (app.py:81, 105, 118-119; verified by TC-API-04). */
  def deleteNode(id: String): Unit = synchronized {
    val k = UTF8String.fromString(id)
    nodesT.drop(_.getUTF8String(0) == k)
    embeddingsT.drop(_.getUTF8String(0) == k)
    edgesT.drop(r => r.getUTF8String(EdgeSource) == k || r.getUTF8String(EdgeTarget) == k)
    nodesVer += 1
    embeddingsVer += 1
  }

  def deleteEdge(id: String): Unit = synchronized {
    val k = UTF8String.fromString(id)
    edgesT.drop(_.getUTF8String(0) == k)
  }

  /** Bulk upsert of node rows, last-write-wins within and across batches
    * (an id repeated in `batch` keeps its last row in batch order) — the
    * sink for streaming mutation ingestion (EventStreams.ingestNodes) and
    * any batch ETL append path. The batch is collected to the driver. */
  def upsertNodes(batch: DataFrame): Unit = synchronized {
    nodesT.upsert(batch.as(nodesT.encoder).collect().toSeq)
    nodesVer += 1
  }

  /** Bulk upsert of edge rows (streaming edge ingestion), same contract as
    * [[upsertNodes]]. */
  def upsertEdges(batch: DataFrame): Unit = synchronized {
    edgesT.upsert(batch.as(edgesT.encoder).collect().toSeq)
  }

  /** Bulk load (e.g. from parquet snapshots) — replaces every table. Each
    * input is counted, gated by [[GraphAnalytics.requireDriverFits]], then
    * collected once; an embedding row costs about 4·dim bytes. */
  def load(nodes: DataFrame, embeddings: DataFrame, edges: DataFrame): Unit =
    synchronized {
      val emb = embeddings.agg(count(lit(1)), coalesce(max(size(col("vector"))), lit(0)))
        .head()
      // every input is collected before any table is replaced: a refused
      // input leaves the catalog as it was
      val loaded = (
        nodesT.collectGated(nodes, nodes.count(), NodeRowBytes),
        embeddingsT.collectGated(embeddings, emb.getLong(0),
          EmbeddingRowBytes + 4L * emb.getInt(1)),
        edgesT.collectGated(edges, edges.count(), EdgeRowBytes))
      nodesT.set(loaded._1)
      embeddingsT.set(loaded._2)
      edgesT.set(loaded._3)
      nodesVer += 1
      embeddingsVer += 1
    }

  /** Persist the tables as parquet (the durable form of the store). */
  def save(dir: String): Unit = {
    nodes.write.mode("overwrite").parquet(s"$dir/nodes.parquet")
    embeddings.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    edges.write.mode("overwrite").parquet(s"$dir/edges.parquet")
  }
}

object TableCatalog {
  /** `EdgeRow` field ordinals of the two endpoints (the key is ordinal 0
    * in every table). */
  private val EdgeSource = 1
  private val EdgeTarget = 2

  /** Driver heap per loaded row: an encoded row, its id and timestamps,
    * and the model object it is collected as; an embedding row adds 4
    * bytes a vector element. */
  private val EmbeddingRowBytes = 128L
  private val NodeRowBytes = 512L
  private val EdgeRowBytes = 256L

  /** One table: its rows in the model encoder's layout, keyed by the
    * string at ordinal 0, and the frame over them. Edits run under the
    * catalog's lock (the serializer reuses one buffer); readers take the
    * volatile (rows, frame) pair. */
  private final class Table[T: TypeTag](spark: SparkSession) {
    val encoder: ExpressionEncoder[T] = ExpressionEncoder[T]()
    private val serializer = encoder.createSerializer()

    @volatile private var snap: (Vector[InternalRow], DataFrame) = frame(Vector.empty)

    def df: DataFrame = snap._2

    def size: Long = snap._1.size

    private def frame(rows: Vector[InternalRow]): (Vector[InternalRow], DataFrame) =
      (rows, bridge.ofRows(spark, LocalRelation(DataTypeUtils.toAttributes(encoder.schema), rows)))

    def set(rows: Vector[InternalRow]): Unit = snap = frame(rows)

    def drop(p: InternalRow => Boolean): Unit = set(snap._1.filterNot(p))

    /** Drop every key in `batch`, then append its rows; a repeated key
      * keeps its last row, in batch order. */
    def upsert(batch: Seq[T]): Unit = {
      val keys = mutable.HashSet.empty[UTF8String]
      // copy: the serializer writes every row into the same buffer
      val last = batch.reverseIterator.map(serializer(_).copy())
        .filter(r => keys.add(r.getUTF8String(0))).toVector.reverse
      set(snap._1.filterNot(r => keys(r.getUTF8String(0))) ++ last)
    }

    def collectGated(df: DataFrame, rows: Long, rowBytes: Long): Vector[InternalRow] = {
      GraphAnalytics.requireDriverFits(rows, s"catalog load (${encoder.clsTag.runtimeClass.getSimpleName})",
        rowBytes)
      df.as(encoder).collect().iterator.map(serializer(_).copy()).toVector
    }
  }
}
