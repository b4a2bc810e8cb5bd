package graft.store

import java.util.concurrent.ConcurrentHashMap

import scala.collection.immutable.VectorMap
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
  * (app.py:84-124) as keyed maps held on the driver.
  *
  * The reference keeps its tables in one in-process SQLite file under
  * primary keys (`id`, `node_id`), so a point read or an `INSERT OR
  * REPLACE` is one index lookup (app.py:126-348). Here the nodes and the
  * edges are insertion-ordered persistent maps from their key (ordinal 0)
  * to the `UnsafeRow` their model encoder makes (`Node`, `EdgeRow`), and
  * the edges are also indexed by source and by target. The embeddings are
  * an [[Embeddings]] arena: their vectors in contiguous float blocks that
  * the writes append to, which a vector search scans in one loop. A write
  * is an O(log N) edit of those maps (and O(dim) in the arena): an
  * upserted key is removed, then appended; a node delete cascades the same
  * way to its embedding and every incident edge, found through the two
  * indexes (app.py:81, 105, 118-119; TC-API-04). [[load]] applies the
  * same rule, so a repeated key keeps its last row.
  *
  * The tables and the indexes form one immutable [[Snapshot]], published
  * through one volatile field: a reader that takes [[snapshot]] once sees
  * all three tables as of one write, never a node gone but its edges still
  * there. Writes are serialized on the catalog. Reads are keyed lookups on
  * a snapshot, with no Spark query and no job; the DataFrame of a table is
  * built over the same rows on its first access (a `LocalRelation`) and
  * serves BM25, the quantizer, [[save]], connected components and the
  * streaming sinks. Nothing is checkpointed and nothing is held in the
  * block manager.
  *
  * A write makes a new table for each table it changes and keeps the
  * others, so a value derived from a table ([[Snapshot.ofNodes]],
  * [[Snapshot.ofEmbeddings]], the table's DataFrame) lives exactly as long
  * as that table: the reference's rebuild-on-write contract
  * (app.py:772-773), with the rebuild paid by the first reader.
  *
  * The catalog is bounded by the driver heap: [[load]] passes each input's
  * size through [[GraphAnalytics.requireDriverFits]] and fails loudly above
  * it. At cluster scale the same contracts map to Delta/Iceberg MERGE and
  * partition-level rewrites.
  */
final class TableCatalog(val spark: SparkSession) {
  import TableCatalog._

  // the serializers write every row into one buffer: used under the lock
  private val nodeRow = NodeEncoder.createSerializer()
  private val edgeRow = EdgeEncoder.createSerializer()

  @volatile private var snap: Snapshot = Snapshot.empty(spark)

  /** The current snapshot; a request reads it once. */
  def snapshot: Snapshot = snap

  def nodes: DataFrame = snap.nodes
  def embeddings: DataFrame = snap.embeddings
  def edges: DataFrame = snap.edges

  /** The held tables' row counts, all three of one snapshot; no Spark job. */
  def stats: Stats = snap.stats

  /** O1/O2: upsert (INSERT OR REPLACE, app.py:131-134). */
  def upsertNode(n: Node): Unit = upsertNode(n, None)

  /** O21: upsert a node and, when given, its embedding, published in one
    * snapshot: no reader sees the node without its embedding. */
  def upsertNode(n: Node, embedding: Option[EmbeddingRow]): Unit = synchronized {
    val s = snap.withNodes(Seq(nodeRow(n).copy()))
    snap = embedding.fold(s)(e => s.withEmbeddings(Seq(e)))
  }

  /** O2: replace node `id` and, when given, its embedding by what `f`
    * makes of the node, read and written under the write lock, so no
    * delete or other update lands in between; false if there is no such
    * node. */
  def updateNode(id: String)(f: Node => (Node, Option[EmbeddingRow])): Boolean = synchronized {
    val old = snap.node(id)
    old.foreach { o =>
      val (n, e) = f(o)
      upsertNode(n, e)
    }
    old.nonEmpty
  }

  /** O6: upsert embedding (app.py:238-241). */
  def upsertEmbedding(e: EmbeddingRow): Unit = synchronized {
    snap = snap.withEmbeddings(Seq(e))
  }

  /** O8: upsert edge. */
  def upsertEdge(e: EdgeRow): Unit = synchronized {
    snap = snap.withEdges(Seq(edgeRow(e).copy()))
  }

  /** O22: upsert an edge if both its endpoints are nodes, checked under the
    * write lock, so no node delete lands between the check and the write
    * (the reference's foreign keys, app.py:79-82); false if one is not. */
  def createEdge(e: EdgeRow): Boolean = synchronized {
    val linked = snap.hasNode(e.source) && snap.hasNode(e.target)
    if (linked) snap = snap.withEdges(Seq(edgeRow(e).copy()))
    linked
  }

  /** O8: replace edge `id` by `f(old)` under the write lock, so a node
    * delete cannot remove the edge between the read and the write and
    * leave it dangling; None if there is no such edge. */
  def updateEdge(id: String)(f: EdgeRow => EdgeRow): Option[EdgeRow] = synchronized {
    snap.edge(id).map(f).map { e =>
      snap = snap.withEdges(Seq(edgeRow(e).copy()))
      e
    }
  }

  /** O4: delete node + FK cascade to its embedding and ALL incident edges
    * (app.py:81, 105, 118-119; verified by TC-API-04). Checked and done
    * under the write lock: true if this call removed the node, so of two
    * concurrent deletes of one node exactly one reports it; a missing
    * node changes nothing. */
  def deleteNode(id: String): Boolean = synchronized {
    val found = snap.hasNode(id)
    if (found) snap = snap.withoutNode(UTF8String.fromString(id))
    found
  }

  /** Delete edge `id` under the write lock: true if this call removed it. */
  def deleteEdge(id: String): Boolean = synchronized {
    val found = snap.edge(id).nonEmpty
    if (found) snap = snap.withoutEdge(UTF8String.fromString(id))
    found
  }

  /** Bulk upsert of node rows, last-write-wins within and across batches
    * (an id repeated in `batch` keeps its last row in batch order) — the
    * sink for streaming mutation ingestion (EventStreams.ingestNodes) and
    * any batch ETL append path. The batch is collected to the driver. */
  def upsertNodes(batch: DataFrame): Unit = synchronized {
    snap = snap.withNodes(batch.as(NodeEncoder).collect().toSeq.map(nodeRow(_).copy()))
  }

  /** Bulk upsert of edge rows (streaming edge ingestion), same contract as
    * [[upsertNodes]]. */
  def upsertEdges(batch: DataFrame): Unit = synchronized {
    snap = snap.withEdges(batch.as(EdgeEncoder).collect().toSeq.map(edgeRow(_).copy()))
  }

  /** Bulk load (e.g. from parquet snapshots) — replaces every table, with
    * the upsert rule: a key repeated in an input keeps its last row. Each
    * input is counted, gated by [[GraphAnalytics.requireDriverFits]], then
    * collected once; an embedding row costs about 4·dim bytes more than
    * [[EmbeddingRowBytes]], its vector's floats in the arena. */
  def load(nodes: DataFrame, embeddings: DataFrame, edges: DataFrame): Unit =
    synchronized {
      val emb = embeddings.agg(count(lit(1)), coalesce(max(size(col("vector"))), lit(0)))
        .head()
      // every input is collected before any table is replaced: a refused
      // input leaves the catalog as it was
      val n = collectGated(nodes, nodes.count(), NodeRowBytes, NodeEncoder).map(nodeRow(_).copy())
      val m = collectGated(embeddings, emb.getLong(0), EmbeddingRowBytes + 4L * emb.getInt(1),
        EmbeddingEncoder)
      val e = collectGated(edges, edges.count(), EdgeRowBytes, EdgeEncoder).map(edgeRow(_).copy())
      snap = Snapshot.empty(spark).withNodes(n).withEmbeddings(m).withEdges(e)
    }

  /** Persist the tables as parquet (the durable form of the store). */
  def save(dir: String): Unit = {
    val s = snap
    s.nodes.write.mode("overwrite").parquet(s"$dir/nodes.parquet")
    s.embeddings.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    s.edges.write.mode("overwrite").parquet(s"$dir/edges.parquet")
  }

  private def collectGated[T](df: DataFrame, rows: Long, rowBytes: Long,
                              encoder: ExpressionEncoder[T]): Seq[T] = {
    GraphAnalytics.requireDriverFits(rows,
      s"catalog load (${encoder.clsTag.runtimeClass.getSimpleName})", rowBytes)
    df.as(encoder).collect().toSeq
  }
}

/** One immutable state of the catalog: the three keyed tables and the
  * edges' source and target indexes. Every read a serving request makes is
  * a lookup here, or for a vector search a scan of the embeddings'
  * arena ([[Embeddings]]); the DataFrames are built on first use. A lookup
  * of a null id finds nothing, as SQL's `id = null` matches no row. */
final class Snapshot private (
    spark: SparkSession,
    nodeRows: Snapshot.Table,
    embeddingRows: Embeddings,
    edgeRows: Snapshot.Table,
    bySource: Snapshot.Index,
    byTarget: Snapshot.Index) {
  import Snapshot._

  def nodes: DataFrame = frame(spark, TableCatalog.NodeEncoder, nodeRows)(nodeRows.rows.values.toVector)
  def embeddings: DataFrame =
    frame(spark, TableCatalog.EmbeddingEncoder, embeddingRows)(embeddingRows.internalRows)
  def edges: DataFrame = frame(spark, TableCatalog.EdgeEncoder, edgeRows)(edgeRows.rows.values.toVector)

  /** The value `name` derived from the nodes (embeddings) table: built by
    * the first caller, then shared by every snapshot that holds the same
    * table, until a write replaces it. A name must say everything the
    * build reads besides the table. */
  def ofNodes[T](name: String)(build: => T): T = nodeRows.derive(name)(build)
  def ofEmbeddings[T](name: String)(build: => T): T = embeddingRows.derive(name)(build)

  def stats: Stats = Stats(nodeRows.rows.size, embeddingRows.size, edgeRows.rows.size)

  def hasNode(id: String): Boolean = nodeRows.get(id).nonEmpty
  def node(id: String): Option[Node] = nodeRows.get(id).map(decodeNode)
  def embedding(nodeId: String): Option[EmbeddingRow] = embeddingRows.get(nodeId)
  def edge(id: String): Option[EdgeRow] = edgeRows.get(id).map(decodeEdge)

  /** Every node id, in row order. */
  def nodeIds: Seq[String] = nodeRows.rows.keysIterator.map(k => str(k)).toSeq
  def allNodes: Iterator[Node] = nodeRows.rows.valuesIterator.map(decodeNode)

  /** The edges whose source (target) is `id`, in no particular order. */
  def outEdges(id: String): Iterable[EdgeRow] = incident(bySource, id)
  def inEdges(id: String): Iterable[EdgeRow] = incident(byTarget, id)

  private def incident(ix: Index, id: String): Iterable[EdgeRow] =
    if (id == null) Nil
    else ix.getOrElse(UTF8String.fromString(id), Set.empty[UTF8String]).toSeq
      .map(e => decodeEdge(edgeRows.rows(e)))

  /** The score of `q` for each embedding of `q`'s dimension that has a
    * vector — all of them, or those keyed by `ids` — scored over the
    * arena by [[Embeddings.scores]], bit-identical to `vec.dot`. A null
    * node_id stays: it ranks nowhere but counts in hybrid's min/max. */
  def vectorScores(q: Array[Float], ids: Option[Seq[String]] = None): Scored =
    embeddingRows.scores(q, ids)

  /** The embedding arena's slots this snapshot reads, live and dead: it
    * grows with each embedding write and drops when the arena compacts. */
  private[graft] def embeddingSlots: Int = embeddingRows.slots

  private def copy(nodeRows: Table = nodeRows, embeddingRows: Embeddings = embeddingRows,
                   edgeRows: Table = edgeRows, bySource: Index = bySource,
                   byTarget: Index = byTarget): Snapshot =
    new Snapshot(spark, nodeRows, embeddingRows, edgeRows, bySource, byTarget)

  private[store] def withNodes(batch: Seq[InternalRow]): Snapshot =
    copy(nodeRows = nodeRows.upserted(batch))

  private[store] def withEmbeddings(batch: Seq[EmbeddingRow]): Snapshot =
    copy(embeddingRows = embeddingRows.upserted(batch))

  private[store] def withEdges(batch: Seq[InternalRow]): Snapshot = {
    val next = edgeRows.upserted(batch)
    val keys = batch.map(_.getUTF8String(0)).distinct
    // unindex the rows the batch replaces, index the rows it keeps
    val (src, tgt) = unindexed(keys.flatMap(edgeRows.rows.get))
    copy(edgeRows = next,
      bySource = keys.foldLeft(src)((ix, k) => ix.add(next.rows(k).getUTF8String(EdgeSource), k)),
      byTarget = keys.foldLeft(tgt)((ix, k) => ix.add(next.rows(k).getUTF8String(EdgeTarget), k)))
  }

  private[store] def withoutEdge(id: UTF8String): Snapshot =
    edgeRows.rows.get(id).fold(this) { r =>
      val (src, tgt) = unindexed(Seq(r))
      copy(edgeRows = edgeRows.removed(Seq(id)), bySource = src, byTarget = tgt)
    }

  private[store] def withoutNode(id: UTF8String): Snapshot = {
    val edges = (bySource.getOrElse(id, Set.empty) ++ byTarget.getOrElse(id, Set.empty)).toSeq
    val (src, tgt) = unindexed(edges.map(edgeRows.rows))
    copy(nodeRows = nodeRows.removed(Seq(id)), embeddingRows = embeddingRows.removed(Seq(id)),
      edgeRows = edgeRows.removed(edges), bySource = src, byTarget = tgt)
  }

  /** The two indexes without the edges `rows`. */
  private def unindexed(rows: Seq[InternalRow]): (Index, Index) =
    rows.foldLeft((bySource, byTarget)) { case ((s, t), r) =>
      val k = r.getUTF8String(0)
      (s.remove(r.getUTF8String(EdgeSource), k), t.remove(r.getUTF8String(EdgeTarget), k))
    }
}

object Snapshot {
  /** Edge ids by endpoint id. */
  type Index = Map[UTF8String, Set[UTF8String]]

  private implicit class IndexOps(private val ix: Index) extends AnyVal {
    def add(k: UTF8String, e: UTF8String): Index = ix.updated(k, ix.getOrElse(k, Set.empty) + e)
    def remove(k: UTF8String, e: UTF8String): Index = {
      val rest = ix.getOrElse(k, Set.empty) - e
      if (rest.isEmpty) ix.removed(k) else ix.updated(k, rest)
    }
  }

  /** One table: its rows by the key at ordinal 0, in insertion order.
    * `stale` counts the removals since the map was last rebuilt: a
    * removal leaves a tombstone slot in a `VectorMap`, so once they
    * outnumber the rows the map is rebuilt, which keeps a table's memory
    * and its scans proportional to its rows.
    *
    * A table also holds the values derived from it ([[Derives]]). */
  private[store] final case class Table(rows: VectorMap[UTF8String, InternalRow], stale: Int)
      extends Derives {
    def get(id: String): Option[InternalRow] =
      if (id == null) None else rows.get(UTF8String.fromString(id))

    /** Every key of `batch` removed, then the batch's last row per key
      * appended, in the order of those last rows. */
    def upserted(batch: Seq[InternalRow]): Table = {
      val last = mutable.LinkedHashMap.empty[UTF8String, InternalRow]
      batch.foreach { r =>
        val k = r.getUTF8String(0)
        last.remove(k)
        last(k) = r
      }
      val replaced = last.keysIterator.count(rows.contains)
      Table(rows.removedAll(last.keys) ++ last, stale + replaced).compacted
    }

    def removed(keys: Seq[UTF8String]): Table =
      Table(rows.removedAll(keys), stale + keys.count(rows.contains)).compacted

    private def compacted: Table =
      if (stale <= rows.size) this
      else Table((VectorMap.newBuilder[UTF8String, InternalRow] ++= rows).result(), 0)
  }

  /** The values derived from one table, by name ([[derive]]); every write
    * makes a new table, so they go with the table they were derived from. */
  private[store] trait Derives {
    private val derived = new ConcurrentHashMap[String, Derived]()

    /** The value `name`, built on the first call, then memoized: one build
      * per name even under concurrent callers, and a build that throws
      * leaves the name unbuilt, so the next call retries. */
    def derive[T](name: String)(build: => T): T =
      derived.computeIfAbsent(name, _ => new Derived(() => build)).value.asInstanceOf[T]
  }

  /** One derived value: the lazy val runs `build` once, under the slot's
    * lock, and stays unset if it throws. */
  private final class Derived(build: () => Any) {
    lazy val value: Any = build()
  }

  /** A snapshot of three new empty tables: a table carries what was derived
    * from it (a DataFrame of one session among them), so no two catalogs
    * share one. */
  private[store] def empty(spark: SparkSession): Snapshot = {
    def table = Table(VectorMap.empty, 0)
    new Snapshot(spark, table, Embeddings.empty, table, Map.empty, Map.empty)
  }

  // field ordinals (the key is ordinal 0 in every table)
  private val EdgeSource = 1
  private val EdgeTarget = 2

  private def frame(spark: SparkSession, encoder: ExpressionEncoder[_], t: Derives)(
                    rows: => Seq[InternalRow]): DataFrame =
    t.derive("frame") {
      bridge.ofRows(spark, LocalRelation(DataTypeUtils.toAttributes(encoder.schema), rows))
    }

  private[store] def str(s: UTF8String): String = if (s == null) null else s.toString
  private def str(r: InternalRow, i: Int): String = str(r.getUTF8String(i))

  private def decodeNode(r: InternalRow): Node = {
    val metadata =
      if (r.isNullAt(2)) null
      else {
        val m = r.getMap(2)
        (0 until m.numElements()).map { i =>
          str(m.keyArray().getUTF8String(i)) -> str(m.valueArray().getUTF8String(i))
        }.toMap
      }
    Node(str(r, 0), str(r, 1), metadata, str(r, 3), str(r, 4))
  }

  private def decodeEdge(r: InternalRow): EdgeRow =
    EdgeRow(str(r, 0), str(r, EdgeSource), str(r, EdgeTarget), str(r, 3), r.getDouble(4), str(r, 5))
}

object TableCatalog {
  private[store] val NodeEncoder: ExpressionEncoder[Node] = encoder[Node]
  private[store] val EmbeddingEncoder: ExpressionEncoder[EmbeddingRow] = encoder[EmbeddingRow]
  private[store] val EdgeEncoder: ExpressionEncoder[EdgeRow] = encoder[EdgeRow]

  private def encoder[T: TypeTag]: ExpressionEncoder[T] = ExpressionEncoder[T]()

  /** Driver heap a loaded row keeps: its encoded row and its map entry,
    * and for an edge its two index entries; an embedding row adds 4 bytes
    * a vector element. Measured after GC on a 100k-node / 500k-edge
    * catalog of 12-word texts and 256-dim embeddings (434, 1,294 and 422
    * bytes a node, embedding and edge row), rounded up. */
  private val NodeRowBytes = 448L
  private val EmbeddingRowBytes = 288L
  private val EdgeRowBytes = 448L
}
