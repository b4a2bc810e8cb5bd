package graft.store

import java.util.Arrays

import scala.collection.immutable.{ArraySeq, HashMap}
import scala.collection.mutable

import graft.model.EmbeddingRow
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData, UnsafeProjection}
import org.apache.spark.unsafe.types.UTF8String

/** The embeddings table of one catalog snapshot, held as an arena: each
  * row the table ever took is a slot, numbered in the order it was
  * written, and a slot's vector is stored once, in float blocks that the
  * writes append to and that every later table of the catalog shares. A
  * table reads only the slots below its own `slots`, which no later write
  * touches, so a reader holding an old snapshot never sees a later write.
  *
  * Each table has its own live-slot bitmap (copied by each write, n/64
  * longs) and key → slot map. An upsert appends a slot and clears the bit
  * of the slot its key had, so the live slots in slot order are the rows
  * in insertion order, the order of the other tables; a delete clears
  * bits. Once dead slots outnumber live ones the live rows are copied
  * into a fresh arena, the rule [[Snapshot.Table]] compacts by, so a write
  * costs O(dim) amortized. Blocks grow geometrically up to a fixed size,
  * so the arena grows without copying old rows and no block nears the
  * 2³¹ array limit.
  *
  * [[scores]] scores the live slots of a query's dimension in one loop
  * over the blocks. */
final class Embeddings private (
    private val arena: Embeddings.Arena,
    cols: Embeddings.Columns,
    val slots: Int,
    private val live: Array[Long],
    private val keySlot: HashMap[UTF8String, Int],
    val size: Int) extends Snapshot.Derives {
  import Embeddings._

  /** The slot of key `k`, a null key included, or -1. */
  private def slotOf(k: UTF8String): Int = keySlot.getOrElse(k, -1)

  /** The row keyed `id`; a null id finds nothing. */
  def get(id: String): Option[EmbeddingRow] =
    if (id == null) None
    else Some(slotOf(UTF8String.fromString(id))).filter(_ >= 0).map { s =>
      EmbeddingRow(Snapshot.str(cols.key(s)), Option(floats(s)).map(ArraySeq.unsafeWrapArray).orNull,
        cols.dim(s))
    }

  /** Slot `s`'s vector, copied; null for a null vector. */
  private def floats(s: Int): Array[Float] = {
    val n = cols.len(s)
    if (n < 0) null
    else if (n == 0) Array.emptyFloatArray
    else Arrays.copyOfRange(cols.block(s), cols.offset(s), cols.offset(s) + n)
  }

  /** `f` of each live slot, in slot order: the table's rows in insertion
    * order. */
  private def foreachLive(f: Int => Unit): Unit = {
    var w = 0
    while (w < live.length) {
      var bits = live(w)
      while (bits != 0) {
        f((w << 6) + java.lang.Long.numberOfTrailingZeros(bits))
        bits &= bits - 1
      }
      w += 1
    }
  }

  /** The rows as the encoder of [[EmbeddingRow]] writes them, in row
    * order: the rows of the table's DataFrame. */
  private[store] def internalRows: Seq[InternalRow] = {
    val encode = UnsafeProjection.create(TableCatalog.EmbeddingEncoder.schema)
    val rows = Vector.newBuilder[InternalRow]
    foreachLive { s =>
      val v = floats(s)
      rows += encode(new GenericInternalRow(Array[Any](cols.key(s),
        if (v == null) null else UnsafeArrayData.fromPrimitiveArray(v), cols.dim(s)))).copy()
    }
    rows.result()
  }

  /** The score of `q` for each row of `q`'s dimension that has a vector
    * — all of them, or those keyed by `ids` — as `DotProductD.dot`
    * computes it (the kernel `vec.dot` evaluates): a strict left-to-right
    * double sum of `x(j).toDouble * q(j).toDouble` over the common prefix,
    * so every score is bit-identical to the projection's. Two rows are
    * scored side by side, each in its own accumulator. A null key keeps
    * its score. */
  def scores(q: Array[Float], ids: Option[Seq[String]] = None): Scored = {
    val ql = q.length
    def eligible(s: Int) = cols.dim(s) == ql && cols.len(s) >= 0
    val slot = ids match {
      case None =>
        val out = new Array[Int](size)
        var m = 0
        foreachLive(s => if (eligible(s)) { out(m) = s; m += 1 })
        Arrays.copyOf(out, m)
      case Some(only) =>
        only.iterator.filter(_ != null).map(id => slotOf(UTF8String.fromString(id)))
          .filter(s => s >= 0 && eligible(s)).toArray.distinct.sorted
    }
    val m = slot.length
    val qd = q.map(_.toDouble)
    val score = new Array[Double](m)
    var i = 0
    while (i < m) {
      val a = slot(i)
      val n = math.min(cols.len(a), ql)
      if (i + 1 < m && math.min(cols.len(slot(i + 1)), ql) == n) {
        val b = slot(i + 1)
        val xa = cols.block(a)
        val oa = cols.offset(a)
        val xb = cols.block(b)
        val ob = cols.offset(b)
        var sa, sb = 0.0
        var j = 0
        while (j < n) {
          val y = qd(j)
          sa += xa(oa + j).toDouble * y
          sb += xb(ob + j).toDouble * y
          j += 1
        }
        score(i) = sa
        score(i + 1) = sb
        i += 2
      } else {
        val x = cols.block(a)
        val o = cols.offset(a)
        var s = 0.0
        var j = 0
        while (j < n) { s += x(o + j).toDouble * qd(j); j += 1 }
        score(i) = s
        i += 1
      }
    }
    new SlotScores(slot, score)
  }

  /** Row i is slot `slot(i)`; the slots ascend. */
  private final class SlotScores(slot: Array[Int], scores: Array[Double]) extends Scored {
    def size: Int = slot.length
    def key(i: Int): UTF8String = cols.key(slot(i))
    def score(i: Int): Double = scores(i)
    def row(k: UTF8String): Int = {
      val s = slotOf(k)
      if (s < 0) -1 else math.max(-1, Arrays.binarySearch(slot, s))
    }
  }

  /** The table with `batch` upserted: every key of the batch removed, then
    * the batch's last row per key appended, in the order of those last
    * rows. */
  private[store] def upserted(batch: Seq[EmbeddingRow]): Embeddings = {
    val last = mutable.LinkedHashMap.empty[UTF8String, EmbeddingRow]
    batch.foreach { e =>
      val k = UTF8String.fromString(e.node_id)
      last.remove(k)
      last(k) = e
    }
    // the arena this table reads to its end, or a copy when a write that
    // failed has appended past it
    val base = if (arena.slots == slots) this else compact
    val a = base.arena
    val bits = Arrays.copyOf(base.live, words(base.slots + last.size))
    var map = base.keySlot
    var n = base.size
    last.foreach { case (k, e) =>
      map.get(k) match {
        case Some(old) => clear(bits, old)
        case None => n += 1
      }
      val s = a.append(k, e.vector, e.dim)
      bits(s >> 6) |= 1L << s
      map = map.updated(k, s)
    }
    new Embeddings(a, a.cols, a.slots, bits, map, n).compacted
  }

  /** The table without the rows keyed `keys`. */
  private[store] def removed(keys: Seq[UTF8String]): Embeddings = {
    val gone = keys.distinct.flatMap(keySlot.get)
    val bits = if (gone.isEmpty) live else Arrays.copyOf(live, live.length)
    gone.foreach(clear(bits, _))
    new Embeddings(arena, cols, slots, bits, keySlot.removedAll(keys), size - gone.size).compacted
  }

  private def compacted: Embeddings = if (slots - size <= size) this else compact

  /** The live rows, in order, copied into a fresh arena. */
  private def compact: Embeddings = {
    val a = new Arena
    val bits = new Array[Long](words(size))
    var map = HashMap.empty[UTF8String, Int]
    foreachLive { s =>
      val t = a.append(cols.key(s), cols.block(s), cols.offset(s), cols.len(s), cols.dim(s))
      bits(t >> 6) |= 1L << t
      map = map.updated(cols.key(s), t)
    }
    new Embeddings(a, a.cols, a.slots, bits, map, size)
  }
}

object Embeddings {
  /** Floats in the first block; each new block holds as many as the
    * blocks before it, up to [[MaxBlockFloats]] (4 MiB), or one row if
    * that is more. */
  private[graft] val MinBlockFloats = 4096
  private val MaxBlockFloats = 1 << 20

  private[store] def empty: Embeddings = {
    val a = new Arena
    new Embeddings(a, a.cols, 0, Array.emptyLongArray, HashMap.empty, 0)
  }

  private def words(slots: Int): Int = (slots + 63) >> 6
  private def clear(bits: Array[Long], s: Int): Unit = bits(s >> 6) &= ~(1L << s)

  /** The arena's storage: the float blocks and, per slot, its key, the
    * block and offset of its vector, the vector's length (-1 for a null
    * vector) and the `dim` column. The writer appends in place, past
    * every table's `slots`, and copies an array only to grow it; a table
    * keeps the arrays it was made with. */
  private final case class Columns(blocks: Array[Array[Float]], key: Array[UTF8String],
                                   at: Array[Long], len: Array[Int], dim: Array[Int]) {
    def block(s: Int): Array[Float] = blocks((at(s) >>> 32).toInt)
    def offset(s: Int): Int = at(s).toInt
  }

  /** The writer's side of one arena: used only under the catalog's lock,
    * and only by the latest table of the arena. */
  private final class Arena {
    var cols: Columns = Columns(new Array(4), new Array(16), new Array(16), new Array(16), new Array(16))
    var slots = 0
    private var blocks = 0 // blocks in use
    private var fill = 0 // floats used in the last block
    private var floats = 0L // floats stored

    /** A new slot keyed `key`, its vector `vector` (null: a null vector). */
    def append(key: UTF8String, vector: Seq[Float], dim: Int): Int = {
      val s = newSlot(key, if (vector == null) -1 else vector.length, dim)
      if (cols.len(s) > 0) vector.copyToArray(cols.block(s), cols.offset(s), cols.len(s))
      s
    }

    /** A new slot keyed `key`, its vector `len` floats of `src` from
      * `from` (len -1: a null vector). */
    def append(key: UTF8String, src: Array[Float], from: Int, len: Int, dim: Int): Int = {
      val s = newSlot(key, len, dim)
      if (len > 0) System.arraycopy(src, from, cols.block(s), cols.offset(s), len)
      s
    }

    private def newSlot(key: UTF8String, len: Int, dim: Int): Int = {
      if (slots == cols.key.length) {
        val n = 2 * slots
        cols = cols.copy(key = Arrays.copyOf(cols.key, n), at = Arrays.copyOf(cols.at, n),
          len = Arrays.copyOf(cols.len, n), dim = Arrays.copyOf(cols.dim, n))
      }
      val at = if (len <= 0) 0L else place(len)
      cols.key(slots) = key
      cols.at(slots) = at
      cols.len(slots) = len
      cols.dim(slots) = dim
      slots += 1
      slots - 1
    }

    /** Room for `n` floats: (block << 32) | offset. */
    private def place(n: Int): Long = {
      if (blocks == 0 || fill + n > cols.blocks(blocks - 1).length) {
        if (blocks == cols.blocks.length) cols = cols.copy(blocks = Arrays.copyOf(cols.blocks, 2 * blocks))
        cols.blocks(blocks) =
          new Array[Float](math.max(n.toLong, math.min(MaxBlockFloats, math.max(MinBlockFloats, floats))).toInt)
        blocks += 1
        fill = 0
      }
      val at = ((blocks - 1).toLong << 32) | fill
      fill += n
      floats += n
      at
    }
  }
}

/** Scores of keyed rows: row i, for i below `size`, is keyed `key(i)` (a
  * null key included) and scored `score(i)`; `row(k)` is the row keyed
  * `k`, or -1. The keys are distinct. */
abstract class Scored {
  def size: Int
  def key(i: Int): UTF8String
  def score(i: Int): Double
  def row(k: UTF8String): Int
}
