package graft.tools

import scala.util.Random

import graft.api.Engine
import graft.functions.{vec, HashEmbed}
import graft.model.{EdgeRow, Node}
import graft.store.TableCatalog
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Serving latency against corpus size, on direct Engine calls (no HTTP).
  * `sbt "runMain graft.tools.ServeScale [nodes...]"` (default 2000 20000)
  * loads, for each size n, a fresh catalog of n random nodes with 12-word
  * texts, their 256-dim HashEmbed embeddings and 5n random edges, then
  * prints one table row: for each request type the median of 9 calls
  * after 2 warm-ups, in ms (one decimal below 10 ms). Every call draws
  * new random ids and texts, so no two calls are the same request; the
  * writes change rows and stay, and the node deletes run last. */
object ServeScale {
  private val WarmUps = 2
  private val Timed = 9
  private val Vocabulary = 1000
  private val Ts = "2024-01-01T00:00:00Z"

  def main(args: Array[String]): Unit = {
    val sizes = if (args.isEmpty) Seq(2000, 20000) else args.toSeq.map(_.toInt)
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-serve-scale")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    println("| nodes / edges | getNode | graph d=2 | vector | hybrid | createNode | createEdge " +
      "| updateNode | deleteNode |")
    println("|---|---|---|---|---|---|---|---|---|")
    sizes.foreach { n =>
      val rnd = new Random(n)
      def id() = s"n-${rnd.nextInt(n)}"
      def text(words: Int) = Seq.fill(words)(s"w${rnd.nextInt(Vocabulary)}").mkString(" ")
      val engine = new Engine(load(spark, n, rnd, text), HashEmbed.DefaultDim)
      val medians = Seq[() => Any](
        () => engine.getNode(id()),
        () => engine.graphSearch(id(), depth = 2),
        () => engine.vectorSearch(text(4)),
        () => engine.hybridSearch(text(4), graphStartId = Some(id())),
        () => engine.createNode(text(12), Map("type" -> "t0")),
        () => engine.createEdge(id(), id(), "e0", 1.0),
        () => engine.updateNode(id(), text = Some(text(12)), regenEmbedding = true),
        () => engine.deleteNode(id())
      ).map(medianMs)
      println(s"| $n / ${5 * n} | " + medians.map(ms => if (ms < 10) f"$ms%.1f" else f"$ms%.0f").mkString(" | ") + " |")
    }
    spark.stop()
  }

  /** The median wall time in ms of `Timed` calls, after `WarmUps`. */
  private def medianMs(call: () => Any): Double = {
    (1 to WarmUps).foreach(_ => call())
    val ms = (1 to Timed).map { _ =>
      val t0 = System.nanoTime()
      call()
      (System.nanoTime() - t0) / 1e6
    }
    ms.sorted.apply(Timed / 2)
  }

  /** A catalog of `n` nodes (type t0…t3), their embeddings and 5n edges. */
  private def load(spark: SparkSession, n: Int, rnd: Random,
                   text: Int => String): TableCatalog = {
    import spark.implicits._
    val nodes = spark.createDataset(spark.sparkContext.parallelize(
      (0 until n).map(i => Node(s"n-$i", text(12), Map("type" -> s"t${i % 4}"), Ts, Ts)), 4))
      .toDF()
    val edges = spark.createDataset(spark.sparkContext.parallelize(
      (0 until 5 * n).map(i => EdgeRow(s"e-$i", s"n-${rnd.nextInt(n)}", s"n-${rnd.nextInt(n)}",
        s"e${rnd.nextInt(3)}", 0.5 + rnd.nextInt(4), Ts)), 4)).toDF()
    val embeddings = nodes.select($"id".as("node_id"),
      vec.hashEmbed($"text", HashEmbed.DefaultDim).as("vector"), lit(HashEmbed.DefaultDim).as("dim"))
    val catalog = new TableCatalog(spark)
    catalog.load(nodes, embeddings, edges)
    catalog
  }
}
