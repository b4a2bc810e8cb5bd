package graft.perfbench

import java.util.SplittableRandom

import graft.{QueryDef, SparkEntry}
import graft.rel._
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** The declared-query registry as a batch: a fixed slice with one query
  * from each of the larger `rel.*Queries` modules, in one session, each
  * query materialised through the noop sink as `graft.Bench` does. The seed
  * permutes the order of the warm passes. */
final class Batch(spark: SparkSession, cfg: Config) {
  import Batch._

  val result = new RunResult

  def run(): RunResult = {
    val dir = cfg.dataDir
    val expected = ExpectedRows.load(cfg.expectedRows)
    val slice = Batch.slice
    result.env("queries_per_block") = slice.size
    result.env("slice") = slice.map(_._2.name)

    // set-up is one cold pass over the slice, checked like the timed ones:
    // it reads every fixture, pays construction, code generation and the
    // session-shared derivations once, as graft.Bench's untimed warm-ups
    // do. The cold pass runs in name order, not the seed's: the order of
    // first runs shapes the JIT's profiles, and with it the speed of every
    // later pass. [[WarmUpPasses]] warm passes in the seed's order follow,
    // also part of set-up: pass times still fall over the first warm
    // passes, and a timed pass in that stretch moves with machine noise by
    // more than this benchmark's bounds. Timed passes then measure the
    // warm registry cost, which is what graft.BenchOne reports.
    val w0 = System.nanoTime()
    pass(slice, dir, expected, None)
    val coldS = (System.nanoTime() - w0) / 1e9
    phase = "warm_up"
    val w1 = System.nanoTime()
    val order = Batch.order(slice, cfg.seed)
    (1 to WarmUpPasses).foreach(_ => pass(order, dir, expected, None))
    val warmS = (System.nanoTime() - w1) / 1e9
    result.setupS = cfg.sessionS + coldS + warmS
    result.env("setup_parts") = Map("session_s" -> cfg.sessionS, "cold_pass_s" -> coldS,
      "warm_up_passes_s" -> warmS)
    result.samples.clear()

    // a traced run times the same kind of warm pass with spans and Spark
    // listeners on
    val traced = if (cfg.trace) Some((new Tracer, new SparkProbe(spark))) else None
    traced.foreach(_._2.attach())
    phase = if (cfg.trace) "traced" else "timed"
    val blocks = timedPasses(order, dir, expected, traced)
    result.metric("total_s", Stats.median(result.blockS.toSeq), "s")
    result.latencyMetrics()
    result.env("blocks") = blocks

    traced.foreach { case (t, p) =>
      val checkpointMb =
        spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
      p.attribute(t.spans.toSeq)
      val spans = t.spans.toSeq
      val construct = spans.filter(_.name == "rel.construct")
      val execute = spans.filter(_.name == "rel.execute")
      val per = blocks.toDouble
      result.layer("rel.construct_s", construct.map(_.durationMs).sum / 1000 / per, "s")
      result.layer("rel.execute_s", execute.map(_.durationMs).sum / 1000 / per, "s")
      result.layer("rel.eager_jobs", construct.map(_.counts.getOrElse("jobs", 0.0)).sum / per, "count")
      val moduleOf = spans.filter(_.name.startsWith("query.")).map(s =>
        s.request -> s.name.stripPrefix("query.")).toMap
      SampledModules.foreach { m =>
        val mine = (construct ++ execute).filter(s => moduleOf.get(s.request).contains(m))
        result.layer(s"rel.$m.s", mine.map(_.durationMs).sum / 1000 / per, "s")
        result.layer(s"rel.$m.jobs", mine.map(_.counts.getOrElse("jobs", 0.0)).sum / per, "count")
      }
      result.layer("store.checkpoint_mb", checkpointMb, "MB")
      RunResult.sparkLayers(result, construct ++ execute, blocks,
        spark.sparkContext.defaultParallelism)
      p.detach()
      result.spans = spans
    }
    result
  }

  /** Which part of the run a query belongs to, kept in its record. */
  private var phase = "cold"

  /** One pass over the slice; returns its time in seconds. No System.gc()
    * between queries, unlike graft.Bench's cadence over the whole registry:
    * a run holds a few dozen queries' checkpoint blocks at most, and a full
    * GC discards JIT profiles, so it would slow whichever queries the seed
    * puts after it. */
  private def pass(slice: Seq[(String, QueryDef)], dir: String, expected: Map[String, Long],
                   traced: Option[(Tracer, SparkProbe)]): Double =
    slice.map { case (module, q) =>
      val failedBefore = result.failed
      val s = runQuery(module, q, dir, expected, traced.map(_._1))
      // a failed query is counted, not replayed
      if (result.failed == failedBefore) traced.foreach { case (t, p) => replays(q, dir, t, p) }
      s
    }.sum

  /** Queries replayed in the traced phase, to alternate replay order. */
  private var tracedQueries = 0

  /** Replay a traced query four times, warm: twice traced and twice with
    * the probe paused, in the order ABBA, flipping to BAAB from one query
    * to the next so neither side is the warmer one. Their times give the
    * tracing overhead. */
  private def replays(q: QueryDef, dir: String, t: Tracer, p: SparkProbe): Unit = {
    def once(): Unit = q.run(spark, dir).write.format("noop").mode("overwrite").save()
    var traced = 0.0
    var untraced = 0.0
    val calls = Seq[() => Unit](
      () => traced += RunResult.timeMs(t.span("trace.replay")(once())),
      () => untraced += p.paused(RunResult.timeMs(once())))
    val ab = if (tracedQueries % 2 == 0) calls else calls.reverse
    (ab ++ ab.reverse).foreach(_())
    tracedQueries += 1
    result.replayPairs += ((traced, untraced))
  }

  /** Whole passes until `cfg.seconds` have passed (at least one). Every
    * warm pass runs in the same order: a pass generates more classes than
    * Spark's code cache holds, so in a fixed cycle each query compiles its
    * code every pass, while an order that changed from pass to pass would
    * let a query find its classes cached or not by chance. */
  private def timedPasses(slice: Seq[(String, QueryDef)], dir: String,
                          expected: Map[String, Long], traced: Option[(Tracer, SparkProbe)]): Int = {
    val deadline = System.nanoTime() + (cfg.seconds * 1e9).toLong
    var blocks = 0
    while (blocks == 0 || System.nanoTime() < deadline) {
      result.blockS += pass(slice, dir, expected, traced)
      blocks += 1
    }
    blocks
  }

  /** Build and run one query; returns its time in seconds (construction,
    * including eager jobs, plus execution). The row count comes from an
    * observed metric of the executed plan — no extra job — and is checked
    * after the clock stops. */
  private[perfbench] def runQuery(module: String, q: QueryDef, dir: String,
                       expected: Map[String, Long], tracer: Option[Tracer]): Double = {
    tracer.foreach(_.newRequest())
    def span[A](name: String)(f: => A): A = tracer.fold(f)(_.span(name)(f))
    val obs = Observation(s"rows_${q.name}")
    var constructS = 0.0
    var executeS = 0.0
    val error = try {
      span(s"query.$module") {
        val t0 = System.nanoTime()
        val df = span("rel.construct")(q.run(spark, dir))
        val t1 = System.nanoTime()
        span("rel.execute")(df.observe(obs, count(lit(1)).as("rows"))
          .write.format("noop").mode("overwrite").save())
        constructS = (t1 - t0) / 1e9
        executeS = (System.nanoTime() - t1) / 1e9
      }
      val rows = obs.get("rows").asInstanceOf[Long]
      expected.get(q.name) match {
        case None => Some(s"${q.name}: no expected row count")
        case Some(want) if want != rows => Some(s"${q.name}: $rows rows, want $want")
        case _ => None
      }
    } catch { case e: Throwable => Some(s"${q.name} failed: $e") }
    val s = constructS + executeS
    result.record("query", s * 1000, error, Map("phase" -> phase, "query" -> q.name, "module" -> module,
      "construct_ms" -> constructS * 1000, "execute_ms" -> executeS * 1000))
    s
  }
}

object Batch {
  /** Every `rel.*Queries` module, by the name its metrics carry. */
  val Modules: Seq[(String, Seq[QueryDef])] = Seq(
    "RelQueries" -> RelQueries.all, "VectorQueries" -> VectorQueries.all,
    "GraphQueries" -> GraphQueries.all, "GraphXQueries" -> GraphXQueries.all,
    "PipelineQueries" -> PipelineQueries.all, "StreamQueries" -> StreamQueries.all,
    "ExtQueries" -> ExtQueries.all, "ScaleQueries" -> ScaleQueries.all,
    "TpchQueries" -> TpchQueries.all, "SelectionQueries" -> SelectionQueries.all,
    "AnalyticQueries" -> AnalyticQueries.all, "QualityQueries" -> QualityQueries.all,
    "SpatialQueries" -> SpatialQueries.all, "TemporalQueries" -> TemporalQueries.all,
    "EvalQueries" -> EvalQueries.all, "InferenceQueries" -> InferenceQueries.all)

  /** Modules in the slice: every module with at least [[MinModuleSize]]
    * declared queries (they hold 301 of the 347), plus GraphXQueries, whose
    * iterative loops are a named optimisation target. A pass over the whole
    * registry takes about six minutes on four cores, and one query from each
    * of the 16 modules over 50 s cold, more than a run may take; this fixed
    * sample fits one run. The other modules are not measured. */
  val MinModuleSize = 10
  val SampledModules: Seq[String] = Modules.collect {
    case (m, qs) if qs.size >= MinModuleSize || m == "GraphXQueries" => m
  }

  /** Untimed warm passes after the cold pass, counted in `setup_s`. */
  val WarmUpPasses = 1

  /** The first query by name of each sampled module, in name order. */
  lazy val slice: IndexedSeq[(String, QueryDef)] = {
    val registered = SparkEntry.registry.map(_.name).toSet
    val listed = Modules.flatMap(_._2.map(_.name)).toSet
    require(registered == listed,
      s"rel modules and SparkEntry.registry disagree: ${(registered diff listed) ++ (listed diff registered)}")
    Modules.collect { case (m, qs) if SampledModules.contains(m) => m -> qs.minBy(_.name) }
      .sortBy(_._2.name).toIndexedSeq
  }

  /** The slice in the warm passes' order for `seed`: a Fisher-Yates
    * shuffle, the same for the same seed. */
  def order(slice: Seq[(String, QueryDef)], seed: Long): IndexedSeq[(String, QueryDef)] = {
    val picked = slice.toArray
    val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
    var i = picked.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1); val t = picked(i); picked(i) = picked(j); picked(j) = t; i -= 1
    }
    picked.toIndexedSeq
  }
}

/** Row counts each query must produce on the vendored fixture. */
object ExpectedRows {
  def load(path: String): Map[String, Long] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try Json.read(src.mkString) match {
      case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]("rows") match {
        case r: Map[_, _] => r.asInstanceOf[Map[String, Any]].map { case (k, v) =>
          k -> v.asInstanceOf[Long] }
      }
    } finally src.close()
  }
}
