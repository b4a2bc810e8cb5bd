package graft.perfbench

import scala.collection.mutable

/** Everything one run measured: the end-to-end metrics (untraced), the
  * per-layer metrics (traced run), one record per request or query, the
  * spans, and the correctness tally. */
final class RunResult {
  var setupS: Double = Double.NaN
  /** Traced run: the same operation replayed warm with and without
    * tracing, in alternating order (ms, ms). */
  val replayPairs = mutable.ArrayBuffer.empty[(Double, Double)]
  /** Wall time of each fixed-size block of operations (timed parts only). */
  val blockS = mutable.ArrayBuffer.empty[Double]
  /** Latency samples (ms) by operation kind, in arrival order of kinds. */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  val records = mutable.ArrayBuffer.empty[Map[String, Any]]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Printed and written, not part of the result line. */
  val summary = mutable.LinkedHashMap.empty[String, Any]
  val env = mutable.LinkedHashMap.empty[String, Any]
  var spans: Seq[Span] = Nil
  val bfsVisited = mutable.ArrayBuffer.empty[Double]

  def metric(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)

  /** `p50_ms` over every timed sample; the tail (see [[Stats.tail]]) with
    * its percentile and sample count, and per-kind medians, printed beside
    * it. */
  def latencyMetrics(): Unit = {
    val all = samples.values.flatten.toSeq
    metric("p50_ms", Stats.median(all), "ms")
    val (tail, pct, beyond) = Stats.tail(all)
    summary("tail_ms") = tail
    summary("tail_percentile") = pct
    summary("tail_beyond") = beyond
    summary("samples") = all.size
    if (samples.size > 1) samples.foreach { case (kind, xs) =>
      summary(s"$kind.p50_ms") = Stats.median(xs.toSeq)
      summary(s"$kind.requests") = xs.size
    }
  }
  def layer(name: String, v: Double, unit: String): Unit = layers(name) = (v, unit)

  /** One attempted operation: its latency (ms) and its check outcome. */
  def record(kind: String, ms: Double, error: Option[String], fields: Map[String, Any]): Unit = {
    attempted += 1
    samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
    error.foreach { e => failed += 1; errors += e }
    records += (fields ++ Map("kind" -> kind, "ms" -> ms, "ok" -> error.isEmpty) ++
      error.map("error" -> _))
  }
}

object RunResult {
  /** Wall time of `f` in ms. */
  def timeMs(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e6
  }

  /** Tracing overhead: traced over untraced time of the replay pairs, minus 1. */
  def overheadShare(pairs: Seq[(Double, Double)]): Double = {
    val untraced = pairs.map(_._2).sum
    if (untraced > 0) pairs.map(_._1).sum / untraced - 1 else 0.0
  }

  /** Spark-layer metrics summed over the given spans (the workload's own
    * calls, not the extra traced probes), per block of operations. */
  def sparkLayers(r: RunResult, spans: Seq[Span], blocks: Int, slots: Int): Unit = {
    def sum(k: String) = spans.map(_.counts.getOrElse(k, 0.0)).sum
    def perBlock(k: String) = sum(k) / math.max(1, blocks)
    Seq("analysis", "optimization", "planning").foreach(ph =>
      r.layer(s"catalyst.${ph}_ms", perBlock(s"catalyst_${ph}_ms"), "ms"))
    r.layer("codegen.compiles", perBlock("codegen_compiles"), "count")
    r.layer("codegen.compile_ms", perBlock("codegen_ms"), "ms")
    r.layer("scheduler.jobs", perBlock("jobs"), "count")
    r.layer("scheduler.stages", perBlock("stages"), "count")
    r.layer("scheduler.tasks", perBlock("tasks"), "count")
    r.layer("tasks.run_s", perBlock("task_run_ms") / 1000, "s")
    r.layer("tasks.cpu_s", perBlock("task_cpu_ms") / 1000, "s")
    r.layer("tasks.gc_s", perBlock("task_gc_ms") / 1000, "s")
    r.layer("tasks.shuffle_read_mb", perBlock("shuffle_read_bytes") / 1048576, "MB")
    r.layer("tasks.shuffle_write_mb", perBlock("shuffle_write_bytes") / 1048576, "MB")
    r.layer("tasks.spill_mb", perBlock("spill_bytes") / 1048576, "MB")
    val wall = spans.map(_.durationMs).sum
    r.layer("tasks.slot_util", if (wall > 0) sum("task_run_ms") / (wall * slots) else 0.0, "ratio")
  }
}
