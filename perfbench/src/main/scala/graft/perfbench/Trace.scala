package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution — the
  * time base Spark's listener events use, so spans and events compare. */
object Clock {
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs(): Double = epochMs0 + (System.nanoTime() - nano0) / 1e6
}

/** One timed call into a layer. `request` groups the spans of one request
  * or query; `parent` is the span open when this one started (-1 for a
  * root). Counters attributed from Spark events land in `counts`. */
final class Span(val id: Int, val parent: Int, val depth: Int, val name: String,
                 val request: Int, val startMs: Double) {
  var endMs: Double = Double.NaN
  val counts: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  def durationMs: Double = endMs - startMs
  def add(key: String, v: Double): Unit = counts(key) = counts.getOrElse(key, 0.0) + v
}

/** In-memory span recorder for one thread (the single benchmark client).
  * Spans nest by call structure; they are written out when the run ends. */
final class Tracer {
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var stack: List[Span] = Nil
  private var request = -1

  /** Start a new request; spans opened until the next call share its id. */
  def newRequest(): Int = { request += 1; request }

  def span[A](name: String)(f: => A): A = {
    val parent = stack.headOption
    val s = new Span(spans.size, parent.fold(-1)(_.id), stack.size, name, request,
      Clock.nowMs())
    spans += s
    stack = s :: stack
    try f
    finally {
      s.endMs = Clock.nowMs()
      stack = stack.tail
    }
  }
}

object Tracer {
  /** Total length of the union of intervals. */
  def covered(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Self time: the span's duration minus the part of its interval that
    * its child spans cover (children clipped to the parent's interval). */
  def selfMs(s: Span, children: Seq[Span]): Double =
    s.durationMs - covered(children.map(c =>
      (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs))))

  /** The deepest span whose interval holds time `t` (epoch ms, from an
    * event stamped at whole milliseconds: it happened in [t, t + 1)). */
  def owner(spans: Seq[Span], t: Double): Option[Span] = {
    val mid = t + 0.5
    val hits = spans.filter(s => s.startMs - 0.5 <= mid && mid <= s.endMs + 0.5)
    if (hits.isEmpty) None
    else {
      val deepest = hits.map(_.depth).max
      val atDepth = hits.filter(_.depth == deepest)
      Some(atDepth.find(s => s.startMs <= mid && mid <= s.endMs)
        .getOrElse(atDepth.maxBy(_.startMs)))
    }
  }
}

/** Spark-side events, gathered by a `SparkListener`, a
  * `QueryExecutionListener` and a codegen-log counter, then attributed to
  * the span open when each happened. Every field is public Spark API. */
final class SparkProbe(spark: SparkSession) {
  import SparkProbe._

  val jobs = new ConcurrentLinkedQueue[Job]()
  private val jobById = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val phases = new ConcurrentLinkedQueue[Phase]()
  val compiles = new ConcurrentLinkedQueue[Compile]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val j = Job(e.jobId, e.time, -1L, e.stageIds)
      jobById.put(e.jobId, j)
      jobs.add(j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobById.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        tasks.add(Task(e.stageId, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled))
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.tracker.phases.foreach { case (name, p) =>
        phases.add(Phase(name, p.startTimeMs, p.endTimeMs))
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private var codegen: AutoCloseable = () => ()

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    codegen = CodegenLog.attach((endMs, ms) => compiles.add(Compile(endMs, ms)))
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    codegen.close()
  }

  /** Run `f` with the probe detached, so its Spark events are neither
    * gathered nor attributed, and none of them reach the probe later. */
  def paused[A](f: => A): A = {
    detach()
    try f
    finally { drain(); attach() }
  }

  /** Wait until every posted event has reached the listeners. */
  def drain(): Unit = org.apache.spark.graftbench.ListenerBus.drain(spark)

  /** Attribute every gathered event to its span. Counters (all `count`,
    * `ms` or bytes) are added to `Span.counts` under fixed keys. */
  def attribute(spans: Seq[Span]): Unit = {
    drain()
    val stageSpan = mutable.HashMap.empty[Int, Span]
    jobs.asScala.foreach { j =>
      Tracer.owner(spans, j.startMs.toDouble).foreach { s =>
        s.add("jobs", 1)
        s.add("stages", j.stages.size)
        val end = if (j.endMs >= 0) j.endMs else j.startMs
        s.add("job_ms", (end - j.startMs).toDouble)
        j.stages.foreach(stageSpan(_) = s)
      }
    }
    tasks.asScala.foreach { t =>
      stageSpan.get(t.stage).foreach { s =>
        s.add("tasks", 1)
        s.add("task_run_ms", t.runMs.toDouble)
        s.add("task_cpu_ms", t.cpuNs / 1e6)
        s.add("task_gc_ms", t.gcMs.toDouble)
        s.add("shuffle_read_bytes", t.shuffleRead.toDouble)
        s.add("shuffle_write_bytes", t.shuffleWrite.toDouble)
        s.add("spill_bytes", t.spill.toDouble)
      }
    }
    phases.asScala.foreach { p =>
      Tracer.owner(spans, p.startMs.toDouble)
        .foreach(_.add(s"catalyst_${p.name}_ms", (p.endMs - p.startMs).toDouble))
    }
    compiles.asScala.foreach { c =>
      Tracer.owner(spans, c.endMs - c.ms / 2).foreach { s =>
        s.add("codegen_compiles", 1)
        s.add("codegen_ms", c.ms)
      }
    }
  }

  /** The intervals of the jobs that started inside `s`. */
  def jobIntervals(s: Span): Seq[(Double, Double)] =
    jobs.asScala.toSeq.filter(j => j.startMs + 0.5 >= s.startMs - 0.5 &&
        j.startMs + 0.5 <= s.endMs + 0.5)
      .map(j => (j.startMs.toDouble, (if (j.endMs >= 0) j.endMs else j.startMs).toDouble))
}

object SparkProbe {
  final case class Job(id: Int, startMs: Long, var endMs: Long, stages: Seq[Int])
  final case class Task(stage: Int, runMs: Long, cpuNs: Long, gcMs: Long,
      shuffleRead: Long, shuffleWrite: Long, spill: Long)
  final case class Phase(name: String, startMs: Long, endMs: Long)
  final case class Compile(endMs: Long, ms: Double)
}

/** Counts whole-stage and expression code compilations from the
  * `CodeGenerator` log ("Code generated in X ms"), which Spark writes at
  * INFO on every compile that misses its code cache. */
object CodegenLog {
  import org.apache.logging.log4j.{Level, LogManager}
  import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
  import org.apache.logging.log4j.core.appender.AbstractAppender
  import org.apache.logging.log4j.core.config.{Configurator, Property}

  val LoggerName = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val Pattern = """Code generated in ([0-9.]+) ms""".r.unanchored

  def attach(onCompile: (Long, Double) => Unit): AutoCloseable = {
    val appender = new AbstractAppender("perfbench-codegen", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = e.getMessage.getFormattedMessage match {
        case Pattern(ms) => onCompile(e.getTimeMillis, ms.toDouble)
        case _ => ()
      }
    }
    appender.start()
    Configurator.setLevel(LoggerName, Level.INFO)
    val logger = LogManager.getLogger(LoggerName).asInstanceOf[CoreLogger]
    logger.addAppender(appender)
    logger.setAdditive(false)
    () => {
      logger.removeAppender(appender)
      Configurator.setLevel(LoggerName, Level.WARN)
      logger.setAdditive(true)
      appender.stop()
    }
  }
}
