package org.apache.spark.graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counts the Spark jobs, shuffle-map stages and Dataset actions (queries
  * run to an answer: collect, count, head, …, whether or not they start a
  * job) a block of driver code runs. Lives in the `org.apache.spark`
  * package because draining the listener bus before and after the block
  * is `private[spark]`. */
final class JobCounter(spark: SparkSession) extends SparkListener {
  private val jobs = new AtomicInteger
  private val shuffleStages = new AtomicInteger
  private val actions = new AtomicInteger
  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      actions.incrementAndGet()
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      actions.incrementAndGet()
  })

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (e.stageInfo.shuffleDepId.isDefined) shuffleStages.incrementAndGet()

  /** (result, jobs, shuffle-map stages) of `body`. */
  def count[A](body: => A): (A, Int, Int) = {
    val a = measure(body)
    (a, jobs.get, shuffleStages.get)
  }

  /** (result, jobs, Dataset actions) of `body`. */
  def countActions[A](body: => A): (A, Int, Int) = {
    val a = measure(body)
    (a, jobs.get, actions.get)
  }

  private def measure[A](body: => A): A = {
    spark.sparkContext.listenerBus.waitUntilEmpty()
    jobs.set(0); shuffleStages.set(0); actions.set(0)
    val a = body
    spark.sparkContext.listenerBus.waitUntilEmpty()
    a
  }
}
