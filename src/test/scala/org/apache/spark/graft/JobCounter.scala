package org.apache.spark.graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs and shuffle-map stages a block of driver code
  * runs. Lives in the `org.apache.spark` package because draining the
  * listener bus before and after the block is `private[spark]`. */
final class JobCounter(spark: SparkSession) extends SparkListener {
  private val jobs = new AtomicInteger
  private val shuffleStages = new AtomicInteger
  spark.sparkContext.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (e.stageInfo.shuffleDepId.isDefined) shuffleStages.incrementAndGet()

  /** (result, jobs, shuffle-map stages) of `body`. */
  def count[A](body: => A): (A, Int, Int) = {
    spark.sparkContext.listenerBus.waitUntilEmpty()
    jobs.set(0); shuffleStages.set(0)
    val a = body
    spark.sparkContext.listenerBus.waitUntilEmpty()
    (a, jobs.get, shuffleStages.get)
  }
}
