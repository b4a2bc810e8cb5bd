package graft
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.bridge
object BenchOne {
  def main(args: Array[String]): Unit = {
    // r15: honor SPARK_GRAFT_CPUS (default 32, the historical hard-code)
    // so the 32c-vs-8c driver scaling splits are reproducible in isolation.
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Spark jobs and stages each run starts: on a shared machine these
    // repeat from run to run where sub-second wall times do not
    val jobs, stages = new AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stages.incrementAndGet()
    })
    // Three runs, all reported — the MINIMUM is the warm signal. Each
    // run's own checkpoint blocks are released after it (the shared
    // Artifacts keep theirs), so a later run does not carry the blocks of
    // the runs before it.
    args.foreach { name =>
      (1 to 3).foreach { run =>
        bridge.drainListenerBus(spark)
        jobs.set(0); stages.set(0)
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
        val s = (System.nanoTime() - t0) / 1e9
        bridge.drainListenerBus(spark)
        println(f"[benchone] $name run$run $s%.2f s, ${jobs.get} jobs, ${stages.get} stages")
        Artifacts.releaseUnowned(spark)
      }
    }
    spark.stop()
  }
}
