package graft.perfbench

class ProbeSpec extends SparkSuite {
  test("jobs, stages and tasks are attributed to the span open when they ran") {
    val probe = new SparkProbe(spark)
    probe.attach()
    try {
      val sc = spark.sparkContext
      val t = new Tracer
      sc.parallelize(1 to 10, 2).count() // outside every span
      t.newRequest()
      t.span("one")(sc.parallelize(1 to 10, 2).count())
      t.newRequest()
      t.span("two") {
        t.span("inner")(sc.parallelize(1 to 10, 3).count())
        sc.parallelize(1 to 10, 2).count()
      }
      t.newRequest()
      t.span("three")(spark.range(7).selectExpr("id * 7919 + 104729 as x").collect())
      probe.attribute(t.spans.toSeq)
      val Seq(one, two, inner, three) = t.spans.toSeq
      assert(one.counts("jobs") == 1 && one.counts("tasks") == 2 && one.counts("stages") == 1)
      // the deepest open span owns the job: inner's job is not two's
      assert(inner.counts("jobs") == 1 && inner.counts("tasks") == 3)
      assert(two.counts("jobs") == 1 && two.counts("tasks") == 2)
      assert(probe.jobs.size == 5)
      assert(three.counts.getOrElse("jobs", 0.0) >= 1)
      assert(three.counts.getOrElse("codegen_compiles", 0.0) >= 1)
      assert(three.counts.contains("catalyst_planning_ms"))
      assert(!one.counts.contains("codegen_compiles"))
    } finally probe.detach()
  }

  test("jobs run while the probe is paused are neither gathered nor attributed") {
    val probe = new SparkProbe(spark)
    probe.attach()
    try {
      val sc = spark.sparkContext
      val t = new Tracer
      t.newRequest()
      t.span("traced")(sc.parallelize(1 to 10, 2).count())
      t.newRequest()
      t.span("paused")(probe.paused(sc.parallelize(1 to 10, 2).count()))
      sc.parallelize(1 to 10, 2).count() // outside every span, probe attached again
      probe.attribute(t.spans.toSeq)
      val Seq(traced, paused) = t.spans.toSeq
      assert(traced.counts("jobs") == 1)
      assert(!paused.counts.contains("jobs"))
      assert(probe.jobs.size == 2)
    } finally probe.detach()
  }
}
