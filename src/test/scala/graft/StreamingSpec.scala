package graft

import graft.streaming.{EventStreams, IngestDedup}
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  /** File stream source needs a directory: stage the fixture in a temp dir. */
  lazy val streamDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    dir.toString
  }

  /** The count of persistent RDDs made since the first batch began, after
    * each of `batches`: flat when a stream holder frees the state it
    * replaces and each batch's scratch checkpoints. */
  private def persistedAfterEach[A](batches: Seq[A])(run: A => Unit): Seq[Int] = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    batches.map { b => run(b); (sc.getPersistentRDDs.keySet.toSet -- before).size }
  }

  private def assertFlat(counts: Seq[Int]): Unit =
    assert(counts.size > 1 && counts.forall(_ == counts.head),
      s"persistent RDDs after each batch: $counts")

  test("streaming windowed counts == batch windowed counts on same data") {
    val stream = EventStreams.readEventsStream(spark, streamDir)
    val q = EventStreams.windowedCounts(stream)
      .writeStream.format("memory").queryName("win_out")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("win_out")
        .select($"window_start", $"event_type", $"n", $"total")
        .orderBy($"window_start", $"event_type")
        .collect().toSeq
      val batch = EventStreams.windowedCounts(Tables(spark, sf, "events"))
        .orderBy($"window_start", $"event_type")
        .collect().toSeq
      assert(streamed.nonEmpty)
      assert(streamed == batch, s"streaming (${streamed.size}) vs batch (${batch.size})")
    } finally q.stop()
  }

  test("streaming session windows produce rows and respect the gap") {
    val stream = EventStreams.readEventsStream(spark, streamDir)
    val q = EventStreams.sessionCounts(stream)
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val sessions = spark.table("sess_out").collect()
      assert(sessions.nonEmpty)
      val batch = EventStreams.sessionCounts(Tables(spark, sf, "events")).count()
      assert(sessions.length == batch)
    } finally q.stop()
  }

  test("keep-first dedup: streaming plain dropDuplicates (O(|keys|) state) == batch window on ordered input") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import java.sql.Timestamp
    implicit val sql = spark.sqlContext
    val subset = Tables(spark, sf, "events").filter($"user_id" < 5)
      .select($"event_id", $"ts", $"user_id", $"event_type")
      .orderBy($"ts", $"event_id")
      .as[(Long, Timestamp, Long, String)].collect()
    assert(subset.nonEmpty)
    val stream = MemoryStream[(Long, Timestamp, Long, String)]
    val events = stream.toDS().toDF("event_id", "ts", "user_id", "event_type")
    val q = EventStreams.firstEventPerKey(events)
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      // event-time-ordered arrival (single source partition): keep-first-
      // arrival equals keep-min-(ts, event_id)
      subset.grouped(100).foreach { chunk =>
        stream.addData(chunk.toSeq: _*); q.processAllAvailable()
      }
      val streamed = spark.table("dedup_out")
        .select($"user_id", $"event_type", $"first_event_id")
        .as[(Long, String, Long)].collect().toSet
      val batch = EventStreams.firstEventPerKey(
          Tables(spark, sf, "events").filter($"user_id" < 5))
        .select($"user_id", $"event_type", $"first_event_id")
        .as[(Long, String, Long)].collect().toSet
      assert(batch.nonEmpty && streamed == batch,
        s"streaming $streamed vs batch $batch")
    } finally q.stop()
  }

  test("watermark drops late data in append mode") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import java.sql.Timestamp
    implicit val sql = spark.sqlContext
    case class Ev(ts: Timestamp, event_type: String, value: Double)
    def t(min: Int) = Timestamp.valueOf(f"2024-01-01 ${min / 60}%02d:${min % 60}%02d:00")

    val stream = MemoryStream[(Timestamp, String, Double)]
    val events = stream.toDS().toDF("ts", "event_type", "value")
    val agg = EventStreams.windowedCounts(events,
      windowLen = "10 minutes", watermark = "10 minutes")
    val q = agg.writeStream.format("memory").queryName("late_out")
      .outputMode("append").start()
    try {
      // window [00:00,00:10) gets two events; then time advances far enough
      // (event at 00:40 → watermark 00:30) to close and emit it
      stream.addData((t(1), "a", 1.0), (t(2), "a", 2.0))
      q.processAllAvailable()
      stream.addData((t(40), "a", 1.0))
      q.processAllAvailable()
      val closed = spark.table("late_out")
        .select($"window_start", $"n").as[(Timestamp, Long)].collect().toMap
      assert(closed(t(0)) == 2L, s"closed window emitted once: $closed")

      // a late event for the closed window (ts 00:03 << watermark 00:30)
      // must be DROPPED — no duplicate/updated emission for that window
      stream.addData((t(3), "a", 9.0))
      q.processAllAvailable()
      val after = spark.table("late_out")
        .select($"window_start", $"n").as[(Timestamp, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toList).toMap
      assert(after(t(0)) == List(2L), s"late row must not reopen the window: $after")
    } finally q.stop()
  }

  test("stream-stream interval join == batch interval join on same data") {
    val stream = EventStreams.readEventsStream(spark, streamDir)
    val q = EventStreams.viewToPurchase(stream)
      .select($"purchase_id", $"view_id")
      .writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("ssj_out")
        .as[(Long, Long)].collect().toSet
      val batch = EventStreams.viewToPurchase(Tables(spark, sf, "events"))
        .select($"purchase_id", $"view_id")
        .as[(Long, Long)].collect().toSet
      assert(batch.nonEmpty, "fixture must contain view→purchase pairs")
      assert(streamed == batch)
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER join emits unmatched purchases (batch == streaming rows)") {
    val stream = EventStreams.readEventsStream(spark, streamDir)
    val q = EventStreams.viewToPurchaseOuter(stream)
      .select($"purchase_id", $"view_id")
      .writeStream.format("memory").queryName("ssjo_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("ssjo_out")
        .as[(Long, Option[Long])].collect().toSet
      val batch = EventStreams.viewToPurchaseOuter(Tables(spark, sf, "events"))
        .select($"purchase_id", $"view_id")
        .as[(Long, Option[Long])].collect().toSet
      assert(batch.exists(_._2.isEmpty), "fixture must contain un-attributed purchases")
      // streaming append-mode can only hold back outer rows whose watermark
      // window is still open at end-of-input; matched rows must agree and
      // streamed rows must be a subset of the batch result
      assert(streamed.subsetOf(batch))
      assert(streamed.filter(_._2.isDefined) == batch.filter(_._2.isDefined),
        "inner matches identical between modes")
    } finally q.stop()
  }

  test("streaming watermarked dedup drops in-horizon duplicates") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import java.sql.Timestamp
    implicit val sql = spark.sqlContext
    def t(min: Int) = Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")

    val stream = MemoryStream[(Long, Timestamp, Double)]
    val events = stream.toDS().toDF("event_id", "ts", "value")
    val q = EventStreams.dedupEvents(events)
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      stream.addData((1L, t(0), 1.0), (2L, t(1), 2.0), (1L, t(2), 99.0))
      q.processAllAvailable()
      stream.addData((2L, t(3), 88.0), (3L, t(4), 3.0))
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select($"event_id")
        .as[Long].collect().toList.sorted
      assert(ids == List(1L, 2L, 3L),
        s"each id emitted exactly once across batches: $ids")
    } finally q.stop()
  }

  test("streaming ingest dedup over shards == declared batch incremental dedup") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    val docs = Tables(spark, sf, "documents")
    // the exact planted batch q_dedup_incremental declares: 20 corpus
    // copies, 10 batch-internal dup pairs of new text, 15 fresh edits
    val arriving = docs.filter($"doc_id" < 20)
      .select(($"doc_id" + 300000).as("doc_id"), $"text")
      .unionByName(docs.filter($"doc_id" < 10)
        .select(($"doc_id" + 350000).as("doc_id"),
          concat($"text", lit(" brandnew")).as("text")))
      .unionByName(docs.filter($"doc_id" < 10)
        .select(($"doc_id" + 360000).as("doc_id"),
          concat($"text", lit(" brandnew")).as("text")))
      .unionByName(docs.filter($"doc_id" < 15)
        .select(($"doc_id" + 400000).as("doc_id"),
          concat($"text", lit(" fresh v2")).as("text")))
      .orderBy($"doc_id")
      .as[(Long, String)].collect()
    val stream = MemoryStream[(Long, String)]
    val index = IngestDedup.indexOf(docs, "text")
    val accepted = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val q = IngestDedup.start(stream.toDS().toDF("doc_id", "text"),
        "doc_id", "text", index) { kept =>
      accepted ++= kept.as[(Long, String)].collect()
    }
    try {
      // shards of 10 in id order: each 350000 dup pair's partner (360000)
      // arrives TWO shards later, so the cross-batch INDEX path — not the
      // within-batch group — must drop it
      assertFlat(persistedAfterEach(arriving.grouped(10).toSeq) { shard =>
        stream.addData(shard.toSeq: _*); q.processAllAvailable()
      })
      val batch = graft.rel.ScaleQueries.dedupIncremental
        .run(spark, sf).as[(Long, String)].collect().toSet
      assert(batch.nonEmpty && accepted.toSet == batch,
        s"streaming ${accepted.toSet} vs batch $batch")
      // survivors: the 10 internal-pair keepers + 15 edits, nothing else
      assert(accepted.size == 25)
      // and replaying the whole stream again accepts NOTHING (index full)
      val replayed = IngestDedup.dedupBatch(
          arriving.toSeq.toDF("doc_id", "text"), "doc_id", "text", index)
      assert(replayed.isEmpty, "second pass must be fully deduped")
    } finally q.stop()
  }

  test("streaming histogram: shard-merged sketch equals batch; estimates match") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.HistogramIngest
    import graft.pipeline.Sketches
    implicit val sql = spark.sqlContext
    val cents = Tables(spark, sf, "lineitem")
      .select(round($"l_extendedprice" * 100).cast("long").as("cents"))
      .as[Long].collect()
    val stream = MemoryStream[Long]
    val index = HistogramIngest.emptyIndex(spark)
    val q = HistogramIngest.start(
      stream.toDS().toDF("cents"), "cents", 100000L, index)
    try {
      assertFlat(persistedAfterEach(cents.grouped(2000).toSeq) { shard =>
        stream.addData(shard.toSeq: _*); q.processAllAvailable()
      })
      // integer counts under addition: streamed == batch, exactly
      val streamed = index.hist.as[(Long, Long)].collect().toMap
      val batch = HistogramIngest.bucketCounts(
          cents.toSeq.toDF("cents"), "cents", 100000L)
        .as[(Long, Long)].collect().toMap
      assert(batch.nonEmpty && streamed == batch,
        s"streamed $streamed vs batch $batch")
      // reading quantile estimates from the MAINTAINED sketch equals the
      // batch sketch (the raw values are not needed — the sketch's point)
      val qs = Seq((1, 4), (1, 2), (3, 4), (9, 10), (99, 100))
      val fromSketch = Sketches.quantileEstimatesFromHist(
          index.hist, 100000L, qs)
        .as[(Int, Int, Long, Long)].collect().toSet
      val full = Sketches.histogramQuantiles(
          cents.toSeq.toDF("cents"), "cents", 100000L, qs)
        .select($"num", $"den", $"qrank", $"est")
        .as[(Int, Int, Long, Long)].collect().toSet
      assert(fromSketch == full, s"$fromSketch vs $full")
    } finally q.stop()
  }

  test("streaming CMS: shard-merged sketch equals batch; heavy-hitter reads agree") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.CmsIngest
    import graft.pipeline.Sketches
    implicit val sql = spark.sqlContext
    val keys = Tables(spark, sf, "events")
      .select($"event_type").as[String].collect()
    val stream = MemoryStream[String]
    val index = CmsIngest.emptyIndex(spark)
    val q = CmsIngest.start(
      stream.toDS().toDF("event_type"), "event_type", 4, 64, index)
    try {
      assertFlat(persistedAfterEach(keys.grouped(700).toSeq) { shard =>
        stream.addData(shard.toSeq: _*); q.processAllAvailable()
      })
      // integer counters under addition: streamed == batch, exactly
      val streamed = index.sketch.as[(Int, Long, Long)].collect().toSet
      val batch = Sketches.cmsBuild(
          keys.toSeq.toDF("event_type"), "event_type", 4, 64)
        .as[(Int, Long, Long)].collect().toSet
      assert(batch.nonEmpty && streamed == batch,
        s"streamed $streamed vs batch $batch")
      // point estimates from the MAINTAINED sketch: overcount-bounded
      // above the true counts and identical to the batch sketch's reads
      val universe = keys.distinct.toSeq.toDF("event_type")
      val est = Sketches.cmsEstimate(index.sketch, universe,
          "event_type", 4, 64)
        .as[(String, Long)].collect().toMap
      val truth = keys.groupBy(identity).view.mapValues(_.length.toLong).toMap
      assert(truth.forall { case (k, c) => est(k) >= c },
        s"CMS must never undercount: $est vs $truth")
      val estBatch = Sketches.cmsEstimate(
          Sketches.cmsBuild(keys.toSeq.toDF("event_type"), "event_type", 4, 64),
          universe, "event_type", 4, 64)
        .as[(String, Long)].collect().toMap
      assert(est == estBatch, "maintained and batch sketches must read alike")
    } finally q.stop()
  }

  test("streaming near-dup ingest: LSH index drops copies, greedy chain semantics hold") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.NearDupIngest
    implicit val sql = spark.sqlContext
    // disjoint-token corpus: no base doc is similar to any other
    def fam(i: Int) = (1 to 10).map(k => s"w${i}x$k").mkString(" ")
    val corpus = (0 until 10).map(i => (i.toLong, fam(i))).toDF("doc_id", "text")
    // chain a ~ b ~ c with a !~ c, as windows of one master token run:
    // a = t1..t14 (12 shingles s1..s12), b = t1..t20 (18), c = t7..t20
    // (s7..s18): J(a,b) = J(b,c) = 12/18 = .667 but J(a,c) = 6/18 = .333
    val t = (1 to 20).map(k => s"m$k")
    val a = t.take(14).mkString(" ")
    val b = t.mkString(" ")
    val c = t.drop(6).mkString(" ")
    val shards = Seq(
      Seq((100L, fam(0) + " qq17 zz88"), (101L, a)),          // 100 ~ corpus 0
      Seq((201L, b)),                                          // b ~ indexed a
      Seq((301L, c), (302L, c + " pp55 rr66"),                 // c vs index; 302 ~ 301 in-batch
        (400L, (1 to 10).map(k => s"freshz$k").mkString(" "))))
    val stream = MemoryStream[(Long, String)]
    val index = NearDupIngest.indexOf(corpus, "doc_id", "text", rowsPerBand = 2)
    val accepted = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = NearDupIngest.start(stream.toDS().toDF("doc_id", "text"),
        "doc_id", "text", index, rowsPerBand = 2) { kept =>
      accepted ++= kept.as[Long].collect()
    }
    try {
      assertFlat(persistedAfterEach(shards) { sh => stream.addData(sh: _*); q.processAllAvailable() })
      // 100 dropped by the corpus index; 201 dropped by indexed 101;
      // 301 ACCEPTED (its only near-dup 201 never entered the index —
      // the greedy convention a naive batch pair rule would violate);
      // 302 dropped within-batch by 301; 400 fresh
      assert(accepted.toSet == Set(101L, 301L, 400L),
        s"accepted ${accepted.toSet}")
      // replaying shard 1 accepts nothing (both docs now indexed or dup)
      val (replay, _, _) = NearDupIngest.dedupBatch(
        shards.head.toDF("doc_id", "text"), "doc_id", "text", index, rowsPerBand = 2)
      assert(replay.isEmpty, "replay must be fully near-deduped")
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionizer == batch gap sessions, exact totals") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import java.sql.Timestamp
    implicit val sql = spark.sqlContext
    val real = Tables(spark, sf, "events").filter($"user_id" < 5)
      .select($"user_id", $"ts", $"value")
      .orderBy($"ts").as[(Long, Timestamp, Double)].collect()
    assert(real.nonEmpty)
    // far-future sentinel per user closes that user's final session via the
    // gap rule itself (its own session stays open, never emitted)
    val maxTs = real.map(_._2.getTime).max
    val sentinels = real.map(_._1).distinct
      .map(u => (u, new Timestamp(maxTs + 86400000L), 0.0))
    val stream = MemoryStream[(Long, Timestamp, Double)]
    val events = stream.toDS().toDF("user_id", "ts", "value")
    val q = EventStreams.sessionizeWithState(events)
      .writeStream.format("memory").queryName("sess_state_out")
      .outputMode("append").start()
    try {
      (real.grouped(200).map(_.toSeq).toSeq :+ sentinels.toSeq).foreach { chunk =>
        stream.addData(chunk: _*); q.processAllAvailable()
      }
      val streamed = spark.table("sess_state_out")
        .select($"user_id", $"session_start", $"n", $"total")
        .as[(Long, Timestamp, Long, Double)].collect().toSet
      val batch = EventStreams.sessionCounts(
          Tables(spark, sf, "events").filter($"user_id" < 5))
        .select($"user_id", $"session_start", $"n", $"total")
        .as[(Long, Timestamp, Long, Double)].collect().toSet
      assert(batch.nonEmpty && streamed == batch,
        s"missing ${batch -- streamed}; extra ${streamed -- batch}")
    } finally q.stop()
  }

  test("mapGroupsWithState running totals == plain aggregation (batch mode)") {
    val events = Tables(spark, sf, "events")
    val got = EventStreams.runningUserTotals(events)
      .collect().map(r => r.user_id -> (r.n_events, r.total_value)).toMap
    val exp = events.groupBy($"user_id")
      .agg(count(lit(1)).as("n"), sum($"value").as("t"))
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got.keySet == exp.keySet)
    exp.foreach { case (u, (n, t)) =>
      assert(got(u)._1 == n)
      assert(math.abs(got(u)._2 - t) < 1e-6)
    }
  }

  test("streaming CDC apply over out-of-order shards == declared batch snapshot") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.CdcIngest
    import java.sql.Timestamp
    implicit val sql = spark.sqlContext
    val ev = Tables(spark, sf, "events")
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[(Long, Timestamp, Long, String, Double)].collect()
    val stream = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val state = new CdcIngest.ChangeState(spark)
    val q = CdcIngest.start(
      stream.toDS().toDF("event_id", "ts", "user_id", "event_type", "value"),
      state)
    try {
      // shards by event_id % 3: each shard spans the WHOLE ts range, so
      // later batches carry earlier timestamps — recency must be decided
      // by (ts, event_id), never arrival order
      assertFlat(persistedAfterEach(0 until 3) { m =>
        stream.addData(ev.filter(_._1 % 3 == m).toSeq: _*)
        q.processAllAvailable()
      })
      assert(state.state.count() > 0)
      val base = Tables(spark, sf, "customer")
        .select($"c_custkey".as("key"), $"c_acctbal".as("bal"))
      val streamed = CdcIngest.applySnapshot(base, state.state)
        .orderBy($"key").collect().toSeq
      val batch = graft.rel.ExtQueries.cdcApply.run(spark, sf)
        .collect().toSeq
      assert(streamed.nonEmpty && streamed == batch,
        s"streamed ${streamed.size} rows vs batch ${batch.size}")
    } finally q.stop()
  }
}
