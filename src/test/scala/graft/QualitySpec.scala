package graft

import graft.pipeline.HeavyHitters
import org.apache.spark.sql.functions._

/** Round-8 batch-3 specs: Misra–Gries theorem properties, the
  * changepoint statistic's known-answer behavior, and the MI profile's
  * independence zero. The DuckDB hash match (tools/check.py) covers
  * fixture equality; these pin the algorithmic guarantees the hash
  * can't see. */
class QualitySpec extends SparkSpec {
  import spark.implicits._

  test("Misra-Gries candidates are a superset of true heavy hitters and ≤ k-1") {
    // adversarial-ish stream: geometric-ish skew + noise singletons,
    // shuffled deterministically across 7 partitions
    val rows = (1 to 4000).map { i =>
      if (i % 3 == 0) s"A" // 33%
      else if (i % 5 == 0) s"B" // ~13%
      else if (i % 7 == 0) s"C" // ~8.5%
      else s"noise_$i"
    }
    val df = spark.sparkContext.parallelize(scala.util.Random.javaRandomToRandom(
      new java.util.Random(42)).shuffle(rows), 7).toDF("k")
    for (k <- Seq(4, 8, 16)) {
      val cand = df.agg(HeavyHitters.candidates($"k", k)).as[Seq[String]]
        .head().toSet
      assert(cand.size <= k - 1, s"k=$k: more than k-1 candidates")
      val n = rows.size
      val exact = rows.groupBy(identity).view.mapValues(_.size)
        .filter { case (_, c) => c.toLong * k > n }.keySet
      assert(exact.subsetOf(cand),
        s"k=$k: true heavy hitters $exact not all in candidates $cand")
    }
  }

  test("heavy-hitter recount equals the exact groupBy-HAVING answer") {
    val q = SparkEntry.queries("q_sketch_heavyhit")(spark, sf)
      .as[(String, Long)].collect().toSeq
    val K = 16
    val keyed = Tables(spark, sf, "events").select(
      when($"event_id" % 4 === 0,
        concat(lit("hot_"), ($"event_id" % 3).cast("string")))
        .otherwise(concat(lit("cold_"), $"event_id".cast("string"))).as("k"))
    val n = keyed.count()
    val exact = keyed.groupBy($"k").agg(count(lit(1)).as("cnt"))
      .filter($"cnt" * K > n).orderBy($"cnt".desc, $"k")
      .as[(String, Long)].collect().toSeq
    assert(q == exact)
    assert(q.nonEmpty && q.forall(_._1.startsWith("hot_")),
      "planted hot keys are the heavy hitters")
  }

  test("changepoint statistic peaks at a planted level shift") {
    // 20 flat days at 10/day then 10 days at 30/day: the max-deviation
    // split must land at the boundary (day 20)
    val rows = (1 to 30).flatMap { day =>
      val cnt = if (day <= 20) 10 else 30
      (1 to cnt).map(i => (java.sql.Timestamp.valueOf(
        f"2024-02-$day%02d 12:00:00"), i))
    }
    rows.toDF("ts", "i").createOrReplaceTempView("events_cp")
    val out = spark.sql("""
      WITH daily AS (
        SELECT CAST(ts AS DATE) AS d, COUNT(*) AS x FROM events_cp GROUP BY 1),
      seq AS (
        SELECT d, x, CAST(ROW_NUMBER() OVER (ORDER BY d) AS INT) AS t,
               CAST(SUM(x) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS DECIMAL(38,0)) AS st
        FROM daily),
      tot AS (SELECT CAST(SUM(x) AS DECIMAL(38,0)) AS sn,
                     CAST(COUNT(*) AS DECIMAL(38,0)) AS nd FROM daily)
      SELECT d, t, CAST(abs(nd * st - t * sn) AS DECIMAL(38,0)) AS dev
      FROM seq CROSS JOIN tot ORDER BY dev DESC, d LIMIT 1""")
    val top = out.select($"t").as[Int].head()
    assert(top == 20, s"max deviation should sit at the level shift, got t=$top")
  }

  test("MI term is zero for an independent pair and positive for a copy") {
    val df = (0 until 400).map(i => (i % 4, i % 5, i % 4)).toDF("a", "b", "c")
    df.createOrReplaceTempView("mi_t")
    def mi(x: String, y: String): Double = spark.sql(s"""
      WITH cells AS (SELECT $x AS u, $y AS v, COUNT(*) AS cxy FROM mi_t GROUP BY 1,2),
      rx AS (SELECT u, SUM(cxy) AS cx FROM cells GROUP BY 1),
      ry AS (SELECT v, SUM(cxy) AS cy FROM cells GROUP BY 1),
      tot AS (SELECT SUM(cxy) AS n FROM cells)
      SELECT SUM((CAST(cxy AS DOUBLE) / n) *
                 ln((CAST(cxy AS DOUBLE) * n) / (CAST(cx AS DOUBLE) * cy)))
      FROM cells JOIN rx USING (u) JOIN ry USING (v) CROSS JOIN tot""")
      .as[Double].head()
    assert(math.abs(mi("a", "b")) < 1e-12, "a ⫫ b by construction → MI 0")
    assert(math.abs(mi("a", "c") - math.log(4)) < 1e-12,
      "a == c → MI = H(a) = ln 4")
  }

  test("PassJoin edit-distance join equals brute force on random strings") {
    // small alphabet + short strings so ed<=2 pairs occur naturally;
    // length 12, d=2 -> three segments of 4
    val rnd = new scala.util.Random(7)
    val strs = (0 until 90).map { i =>
      (i.toLong, (0 until 12).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString)
    }
    val df = strs.toDF("id", "sig")
    val got = graft.pipeline.EditDist.passJoinPairs(df, "id", "sig", 12, 2)
      .as[(Long, Long, Int)].collect().toSet
    def lev(a: String, b: String): Int = {
      val m = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        m(i)(j) = math.min(math.min(m(i - 1)(j) + 1, m(i)(j - 1) + 1),
          m(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      m(a.length)(b.length)
    }
    val want = (for {
      (ia, sa) <- strs; (ib, sb) <- strs if ia < ib
      d = lev(sa, sb) if d <= 2
    } yield (ia, ib, d)).toSet
    assert(want.nonEmpty, "fixture should contain near pairs")
    assert(got == want,
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }

  test("edit-distance join finds every planted 2-substitution copy") {
    val out = SparkEntry.queries("q_join_editdist")(spark, sf)
      .as[(Long, Long, Int)].collect()
    val plantedPairs = out.filter { case (a, b, _) => b == a + 100000 }
    assert(plantedPairs.length == 12, s"12 planted copies, got ${plantedPairs.length}")
    assert(plantedPairs.forall(_._3 <= 2))
  }

  test("grid epsilon-join equals brute force on random points") {
    val rnd = new scala.util.Random(11)
    val pts = (0 until 300).map(i =>
      (i.toLong, rnd.nextInt(2000000).toLong - 1000000L,
        rnd.nextInt(2000000).toLong - 1000000L))
    val eps = 150000L
    val df = pts.toDF("vec_id", "ix", "iy")
      .withColumn("cx", expr(s"(ix + 1000000) DIV $eps"))
      .withColumn("cy", expr(s"(iy + 1000000) DIV $eps"))
    val b = df.select($"vec_id".as("b_id"), $"ix".as("bx"), $"iy".as("by"),
      $"cx".as("bcx"), $"cy".as("bcy"))
    val offs = array(Seq(-1L, 0L, 1L).map(lit): _*)
    val probes = df
      .withColumn("ox", explode(offs)).withColumn("oy", explode(offs))
      .select($"vec_id".as("a_id"), $"ix".as("ax"), $"iy".as("ay"),
        ($"cx" + $"ox").as("bcx"), ($"cy" + $"oy").as("bcy"))
    val got = probes.join(b, Seq("bcx", "bcy"))
      .filter($"a_id" < $"b_id")
      .filter(($"ax" - $"bx") * ($"ax" - $"bx") +
        ($"ay" - $"by") * ($"ay" - $"by") <= eps * eps)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    val want = (for {
      (ia, xa, ya) <- pts; (ib, xb, yb) <- pts if ia < ib
      if (xa - xb) * (xa - xb) + (ya - yb) * (ya - yb) <= eps * eps
    } yield (ia, ib)).toSet
    assert(want.nonEmpty && got == want)
  }

  test("bounded kNN join equals brute force on random points") {
    val rnd = new scala.util.Random(13)
    val pts = (0 until 300).map(i =>
      (i.toLong, rnd.nextInt(2000000).toLong - 1000000L,
        rnd.nextInt(2000000).toLong - 1000000L))
    val eps = 150000L
    val p = pts.toDF("vec_id", "ix", "iy")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"a_id").orderBy($"d2", $"b_id")
    val got = graft.rel.SpatialQueries.gridNeighbors(p, eps)
      .withColumn("rk", row_number().over(w)).filter($"rk" <= 3)
      .select($"a_id", $"rk", $"b_id")
      .as[(Long, Int, Long)].collect().toSet
    val want = pts.flatMap { case (ia, xa, ya) =>
      pts.collect { case (ib, xb, yb)
        if ib != ia &&
          (xa - xb) * (xa - xb) + (ya - yb) * (ya - yb) <= eps * eps =>
        (ib, (xa - xb) * (xa - xb) + (ya - yb) * (ya - yb))
      }.sortBy { case (ib, d2) => (d2, ib) }.take(3).zipWithIndex
        .map { case ((ib, _), idx) => (ia, idx + 1, ib) }
    }.toSet
    assert(want.nonEmpty && got == want)
  }

  test("DBSCAN known answer: two blobs, one border, noise dropped") {
    // blob A (ids 1-5) and blob B (11-15): 5-point cliques at eps=100;
    // 21 is a border (one core neighbor, not core itself); 22 is noise
    val blobA = Seq((1L, 0L, 0L), (2L, 10L, 0L), (3L, 0L, 10L),
      (4L, 10L, 10L), (5L, 5L, 5L))
    val blobB = blobA.map { case (i, x, y) => (i + 10L, x + 10000L, y) }
    val extra = Seq((21L, 80L, 80L), (22L, 5000L, 5000L))
    val p = (blobA ++ blobB ++ extra).toDF("vec_id", "ix", "iy")
    val out = graft.rel.SpatialQueries.dbscan(p, eps = 100L, minPts = 3,
      ccIters = 4).as[(Long, Long, Int)].collect().toSet
    val want = blobA.map(t => (t._1, 1L, 2)).toSet ++
      blobB.map(t => (t._1, 11L, 2)).toSet + ((21L, 1L, 1))
    assert(out == want, s"got $out")
  }

  test("gated CC: local union-find == distributed fixpoint on a chain") {
    import graft.graph.GraphAnalytics
    // 40-hop chain + a triangle + an isolated edge: high diameter
    // exercises the pointer-doubling path when the gate is forced off
    val edges = ((0L until 40L).map(i => (i, i + 1)) ++
      Seq((100L, 101L), (101L, 102L), (102L, 100L), (200L, 201L)))
      .toDF("src", "dst")
    val local = GraphAnalytics.connectedComponents(edges, maxIters = 24)
      .as[(Long, Long)].collect().toMap
    val dist = GraphAnalytics.connectedComponents(edges, maxIters = 24,
      localEdgeLimit = 0L).as[(Long, Long)].collect().toMap
    assert(local == dist)
    assert((0L to 40L).forall(local(_) == 0L) &&
      Seq(100L, 101L, 102L).forall(local(_) == 100L) && local(201L) == 200L)
  }

  test("Benford audit digits cover 1..9 with exact total") {
    val out = SparkEntry.queries("q_quality_benford")(spark, sf)
      .select($"d1", $"obs").as[(Int, Long)].collect().toSeq
    assert(out.map(_._1) == (1 to 9),
      "all nine leading digits present, ordered")
    val n = Tables(spark, sf, "orders").count()
    assert(out.map(_._2).sum == n, "digit histogram partitions the orders")
  }
}
