package graft

import graft.graph.GraphAnalytics
import graft.operators.ZOrder
import graft.pipeline.{Dedup, TextAnalysis, WebOps}
import org.apache.spark.sql.functions._

/** Round-4 operators: label propagation, k-core peeling, repetition
  * metrics, URL canonicalization, Z-order interleave. */
class ScaleOpsSpec extends SparkSpec {
  import spark.implicits._

  test("labelPropagation: min-label flood, bounded radius per round") {
    // path 0-1-2-3 plus isolated pair 8-9
    val g = Seq((0L, 1L), (1L, 2L), (2L, 3L), (8L, 9L)).toDF("src", "dst")
    val r1 = GraphAnalytics.labelPropagation(GraphAnalytics.bothWaysCheckpointed(g), iters = 1)
      .as[(Long, Long)].collect().toMap
    assert(r1 == Map(0L -> 0L, 1L -> 0L, 2L -> 1L, 3L -> 2L, 8L -> 8L, 9L -> 8L),
      s"one round reaches radius 1: $r1")
    val r3 = GraphAnalytics.labelPropagation(GraphAnalytics.bothWaysCheckpointed(g), iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(r3 == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 8L -> 8L, 9L -> 8L),
      s"diameter rounds converge to component minima: $r3")
  }

  test("labelPropagation: partition-order independent") {
    val g = Seq((0L, 1L), (1L, 2L), (2L, 3L), (8L, 9L)).toDF("src", "dst")
    val a = GraphAnalytics.labelPropagation(GraphAnalytics.bothWaysCheckpointed(g), 2)
      .as[(Long, Long)].collect().toMap
    val b = GraphAnalytics.labelPropagation(
        GraphAnalytics.bothWaysCheckpointed(g.repartition(7)), 2)
      .as[(Long, Long)].collect().toMap
    assert(a == b)
  }

  test("kCorePeel: pendant chain peels outside-in, core survives") {
    // K4 on 0..3, chain 4-5 hanging off node 0
    val k4 = for { a <- 0L to 3L; b <- 0L to 3L if a < b } yield (a, b)
    val g = (k4 ++ Seq((0L, 4L), (4L, 5L))).toDF("src", "dst")
    val got = GraphAnalytics.kCorePeel(g, k = 2, rounds = 4)
      .as[(Long, Int)].collect().toMap
    // round 1 drops 5 (deg 1); round 2 drops 4 (its only surviving edge is 0)
    assert(got == Map(0L -> 0, 1L -> 0, 2L -> 0, 3L -> 0, 4L -> 2, 5L -> 1),
      s"onion rounds: $got")
  }

  test("kCorePeel: declared round budget is past the fixpoint on the fixture") {
    val edges = rel.ScaleQueries.sparseEdges(spark, sf)
    val r8 = GraphAnalytics.kCorePeel(edges, k = 5, rounds = 8)
      .as[(Long, Int)].collect().toMap
    val r9 = GraphAnalytics.kCorePeel(edges, k = 5, rounds = 9)
      .as[(Long, Int)].collect().toMap
    assert(r8 == r9, "round 9 must change nothing (fixpoint reached by 8)")
    // sf0.001 has no 5-core (everything peels) but the onion must still
    // have layers — multiple distinct rounds, not one trivial wipe
    assert(r8.values.toSet.size > 1,
      s"peel rounds must show structure: ${r8.values.toSet}")
  }

  test("labelPropagation: declared 3 rounds keep real structure on the fixture") {
    val edges = rel.ScaleQueries.sparseEdges(spark, sf)
    val labels = GraphAnalytics.labelPropagation(
        GraphAnalytics.bothWaysCheckpointed(edges), iters = 3)
      .select($"label").distinct().count()
    assert(labels > 1, "3 rounds must NOT collapse to one label (vacuous)")
  }

  test("repetitionMetrics: degenerate doc flagged, varied doc not") {
    val docs = Seq(
      (1L, "a b a b a"),
      (2L, "the quick brown fox jumps over lazy dogs tonight"),
      (3L, "x")).toDF("id", "text")
    val m = TextAnalysis.repetitionMetrics(docs, "id", "text")
      .as[(Long, Long, Double, Double, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    val (_, n1, dr1, tt1, bg1, rep1) = m(1L)
    assert(n1 == 5L && dr1 == 0.4 && tt1 == 0.6 && bg1 == 0.5 && rep1,
      s"'a b a b a': ${m(1L)}")
    val (_, n2, dr2, _, _, rep2) = m(2L)
    assert(n2 == 9L && dr2 == 1.0 && !rep2)
    // single token: no bigrams -> frac 0.0 via coalesce, not null/NaN
    val (_, n3, _, _, bg3, rep3) = m(3L)
    assert(n3 == 1L && bg3 == 0.0 && !rep3)
  }

  test("canonicalize: tracking variants collapse, meaningful parts survive") {
    val urls = Seq(
      "https://Docs.Example.COM/A/b/?utm_source=x&utm_campaign=y#frag",
      "https://docs.example.com/A/b",
      "https://docs.example.com/A/b?id=7",       // real query survives
      "https://docs.example.com/a/b").toDF("url") // path case-sensitive
    val got = urls.select(WebOps.canonicalize($"url")).as[String].collect()
    assert(got(0) == "https://docs.example.com/A/b", s"variant: ${got(0)}")
    assert(got(1) == got(0))
    assert(got(2) == "https://docs.example.com/A/b?id=7")
    assert(got(3) == "https://docs.example.com/a/b")
    assert(got(3) != got(0), "path case must be preserved (RFC 3986)")
  }

  test("hitsFixedPoint: star graph — center is the sole authority") {
    // 1,2,3 all point at 0; 3 also points at 4
    val g = Seq((1L, 0L), (2L, 0L), (3L, 0L), (3L, 4L)).toDF("src", "dst")
    val got = GraphAnalytics.hitsFixedPoint(g, iters = 1)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // a1: in-sums of h0=1 -> a(0)=3, a(4)=1; h1: out-sums of a1
    assert(got(0L) == (0L, 3L), s"center: ${got(0L)}")
    assert(got(4L) == (0L, 1L))
    assert(got(1L) == (3L, 0L) && got(2L) == (3L, 0L))
    assert(got(3L) == (4L, 0L), "3 points at both authorities")
  }

  test("hitsFixedPoint: partition-order independent (exact integers)") {
    val g = rel.ScaleQueries.sparseEdges(spark, sf)
    val a = GraphAnalytics.hitsFixedPoint(g, 2)
      .as[(Long, Long, Long)].collect().toSet
    val b = GraphAnalytics.hitsFixedPoint(g.repartition(7), 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(a == b && a.nonEmpty)
  }

  test("adamicAdar: two common neighbors, hub cap excludes, adjacency excluded") {
    // w=10 links a=1,b=2; w=11 links 1,2 as well; 1-2 NOT adjacent
    // hub h=20 with degree 4 links 1,2,3,4 — capped out at maxHubDeg=3
    val g = Seq((10L, 1L), (10L, 2L), (11L, 1L), (11L, 2L),
      (20L, 1L), (20L, 2L), (20L, 3L), (20L, 4L)).toDF("src", "dst")
    val got = GraphAnalytics.adamicAdar(g, maxHubDeg = 3)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    // deg(10)=deg(11)=2 -> 2 * round(1/ln 2, 8) = 2.88539008 -> round 6
    assert(got((1L, 2L)) == 2.885390, s"pair (1,2): ${got.get((1L, 2L))}")
    // pairs through the capped hub only (e.g. (3,4)) must be absent
    assert(!got.contains((3L, 4L)), "hub-only pairs must be pruned")
    // adjacent pairs never appear: (10,1) etc are edges
    assert(got.keySet.forall { case (a, b) => a < b })
    // wedge centers (deg-2 hubs 10/11 are also nodes) generate (10,11)
    // through common neighbors 1 and 2 (deg(1)=deg(2)=3 <= cap)
    assert(got.contains((10L, 11L)))
  }

  test("bloom join: no false negatives; FPs exist then exact join removes them") {
    val dim = (0L until 20L).map(i => i * 7).toDF("key")
    val big = (0L until 2000L).toDF("key")
    // tiny filter (128 bits) to force some false positives
    val words = graft.operators.BloomJoin.buildWords(dim, $"key", 3, 128)
    val pass = graft.operators.BloomJoin.probe(big, $"key", words, 3, 128)
      .select($"key").as[Long].collect().toSet
    val truth = dim.as[Long].collect().toSet.filter(_ < 2000)
    assert(truth.subsetOf(pass), "bloom must never drop a true match")
    assert(pass.size > truth.size, "128-bit filter over 20 keys should FP")
    assert(pass.size < 2000, "filter must actually filter")
  }

  test("segmentCleanse: shared segments drop, unique ones survive") {
    val boiler = "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10"
    val docs = (0 until 12).map { i =>
      (i.toLong, s"$boiler u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f u${i}g u${i}h u${i}i u${i}j")
    }.toDF("id", "text")
    val got = Dedup.segmentCleanse(docs, "id", "text", segLen = 10, minDocs = 10)
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(got.size == 12)
    got.values.foreach { case (_, nSeg, nKept, _) =>
      assert(nSeg == 2L && nKept == 1L, s"boiler seg dropped, unique kept: $nSeg/$nKept")
    }
    // cleaned = md5 of the unique tail only
    val exp0 = java.security.MessageDigest.getInstance("MD5")
      .digest("u0a u0b u0c u0d u0e u0f u0g u0h u0i u0j".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(got(0L)._4 == exp0)
  }

  test("lshRange: exactly the same-bucket candidates above the threshold") {
    val e = Tables(spark, sf, "embeddings")
    val q = e.filter($"vec_id" < 3)
    val ranged = graft.pipeline.Similarity
      .lshRange(e, q, "vec_id", "embedding", minCos = 0.15, probeRadius = 1)
      .as[(Long, Long, Double)].collect()
    assert(ranged.nonEmpty)
    assert(ranged.forall(_._3 >= 0.15))
    // must be a superset of top-k restricted to the threshold
    val topk = graft.pipeline.Similarity
      .lshTopK(e, q, "vec_id", "embedding", k = 5, probeRadius = 1)
      .as[(Long, Long, Double, Int)].collect()
      .filter(_._3 >= 0.15).map(r => (r._1, r._2)).toSet
    assert(topk.subsetOf(ranged.map(r => (r._1, r._2)).toSet))
  }

  test("zipfSlope: exact power law fits with slope -1") {
    // freq(rank r) = 720/r for r=1..6 -> ln f = ln 720 - ln r exactly-ish
    val docs = (1 to 6).flatMap(r => Seq.fill(720 / r)(s"w$r"))
      .map(w => Tuple1(w)).toDF("text") // one token per row
    val got = TextAnalysis.zipfSlope(docs, "text", topN = 6)
      .as[(Long, Long, Double, Double)].collect().head
    assert(got._1 == 6L)
    assert(got._2 == (1 to 6).map(720 / _).sum.toLong)
    assert(math.abs(got._3 - (-1.0)) < 1e-3, s"slope ${got._3}")
    assert(math.abs(got._4 - math.log(720)) < 1e-3, s"intercept ${got._4}")
  }

  test("interleave: bit positions, and SQL fragment mirrors the Column form") {
    val df = Seq((3L, 1L), (0L, 0L), (1023L, 0L), (0L, 1023L), (511L, 767L))
      .toDF("x", "y")
    val got = df.select(
      ZOrder.interleave($"x", $"y", 10).as("a"),
      expr(ZOrder.interleaveSql("x", "y", 10)).as("b"))
      .as[(Long, Long)].collect()
    assert(got.forall { case (a, b) => a == b },
      s"Column vs SQL fragment drift: ${got.toSeq}")
    assert(got(0)._1 == 7L)       // x=0b11 -> bits 0,2 ; y=0b1 -> bit 1
    assert(got(1)._1 == 0L)
    assert(got(2)._1 == 349525L)  // 0b0101...01 (x fills even bits)
    assert(got(3)._1 == 699050L)  // 0b1010...10 (y fills odd bits)
  }

  test("incremental aggregate: merge of partials equals recompute at ANY split") {
    import org.apache.spark.sql.types.DecimalType
    val o = Tables(spark, sf, "orders")
    def partial(df: org.apache.spark.sql.DataFrame) =
      df.groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          sum($"o_totalprice".cast(DecimalType(18, 2))).as("amt"))
    def merged(cutoff: String) = {
      val c = lit(cutoff).cast("timestamp")
      partial(o.filter($"o_orderdate" < c))
        .unionByName(partial(o.filter($"o_orderdate" >= c)))
        .groupBy($"o_orderpriority")
        .agg(sum($"cnt").as("n"), sum($"amt").cast("double").as("amt"))
        .as[(String, Long, Double)].collect()
        .map { case (k, n, a) => k -> (n, a) }.toMap
    }
    val full = partial(o)
      .select($"o_orderpriority", $"cnt", $"amt".cast("double"))
      .as[(String, Long, Double)].collect()
      .map { case (k, n, a) => k -> (n, a) }.toMap
    // the maintenance identity must hold for EVERY history/delta split,
    // including a degenerate one (empty delta)
    for (cut <- Seq("1996-03-15", "1999-07-01", "2002-01-01"))
      assert(merged(cut) == full, s"cutoff $cut")
  }

  test("orderedFunnel: order matters — pre-view purchases don't convert") {
    import graft.streaming.EventStreams
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val ev = Seq(
      // u1: view -> click -> purchase: reaches all 3 stages
      (1L, "view", ts(1)), (1L, "click", ts(2)), (1L, "purchase", ts(3)),
      // u2: purchase -> click -> view: ONLY stage 1 (order violated)
      (2L, "purchase", ts(1)), (2L, "click", ts(2)), (2L, "view", ts(3)),
      // u3: view -> purchase -> click -> purchase: qualifying purchase
      // is the one AFTER the first post-view click
      (3L, "view", ts(1)), (3L, "purchase", ts(2)), (3L, "click", ts(3)),
      (3L, "purchase", ts(4)),
      // u4: view -> click, same timestamp: strict > drops the click
      (4L, "view", ts(5)), (4L, "click", ts(5)),
      // u5: click/purchase only, no view: appears nowhere
      (5L, "click", ts(1)), (5L, "purchase", ts(2)))
      .toDF("user_id", "event_type", "ts")
    val got = EventStreams.orderedFunnel(ev, Seq("view", "click", "purchase"))
      .as[(Int, String, Long, Double)].collect().toSeq
    assert(got.map(r => (r._1, r._2, r._3)) ==
      Seq((1, "view", 4L), (2, "click", 2L), (3, "purchase", 2L)), s"$got")
    assert(got.map(_._4) == Seq(1.0, 0.5, 0.5), s"conv rates: $got")
  }
}
