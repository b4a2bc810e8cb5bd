package graft

import graft.graph.GraphAnalytics
import org.apache.spark.sql.functions._

/** GraphAnalytics: triangles on known graphs, exact PageRank invariants. */
class GraphAnalyticsSpec extends SparkSpec {
  import spark.implicits._

  test("checkpointObserved: the observed stat is count()/sum, at no extra job") {
    import org.apache.spark.sql.types.DecimalType
    val dsum = sum($"k".cast(DecimalType(38, 0)))
    // a join + aggregate, the shape every fixpoint round checkpoints
    def frame(parts: Int) = spark.range(0, 600, 1, parts).select(($"id" % 53).as("k"))
      .join(spark.range(0, 40, 1, parts).select(($"id" % 53).as("k")), "k")
      .groupBy("k").agg(count(lit(1)).as("c"))
    val cases = Seq(
      "empty" -> frame(3).filter($"k" < 0),
      "empty local relation" -> Seq.empty[Long].toDF("k"),
      "one partition" -> frame(1).coalesce(1),
      "many partitions" -> frame(5).repartition(7))
    cases.foreach { case (name, df) =>
      val (cp, n) = GraphAnalytics.checkpointObserved[Long](df, count(lit(1)))
      assert(n == cp.count(), s"$name: observed count")
      val (cp2, s) = GraphAnalytics.checkpointObserved[java.math.BigDecimal](df, dsum)
      val want = cp2.agg(dsum).head.getDecimal(0)
      assert(s == want, s"$name: observed sum $s vs $want")
    }
    assert(GraphAnalytics.checkpointObserved[Long](frame(5), count(lit(1)))._2 == 40L)
    val jobs = new org.apache.spark.graft.JobCounter(spark)
    val (_, bare, _) = jobs.count(frame(5).localCheckpoint())
    val (_, observed, _) = jobs.count(
      GraphAnalytics.checkpointObserved[Long](frame(5), count(lit(1))))
    assert(observed == bare, s"observed checkpoint ran $observed jobs, bare $bare")
  }

  test("string vertex mapping: dense sorted ranks, no single-partition window") {
    val edges = Seq(("n-c", "n-a", 1.0), ("n-b", "n-d", 1.0), ("n-d", "n-a", 1.0))
      .toDF("source", "target", "weight")
    val vm = graft.graph.GraphXOps.stringVertexMapping(edges, "source", "target")
    assert(!vm.queryExecution.executedPlan.toString.contains("Window"),
      "mapping must not use a global window (single-partition sort)")
    val got = vm.as[(String, Long)].collect().sortBy(_._2)
    assert(got.toSeq == Seq(("n-a", 1L), ("n-b", 2L), ("n-c", 3L), ("n-d", 4L)),
      s"dense ranks in sorted-id order: ${got.toSeq}")
  }

  test("triangleCounts on K4: every node in C(3,2)=3 triangles") {
    val k4 = (for { a <- 0L to 3L; b <- 0L to 3L if a != b } yield (a, b))
      .toDF("src", "dst")
    val got = GraphAnalytics.triangleCounts(k4)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
  }

  test("triangleCounts: square + one diagonal = 2 triangles, hub-credit right") {
    // 0-1-2-3-0 plus diagonal 0-2: triangles {0,1,2} and {0,2,3}
    val g = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L), (0L, 2L),
      (1L, 0L) /* parallel reverse edge must not double count */)
      .toDF("src", "dst")
    val got = GraphAnalytics.triangleCounts(g).as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 2L, 1L -> 1L, 2L -> 2L, 3L -> 1L))
  }

  test("triangleCounts: triangle-free graph returns no rows") {
    val path = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("src", "dst")
    assert(GraphAnalytics.triangleCounts(path).count() == 0L)
  }

  test("fixed-round loops keep one round's checkpoint: leftover blocks do not grow with rounds") {
    val events = Tables(spark, sf, "events")
    val edges = events.select($"user_id".as("src"),
      (get_json_object($"props", "$.k").cast("long") % 15).as("dst"))
    val weighted = edges.withColumn("weight", lit(1.0))
    // persistent RDDs a call leaves behind; the result stays referenced
    // while counting, so only the call's own leftovers are measured
    def leftover(run: => org.apache.spark.sql.DataFrame): Int = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val out = run
      out.collect()
      (spark.sparkContext.getPersistentRDDs.keySet -- before).size
    }
    val pr2 = leftover(GraphAnalytics.pageRankFixedPoint(edges, iters = 2))
    val pr6 = leftover(GraphAnalytics.pageRankFixedPoint(edges, iters = 6))
    assert(pr2 == pr6, s"pageRankFixedPoint leaves $pr2 checkpoints at 2 rounds, $pr6 at 6")
    val sp2 = leftover(GraphAnalytics.shortestPaths(weighted, start = 0L, hops = 2))
    val sp6 = leftover(GraphAnalytics.shortestPaths(weighted, start = 0L, hops = 6))
    assert(sp2 == sp6, s"shortestPaths leaves $sp2 checkpoints at 2 hops, $sp6 at 6")
    // Borůvka on a path whose weights pair neighbouring components every
    // round (w = trailing zeros of the right endpoint): n nodes merge in
    // log2 n rounds
    def pairingPath(n: Int) = (0 until n - 1)
      .map(i => (i.toLong, i + 1L, Integer.numberOfTrailingZeros(i + 1).toDouble))
      .toDF("u", "v", "w")
    val mst2 = leftover(GraphAnalytics.boruvkaMst(pairingPath(4)))
    val mst5 = leftover(GraphAnalytics.boruvkaMst(pairingPath(32)))
    assert(mst2 == mst5, s"boruvkaMst leaves $mst2 checkpoints at 2 rounds, $mst5 at 5")
    // SCC on a chain peels one node a round on the distributed path
    def chain(n: Int) = (0 until n - 1).map(i => (i.toLong, i + 1L)).toDF("src", "dst")
    val scc2 = leftover(GraphAnalytics.stronglyConnectedComponents(chain(3), localEdgeLimit = 0))
    val scc5 = leftover(GraphAnalytics.stronglyConnectedComponents(chain(6), localEdgeLimit = 0))
    assert(scc2 == scc5, s"SCC peeling leaves $scc2 checkpoints at 2 rounds, $scc5 at 5")
  }

  test("pageRankFixedPoint: deterministic across partitioning, mass bounded") {
    val edges = Tables(spark, sf, "events")
      .select($"user_id".as("src"),
        (get_json_object($"props", "$.k").cast("long") % 15).as("dst"))
    val r1 = GraphAnalytics.pageRankFixedPoint(edges, iters = 5)
      .as[(Long, Long)].collect().toMap
    val r2 = GraphAnalytics.pageRankFixedPoint(edges.repartition(7), iters = 5)
      .as[(Long, Long)].collect().toMap
    assert(r1 == r2, "integer arithmetic must be partition-order independent")
    assert(r1.values.forall(_ > 0))
    // total mass can only leak (dangling nodes, truncating division)
    assert(r1.values.sum <= GraphAnalytics.PrScale)
    // sinks that everyone points at must outrank pure sources
    val deg = edges.groupBy($"dst").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc).select($"dst").as[Long].head()
    val pureSource = (r1.keySet -- edges.select($"dst").distinct().as[Long].collect().toSet).headOption
    pureSource.foreach(src => assert(r1(deg) > r1(src)))
  }

  test("personalizedPageRank: mass stays near seeds, partitioning-independent") {
    val edges = Tables(spark, sf, "events")
      .select($"user_id".as("src"),
        (get_json_object($"props", "$.k").cast("long") % 15).as("dst"))
    val seeds = Seq(0L, 1L)
    val p1 = GraphAnalytics.personalizedPageRank(edges, seeds, iters = 5)
      .as[(Long, Long)].collect().toMap
    val p2 = GraphAnalytics.personalizedPageRank(edges.repartition(7), seeds, iters = 5)
      .as[(Long, Long)].collect().toMap
    assert(p1 == p2, "integer arithmetic must be partition-order independent")
    // every seed keeps at least its teleport base; mass only leaks
    val base = (15L * (GraphAnalytics.PrScale / seeds.size)) / 100L
    seeds.foreach(s => assert(p1(s) >= base, s"seed $s below teleport base"))
    assert(p1.values.sum <= GraphAnalytics.PrScale)
    assert(p1.values.forall(_ >= 0))
    // personalization is not global PageRank: the seed outranks its own
    // global-rank position relative to the top global node
    val g = GraphAnalytics.pageRankFixedPoint(edges, iters = 5)
      .as[(Long, Long)].collect().toMap
    assert(p1(0L).toDouble / p1.values.max >= g(0L).toDouble / g.values.max,
      "seed must gain relative rank under personalization")
  }

  // named for the former connectedComponentsDf entry point: the same
  // pointer-jumping loop is connectedComponents past its local gate
  test("connectedComponentsDf: equals GraphX CC; pointer jumping beats flooding") {
    val edges = Tables(spark, sf, "events")
      .select($"user_id".as("src"),
        (get_json_object($"props", "$.k").cast("long") % 15).as("dst"))
    def distributed(e: org.apache.spark.sql.DataFrame, maxIters: Int) =
      GraphAnalytics.connectedComponents(e, maxIters, localEdgeLimit = 0L)
        .as[(Long, Long)].collect().toMap
    val df = distributed(edges, 64)
    val gx = graft.graph.GraphXOps
      .connectedComponents(edges.withColumn("weight", lit(1.0)))
      .as[(Long, Long)].collect().toMap
    assert(df == gx, "DataFrame CC must agree with GraphX CC")
    val dfRep = distributed(edges.repartition(7), 64)
    assert(df == dfRep, "min semiring must be partition-order independent")
    // the O(log diam) claim: a 41-node path (diam 40) converges under a
    // cap of 6 rounds — 5 jumped rounds plus the one that changes nothing
    // — and not under 5, while plain min-flooding at 5 rounds has only
    // reached radius 5: the far end still carries a non-root label
    val path = (0L until 40L).map(i => (i, i + 1)).toDF("src", "dst")
    val jumped = distributed(path, 6)
    assert(jumped.values.forall(_ == 0L), s"path not converged: $jumped")
    intercept[IllegalArgumentException](distributed(path, 5))
    val flooded = GraphAnalytics.labelPropagation(
        GraphAnalytics.bothWaysCheckpointed(path), iters = 5)
      .as[(Long, Long)].collect().toMap
    assert(flooded(40L) == 35L, "flooding reach must be exactly `iters` hops")
  }

  test("modularity: two bridged triangles under the perfect partition") {
    // triangles {0,1,2} and {3,4,5} bridged by 2-3: m=7 undirected edges,
    // each community has 6 directed intra pairs and degree sum 7
    // ⇒ q_c = 6/14 − (7/14)² = 0.178571 each, Q = 0.357143
    val g = Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 4L), (4L, 5L), (5L, 3L),
      (2L, 3L)).toDF("src", "dst")
    val labels = Seq((0L, 0L), (1L, 0L), (2L, 0L), (3L, 1L), (4L, 1L), (5L, 1L))
      .toDF("node", "label")
    val got = GraphAnalytics.modularity(GraphAnalytics.bothWaysCheckpointed(g), labels)
      .select($"label", $"n_nodes", $"e_intra2", $"deg_sum", $"q_contrib")
      .as[(Long, Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((0L, 3L, 6L, 7L, 0.178571), (1L, 3L, 6L, 7L, 0.178571)),
      got.toSeq.toString)
    // an all-singletons partition has no intra edges: every e_intra2 = 0
    val single = labels.select($"node", $"node".as("label"))
    val s = GraphAnalytics.modularity(GraphAnalytics.bothWaysCheckpointed(g), single)
      .select($"e_intra2").as[Long].collect()
    assert(s.forall(_ == 0L))
  }

  test("louvainMove: modularity-optimal partition is a fixed point; LPA refines upward") {
    // perfect two-triangle split: no node can gain by moving
    val g = Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 4L), (4L, 5L), (5L, 3L),
      (2L, 3L)).toDF("src", "dst")
    val perfect = Seq((0L, 0L), (1L, 0L), (2L, 0L), (3L, 1L), (4L, 1L), (5L, 1L))
      .toDF("node", "label")
    val moved = GraphAnalytics.louvainMove(GraphAnalytics.bothWaysCheckpointed(g), perfect)
      .as[(Long, Long)].collect().toMap
    assert(moved == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L, 5L -> 1L),
      s"optimal partition must not move: $moved")
    // on the fixture graph, one move round must not DECREASE the LPA
    // partition's total modularity (the refinement the pass exists for)
    val edges = Tables(spark, sf, "events")
      .select($"user_id".as("src"),
        (get_json_object($"props", "$.k").cast("long") + 100000L).as("dst"))
      .filter($"dst".isNotNull).distinct()
    val lpa = GraphAnalytics.labelPropagation(GraphAnalytics.bothWaysCheckpointed(edges), iters = 3)
    def q(labels: org.apache.spark.sql.DataFrame): Double =
      GraphAnalytics.modularity(GraphAnalytics.bothWaysCheckpointed(edges), labels)
        .agg(sum($"q_contrib")).as[Double].collect().head
    val refined = GraphAnalytics.louvainMove(GraphAnalytics.bothWaysCheckpointed(edges), lpa)
    val (q0, q1) = (q(lpa), q(refined))
    assert(q1 >= q0 - 1e-9, s"move round decreased modularity: $q0 -> $q1")
    // order-independence: same moves at any partitioning
    val refined2 = GraphAnalytics.louvainMove(
        GraphAnalytics.bothWaysCheckpointed(edges.repartition(7)), lpa)
      .as[(Long, Long)].collect().toMap
    assert(refined.as[(Long, Long)].collect().toMap == refined2)
  }

  test("triangleCounts == GraphX TriangleCount on the fixture event graph") {
    val edges = Tables(spark, sf, "events")
      .select($"user_id".as("src"),
        (get_json_object($"props", "$.k").cast("long") % 15).as("dst"))
    val mine = GraphAnalytics.triangleCounts(edges)
      .as[(Long, Long)].collect().toMap

    val und = GraphAnalytics.undirected(edges)
      .select($"u".as("src"), $"v".as("dst"), lit(1.0).as("weight"))
    val gx = graft.graph.GraphXOps.fromEdges(und)
      .partitionBy(org.apache.spark.graphx.PartitionStrategy.RandomVertexCut)
      .triangleCount().vertices
      .filter(_._2 > 0).collect()
      .map { case (v, n) => v -> n.toLong }.toMap

    assert(mine.nonEmpty, "fixture graph must contain triangles")
    assert(mine == gx, s"DataFrame algorithm vs GraphX: $mine vs $gx")
  }

  test("degrees/undirected: self-loops dropped, parallel edges collapsed") {
    val g = Seq((1L, 2L), (2L, 1L), (1L, 1L), (2L, 3L)).toDF("src", "dst")
    val und = GraphAnalytics.undirected(g).as[(Long, Long)].collect().toSet
    assert(und == Set((1L, 2L), (2L, 3L)))
    val deg = GraphAnalytics.degrees(GraphAnalytics.undirected(g))
      .as[(Long, Long)].collect().toMap
    assert(deg == Map(1L -> 1L, 2L -> 2L, 3L -> 1L))
  }

  test("louvainMergeRound: monotone level-2 merges on the fixture; guarded on toys") {
    val edges = graft.rel.ScaleQueries.sparseEdges(spark, sf)
    val lpa = GraphAnalytics.labelPropagation(GraphAnalytics.bothWaysCheckpointed(edges), iters = 3)
    // q_graph_louvain2's composition: move -> coarsen -> mutual-best merge
    val l1 = GraphAnalytics.louvainMove(GraphAnalytics.bothWaysCheckpointed(edges), lpa)
    val cg = GraphAnalytics.coarsenGraph(edges, l1)
    val l2sup = GraphAnalytics.louvainMergeRound(cg)
    val l2 = l1.join(l2sup.select($"node".as("label"), $"label".as("label2")), "label")
      .select($"node", $"label2".as("label"))
    def q(labels: org.apache.spark.sql.DataFrame): Double =
      GraphAnalytics.modularity(GraphAnalytics.bothWaysCheckpointed(edges), labels)
        .agg(sum($"q_contrib")).as[Double].collect().head
    val (q1, q2) = (q(l1), q(l2))
    // merges are positive-gain only, and the fixture HAS positive pairs:
    // modularity must strictly increase and communities must merge
    assert(q2 > q1, s"level-2 merge must strictly raise modularity: $q1 -> $q2")
    val n1 = l1.select($"label").distinct().count()
    val n2 = l2.select($"label").distinct().count()
    assert(n2 < n1, s"level-2 must merge communities: $n1 -> $n2")
    // the relabel map is a valid matching: each super-node appears once,
    // merged pairs map both members to the smaller id
    val m = l2sup.as[(Long, Long)].collect()
    assert(m.map(_._1).distinct.length == m.length)
    val merged = m.filter(p => p._1 != p._2)
    assert(merged.nonEmpty)
    merged.foreach { case (node, lab) =>
      assert(lab < node && m.contains((lab, lab)),
        s"merged pair must keep the smaller id as label: $node -> $lab")
    }
    // guard: two bridged triangles under the perfect partition — the only
    // merge candidate has negative gain (m2*w(0,1)=14 < d0*d1=49), so the
    // round must be the identity (where the sync sweep would overshoot)
    val g = Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 4L), (4L, 5L), (5L, 3L),
      (2L, 3L)).toDF("src", "dst")
    val perfect = Seq((0L, 0L), (1L, 0L), (2L, 0L), (3L, 1L), (4L, 1L), (5L, 1L))
      .toDF("node", "label")
    val toy = GraphAnalytics.louvainMergeRound(
        GraphAnalytics.coarsenGraph(g, perfect))
      .as[(Long, Long)].collect().toMap
    assert(toy == Map(0L -> 0L, 1L -> 1L),
      s"negative-gain merge must be rejected: $toy")
    // and a heavy positive pair merges: one K4 split in half — merging the
    // halves gains m2*w - d*d' = 14*4 - 7*7 > 0
    val k4 = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L))
      .toDF("src", "dst")
    val halves = Seq((0L, 0L), (1L, 0L), (2L, 2L), (3L, 2L)).toDF("node", "label")
    val mk4 = GraphAnalytics.louvainMergeRound(
        GraphAnalytics.coarsenGraph(k4, halves))
      .as[(Long, Long)].collect().toMap
    assert(mk4 == Map(0L -> 0L, 2L -> 0L), s"positive pair must merge: $mk4")
  }

  test("coarsenGraph: self-loops carry intra weight; every edge conserved") {
    // two triangles {1,2,3} and {4,5,6} bridged by 3-4, perfect partition
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L),
      (3L, 4L)).toDF("src", "dst")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L), (6L, 4L))
      .toDF("node", "label")
    val sup = GraphAnalytics.coarsenGraph(g, labels)
      .as[(Long, Long, Long)].collect().toSet
    assert(sup == Set((1L, 1L, 3L), (4L, 4L, 3L), (1L, 4L, 1L)), s"$sup")
    // conservation: super-edge weights partition the original edge set
    assert(sup.toSeq.map(_._3).sum == 7)
  }

  test("multiSourceHopDistances: K pivots share one traversal, distances exact") {
    // path 1-2-3-4-5 plus isolated-from-path pair 8-9
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (8L, 9L))
      .toDF("u", "v")
    val pivots = Seq(1L, 3L).toDF("p")
    val d = GraphAnalytics.multiSourceHopDistances(und, pivots, hops = 4)
      .as[(Long, Long, Int)].collect().map(t => (t._1, t._2) -> t._3).toMap
    val expected = Map(
      (1L, 1L) -> 0, (1L, 2L) -> 1, (1L, 3L) -> 2, (1L, 4L) -> 3, (1L, 5L) -> 4,
      (3L, 1L) -> 2, (3L, 2L) -> 1, (3L, 3L) -> 0, (3L, 4L) -> 1, (3L, 5L) -> 2)
    assert(d == expected, s"$d")
    // hop bound truncates: depth 1 sees only direct neighbours
    val d1 = GraphAnalytics.multiSourceHopDistances(und, pivots, hops = 1)
      .as[(Long, Long, Int)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(d1 == Map(
      (1L, 1L) -> 0, (1L, 2L) -> 1,
      (3L, 2L) -> 1, (3L, 3L) -> 0, (3L, 4L) -> 1), s"$d1")
  }

  test("betweennessApprox: diamond splits sigma, path accumulates deps") {
    // diamond 1-2, 1-3, 2-4, 3-4: from pivot 1, sigma(4)=2 via 2 and 3;
    // delta(2) = delta(3) = 1/2 * (1 + 0) = 0.5; node 4 is deepest (delta 0)
    val diamond = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)).toDF("u", "v")
    val bc = GraphAnalytics.betweennessApprox(diamond, Seq(1L).toDF("p"), hops = 2)
      .as[(Long, Double)].collect().toMap
    assert(bc == Map(2L -> 0.5, 3L -> 0.5), s"$bc")

    // path 1-2-3-4-5 from pivot 1, hops=4: delta(2)=3, delta(3)=2, delta(4)=1
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("u", "v")
    val bcp = GraphAnalytics.betweennessApprox(path, Seq(1L).toDF("p"), hops = 4)
      .as[(Long, Double)].collect().toMap
    assert(bcp == Map(2L -> 3.0, 3L -> 2.0, 4L -> 1.0), s"$bcp")

    // two pivots sum: star 1..4 around center 9, pivots {1,2} -> each sees
    // the 3 other leaves through the center: bc(9) = 2 * 3
    val star = Seq((9L, 1L), (9L, 2L), (9L, 3L), (9L, 4L)).toDF("u", "v")
    val bcs = GraphAnalytics.betweennessApprox(star, Seq(1L, 2L).toDF("p"), hops = 2)
      .as[(Long, Double)].collect().toMap
    assert(bcs(9L) == 6.0, s"$bcs")
  }

  test("kTrussPeel: K5 is its own 5-truss; pendant triangle peels at round 1") {
    val k5 = (for { a <- 0L to 4L; b <- 0L to 4L if a < b } yield (a, b))
      .toDF("src", "dst")
    val got5 = GraphAnalytics.kTrussPeel(k5, k = 5, rounds = 3)
      .as[(Long, Long, Int)].collect()
    assert(got5.length == 10 && got5.forall(_._3 == 0),
      s"every K5 edge has support 3 >= k-2: ${got5.toSeq}")

    // K4 on {0,1,2,3} + pendant triangle (0,1,4): edges (0,4),(1,4) have
    // support 1 < 2 and peel at round 1; (0,1) keeps support 2 via {2,3}
    val g = ((for { a <- 0L to 3L; b <- 0L to 3L if a < b } yield (a, b)) ++
      Seq((0L, 4L), (1L, 4L))).toDF("src", "dst")
    val got4 = GraphAnalytics.kTrussPeel(g, k = 4, rounds = 3)
      .as[(Long, Long, Int)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(got4((0L, 4L)) == 1 && got4((1L, 4L)) == 1, s"$got4")
    assert(got4.filterNot(e => e._1 == (0L, 4L) || e._1 == (1L, 4L))
      .values.forall(_ == 0), s"K4 core survives: $got4")
  }

  test("kTrussPeel: removal cascades round by round, fixpoint is stable") {
    // K4 {0,1,2,3} + triangle strip (2,3,4) + (3,4,5): round 1 peels the
    // support-1 edges (2,4),(3,5),(4,5); that strands (3,4) -> round 2
    val g = ((for { a <- 0L to 3L; b <- 0L to 3L if a < b } yield (a, b)) ++
      Seq((2L, 4L), (3L, 4L), (3L, 5L), (4L, 5L))).toDF("src", "dst")
    val got = GraphAnalytics.kTrussPeel(g, k = 4, rounds = 4)
      .as[(Long, Long, Int)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(got((2L, 4L)) == 1 && got((3L, 5L)) == 1 && got((4L, 5L)) == 1, s"$got")
    assert(got((3L, 4L)) == 2, s"cascade reaches (3,4) one round later: $got")
    assert(got.count(_._2 == 0) == 6, s"K4 is the 4-truss: $got")

    // one more round than the declared budget changes nothing on the
    // declared query's fixture graph (the round budget is past fixpoint)
    val edges = Tables(spark, sf, "events")
      .select($"user_id".as("src"),
        (get_json_object($"props", "$.k").cast("long") % 15).as("dst"))
    val und = GraphAnalytics.undirected(edges)
      .filter(graft.pipeline.TextOps.strHash(
        concat($"u".cast("string"), lit(":"), $"v".cast("string"))) % 2 === 0)
      .select($"u".as("src"), $"v".as("dst"))
    val r7 = GraphAnalytics.kTrussPeel(und, k = 5, rounds = 7)
      .as[(Long, Long, Int)].collect().toSet
    val r8 = GraphAnalytics.kTrussPeel(und, k = 5, rounds = 8)
      .as[(Long, Long, Int)].collect().toSet
    assert(r7.nonEmpty && r7 == r8, "declared budget must be past the fixpoint")
    assert(r7.exists(_._3 > 0), "fixture peel must be non-vacuous")
  }

  test("lubyMis: independent, maximal, deterministic; star picks one side") {
    // star: center 9, leaves 1..4 — either the center is IN (all leaves
    // OUT) or every leaf is IN (center OUT); both are valid MIS shapes
    val star = Seq((9L, 1L), (9L, 2L), (9L, 3L), (9L, 4L)).toDF("src", "dst")
    val s = GraphAnalytics.lubyMis(star, rounds = 3)
      .as[(Long, String, Int)].collect().map(t => t._1 -> t._2).toMap
    assert(!s.values.exists(_ == "und"), "tiny graph must reach fixpoint")
    if (s(9L) == "in") assert((1L to 4L).forall(s(_) == "out"), s"$s")
    else assert((1L to 4L).forall(s(_) == "in"), s"$s")

    // fixture graph: set is independent, maximal, und-free, and stable
    // one round past the declared budget; repartitioning changes nothing
    val edges = rel.ScaleQueries.sparseEdges(spark, sf)
    val mis = GraphAnalytics.lubyMis(edges, rounds = 5)
      .as[(Long, String, Int)].collect()
    val state = mis.map(t => t._1 -> t._2).toMap
    assert(!state.values.exists(_ == "und"), "budget must be past fixpoint")
    val und = edges.select($"src", $"dst").as[(Long, Long)].collect()
    und.foreach { case (a, b) =>
      assert(!(state(a) == "in" && state(b) == "in"),
        s"adjacent IN pair ($a, $b) — not independent")
    }
    val inSet = state.filter(_._2 == "in").keySet
    val nbrs = (und ++ und.map(_.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    state.filter(_._2 == "out").keys.foreach { n =>
      assert(nbrs(n).exists(inSet.contains),
        s"OUT node $n has no IN neighbor — not maximal")
    }
    val mis6 = GraphAnalytics.lubyMis(edges, rounds = 6)
      .as[(Long, String, Int)].collect().toSet
    assert(mis.toSet == mis6, "one more round must change nothing")
    val misRep = GraphAnalytics.lubyMis(edges.repartition(13), rounds = 5)
      .as[(Long, String, Int)].collect().toSet
    assert(mis.toSet == misRep, "MIS must be partition-independent")
  }

  test("boruvkaMst: equals sequential Kruskal under the (w,u,v) order") {
    // deterministic pseudo-random sparse graph, incl. weight ties
    val rnd = new scala.util.Random(7)
    val n = 60
    val raw = (1 to 240).map { _ =>
      val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
      (a, b, rnd.nextInt(12).toLong) // small weight range → many ties
    }.filter(t => t._1 != t._2)
    val got = GraphAnalytics.boruvkaMst(raw.toDF("u", "v", "w"))
      .as[(Long, Long, Long)].collect().toSet

    // sequential Kruskal with union-find, same canonicalization + order
    val canon = raw.map { case (a, b, w) => (math.min(a, b), math.max(a, b), w) }
      .groupBy(t => (t._1, t._2)).map { case ((u, v), g) => (u, v, g.map(_._3).min) }
      .toSeq.sortBy(t => (t._3, t._1, t._2))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    val expect = canon.flatMap { case (u, v, w) =>
      val (ru, rv) = (find(u), find(v))
      if (ru == rv) None else { parent(ru) = rv; Some((u, v, w)) }
    }.toSet
    assert(got == expect, s"missing=${expect -- got} extra=${got -- expect}")

    // forest invariant: |MST| = |V| − #components, and repartitioning is inert
    val verts = canon.flatMap(t => Seq(t._1, t._2)).toSet
    val comps = {
      parent.clear()
      canon.foreach { case (u, v, _) => val (a, b) = (find(u), find(v))
        if (a != b) parent(a) = b }
      verts.map(find).size
    }
    assert(got.size == verts.size - comps)
    val rep = GraphAnalytics.boruvkaMst(raw.toDF("u", "v", "w").repartition(11))
      .as[(Long, Long, Long)].collect().toSet
    assert(rep == got, "MSF must be partition-independent")
  }

  test("stronglyConnectedComponents: cycles, bridges, singleton chains") {
    // cycle {1,2,3} —bridge→ cycle {4,5}; 6 feeds 1; isolated pair 7→8;
    // id-DECREASING singleton chain 30→20→10 forces multi-round peeling
    // (each node extracts only once every higher remaining id upstream
    // or downstream is gone — the documented worst case for round count)
    val g = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L),
      (4L, 5L), (5L, 4L), (3L, 4L),
      (6L, 1L), (7L, 8L),
      (30L, 20L), (20L, 10L))
      .toDF("src", "dst")
    val got = GraphAnalytics.stronglyConnectedComponents(g)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(
      1L -> 3L, 2L -> 3L, 3L -> 3L,        // SCC labeled by max member
      4L -> 5L, 5L -> 5L,
      6L -> 6L, 7L -> 7L, 8L -> 8L,
      10L -> 10L, 20L -> 20L, 30L -> 30L), s"$got")
    // partition-independence: the fixpoint is a pure function of the graph
    val rep = GraphAnalytics.stronglyConnectedComponents(g.repartition(7))
      .as[(Long, Long)].collect().toMap
    assert(rep == got, "SCC must be partition-independent")
    // self-loops and duplicate edges must be inert
    val noisy = g.unionByName(Seq((1L, 1L), (3L, 1L), (7L, 8L)).toDF("src", "dst"))
    val gotNoisy = GraphAnalytics.stronglyConnectedComponents(noisy)
      .as[(Long, Long)].collect().toMap
    assert(gotNoisy == got, "self-loops/dup edges must not change SCCs")

    // the local-finish (driver Tarjan) and pure-distributed paths agree,
    // on the hand graph and on a random digraph with nontrivial cycles
    val dist = GraphAnalytics
      .stronglyConnectedComponents(g, localEdgeLimit = 0L)
      .as[(Long, Long)].collect().toMap
    assert(dist == got, "distributed-only path must agree with gated path")
    val rnd = new scala.util.Random(11)
    val rg = (1 to 150).map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(t => t._1 != t._2).toDF("src", "dst")
    val rgLocal = GraphAnalytics
      .stronglyConnectedComponents(rg, localEdgeLimit = Long.MaxValue)
      .as[(Long, Long)].collect().toMap
    val rgDist = GraphAnalytics
      .stronglyConnectedComponents(rg, localEdgeLimit = 0L)
      .as[(Long, Long)].collect().toMap
    assert(rgLocal == rgDist, "Tarjan and peeling must agree on random digraph")
  }

  test("temporalReachability: time-respecting only, earliest arrival, partition-proof") {
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    // a(0)→b at t=5; b→c fires at t=3 (BEFORE arrival at b — unusable)
    // and again at t=9 (usable); direct a→c only at t=20; b→d fired at
    // t=2 only, so d is STATICALLY reachable but temporally not.
    val g = Seq((0L, 1L, t(5)), (1L, 2L, t(3)), (1L, 2L, t(9)),
      (0L, 2L, t(20)), (1L, 3L, t(2))).toDF("src", "dst", "ts")
    val got = GraphAnalytics.temporalReachability(g, start = 0L, rounds = 4)
      .as[(Long, java.sql.Timestamp)].collect().toMap
    assert(got.keySet == Set(0L, 1L, 2L), s"d must be temporally unreachable: $got")
    assert(got(1L) == t(5))
    assert(got(2L) == t(9), s"2-hop t=9 beats direct t=20: ${got(2L)}")
    // partition independence (min semiring)
    val got7 = GraphAnalytics.temporalReachability(g.repartition(7), 0L, 4)
      .as[(Long, java.sql.Timestamp)].collect().toMap
    assert(got7 == got)
  }

  test("eigenvectorCentrality: cycle is stationary, star drains, partition-proof") {
    import GraphAnalytics.EigScale
    // directed 4-cycle: uniform is the exact eigenvector — every iterate
    // reproduces it bit-for-bit (rotation preserves the vector, rescale
    // is then the identity on an exact quarter share)
    val cyc = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L)).toDF("src", "dst")
    val gotCyc = GraphAnalytics.eigenvectorCentrality(cyc, iters = 5)
      .as[(Long, Long)].collect().toMap
    assert(gotCyc == (0L to 3L).map(_ -> EigScale / 4).toMap, s"$gotCyc")
    // in-star 1..4 → 0: round 1 puts ALL mass on the sink hub; round 2
    // drains it (the hub has no out-edge) and the zero-sum guard must
    // yield all-zeros instead of dividing by zero
    val star = (1L to 4L).map(_ -> 0L).toDF("src", "dst")
    val oneIter = GraphAnalytics.eigenvectorCentrality(star, iters = 1)
      .as[(Long, Long)].collect().toMap
    assert(oneIter == Map(0L -> EigScale, 1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L))
    val drained = GraphAnalytics.eigenvectorCentrality(star, iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(drained.values.forall(_ == 0L), s"drained star must be all-zero: $drained")
    // hub vs chain: the node with two in-neighbours outranks degree-1 nodes
    val g = Seq((1L, 0L), (2L, 0L), (0L, 1L), (1L, 2L), (2L, 1L)).toDF("src", "dst")
    val sc = GraphAnalytics.eigenvectorCentrality(g, iters = 5)
      .as[(Long, Long)].collect().toMap
    assert(sc(0L) > 0L && sc.values.sum <= EigScale &&
      sc.values.sum >= EigScale - 10, s"L1 mass must stay ~EigScale: $sc")
    // exact integer arithmetic ⇒ bit-identical at any partitioning
    val sc7 = GraphAnalytics.eigenvectorCentrality(g.repartition(7), iters = 5)
      .as[(Long, Long)].collect().toMap
    assert(sc7 == sc, "power iteration must be partition-independent")
  }

  test("requireDriverFits: refuses a collect that cannot fit driver heap") {
    // the refusal path: a row count whose bytes estimate dwarfs any heap
    val big = Long.MaxValue / GraphAnalytics.LocalFinishRowBytes / 2
    val e = intercept[IllegalArgumentException] {
      GraphAnalytics.requireDriverFits(big, "test")
    }
    assert(e.getMessage.contains("local finish would collect"))
    // ...and the pass path: tiny tails (the fixture scale) sail through
    GraphAnalytics.requireDriverFits(1000L, "test")
    // the guarded algorithms still work end-to-end under the guard
    val tri = Seq((0L, 1L, 1.0), (1L, 2L, 2.0), (0L, 2L, 3.0))
      .toDF("u", "v", "w")
    val mst = GraphAnalytics.boruvkaMst(tri).as[(Long, Long, Double)]
      .collect().toSet
    assert(mst.map(_._3) == Set(1.0, 2.0))
  }
}
