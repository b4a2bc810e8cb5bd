package graft

import graft.pipeline.{Sketches, Similarity}
import graft.rel.VectorQueries
import org.apache.spark.sql.functions._

/** KMV sketch accuracy/exactness and IVF ANN recall against brute force. */
class SketchIvfSpec extends SparkSpec {
  import spark.implicits._

  test("kmvDistinct is exact below k and within 2/sqrt(k) above k") {
    val li = Tables(spark, sf, "lineitem")
    // below k: 3 distinct returnflags grouped by a constant
    val small = Sketches.kmvDistinct(
      li.withColumn("g", lit("all")), "g", "l_returnflag", k = 64)
      .as[(String, Long)].collect().toMap
    assert(small("all") == 3L, "fewer than k distinct values → exact count")

    // above k: ~200 distinct partkeys per flag at sf0.001
    val est = Sketches.kmvDistinct(li, "l_returnflag", "l_partkey", k = 64)
      .as[(String, Long)].collect().toMap
    val exact = li.groupBy($"l_returnflag").agg(countDistinct($"l_partkey"))
      .as[(String, Long)].collect().toMap
    est.foreach { case (g, e) =>
      val x = exact(g).toDouble
      assert(x > 64, s"group $g must exceed k for the estimate branch")
      assert(math.abs(e - x) / x < 2.0 / math.sqrt(64),
        s"group $g: est $e vs exact $x outside KMV error bound")
    }
  }

  test("kmvDistinct estimate is partitioning-independent (mergeable sketch)") {
    val li = Tables(spark, sf, "lineitem")
    val a = Sketches.kmvDistinct(li, "l_returnflag", "l_partkey", 64)
      .as[(String, Long)].collect().toMap
    val b = Sketches.kmvDistinct(li.repartition(13), "l_returnflag", "l_partkey", 64)
      .as[(String, Long)].collect().toMap
    assert(a == b)
  }

  test("count-min sketch: estimate >= exact, exact for isolated keys, mergeable") {
    val li = Tables(spark, sf, "lineitem")
    val cms = Sketches.cmsBuild(li, "l_partkey", depth = 3, width = 256)
    val probes = li.select($"l_partkey").distinct().filter($"l_partkey" <= 30)
    val est = Sketches.cmsEstimate(cms, probes, "l_partkey", depth = 3, width = 256)
      .as[(Long, Long)].collect().toMap
    val exact = li.filter($"l_partkey" <= 30).groupBy($"l_partkey")
      .agg(count(lit(1))).as[(Long, Long)].collect().toMap
    assert(est.nonEmpty)
    exact.foreach { case (k, x) =>
      assert(est(k) >= x, s"CMS never undercounts: key $k est ${est(k)} < $x")
    }
    // mergeability: partitioning must not change a single counter
    val cms2 = Sketches.cmsBuild(li.repartition(13), "l_partkey", 3, 256)
    val est2 = Sketches.cmsEstimate(cms2, probes, "l_partkey", 3, 256)
      .as[(Long, Long)].collect().toMap
    assert(est == est2)
  }

  test("ivfTopK: probing all cells reproduces brute force; fewer cells prune") {
    val emb = Tables(spark, sf, "embeddings")
    val brute = graft.search.VectorSearch.topK(emb, "vec_id", "embedding",
        VectorQueries.queryVec, k = 10, scoreCol = "score",
        cosine = true, roundTo = Some(6))
      .select($"vec_id", $"score").as[(Long, Double)].collect().toSeq
    // degenerate IVF (probe every cell) must be exactly exhaustive search
    val full = Similarity.ivfTopK(emb, "vec_id", "embedding",
        VectorQueries.queryVec, k = 10, centroidEvery = 25, nprobe = 20)
      .as[(Long, Double)].collect().toSeq
    assert(full == brute, "nprobe = all cells ⇒ identical to brute force")
    // real IVF: valid descending subset of the corpus with nonzero overlap
    // (these synthetic embeddings are near-uniform on the sphere, so recall
    // at 2/20 cells is genuinely low — the oracle checks exact semantics)
    val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding",
        VectorQueries.queryVec, k = 10, centroidEvery = 25, nprobe = 2)
      .as[(Long, Double)].collect()
    assert(ivf.length == 10)
    assert(ivf.map(_._2).sliding(2).forall(p => p.head >= p.last), "scores descend")
    assert(ivf.map(_._1).exists(brute.map(_._1).toSet.contains),
      "probed cells overlap the true top-k")
    // default spacing derives ⌈√n⌉ (scale-stable centroid count) and still
    // returns a full, descending top-k
    val derived = Similarity.ivfTopK(emb, "vec_id", "embedding",
        VectorQueries.queryVec, k = 10, nprobe = 2)
      .as[(Long, Double)].collect()
    assert(derived.length == 10)
    assert(derived.map(_._2).sliding(2).forall(p => p.head >= p.last))
  }

  test("k-means-trained IVF: recall@5 >= spaced-seed recall@5; training deterministic") {
    val emb = Tables(spark, sf, "embeddings")
    val exact = graft.search.VectorSearch.topK(emb, "vec_id", "embedding",
        VectorQueries.queryVec, k = 5, scoreCol = "score",
        cosine = true, roundTo = Some(6))
      .as[(Long, Double)].collect().map(_._1).toSet
    def recall(ids: Seq[Long]): Double = ids.toSet.intersect(exact).size / 5.0
    val spaced = Similarity.ivfTopK(emb, "vec_id", "embedding",
        VectorQueries.queryVec, k = 5, nprobe = 2)
      .as[(Long, Double)].collect().map(_._1).toSeq
    val cent = Similarity.kmeansCentroids(emb, "vec_id", "embedding", iters = 2)
    val trained = Similarity.ivfTopKWith(emb, "vec_id", "embedding", cent,
        VectorQueries.queryVec, k = 5, nprobe = 2)
      .as[(Long, Double)].collect().map(_._1).toSeq
    assert(recall(trained) >= recall(spaced),
      s"trained recall ${recall(trained)} < spaced recall ${recall(spaced)}")
    // Lloyd on decimal-exact means: bit-identical centroids at ANY input
    // partitioning — the property the unrolled-CTE oracle rests on
    val c1 = cent.orderBy($"cid").as[(Long, Seq[Double])].collect().toSeq
    val c2 = Similarity.kmeansCentroids(emb.repartition(13), "vec_id", "embedding",
        iters = 2)
      .orderBy($"cid").as[(Long, Seq[Double])].collect().toSeq
    assert(c1 == c2, "training must be partitioning-independent")
    // training moves centroids: at least one seed is not its own mean
    val seeds = emb.filter($"vec_id" % math.ceil(math.sqrt(emb.count().toDouble)).toLong === 0)
      .select($"vec_id", $"embedding".cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toMap
    assert(c1.exists { case (cid, cv) => seeds.get(cid).exists(_ != cv) },
      "Lloyd iterations must actually update centroids")
  }

  test("IVFPQ: unbounded rerank degenerates to IVF-flat; bounded rerank deterministic") {
    val emb = Tables(spark, sf, "embeddings")
    val cent = Similarity.kmeansCentroids(emb, "vec_id", "embedding", iters = 2)
    // with rerank >= |candidates|, ADC prunes nothing and the exact rerank
    // must reproduce IVF-flat over the same probed cells EXACTLY — the
    // identity that pins the composition's plumbing
    val flat = Similarity.ivfTopKWith(emb, "vec_id", "embedding", cent,
        VectorQueries.queryVec, k = 10, nprobe = 2)
      .as[(Long, Double)].collect().toSeq
    val unpruned = Similarity.ivfPqTopK(emb, "vec_id", "embedding", cent,
        VectorQueries.queryVec, k = 10, nprobe = 2, rerank = Int.MaxValue)
      .select($"vec_id", $"score").as[(Long, Double)].collect().toSeq
    assert(unpruned == flat,
      s"unbounded-rerank IVFPQ must equal IVF-flat: $unpruned vs $flat")
    // production config: deterministic under repartition, exact-cosine
    // scores on every returned row
    val a = Similarity.ivfPqTopK(emb, "vec_id", "embedding", cent,
        VectorQueries.queryVec, k = 10, nprobe = 2, rerank = 30)
      .as[(Long, Double, Double)].collect().toSeq
    val b = Similarity.ivfPqTopK(emb.repartition(13), "vec_id", "embedding", cent,
        VectorQueries.queryVec, k = 10, nprobe = 2, rerank = 30)
      .as[(Long, Double, Double)].collect().toSeq
    assert(a == b, "IVFPQ must be partitioning-independent")
    assert(a.nonEmpty && a.map(_._3).sliding(2).forall(p => p.head >= p.last))
  }

  test("trained PQ: Lloyd reduces quantization MSE below the spaced seed codebook") {
    val emb = Tables(spark, sf, "embeddings")
    val spaced = Similarity.pqCodebookSpaced(emb, "vec_id", "embedding", dim = 64)
    val trained = Similarity.pqCodebookTrained(emb, "vec_id", "embedding",
      dim = 64, m = 8, iters = 2)
    def mse(cb: org.apache.spark.sql.DataFrame): Double =
      Similarity.pqMse(emb, "vec_id", "embedding", cb, dim = 64)
        .as[Double].head()
    val (ms, mt) = (mse(spaced), mse(trained))
    // Lloyd's objective is non-increasing from the seed assignment
    assert(mt <= ms, s"trained MSE $mt must not exceed spaced MSE $ms")
    // training is partitioning-independent (decimal means, fixed iters)
    val trained2 = Similarity.pqCodebookTrained(emb.repartition(13), "vec_id",
      "embedding", dim = 64, m = 8, iters = 2)
    val c1 = trained.orderBy($"s", $"cid").as[(Int, Long, Seq[Double])].collect().toSeq
    val c2 = trained2.orderBy($"s", $"cid").as[(Int, Long, Seq[Double])].collect().toSeq
    assert(c1 == c2, "PQ training must be partitioning-independent")
  }

  test("hamming sketch: packed codes equal naive sign-disagreement counts; self at 0") {
    val emb = Tables(spark, sf, "embeddings")
    val self = emb.filter($"vec_id" === 3L)
      .select($"embedding".cast("array<double>")).as[Seq[Double]].head()
    val top = Similarity.hammingTopK(emb, "vec_id", "embedding", self, k = 5)
      .as[(Long, Int, Double)].collect()
    assert(top.head._1 == 3L && top.head._2 == 0 && top.head._3 == 1.0,
      s"self-query must rank itself first at distance 0: ${top.head}")
    // the xor+popcount of the two packed halves must equal the naive
    // component-wise sign disagreement count, row by row
    val rows = emb.filter($"vec_id" < 20)
      .select($"vec_id", $"embedding".cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
    val naive = rows.map { case (id, v) =>
      id -> v.zip(self).count { case (a, b) => (a > 0) != (b > 0) }
    }.toMap
    val packed = Similarity.hammingTopK(emb.filter($"vec_id" < 20), "vec_id",
        "embedding", self, k = 20)
      .as[(Long, Int, Double)].collect().map(r => r._1 -> r._2).toMap
    assert(packed == naive, s"packed=$packed naive=$naive")
  }

  test("cellRepresentatives: per-cell cap, full-cell coverage, nearest-first") {
    val emb = Tables(spark, sf, "embeddings")
    val cent = Similarity.kmeansCentroids(emb, "vec_id", "embedding", iters = 2)
    val reps = Similarity.cellRepresentatives(emb, "vec_id", "embedding",
        cent, perCell = 2)
      .as[(Long, Long, Double, Int)].collect().toSeq
    val byCell = reps.groupBy(_._1)
    assert(byCell.values.forall(_.size <= 2), "per-cell cap violated")
    // every cell that has members contributes (coverage): cells == the
    // distinct assignment targets, so reps span every non-empty cell
    val nCells = cent.count()
    assert(byCell.size.toLong <= nCells && byCell.nonEmpty)
    // rank-1 rep of each cell has the cell's max ccos; ranks are 1,2
    byCell.values.foreach { rs =>
      val sorted = rs.sortBy(_._4)
      assert(sorted.map(_._4) == (1 to sorted.size))
      assert(sorted.head._3 >= sorted.last._3)
    }
    // dense regions don't crowd out sparse ones: with ~sqrt(n) cells and
    // 2 reps each, the subset is ≤ 2·cells regardless of density
    assert(reps.size <= 2 * nCells)
  }

  test("pcaTopComponent: unit norm, dominant direction, partitioning-independent") {
    val emb = Tables(spark, sf, "embeddings")
    val pc = Similarity.pcaTopComponent(emb, "vec_id", "embedding", iters = 3)
      .as[(Int, Double, Double)].collect().toSeq
    assert(pc.length == 64 && pc.map(_._1) == (0 until 64))
    // unit vector (loadings are independently 6dp-rounded: tolerance 64·1e-6)
    val n2 = pc.map(p => p._2 * p._2).sum
    assert(math.abs(n2 - 1.0) < 1e-4, s"‖w‖² = $n2")
    val lambda = pc.head._3
    assert(pc.forall(_._3 == lambda) && lambda > 0)
    // on a planted corpus dominated by one direction, the PC recovers it:
    // 100 vectors ±e0-heavy noise … instead, verify the Rayleigh property
    // on the REAL fixture: λ ≥ variance along every coordinate axis (the
    // top eigenvalue dominates all diagonal covariance entries)
    val x = emb.select(posexplode($"embedding".cast("array<double>")))
      .groupBy($"pos")
      .agg((avg($"col" * $"col") - avg($"col") * avg($"col")).as("v"))
      .as[(Int, Double)].collect()
    val maxDiag = x.map(_._2).max
    assert(lambda >= maxDiag - 1e-3,
      s"top eigenvalue $lambda below max axis variance $maxDiag")
    // bit-identical at any partitioning — the unrolled-CTE oracle property
    val pc2 = Similarity.pcaTopComponent(emb.repartition(13), "vec_id",
        "embedding", iters = 3)
      .as[(Int, Double, Double)].collect().toSeq
    assert(pc == pc2, "PCA must be partitioning-independent")
  }

  test("whitenTopComponent: Pythagoras holds — resid2 == |c|^2 - proj^2") {
    val emb = Tables(spark, sf, "embeddings")
    val out = Similarity.whitenTopComponent(emb, "vec_id", "embedding", iters = 3)
      .as[(Long, Double, Double)].collect()
    assert(out.length == emb.count())
    // |c|^2 per vector, centered exactly like the operator (6dp means)
    val mean = emb.select(posexplode($"embedding".cast("array<double>")))
      .groupBy($"pos")
      .agg(round(sum($"col".cast("decimal(20,10)")).cast("double") /
        count(lit(1)), 6).as("m"))
      .as[(Int, Double)].collect().sortBy(_._1).map(_._2)
    val norms = emb.select($"vec_id", $"embedding".cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
      .map { case (id, v) =>
        id -> v.zip(mean).map { case (a, m) => (a - m) * (a - m) }.sum }
      .toMap
    out.foreach { case (id, proj, resid2) =>
      // w is unit up to 64 independent 6dp roundings; allow small slack
      assert(math.abs(resid2 - (norms(id) - proj * proj)) < 1e-3,
        s"vec $id: resid2 $resid2 vs ${norms(id)} - $proj^2")
      assert(resid2 >= 0)
    }
  }

  test("pqTopK: 1-spaced codebook (every vector is a codeword) == exact dot top-k") {
    val emb = Tables(spark, sf, "embeddings")
    val exact = graft.search.VectorSearch.topK(emb, "vec_id", "embedding",
        VectorQueries.queryVec, k = 10, scoreCol = "score", roundTo = Some(6))
      .as[(Long, Double)].collect().toSeq
    val pq = Similarity.pqTopK(emb, "vec_id", "embedding",
        VectorQueries.queryVec, k = 10, codewordEvery = 1L)
      .as[(Long, Double)].collect().toSeq
    // with zero quantization error PQ's ADC reduces to the exact dot;
    // duplicate subvectors can reassign codes but never change the score
    assert(pq.map(_._1) == exact.map(_._1), s"$pq vs $exact")
    pq.zip(exact).foreach { case ((_, a), (_, b)) =>
      assert(math.abs(a - b) <= 2e-6, s"$a vs $b") // two independent 6dp roundings
    }
    // real PQ (√n codebook): full descending top-k, approximate scores
    val approx = Similarity.pqTopK(emb, "vec_id", "embedding",
        VectorQueries.queryVec, k = 10)
      .as[(Long, Double)].collect()
    assert(approx.length == 10)
    assert(approx.map(_._2).sliding(2).forall(p => p.head >= p.last))
  }

  test("ivfPqTopKQueries: every batch slice row-identical to the per-query ivfPqTopK plan") {
    val emb = Tables(spark, sf, "embeddings")
    val cent = Similarity.kmeansCentroids(emb, "vec_id", "embedding", iters = 2)
    val batch = Similarity.ivfPqTopKQueries(emb, "vec_id", "embedding", cent,
        emb.filter($"vec_id" < 3), "vec_id", "embedding", dim = 64,
        k = 5, nprobe = 2, rerank = 30)
      .select($"qid", $"cand", $"pq_score", $"score")
      .as[(Long, Long, Double, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3, t._4)).toSet).toMap
    assert(batch.keySet == Set(0L, 1L, 2L))
    (0L to 2L).foreach { qid =>
      val qv = emb.filter($"vec_id" === qid)
        .select($"embedding".cast("array<double>"))
        .as[Seq[Double]].head()
      val single = Similarity.ivfPqTopK(emb, "vec_id", "embedding", cent,
          qv, k = 5, nprobe = 2, rerank = 30)
        .as[(Long, Double, Double)].collect().toSet
      assert(batch(qid) == single,
        s"qid $qid: batch ${batch(qid)} vs single $single")
    }
    // amortization shape: a synthetic query vector (not a corpus row)
    // must also serve through the same batch plan
    val extQ = Seq((99L, VectorQueries.queryVec)).toDF("qid", "qv")
    val ext = Similarity.ivfPqTopKQueries(emb, "vec_id", "embedding", cent,
        extQ, "qid", "qv", dim = 64, k = 5, nprobe = 2, rerank = 30)
      .select($"cand", $"pq_score", $"score")
      .as[(Long, Double, Double)].collect().toSet
    val extSingle = Similarity.ivfPqTopK(emb, "vec_id", "embedding", cent,
        VectorQueries.queryVec, k = 5, nprobe = 2, rerank = 30)
      .as[(Long, Double, Double)].collect().toSet
    assert(ext == extSingle)
  }

  test("ivfTopKQueries: every batch slice row-identical to the per-query ivfTopKWith plan") {
    val emb = Tables(spark, sf, "embeddings")
    val cent = Similarity.kmeansCentroids(emb, "vec_id", "embedding", iters = 2)
    val batch = Similarity.ivfTopKQueries(emb, "vec_id", "embedding", cent,
        emb.filter($"vec_id" < 3), "vec_id", "embedding", k = 5, nprobe = 2)
      .select($"qid", $"rn", $"cand", $"score")
      .as[(Long, Int, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(t => (t._3, t._4)).toSeq).toMap
    assert(batch.keySet == Set(0L, 1L, 2L))
    (0L to 2L).foreach { qid =>
      val qv = emb.filter($"vec_id" === qid)
        .select($"embedding".cast("array<double>"))
        .as[Seq[Double]].head()
      val single = Similarity.ivfTopKWith(emb, "vec_id", "embedding", cent,
          qv, k = 5, nprobe = 2)
        .as[(Long, Double)].collect().toSeq
      assert(single.nonEmpty)
      assert(batch(qid) == single, s"qid $qid: batch ${batch(qid)} vs single $single")
    }
  }

  test("nearest: rounded ties rank by key, n past the side, empty side, partitioning, self pairs") {
    val rows = Seq((1L, 0.0), (2L, 0.0), (3L, 0.0)).toDF("rid", "x")
    // 0.1234561 and 0.1234564 differ only past 6 places: tied at roundTo 6
    val side = Seq((7L, 0.1234564), (2L, 0.1234561), (9L, 0.5)).toDF("sid", "s")
    def ranked(r: org.apache.spark.sql.DataFrame, sd: org.apache.spark.sql.DataFrame,
               n: Int, roundTo: Int, on: Option[org.apache.spark.sql.Column] = None) =
      Similarity.nearest(r, sd, "rid", "sid", "score", $"s" + $"x", n, roundTo, on)
        .select($"rid", $"rn", $"sid", $"score")
        .as[(Long, Int, Long, Double)].collect().toSet
    val at6 = ranked(rows, side, 3, 6)
    assert(at6.filter(_._1 == 1L).toSeq.sortBy(_._2).map(_._3) == Seq(9L, 2L, 7L),
      s"a rounded tie goes to the smaller key: $at6")
    val at7 = ranked(rows, side, 3, 7)
    assert(at7.filter(_._1 == 1L).toSeq.sortBy(_._2).map(_._3) == Seq(9L, 7L, 2L),
      s"unrounded, the larger score wins: $at7")
    // n larger than the side: every side row, for every row
    val all = ranked(rows, side, 10, 6)
    assert(all.size == 9 && all.map(t => (t._1, t._3)) ==
      (for (r <- Seq(1L, 2L, 3L); s <- Seq(7L, 2L, 9L)) yield (r, s)).toSet)
    // top-1 keeps exactly one row per group
    assert(ranked(rows, side, 1, 6).map(t => (t._1, t._3)) ==
      Set((1L, 9L), (2L, 9L), (3L, 9L)))
    // empty side: no rows
    assert(ranked(rows, side.limit(0), 3, 6).isEmpty)
    // partitioning of the row side cannot move a row (a corpus-sized top-2)
    val e = Tables(spark, sf, "embeddings").select($"vec_id".as("vid"), $"embedding".as("v"))
    val cent = e.filter($"vid" % 37 === 0).select($"vid".as("cid"), $"v".as("cv"))
    def top2(r: org.apache.spark.sql.DataFrame) = Similarity.nearest(r, cent, "vid", "cid",
        "ccos", graft.functions.vec.cosine($"v", $"cv"), 2, 6)
      .select($"vid", $"rn", $"cid", $"ccos").as[(Long, Int, Long, Double)].collect().toSet
    val whole = top2(e)
    assert(whole.size == 2 * e.count() && top2(e.repartition(7)) == whole)
    // a self-excluding predicate drops the self pair (rid 2 = sid 2)
    val noSelf = ranked(rows, side, 3, 6, on = Some($"rid" =!= $"sid"))
    assert(!noSelf.exists(t => t._1 == t._3), s"self pair kept: $noSelf")
    assert(noSelf.filter(_._1 == 2L).toSeq.sortBy(_._2).map(_._3) == Seq(9L, 7L))
    assert(noSelf.filter(_._1 == 1L).size == 3)
  }

  test("histogramQuantiles: err within (0, width]; exact matches a driver-side sort; mergeable") {
    val li = Tables(spark, sf, "lineitem")
    val cents = li.select(round($"l_extendedprice" * 100).cast("long").as("cents"))
    val qs = Seq((1, 4), (1, 2), (3, 4), (9, 10), (99, 100))
    val r = Sketches.histogramQuantiles(cents, "cents", width = 100000L, qs)
      .as[(Int, Int, Long, Long, Long, Long)].collect()
      .map { case (num, den, rank, exact, est, err) =>
        (num, den) -> (rank, exact, est, err) }.toMap
    assert(r.keySet == qs.toSet, s"one row per fraction: ${r.keySet}")
    // ground truth by an in-memory sort (test-only; the operator never does this)
    val sorted = cents.as[Long].collect().sorted
    val n = sorted.length
    qs.foreach { case (num, den) =>
      val (rank, exact, est, err) = r((num, den))
      assert(rank == (n.toLong * num + den - 1) / den)
      assert(exact == sorted((rank - 1).toInt),
        s"$num/$den: exact $exact != sorted rank ${sorted((rank - 1).toInt)}")
      assert(err == est - exact && err >= 1 && err <= 100000L,
        s"$num/$den: err $err outside (0, width]")
    }
    // mergeable: the sketch is one integer groupBy — repartitioning the
    // input cannot move a single output row
    val r13 = Sketches.histogramQuantiles(
        cents.repartition(13), "cents", width = 100000L, qs)
      .as[(Int, Int, Long, Long, Long, Long)].collect().toSet
    assert(r13 == r.map { case ((num, den), (rank, exact, est, err)) =>
      (num, den, rank, exact, est, err) }.toSet)
  }

  test("hammingTopKQueries: every batch slice row-identical to the per-query hammingTopK plan") {
    val emb = Tables(spark, sf, "embeddings")
    val batch = Similarity.hammingTopKQueries(emb, "vec_id", "embedding",
        emb.filter($"vec_id" < 3), "vec_id", "embedding", dim = 64, k = 5)
      .select($"qid", $"cand", $"hamming", $"cos")
      .as[(Long, Long, Int, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3, t._4)).toSet).toMap
    assert(batch.keySet == Set(0L, 1L, 2L))
    (0L to 2L).foreach { qid =>
      val qv = emb.filter($"vec_id" === qid)
        .select($"embedding".cast("array<double>"))
        .as[Seq[Double]].head()
      val single = Similarity.hammingTopK(emb, "vec_id", "embedding", qv, k = 5)
        .as[(Long, Int, Double)].collect().toSet
      assert(batch(qid) == single,
        s"qid $qid: batch ${batch(qid)} vs single $single")
    }
    intercept[IllegalArgumentException] {
      Similarity.hammingTopKQueries(emb, "vec_id", "embedding",
        emb.filter($"vec_id" < 3), "vec_id", "embedding", dim = 63, k = 5)
    }
  }

  test("pqTopKQueries: batch slices row-identical to pqTopK; gate fallback rows unchanged") {
    val emb = Tables(spark, sf, "embeddings")
    val n = emb.count()
    val batch = Similarity.pqTopKQueries(emb, "vec_id", "embedding",
        emb.filter($"vec_id" < 3), "vec_id", "embedding", dim = 64, k = 5,
        corpusN = n, queriesN = 3L)
      .select($"qid", $"cand", $"score")
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet).toMap
    assert(batch.keySet == Set(0L, 1L, 2L))
    (0L to 2L).foreach { qid =>
      val qv = emb.filter($"vec_id" === qid)
        .select($"embedding".cast("array<double>"))
        .as[Seq[Double]].head()
      val single = Similarity.pqTopK(emb, "vec_id", "embedding", qv,
          k = 5, corpusN = n)
        .as[(Long, Double)].collect().toSet
      assert(batch(qid) == single,
        s"qid $qid: batch ${batch(qid)} vs single $single")
    }
    // broadcast gate: forcing the shuffle path must not change a row
    val shuffled = Similarity.pqTopKQueries(emb, "vec_id", "embedding",
        emb.filter($"vec_id" < 3), "vec_id", "embedding", dim = 64, k = 5,
        corpusN = n, queriesN = 3L, broadcastRowLimit = 1L)
      .select($"qid", $"cand", $"score")
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet).toMap
    assert(shuffled == batch)
  }

  test("persisted quantizer serves row-identically to the in-memory artifact") {
    val emb = Tables(spark, sf, "embeddings")
    val cent = Similarity.kmeansCentroids(emb, "vec_id", "embedding", iters = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft-quant").toString
    Similarity.saveQuantizer(cent, s"$dir/centroids")
    val loaded = Similarity.loadQuantizer(spark, s"$dir/centroids", Seq("cid", "cv"))
    // the artifact round-trips exactly (bit-deterministic doubles)
    val a = cent.as[(Long, Seq[Double])].collect().toMap
    val b = loaded.select($"cid", $"cv").as[(Long, Seq[Double])].collect().toMap
    assert(a == b, "centroid parquet round-trip must be bit-exact")
    // and SERVING from the loaded artifact is row-identical
    val q = VectorQueries.queryVec
    val mem = Similarity.ivfTopKWith(emb, "vec_id", "embedding", cent, q, k = 5)
      .collect().toSeq
    val disk = Similarity.ivfTopKWith(emb, "vec_id", "embedding", loaded, q, k = 5)
      .collect().toSeq
    assert(mem == disk)
    // column check fails fast on a wrong-artifact path
    intercept[IllegalArgumentException] {
      Similarity.loadQuantizer(spark, s"$dir/centroids", Seq("cid", "s", "cs"))
    }
  }

  test("ivfPqTopKQueries: over-limit batches fall back to shuffle joins, rows unchanged") {
    val emb = Tables(spark, sf, "embeddings")
    val cent = Similarity.kmeansCentroids(emb, "vec_id", "embedding", iters = 2)
    def run(limit: Long) = Similarity.ivfPqTopKQueries(emb, "vec_id", "embedding",
        cent, emb.filter($"vec_id" < 3), "vec_id", "embedding", dim = 64,
        k = 5, nprobe = 2, rerank = 30, broadcastRowLimit = limit)
    // limit 0 forces the shuffle-join path for both the probe and ADC tables
    val shuffled = run(0L)
    val bPlan = run(Long.MaxValue).queryExecution.executedPlan.toString
    val sPlan = shuffled.queryExecution.executedPlan.toString
    assert(bPlan.contains("BroadcastHashJoin"))
    // the gate really changes the exchanges: fewer broadcast joins survive
    // (the centroid/codebook broadcasts inside assignment/pqAssign remain)
    assert(sPlan.split("BroadcastHashJoin").length < bPlan.split("BroadcastHashJoin").length,
      "broadcastRowLimit=0 must demote the probe/ADC broadcasts")
    val a = run(Long.MaxValue).select($"qid", $"cand", $"pq_score", $"score", $"rn")
      .as[(Long, Long, Double, Double, Int)].collect().sortBy(r => (r._1, r._5))
    val b = shuffled.select($"qid", $"cand", $"pq_score", $"score", $"rn")
      .as[(Long, Long, Double, Double, Int)].collect().sortBy(r => (r._1, r._5))
    assert(a.toSeq == b.toSeq, "join strategy must never change results")
  }

  test("filteredTopKAuto: selective pred = exact pre-filter; loose pred = ivf post-filter") {
    val emb = Tables(spark, sf, "embeddings")
    val q = graft.rel.VectorQueries.queryVec
    val n = emb.count()
    // selective (10%): must equal exact brute force over the subset
    val auto = Similarity.filteredTopKAuto(emb, "vec_id", "embedding",
      $"label" % 10 === 0, q, k = 15, corpusN = n)
      .as[(Long, Double)].collect().toSeq
    val exact = graft.search.VectorSearch.topK(emb.filter($"label" % 10 === 0),
      "vec_id", "embedding", q, 15, scoreCol = "score", cosine = true,
      roundTo = Some(6)).as[(Long, Double)].collect().toSeq
    assert(auto == exact, s"pre-filter path must be the exact subset top-k")
    // loose (always true): must equal the ivf + semi-join + re-limit composition
    val loose = Similarity.filteredTopKAuto(emb, "vec_id", "embedding",
      lit(true), q, k = 15, corpusN = n).as[(Long, Double)].collect().toSeq
    val post = Similarity.ivfTopK(emb, "vec_id", "embedding", q, k = 60,
        corpusN = n)
      .orderBy($"score".desc, $"vec_id").limit(15)
      .as[(Long, Double)].collect().toSeq
    assert(loose == post, "post-filter path must be the ivf composition")
  }

  test("sq8TopK: full rerank == exact cosine top-k; codes bounded; partition-independent") {
    val emb = Tables(spark, sf, "embeddings")
    val n = emb.count().toInt
    // rerank = n: the integer prefilter admits everything, so the result
    // must be EXACTLY the brute-force cosine top-k
    val full = Similarity.sq8TopK(emb, "vec_id", "embedding",
        VectorQueries.queryVec, k = 10, rerank = n)
      .select($"vec_id", $"cos").as[(Long, Double)].collect().toSeq
    val brute = graft.search.VectorSearch.topK(emb, "vec_id", "embedding",
        VectorQueries.queryVec, k = 10, scoreCol = "cos",
        cosine = true, roundTo = Some(6))
      .as[(Long, Double)].collect().toSeq
    assert(full == brute, s"full rerank must reduce to exact search: $full vs $brute")
    // the quantized dot is bounded by dim * 127^2 (codes in [-127, 127])
    val qd = Similarity.sq8TopK(emb, "vec_id", "embedding",
        VectorQueries.queryVec, k = 10, rerank = 30)
      .select($"qdot").as[Long].collect()
    assert(qd.forall(d => math.abs(d) <= 64L * 127 * 127), s"${qd.toSeq}")
    // bounded rerank: deterministic across partitioning (integer ranking
    // has no FP order sensitivity; ties broken by id)
    val a = Similarity.sq8TopK(emb, "vec_id", "embedding",
        VectorQueries.queryVec, k = 10, rerank = 30)
      .as[(Long, Long, Double)].collect().toSeq
    val b = Similarity.sq8TopK(emb.repartition(7), "vec_id", "embedding",
        VectorQueries.queryVec, k = 10, rerank = 30)
      .as[(Long, Long, Double)].collect().toSeq
    assert(a == b, "sq8 ranking must not depend on partitioning")
  }

  test("sq8TopKQueries: batch slices row-identical to the per-query sq8TopK plan") {
    val emb = Tables(spark, sf, "embeddings")
    val batch = Similarity.sq8TopKQueries(emb, "vec_id", "embedding",
        emb.filter($"vec_id" < 3), "vec_id", "embedding", k = 5, rerank = 30)
      .orderBy($"qid", $"rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(batch.length == 15, "3 queries x k=5")
    (0L to 2L).foreach { qid =>
      val qv = emb.filter($"vec_id" === qid)
        .select($"embedding".cast("array<double>"))
        .as[Seq[Double]].collect().head
      val single = Similarity.sq8TopK(emb, "vec_id", "embedding",
          qv, k = 5, rerank = 30)
        .as[(Long, Long, Double)].collect().toSeq
      val slice = batch.filter(_._1 == qid).map(t => (t._2, t._3, t._4)).toSeq
      assert(slice == single, s"batch slice for qid $qid must equal single-query")
    }
  }

  test("rqParts: zero codeword makes level-2 error <= level-1 pointwise; " +
      "spacing-1 RQ reproduces the exact ranking") {
    val emb = Tables(spark, sf, "embeddings")
    val n = emb.count()
    val (_, cb2, a2) = Similarity.rqParts(emb, "vec_id", "embedding",
      corpusN = n)
    // cid2 = -1 zero codeword present exactly once, full dim
    val zeros = cb2.filter($"cid2" === -1L)
      .select($"c2".cast("array<double>")).as[Seq[Double]].collect()
    assert(zeros.length == 1 && zeros.head.forall(_ == 0.0))
    // pointwise: choosing the zero codeword is always available, so the
    // level-2 assignment can never be worse than keeping the residual
    val bad = a2.filter($"d2r" > $"d2" + 1e-9).count()
    assert(bad == 0, s"$bad vectors got WORSE at level 2")
    // and it must strictly help for a nontrivial fraction on the fixture
    val better = a2.filter($"d2r" < $"d2" - 1e-9).count()
    assert(better > 0, "level 2 never improved anything - vacuous")

    // spacing 1: every vector is its own level-1 codeword, residuals are
    // exactly zero, so RQ ADC reduces to the exact dot-product ranking
    val qv = emb.orderBy($"vec_id").limit(1)
      .select($"embedding".cast("array<double>"))
      .as[Seq[Double]].collect().head
    val rq = Similarity.rqTopK(emb, "vec_id", "embedding", qv, k = 8,
        codewordEvery = 1L, corpusN = n)
      .as[(Long, Double)].collect().toSeq
    val exact = Tables(spark, sf, "embeddings")
      .select($"vec_id", round(graft.functions.vec.dot(
        $"embedding".cast("array<double>"), typedlit(qv)), 6).as("score"))
      .orderBy($"score".desc, $"vec_id").limit(8)
      .as[(Long, Double)].collect().toSeq
    assert(rq == exact, s"spacing-1 RQ must equal exact ranking: $rq vs $exact")
  }

  test("nswGraph: symmetric, self-loop-free, globally connected via the " +
      "rep layer; exhaustive beam search equals exact brute force") {
    val emb = Tables(spark, sf, "embeddings")
    val n = emb.count().toInt
    val (g, reps) = Similarity.nswIndex(emb, "vec_id", "embedding")
    val edges = g.as[(Long, Long)].collect()
    assert(edges.forall { case (s, d) => s != d }, "no self-loops")
    val eset = edges.toSet
    assert(edges.forall { case (s, d) => eset((d, s)) },
      "navigable graph must be symmetric")
    // connectivity: union-find over the collected edge list (test-only)
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (s, d) => parent(find(s)) = find(d) }
    val ids = emb.select($"vec_id").as[Long].collect()
    ids.foreach(i => find(i))
    assert(ids.map(find).toSet.size == 1,
      "the rep star + rep clique must make the graph one component")
    // exhaustive contract: beam >= n seeds EVERY rep, and one hop from
    // all reps covers the corpus (the rep star), +margin — the answer
    // MUST equal the exact full-scan top-k
    val qv = graft.rel.VectorQueries.queryVec
    val nsw = Similarity.nswTopK(emb, "vec_id", "embedding", qv, k = 10,
        beamWidth = n + 1, hops = 5, index = Some((g, reps)))
      .orderBy($"score".desc, $"vec_id")
      .as[(Long, Double)].collect().toSeq
    val exact = emb
      .select($"vec_id", round(graft.functions.vec.cosine(
        $"embedding".cast("array<double>"), typedlit(qv)), 6).as("score"))
      .orderBy($"score".desc, $"vec_id").limit(10)
      .as[(Long, Double)].collect().toSeq
    assert(nsw == exact,
      s"exhaustive beam must equal brute force:\n$nsw\n$exact")
  }
}
