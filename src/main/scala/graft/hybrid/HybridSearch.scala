package graft.hybrid

import scala.collection.mutable

import graft.store.Scored
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Weighted vector+graph fusion (reference O20, app.py:657-736) in two
  * forms that compute the same rows. [[fuse]] is ONE composed DataFrame
  * plan — Catalyst sees the whole query, unlike the reference's
  * separately-materialized passes — for the declared queries over
  * distributed tables. [[fuseRows]] is its row form over scores already
  * on the driver (a snapshot's [[Scored]] rows), which
  * `Engine.hybridSearch` ranks without a Spark job.
  *
  * Semantics preserved exactly (SURVEY §7.3):
  *  - min-max normalize vector scores; all-equal degenerate case → 1.0
  *    (app.py:704-705)
  *  - nodes missing a vector score get 0.0 (app.py:721), i.e. they skip
  *    normalization entirely
  *  - graph score 0.0 for all when no start given
  *  - final = vw*vec_norm + gw*graph_score, drop final ≤ 0 (app.py:726 —
  *    silently drops the bottom-ranked vector node when graph signal is
  *    absent), sort desc with id tie-break, top-k
  *  - BM25 deliberately NOT fused (app.py:670-672)
  *
  * In [[fuse]] the min/max normalizers are 1-row aggregates broadcast into
  * the plan — no driver round-trip, no second pass over the data.
  */
object HybridSearch {

  /** @param nodes       (id) — the full node universe
    * @param vecScores   (id, vector_score) — nodes with embeddings, scored
    * @param graphScores (id, graph_score) or None when no start node given
    */
  /** @param roundTo when set, the final score is rounded to this many
    *                 decimals BEFORE the >0 filter and ordering (declared
    *                 queries use 6 for engine-exact oracle comparison;
    *                 the engine API leaves scores raw). */
  def fuse(nodes: DataFrame, vecScores: DataFrame,
           graphScores: Option[DataFrame],
           vectorWeight: Double, graphWeight: Double, topK: Int,
           idCol: String = "id", roundTo: Option[Int] = None): DataFrame = {
    val mm = vecScores.agg(
      min("vector_score").as("vmin"), max("vector_score").as("vmax"))
    val vn = vecScores.crossJoin(broadcast(mm))
      .select(col(idCol),
        when(col("vmax") === col("vmin"), 1.0)
          .otherwise((col("vector_score") - col("vmin")) /
            (col("vmax") - col("vmin"))).as("vec_norm"),
        col("vector_score"))

    val g = graphScores.getOrElse(
      nodes.select(col(idCol), lit(0.0).as("graph_score")).limit(0))

    nodes.select(col(idCol))
      .join(vn, Seq(idCol), "left")
      .join(g.select(col(idCol), col("graph_score")), Seq(idCol), "left")
      .na.fill(0.0, Seq("vec_norm", "vector_score", "graph_score"))
      .withColumn("final_score", {
        val f = lit(vectorWeight) * col("vec_norm") + lit(graphWeight) * col("graph_score")
        roundTo.fold(f)(d => round(f, d))
      })
      .filter(col("final_score") > 0)
      .orderBy(col("final_score").desc, col(idCol))
      .limit(topK)
  }

  /** Row form of [[fuse]] over scores held on the driver, without the
    * ordering and the limit: the (id, vec_norm, graph_score, final_score)
    * rows that pass `final_score > 0`, unordered. It computes what the
    * plan computes, in the plan's expression order, so every score is
    * bit-identical: `vmin`/`vmax` are Spark's `min`/`max` (NaN greatest),
    * `vmax = vmin` is SQL equality (NaN = NaN), a missing, null or NaN
    * vec_norm or graph score is 0.0 (`na.fill`), and `> 0` is SQL's
    * comparison (NaN passes).
    *
    * The plan's rows are the node universe; here they are the rows of
    * `vec` and the ids of `graphScores` that have none, a superset of the
    * nodes that can pass the filter, which may name ids with no node row.
    * A node with neither score has final vw·0 + gw·0, which passes only
    * under a non-finite weight; then the rows are every id of `nodeIds`,
    * as in the plan. Each row is read by its row number: no map keyed by
    * id is built over the vector scores.
    *
    * @param vec         the scores of every scored embedding
    * @param graphScores (id, graph_score), empty when no start node given
    */
  def fuseRows(vec: Scored, graphScores: Seq[(String, java.lang.Double)],
               vectorWeight: Double, graphWeight: Double,
               nodeIds: => Iterable[String]): Fused = {
    def cmp(a: Double, b: Double): Int = SQLOrderingUtil.compareDoubles(a, b)
    def filled(x: Double): Double = if (x.isNaN) 0.0 else x
    val n = vec.size
    // Spark's min and max; the first of two equal scores (0.0, -0.0) stays
    var vmin, vmax = 0.0
    (0 until n).foreach { i =>
      val s = vec.score(i)
      if (i == 0 || cmp(s, vmin) < 0) vmin = s
      if (i == 0 || cmp(s, vmax) > 0) vmax = s
    }
    val vn = Array.tabulate(n) { i =>
      filled(if (cmp(vmax, vmin) == 0) 1.0 else (vec.score(i) - vmin) / (vmax - vmin))
    }
    // the graph score of each vector row, and of each id without one
    val gs = new Array[Double](n)
    val graphOnly = mutable.LinkedHashMap.empty[UTF8String, Double]
    graphScores.foreach { case (id, s) =>
      val k = UTF8String.fromString(id)
      val g = if (s == null) 0.0 else filled(s)
      val r = vec.row(k)
      if (r >= 0) gs(r) = g else graphOnly(k) = g
    }
    val (keys, vns, gss, fin) = (mutable.ArrayBuilder.make[UTF8String],
      mutable.ArrayBuilder.make[Double], mutable.ArrayBuilder.make[Double], mutable.ArrayBuilder.make[Double])
    def add(k: UTF8String, v: Double, g: Double): Unit = {
      val f = vectorWeight * v + graphWeight * g
      if (cmp(f, 0.0) > 0) { keys += k; vns += v; gss += g; fin += f }
    }
    if (cmp(vectorWeight * 0.0 + graphWeight * 0.0, 0.0) > 0)
      nodeIds.iterator.distinct.foreach { id =>
        val k = UTF8String.fromString(id)
        val r = vec.row(k)
        if (r >= 0) add(k, vn(r), gs(r)) else add(k, 0.0, graphOnly.getOrElse(k, 0.0))
      }
    else {
      (0 until n).foreach(i => add(vec.key(i), vn(i), gs(i)))
      graphOnly.foreach { case (k, g) => add(k, 0.0, g) }
    }
    new Fused(keys.result(), vns.result(), gss.result(), fin.result())
  }

  /** The rows of [[fuseRows]]: row i is keyed `key(i)`, with its vec_norm,
    * graph_score and final_score. */
  final class Fused(val key: Array[UTF8String], val vecNorm: Array[Double],
                    val graphScore: Array[Double], val finalScore: Array[Double]) {
    def size: Int = key.length
  }

  /** Reciprocal Rank Fusion: rrf(d) = Σ_r 1/(k + rank_r(d)) over any
    * number of rankers. The reference's PDF *claims* RRF hybrid fusion but
    * its code never implements it (SURVEY authoritative-source note,
    * app.py:670-672) — provided here so the full claimed surface exists.
    * Each ranker is a (id, score) DataFrame; ranks are dense ROW_NUMBERs
    * over (round-6 score desc, id), so the fusion is deterministic even
    * with tied scores. Documents missing from a ranker contribute nothing
    * for that ranker (standard RRF).
    *
    * PRECONDITION (enforced): rankers must be pre-limited top-N lists (as
    * RRF inputs always are). Ranks come from ONE window partitioned by
    * ranker id — never a global single-partition window — and any ranker
    * longer than `maxInput` raises in-plan (raise_error fires during
    * execution, before a full-corpus ranker could silently serialize the
    * fusion). With >2 rankers the per-doc sum becomes order-sensitive in
    * the last ulp; round the result (roundTo) before comparing across
    * engines. */
  def rrfFuse(rankers: Seq[DataFrame], topK: Int, k: Int = 60,
              idCol: String = "id", roundTo: Option[Int] = None,
              maxInput: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tagged = rankers.zipWithIndex.map { case (r, i) =>
      r.select(lit(i).as("rid"), col(idCol), col("score"))
    }.reduce(_ unionByName _)
    val w = Window.partitionBy(col("rid"))
      .orderBy(round(col("score"), 6).desc, col(idCol))
    val contribs = tagged
      .withColumn("rank", row_number().over(w))
      .select(col(idCol),
        when(col("rank") > maxInput,
          raise_error(concat(lit("rrfFuse: ranker "), col("rid").cast("string"),
            lit(s" exceeds maxInput=$maxInput rows — pre-limit RRF inputs"))))
          .otherwise(lit(1.0) / (lit(k) + col("rank"))).as("contrib"))
    val fused = contribs.groupBy(idCol).agg(sum(col("contrib")).as("rrf"))
      .withColumn("rrf", roundTo.fold(col("rrf"))(d => round(col("rrf"), d)))
    fused.orderBy(col("rrf").desc, col(idCol)).limit(topK)
  }
}
