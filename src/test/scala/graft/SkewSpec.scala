package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Skew handling: two-phase salted aggregation produces exactly the same
  * result as the direct groupBy (DECIMAL-exact), while bounding the rows
  * any single reducer sees for a hot key — the manual pattern behind
  * AQE's skew mitigation, usable where AQE can't help (e.g. groupBy).
  */
class SkewSpec extends SparkSpec {
  import spark.implicits._

  test("salted two-phase aggregation == direct aggregation, exactly") {
    // manufacture skew: fold most users into one hot key
    val e = Tables(spark, sf, "events")
      .withColumn("key", when($"user_id" < 12, lit(0L)).otherwise($"user_id"))
      .withColumn("v", $"value".cast(DecimalType(18, 2)))

    val direct = e.groupBy($"key")
      .agg(sum($"v").cast("double").as("total"), count(lit(1)).as("n"))
      .as[(Long, Double, Long)].collect().map { case (k, v, n) => k -> (v, n) }.toMap

    val salted = e
      .withColumn("salt", pmod(xxhash64($"event_id"), lit(16)))
      .groupBy($"key", $"salt")
      .agg(sum($"v").as("pv"), count(lit(1)).as("pn")) // phase 1: 16-way fan-out
      .groupBy($"key")
      .agg(sum($"pv").cast("double").as("total"), sum($"pn").as("n")) // phase 2
      .as[(Long, Double, Long)].collect().map { case (k, v, n) => k -> (v, n) }.toMap

    assert(salted == direct, "DECIMAL sums make the two-phase result exact")
    assert(direct(0L)._2 > direct.filterKeys(_ != 0L).values.map(_._2).max * 5,
      "key 0 really is skewed in this fixture")
  }

  test("planted power-law hub: graph suite stays within 2x of uniform time at equal |E|") {
    import graft.graph.GraphAnalytics
    // two deterministic bipartite graphs with IDENTICAL |E| and node-id
    // ranges: uniform spreads dst evenly; power-law funnels 60% of edges
    // into ONE hub (degree 0.6|E|) — the planted version of the giant
    // community the hash-sampled parquet fixture doesn't exhibit. The
    // skew-absorption claims on louvainMove (broadcast dc), modularity
    // (map-side partial agg on the giant label), and coarsenGraph
    // ((c1,c2) count partials) are MEASURED here, not argued.
    val n = 3000L
    val m = 200000L
    def edgesOf(hub: Boolean) = {
      val dstUniform = lit(n) + pmod(col("id") * 7919, lit(n))
      val dst = if (hub) when(pmod(col("id"), lit(10)) < 6, lit(n))
        .otherwise(dstUniform) else dstUniform
      spark.range(m).select((col("id") % n).as("src"), dst.as("dst"))
        .localCheckpoint()
    }
    val uni = edgesOf(hub = false)
    val skw = edgesOf(hub = true)
    // giant-label partitions: 2 LPA rounds on the hub graph flood most
    // nodes to one label — the skewed join key the operators must absorb
    val labU = GraphAnalytics.labelPropagation(GraphAnalytics.bothWaysCheckpointed(uni), 2)
      .localCheckpoint()
    val labS = GraphAnalytics.labelPropagation(GraphAnalytics.bothWaysCheckpointed(skw), 2)
      .localCheckpoint()
    val hubLab = labS.groupBy("label").count().orderBy(col("count").desc)
      .first().getLong(1)
    assert(hubLab >= n / 2, s"hub LPA must produce a giant community: $hubLab")
    def timed(body: => Unit): Double = {
      body // warm: JIT + shuffle files + codegen cache
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    val ops: Seq[(String,
        (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) => Unit)] = Seq(
      ("louvainMove", (e, l) => {
        GraphAnalytics.louvainMove(GraphAnalytics.bothWaysCheckpointed(e), l).count(); () }),
      ("modularity", (e, l) => {
        GraphAnalytics.modularity(GraphAnalytics.bothWaysCheckpointed(e), l).count(); () }),
      ("coarsenGraph", (e, l) => { GraphAnalytics.coarsenGraph(e, l).count(); () }))
    ops.foreach { case (name, op) =>
      val tU = timed(op(uni, labU))
      val tS = timed(op(skw, labS))
      // 2x the uniform time plus a small absolute floor for scheduler
      // noise at local-test scale; a skew-funneled single partition
      // (the failure mode) measures 10x+, far outside this bound
      assert(tS <= 2.0 * tU + 0.5,
        f"$name skewed ${tS}%.2fs vs uniform ${tU}%.2fs — hub key not absorbed")
    }
  }
}
