package graft

import graft.functions.{vec, HashEmbed}
import org.apache.spark.sql.functions._

class VectorFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("hash_embed: deterministic, L2-normalized, case/whitespace rules") {
    val a = HashEmbed.encode("Deep Learning  methods", 64)
    val b = HashEmbed.encode("deep learning methods", 64)
    assert(a.toSeq == b.toSeq, "lowercase + \\s+ split must normalize")
    val n = math.sqrt(a.map(x => x.toDouble * x).sum)
    assert(math.abs(n - 1.0) < 1e-6, s"norm $n")
    assert(HashEmbed.encode("", 64).forall(_ == 0.0f), "empty text stays zero")
    // 3 distinct tokens → sum of squared counts 3, each entry 1/sqrt(3)
    assert(a.count(_ != 0.0f) <= 3)
  }

  test("hash_embed golden vector (spec stability across releases)") {
    val v = HashEmbed.encode("the quick brown fox", 8)
    // Murmur3(UTF-8, seed=42) bucket counts, L2-normalized. If this fails,
    // the embedding spec changed — that invalidates every stored vector.
    val nonzero = v.zipWithIndex.filter(_._1 != 0.0f).map { case (x, i) => (i, x) }
    assert(v.length == 8)
    assert(math.abs(v.map(x => x.toDouble * x).sum - 1.0) < 1e-6)
    val again = HashEmbed.encode("the quick brown fox", 8)
    assert(v.toSeq == again.toSeq)
    info(s"golden(dim=8): ${nonzero.mkString(",")}")
  }

  test("committed golden token→bucket fixture matches the live kernel") {
    // fixtures/hash_embed_golden.parquet feeds the q_hash_embed DuckDB
    // oracle; if it goes stale vs HashEmbed (or vs fixture vocabulary),
    // this fails before the verify gate does. Regenerate with
    // tools.GenGoldenFixtures.
    val golden = spark.read.parquet("fixtures/hash_embed_golden.parquet")
      .as[(String, Int)].collect()
    assert(golden.length >= 30, "fixture vocabulary present")
    golden.foreach { case (token, bucket) =>
      val v = HashEmbed.encode(token, 64)
      val nz = v.zipWithIndex.filter(_._1 != 0.0f).map(_._2)
      assert(nz.toSeq == Seq(bucket), s"token '$token': $nz vs golden $bucket")
    }
    // covers the current corpus vocabulary at the spec's SF
    val vocab = Tables(spark, sf, "documents")
      .select(explode(graft.pipeline.TextOps.tokens($"text")).as("t"))
      .distinct().as[String].collect()
    val known = golden.map(_._1).toSet
    assert(vocab.forall(known), s"missing from fixture: ${vocab.filterNot(known).toSeq}")
  }

  test("vec_dot expression vs scalar math, incl codegen path") {
    val df = Seq(
      (1L, Seq(1.0f, 2.0f, 3.0f)),
      (2L, Seq(0.5f, -1.0f, 2.0f))).toDF("id", "v")
    val got = df.select($"id", vec.dot($"v", typedlit(Seq(2.0, 0.25, -1.0))).as("d"))
      .orderBy($"id").as[(Long, Double)].collect()
    assert(got(0)._2 == 1.0 * 2.0 + 2.0 * 0.25 + 3.0 * -1.0)
    assert(got(1)._2 == 0.5 * 2.0 + -1.0 * 0.25 + 2.0 * -1.0)
  }

  test("vec_dot reads a float array through its cast, bit-identical to the cast form, codegen and interpreted") {
    import graft.functions.DotProductD
    val rng = new scala.util.Random(11)
    val specials = Array(Float.NaN, 0.0f, -0.0f, Float.MinPositiveValue, -1.0e-40f,
      1.17549435e-38f, Float.MaxValue, Float.NegativeInfinity)
    def arr(): Option[Seq[Float]] =
      if (rng.nextInt(8) == 0) None
      else Some(Seq.fill(rng.nextInt(12))(
        if (rng.nextInt(3) == 0) specials(rng.nextInt(specials.length))
        else (rng.nextGaussian() * 10).toFloat))
    // unequal lengths, null arrays and the special values in every pairing;
    // an RDD source, so the projection runs in a physical plan
    val rows = (0 until 300).map(i => (i, arr(), arr()))
    val floats = spark.createDataset(spark.sparkContext.parallelize(rows, 4))
      .toDF("id", "a", "b")
    // the cast form: Spark's own float -> double cast, materialized first
    val cast = floats.select($"id", $"a".cast("array<double>").as("a"),
      $"b".cast("array<double>").as("b")).collect()
    val doubles = spark.createDataFrame(spark.sparkContext.parallelize(cast.toSeq, 4),
      cast.head.schema)
    val q = typedlit(Seq.fill(12)(rng.nextGaussian()))
    def dots(df: org.apache.spark.sql.DataFrame, other: org.apache.spark.sql.DataFrame) =
      df.join(other.select($"id", $"a".as("oa"), $"b".as("ob")), "id").select($"id",
        vec.dot($"a", $"b"), vec.dot($"a", $"ob"), vec.dot($"oa", $"b"), vec.dot($"a", q))
    def bits(df: org.apache.spark.sql.DataFrame): Map[Int, Seq[Option[Long]]] =
      df.collect().map(r => r.getInt(0) -> (1 to 4).map(i =>
        if (r.isNullAt(i)) None
        else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(i))))).toMap
    // the float side really is read through the cast
    val planned = floats.select(vec.dot($"a", q)).queryExecution.analyzed.expressions
      .flatMap(_.collect { case d: DotProductD => d })
    assert(planned.nonEmpty && planned.forall(d => DotProductD.throughCast(d.left)._2 &&
      !DotProductD.throughCast(d.right)._2))
    def withConf[A](kv: (String, String)*)(body: => A): A = {
      val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
      kv.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally old.foreach { case (k, o) => o.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
    val codegen = (bits(dots(floats, doubles)), bits(dots(doubles, floats)))
    val interpreted = withConf("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false") {
      (bits(dots(floats, doubles)), bits(dots(doubles, floats)))
    }
    val reference = bits(dots(doubles, doubles))
    assert(reference.size == rows.size && reference.values.flatten.count(_.isEmpty) > 0)
    assert(reference.values.flatten.flatten.exists(b => java.lang.Double.isNaN(
      java.lang.Double.longBitsToDouble(b))), "NaN products are covered")
    Seq("codegen" -> codegen, "interpreted" -> interpreted).foreach { case (mode, (f, d)) =>
      // floats first: float·float, float·double, double·float, float·literal;
      // doubles first: double·double, double·float, float·double, double·literal
      rows.foreach { case (i, _, _) =>
        assert(f(i) == reference(i), s"$mode, floats first, row $i")
        assert(d(i) == reference(i), s"$mode, doubles first, row $i")
      }
    }
  }

  test("cosine: unit self-similarity and zero-vector convention") {
    val df = Seq(
      (1L, Seq(3.0f, 4.0f)),
      (2L, Seq(0.0f, 0.0f))).toDF("id", "v")
    val got = df.select($"id", vec.cosine($"v", $"v").as("c"))
      .orderBy($"id").as[(Long, Double)].collect()
    assert(math.abs(got(0)._2 - 1.0) < 1e-12)
    assert(got(1)._2 == 0.0, "zero vector → cosine 0, not NaN (app.py:374-376)")
  }

  test("SQL registration: vec_dot / hash_embed callable from spark.sql") {
    vec.register(spark)
    Seq((1L, Seq(1.0f, 2.0f))).toDF("id", "v").createOrReplaceTempView("vt")
    val d = spark.sql(
      "SELECT vec_dot(CAST(v AS ARRAY<DOUBLE>), array(3.0D, 0.5D)) AS d FROM vt")
      .as[Double].head()
    assert(d == 1.0 * 3.0 + 2.0 * 0.5)
    val e = spark.sql("SELECT size(hash_embed('some text here')) AS n")
      .as[Int].head()
    assert(e == 256)
    val c = spark.sql(
      "SELECT vec_cosine(CAST(v AS ARRAY<DOUBLE>), CAST(v AS ARRAY<DOUBLE>)) AS c FROM vt")
      .as[Double].head()
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("fused cosine == composed dot/norm formulation, bit-for-bit") {
    val df = Seq(
      (1L, Seq(1.5f, -2.25f, 3.0f, 0.125f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f)),
      (3L, Seq(-0.75f, 0.5f, 0.25f, -1.0f))).toDF("id", "v")
    val qv = typedlit(Seq(0.25, -0.5, 0.75, 1.0))
    val composed = {
      val d = vec.dot($"v", qv)
      val nn = vec.norm($"v") * sqrt(vec.dot(qv, qv))
      when(nn === 0.0, 0.0).otherwise(d / nn)
    }
    val rows = df.select($"id", vec.cosine($"v", qv).as("fused"), composed.as("ref"))
      .as[(Long, Double, Double)].collect()
    rows.foreach { case (id, fused, ref) =>
      assert(fused == ref, s"row $id: $fused != $ref (must be bit-identical)")
    }
  }

  test("cosine ordering on graded-similarity corpus (TC-VEC-01 shape)") {
    // FIXTURES.md §A.3: rank A > B > C for the reference's graded texts
    val q = HashEmbed.encode("deep learning image classification convolutional neural networks")
    val docs = Seq(
      ("A", "Convolutional neural networks for deep learning image classification tasks"),
      ("B", "Deep learning methods for audio classification and speech processing"),
      ("C", "Classical music orchestras and symphonies"))
    val scores = docs.map { case (k, t) =>
      val v = HashEmbed.encode(t)
      k -> v.zip(q).map { case (x, y) => x.toDouble * y }.sum
    }.toMap
    assert(scores("A") > scores("B"), s"$scores")
    assert(scores("B") > scores("C"), s"$scores")
    assert(scores("A") >= 0.5, s"top score ${scores("A")} (test_final.py:427-438)")
  }
}
