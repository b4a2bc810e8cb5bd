package graft

import graft.functions.HashEmbed
import graft.graph.Bfs
import graft.hybrid.HybridSearch
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** ScalaCheck properties (SURVEY §5c): embedding invariants, fusion
  * linearity, top-k prefix soundness, BFS depth monotonicity, connected
  * components against a union-find, SCC against mutual reachability,
  * k-core/k-truss peeling against plain-Scala peel models.
  * (scalatestplus bridge unavailable offline → seeded Gen sampling.) */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic samples from a generator (fixed seed → reproducible). */
  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    Iterator.from(0).map(i => g.apply(Gen.Parameters.default, Seed(42L + i)))
      .collect { case Some(a) => a }.take(n).toSeq

  private def forAll[A](g: Gen[A], n: Int = 30)(f: A => Unit): Unit =
    samples(g, n).foreach(f)
  private def forAll2[A, B](ga: Gen[A], gb: Gen[B], n: Int)(f: (A, B) => Unit): Unit =
    samples(Gen.zip(ga, gb), n).foreach { case (a, b) => f(a, b) }

  private val word = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)
  private val textGen = Gen.listOf(word).map(_.mkString(" "))

  test("hash_embed: unit or zero norm, deterministic, token-order invariant") {
    forAll(textGen) { text =>
      val v = HashEmbed.encode(text, 64)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      assert(math.abs(n - 1.0) < 1e-6 || n == 0.0)
      assert(v.toSeq == HashEmbed.encode(text, 64).toSeq)
      val shuffled = text.split("\\s+").reverse.mkString(" ")
      assert(HashEmbed.encode(shuffled, 64).toSeq == v.toSeq,
        "bucket counts are token-order invariant")
    }
  }

  test("hash_embed cosine bounded in [-eps, 1+eps] (non-negative vectors → [0,1])") {
    forAll2(textGen, textGen, 30) { (a, b) =>
      val va = HashEmbed.encode(a, 64)
      val vb = HashEmbed.encode(b, 64)
      val dot = va.zip(vb).map { case (x, y) => x.toDouble * y }.sum
      assert(dot >= -1e-9 && dot <= 1.0 + 1e-9)
    }
  }

  test("fusion linearity + bounds for random weights/scores (5 samples)") {
    val scoreGen = Gen.listOfN(6, Gen.choose(0.0, 1.0))
    val wGen = Gen.choose(0.0, 1.0)
    forAll2(Gen.zip(scoreGen, scoreGen), wGen, 5) { case ((vs, gs), vw) =>
      val gw = 1.0 - vw
      val nodes = (1 to 6).map(i => s"n$i").toDF("id")
      val vec = vs.zipWithIndex.map { case (s, i) => (s"n${i + 1}", s) }
        .toDF("id", "vector_score")
      val g = gs.zipWithIndex.map { case (s, i) => (s"n${i + 1}", s) }
        .toDF("id", "graph_score")
      val out = HybridSearch.fuse(nodes, vec, Some(g), vw, gw, 10)
        .select($"vec_norm", $"graph_score", $"final_score")
        .as[(Double, Double, Double)].collect()
      out.foreach { case (vn, gsc, f) =>
        assert(math.abs(f - (vw * vn + gw * gsc)) < 1e-9)
        assert(vn >= 0.0 && vn <= 1.0, "min-max normalization bounds")
        assert(f > 0.0, "final>0 filter")
      }
    }
  }

  test("top-k is a prefix of the full sort (5 samples)") {
    forAll(Gen.listOfN(30, Gen.choose(0.0, 100.0)), 5) { xs =>
      val df = xs.zipWithIndex.map { case (x, i) => (i.toLong, x) }.toDF("id", "x")
      val full = df.orderBy($"x".desc, $"id").as[(Long, Double)].collect().toSeq
      val topk = df.orderBy($"x".desc, $"id").limit(7).as[(Long, Double)].collect().toSeq
      assert(topk == full.take(7))
    }
  }

  test("BFS depth monotonicity: deeper traversals only add nodes (5 samples)") {
    val edgeGen = Gen.listOfN(12,
      Gen.zip(Gen.choose(0, 6), Gen.choose(0, 6), Gen.choose(0.5, 2.0)))
    forAll(edgeGen, 5) { es =>
      val edges = es.map { case (s, t, w) => (s.toLong, t.toLong, "t", w) }
        .toDF("src", "dst", "etype", "weight")
      val d1 = Bfs.traverse(edges, lit(0L), depth = 1)
        .select($"node", $"dist").as[(Long, Int)].collect().toMap
      val d3 = Bfs.traverse(edges, lit(0L), depth = 3)
        .select($"node", $"dist").as[(Long, Int)].collect().toMap
      d1.foreach { case (n, dist) =>
        assert(d3.contains(n) && d3(n) == dist,
          s"distances stable under deeper traversal: $n")
      }
      assert(d1.size <= d3.size)
    }
  }

  test("BFS labels == plain-Scala BFS: min hop, then max weight (8 samples)") {
    // 6 nodes and 14 random edges mostly include parallel edges and
    // self-loops; the fixed tail adds a self-loop, a 2-cycle and a
    // parallel edge to every sample
    val edgeGen = Gen.listOfN(14, Gen.zip(Gen.choose(0, 5), Gen.choose(0, 5),
      Gen.oneOf("a", "b"), Gen.choose(0.5, 3.0)))
    val caseGen = Gen.zip(edgeGen, Gen.choose(1, 3), Gen.oneOf(None, Some("a")))
    forAll(caseGen, 8) { case (random, depth, etype) =>
      val es = random ++ Seq((0, 0, "a", 1.0), (0, 1, "a", 0.75), (1, 0, "a", 1.25),
        (0, 1, "a", 2.0))
      val kept = es.filter { case (_, _, t, _) => etype.forall(_ == t) }
      // hop distances level by level, then each node's weight is the max
      // over its in-edges from the level before
      val dist = scala.collection.mutable.Map(0L -> 0)
      (1 to depth).foreach { d =>
        kept.foreach { case (s, t, _, _) =>
          if (dist.get(s.toLong).contains(d - 1) && !dist.contains(t.toLong)) dist(t.toLong) = d
        }
      }
      val pw = scala.collection.mutable.Map(0L -> 0.0)
      (1 to depth).foreach { d =>
        kept.foreach { case (s, t, _, w) =>
          if (dist.get(s.toLong).contains(d - 1) && dist(t.toLong) == d)
            pw(t.toLong) = pw.get(t.toLong).fold(pw(s.toLong) + w)(math.max(_, pw(s.toLong) + w))
        }
      }
      val expected = dist.map { case (n, d) => (n, d, pw(n)) }.toSeq.sorted
      val edges = es.map { case (s, t, ty, w) => (s.toLong, t.toLong, ty, w) }
        .toDF("src", "dst", "etype", "weight")
      val got = Bfs.traverse(edges, lit(0L), depth, edgeType = etype.map(("etype", _)))
        .as[(Long, Int, Double)].collect().sorted.toSeq
      assert(got == expected, s"depth $depth, type $etype, edges $es")
    }
  }

  test("connectedComponents == plain-Scala union-find: local, distributed, GraphX (6 samples)") {
    // 16 random edges over 20 ids bring parallel edges, 2-cycles and
    // self-loops; every sample adds a 2-cycle, a parallel edge, a
    // self-loop-only node (500) and a 41-node chain (1000..1040), and
    // every other sample a null-dst edge whose src (600) has no other edge
    val edgeGen = Gen.listOfN(16, Gen.zip(Gen.choose(0L, 19L), Gen.choose(0L, 19L)))
    forAll(Gen.zip(edgeGen, Gen.oneOf(false, true)), 6) { case (random, withNull) =>
      val pairs = random ++ Seq((3L, 4L), (4L, 3L), (5L, 6L), (5L, 6L), (500L, 500L)) ++
        (1000L until 1040L).map(i => (i, i + 1))
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) => parent(find(a)) = find(b) }
      val expected = parent.keys.toSeq.groupBy(find).values
        .flatMap(members => members.map(_ -> members.min)).toSeq.sorted
      val edges = (pairs.map { case (a, b) => (a, Option(b)) } ++
        (if (withNull) Seq((600L, None)) else Nil)).toDF("src", "dst")
      def cc(e: org.apache.spark.sql.DataFrame, limit: Long) =
        graft.graph.GraphAnalytics.connectedComponents(e, maxIters = 64, localEdgeLimit = limit)
          .as[(Long, Long)].collect().sorted.toSeq
      assert(cc(edges, 1L << 22) == expected, s"local path, edges $random")
      assert(cc(edges, 0L) == expected, s"distributed path, edges $random")
      assert(cc(edges.repartition(7), 0L) == expected, s"distributed, 7 partitions")
      if (!withNull) assert(graft.graph.GraphXOps
        .connectedComponents(edges.withColumn("weight", lit(1.0)))
        .as[(Long, Long)].collect().sorted.toSeq == expected, "GraphX reference")
    }
  }

  test("stronglyConnectedComponents == plain-Scala mutual reachability: distributed, gated, " +
      "7 partitions (6 samples)") {
    // 20 random arcs over 15 ids bring 2-cycles, self-loops and parallel
    // arcs; every sample adds a fixed 2-cycle, a self-loop-only (isolated)
    // node 700, and a chain of four 3-cycles 100→103→106→109 whose ids
    // rise along the chain, so the distributed path peels one cycle a round
    val arcGen = Gen.listOfN(20, Gen.zip(Gen.choose(0L, 14L), Gen.choose(0L, 14L)))
    forAll(arcGen, 6) { random =>
      val cycles = (0 until 4).flatMap { c =>
        val b = 100L + 3 * c
        Seq((b, b + 1), (b + 1, b + 2), (b + 2, b)) ++
          (if (c < 3) Seq((b + 2, b + 3)) else Nil)
      }
      val arcs = random ++ Seq((20L, 21L), (21L, 20L), (700L, 700L)) ++ cycles
      val out = arcs.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      def reach(v: Long): Set[Long] = {
        var seen = Set(v); var frontier = List(v)
        while (frontier.nonEmpty) {
          val nxt = frontier.flatMap(out.getOrElse(_, Nil)).filterNot(seen)
          seen ++= nxt; frontier = nxt.distinct
        }
        seen
      }
      val nodes = arcs.flatMap { case (a, b) => Seq(a, b) }.distinct
      val reaches = nodes.map(v => v -> reach(v)).toMap
      val expected = nodes.map(v => v -> nodes.filter(u => reaches(v)(u) && reaches(u)(v)).max)
        .sorted
      val edges = arcs.toDF("src", "dst")
      def scc(e: org.apache.spark.sql.DataFrame, limit: Long) =
        graft.graph.GraphAnalytics.stronglyConnectedComponents(e, localEdgeLimit = limit)
          .as[(Long, Long)].collect().sorted.toSeq
      assert(scc(edges, 0L) == expected, s"distributed path, arcs $random")
      assert(scc(edges, 1L << 22) == expected, s"default gate, arcs $random")
      assert(scc(edges.repartition(7), 0L) == expected, s"distributed, 7 partitions")
    }
  }

  test("kCorePeel and kTrussPeel rounds == plain-Scala peel models, full and short budgets " +
      "(4 samples)") {
    // 24 random edges over 12 ids, plus a K5 on 50..54 with a 4-node tail
    // 54-60-61-62-63 (k-core peels the tail one node a round) and the cube
    // of the path 70..77 less edge 73-74 (k-truss at k = 4 peels it over
    // three rounds and keeps 12 edges)
    val edgeGen = Gen.listOfN(24, Gen.zip(Gen.choose(0L, 11L), Gen.choose(0L, 11L)))
    forAll(edgeGen, 4) { random =>
      val k5 = for { a <- 50L to 54L; b <- 50L to 54L if a < b } yield (a, b)
      val strip = for { a <- 70L to 77L; b <- a + 1 to math.min(a + 3, 77L)
        if (a, b) != ((73L, 74L)) } yield (a, b)
      val pairs = random ++ k5 ++ Seq((54L, 60L), (60L, 61L), (61L, 62L), (62L, 63L)) ++ strip
      val und = pairs.filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      // peel model: each round removes the units `drop` names among the
      // survivors, labelling them with the round; stops when none drop
      def model[U](units: Seq[U], rounds: Int)(drop: Set[U] => Set[U]): Map[U, Int] = {
        var alive = units.toSet
        var label = units.map(_ -> 0).toMap
        var i = 1
        var moved = true
        while (moved && i <= rounds) {
          val d = drop(alive)
          d.foreach(u => label += u -> i)
          alive --= d; moved = d.nonEmpty; i += 1
        }
        label
      }
      val nodes = und.flatMap { case (a, b) => Seq(a, b) }.distinct
      def coreModel(k: Int, rounds: Int) = model(nodes, rounds) { alive =>
        alive.filter(v => und.count { case (a, b) =>
          (a == v && alive(b)) || (b == v && alive(a)) } < k)
      }
      def trussModel(k: Int, rounds: Int) = model(und, rounds) { alive =>
        val adj = alive.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
          .groupBy(_._1).map { case (x, ys) => x -> ys.map(_._2).toSet }
        alive.filter { case (a, b) => (adj(a) & adj(b)).size < k - 2 }
      }
      val edges = pairs.toDF("src", "dst")
      for (rounds <- Seq(2, 12)) {
        val core = graft.graph.GraphAnalytics.kCorePeel(edges, k = 2, rounds)
          .as[(Long, Int)].collect().toMap
        assert(core == coreModel(2, rounds), s"k-core, $rounds rounds, edges $random")
        val truss = graft.graph.GraphAnalytics.kTrussPeel(edges, k = 4, rounds)
          .as[(Long, Long, Int)].collect().map { case (a, b, r) => (a, b) -> r }.toMap
        assert(truss == trussModel(4, rounds), s"k-truss, $rounds rounds, edges $random")
      }
      val (coreLast, trussLast) = (coreModel(2, 12).values.max, trussModel(4, 12).values.max)
      assert(coreLast > 2 && trussLast > 2, "the short budget must stop before the fixpoint")
      assert(coreLast < 12 && trussLast < 12, "the long budget must reach the fixpoint")
    }
  }

  test("histogramQuantiles: est-exact in (0, width], exact == sorted rank (5 samples)") {
    val valuesGen = Gen.zip(
      Gen.nonEmptyListOf(Gen.chooseNum(0L, 5000L)),
      Gen.chooseNum(7L, 400L))
    forAll(valuesGen, n = 5) { case (xs, width) =>
      val df = xs.toDF("x")
      val qs = Seq((1, 3), (1, 2), (9, 10))
      val r = pipeline.Sketches.histogramQuantiles(df, "x", width, qs)
        .as[(Int, Int, Long, Long, Long, Long)].collect()
      assert(r.length == qs.size)
      val sorted = xs.sorted
      r.foreach { case (num, den, rank, exact, est, err) =>
        assert(rank == (xs.size.toLong * num + den - 1) / den)
        assert(exact == sorted((rank - 1).toInt),
          s"$num/$den exact $exact != ${sorted((rank - 1).toInt)} (w=$width)")
        assert(err == est - exact && err >= 1 && err <= width,
          s"$num/$den err $err outside (0, $width]")
      }
    }
  }

  test("allPairsJaccard == brute force on random small corpora (4 samples)") {
    // tiny vocab → heavy shingle collisions → the filters get exercised
    val tok = Gen.oneOf("aa", "bb", "cc", "dd", "ee")
    val doc = Gen.listOfN(8, tok).map(_.mkString(" "))
    val corpusGen = Gen.listOfN(12, doc)
    forAll(corpusGen, n = 4) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = pipeline.Dedup.allPairsJaccard(df, "doc_id", "text", 2, 3)
        .select($"a", $"b", $"inter", $"uni")
        .as[(Long, Long, Int, Int)].collect().toSet
      val sh = df.select($"doc_id",
          pipeline.TextOps.shingles(pipeline.TextOps.tokens($"text")).as("shs"))
        .filter(size($"shs") > 0)
      val brute = sh.as("x").join(sh.as("y"), col("x.doc_id") < col("y.doc_id"))
        .withColumn("inter", size(array_intersect(col("x.shs"), col("y.shs"))))
        .withColumn("uni", size(col("x.shs")) + size(col("y.shs")) - col("inter"))
        .filter(col("inter") * 3 >= col("uni") * 2)
        .select(col("x.doc_id"), col("y.doc_id"), col("inter"), col("uni"))
        .as[(Long, Long, Int, Int)].collect().toSet
      assert(got == brute,
        s"missed=${(brute -- got).take(3)} extra=${(got -- brute).take(3)}")
    }
  }

  test("TableCatalog == plain-Scala model over random write sequences (4 samples)") {
    var compactions = 0
    import graft.model.{EdgeRow, EmbeddingRow, Node}
    import graft.store.TableCatalog
    // a 5-node, 6-edge id pool makes repeats, cascades and re-inserts common
    val nodeId = Gen.oneOf((0 until 5).map(i => s"n$i"))
    val edgeId = Gen.oneOf((0 until 6).map(i => s"e$i"))
    val node = Gen.zip(nodeId, word, Gen.oneOf("t0", "t1"))
      .map { case (id, t, ts) => Node(id, t, Map("k" -> t.take(1)), "c", ts) }
    // null vectors, a dim column that disagrees with the vector, and a
    // null key among the embeddings
    val emb = Gen.zip(Gen.frequency(8 -> nodeId, 1 -> Gen.const(null: String)),
        Gen.frequency(6 -> Gen.listOf(Gen.choose(-1.0f, 1.0f)).map(Option(_)), 1 -> Gen.const(None)),
        Gen.choose(0, 4))
      .map { case (id, v, d) =>
        EmbeddingRow(id, v.orNull, v.fold(d)(x => if (d == 0) x.length + 1 else x.length))
      }
    val edge = Gen.zip(edgeId, nodeId, nodeId, Gen.oneOf("a", "b"), Gen.choose(0.5, 3.0))
      .map { case (id, s, t, ty, w) => EdgeRow(id, s, t, ty, w, "c") }
    // a bulk batch always repeats its first id, with a later row
    def batch[A](g: Gen[A], relabel: (A, A) => A): Gen[Seq[A]] =
      Gen.zip(Gen.nonEmptyListOf(g), g).map { case (b, x) => b :+ relabel(b.head, x) }
    trait Op
    case class UpNode(n: Node) extends Op
    case class UpEmb(e: EmbeddingRow) extends Op
    case class UpEdge(e: EdgeRow) extends Op
    case class DelNode(id: String) extends Op
    case class DelEdge(id: String) extends Op
    case class UpNodes(b: Seq[Node], distributed: Boolean) extends Op
    case class UpEdges(b: Seq[EdgeRow], distributed: Boolean) extends Op
    case class Update(id: String, text: String, e: Option[EmbeddingRow]) extends Op
    case class Load(n: Seq[Node], e: Seq[EmbeddingRow], g: Seq[EdgeRow]) extends Op
    val op: Gen[Op] = Gen.frequency(
      2 -> Gen.zip(nodeId, word, Gen.option(emb)).map(Update.tupled),
      1 -> Gen.zip(Gen.listOf(node), Gen.listOf(emb), Gen.listOf(edge)).map(Load.tupled),
      3 -> node.map(UpNode), 2 -> emb.map(UpEmb), 3 -> edge.map(UpEdge),
      2 -> nodeId.map(DelNode), 1 -> edgeId.map(DelEdge),
      1 -> Gen.zip(batch[Node](node, (h, x) => x.copy(id = h.id)), Gen.oneOf(false, true))
        .map(UpNodes.tupled),
      1 -> Gen.zip(batch[EdgeRow](edge, (h, x) => x.copy(id = h.id)), Gen.oneOf(false, true))
        .map(UpEdges.tupled))
    // every sequence starts with n0 holding a self-loop, an in-edge and an
    // out-edge, then deletes it
    val prefix = Seq(UpNode(Node("n0", "hub", Map.empty, "c", "t0")),
      UpEdge(EdgeRow("e0", "n0", "n0", "a", 1.0, "c")),
      UpEdge(EdgeRow("e1", "n1", "n0", "a", 1.5, "c")),
      UpEdge(EdgeRow("e2", "n0", "n2", "b", 2.0, "c")),
      UpEmb(EmbeddingRow("n0", Seq(1.0f), 1)), DelNode("n0"))
    // the model keeps rows in catalog order: an upsert removes its key,
    // then appends
    def up[A](m: Vector[(String, A)], rows: Seq[A])(key: A => String) =
      rows.foldLeft(m)((acc, r) => acc.filterNot(_._1 == key(r)) :+ (key(r) -> r))
    forAll(Gen.listOfN(30, op), n = 4) { random =>
      val catalog = new TableCatalog(spark)
      var nodes = Vector.empty[(String, Node)]
      var embs = Vector.empty[(String, EmbeddingRow)]
      var edges = Vector.empty[(String, EdgeRow)]
      // the model's count of the writes that replace each table
      var nodesVer, embsVer, edgesVer = 0L
      def frame[A: org.apache.spark.sql.Encoder: scala.reflect.ClassTag](b: Seq[A], distributed: Boolean) =
        (if (distributed) spark.createDataset(spark.sparkContext.parallelize(b, 3))
         else b.toDS()).toDF()
      (prefix ++ random).zipWithIndex.foreach { case (o, step) =>
        // a value derived from each table before the step
        val before = catalog.snapshot
        val vers = (nodesVer, embsVer, edgesVer)
        val derived = (before.ofNodes("probe")(new Object), before.ofEmbeddings("probe")(new Object),
          before.edges)
        o match {
          case UpNode(n) => catalog.upsertNode(n); nodes = up(nodes, Seq(n))(_.id); nodesVer += 1
          case UpEmb(e) =>
            catalog.upsertEmbedding(e); embs = up(embs, Seq(e))(_.node_id); embsVer += 1
          case UpEdge(e) => catalog.upsertEdge(e); edges = up(edges, Seq(e))(_.id); edgesVer += 1
          case DelNode(id) =>
            // a missing node is a 404: nothing is deleted
            val found = nodes.exists(_._1 == id)
            assert(catalog.deleteNode(id) == found, s"step $step: $o")
            if (found) {
              nodes = nodes.filterNot(_._1 == id); embs = embs.filterNot(_._1 == id)
              edges = edges.filterNot { case (_, e) => e.source == id || e.target == id }
              nodesVer += 1; embsVer += 1; edgesVer += 1
            }
          case DelEdge(id) =>
            val found = edges.exists(_._1 == id)
            assert(catalog.deleteEdge(id) == found, s"step $step: $o")
            if (found) edgesVer += 1
            edges = edges.filterNot(_._1 == id)
          case Update(id, text, e) =>
            val old = nodes.find(_._1 == id).map(_._2)
            val withId = e.map(_.copy(node_id = id))
            assert(catalog.updateNode(id)(n => (n.copy(text = text), withId)) == old.nonEmpty,
              s"step $step: $o")
            old.foreach { n =>
              nodes = up(nodes, Seq(n.copy(text = text)))(_.id); nodesVer += 1
              withId.foreach { x => embs = up(embs, Seq(x))(_.node_id); embsVer += 1 }
            }
          case Load(n, e, g) =>
            catalog.load(n.toDF(), e.toDF(), g.toDF())
            nodes = up(Vector.empty, n)(_.id); embs = up(Vector.empty, e)(_.node_id)
            edges = up(Vector.empty, g)(_.id)
            nodesVer += 1; embsVer += 1; edgesVer += 1
          case UpNodes(b, d) =>
            catalog.upsertNodes(frame(b, d)); nodes = up(nodes, b)(_.id); nodesVer += 1
          case UpEdges(b, d) =>
            catalog.upsertEdges(frame(b, d)); edges = up(edges, b)(_.id); edgesVer += 1
        }
        val what = s"step $step: $o"
        assert(catalog.nodes.as[Node].collect().toSeq == nodes.map(_._2), what)
        assert(catalog.embeddings.as[EmbeddingRow].collect().toSeq == embs.map(_._2), what)
        assert(catalog.edges.as[EdgeRow].collect().toSeq == edges.map(_._2), what)
        // each derived value survives the step exactly when the model's
        // counter for its table did not move
        val after = catalog.snapshot
        assert((after.ofNodes("probe")(new Object) eq derived._1) == (nodesVer == vers._1), what)
        assert((after.ofEmbeddings("probe")(new Object) eq derived._2) == (embsVer == vers._2), what)
        assert((after.edges eq derived._3) == (edgesVer == vers._3), what)
        // the keyed reads and both edge indexes agree with the tables
        val s = catalog.snapshot
        (0 until 5).map(i => s"n$i").foreach { id =>
          assert(s.node(id) == nodes.find(_._1 == id).map(_._2), what)
          assert(s.embedding(id) == embs.find(_._1 == id).map(_._2), what)
          assert(s.outEdges(id).toSet == edges.map(_._2).filter(_.source == id).toSet, what)
          assert(s.inEdges(id).toSet == edges.map(_._2).filter(_.target == id).toSet, what)
        }
        (0 until 6).map(i => s"e$i").foreach { id =>
          assert(s.edge(id) == edges.find(_._1 == id).map(_._2), what)
        }
        // every live arena slot scores its key's row, in row order, as
        // `DotProductD.dot` does; a dead or null vector or another dim
        // never scores
        val keys = (0 until 5).map(i => s"n$i") ++ Seq(null, "missing")
        (embs.map(_._2.dim).distinct :+ 3).foreach { d =>
          val q = Array.tabulate(d)(j => ((j * 7 + step) % 5 - 2) * 0.37f)
          val want = embs.map(_._2).filter(x => x.dim == d && x.vector != null).map { x =>
            var acc = 0.0
            (0 until math.min(x.vector.length, d)).foreach(j => acc += x.vector(j).toDouble * q(j).toDouble)
            (x.node_id, java.lang.Double.doubleToRawLongBits(acc))
          }
          def got(sc: graft.store.Scored) = (0 until sc.size).map(i => (Option(sc.key(i)).map(_.toString).orNull,
            java.lang.Double.doubleToRawLongBits(sc.score(i))))
          assert(got(s.vectorScores(q)) == want, s"$what: dim $d")
          assert(got(s.vectorScores(q, Some(keys))) == want.filter(_._1 != null), s"$what: dim $d, by key")
        }
        if (s.embeddingSlots < before.embeddingSlots && !o.isInstanceOf[Load]) compactions += 1
      }
    }
    assert(compactions > 0, "no write compacted the embedding arena")
  }
}
