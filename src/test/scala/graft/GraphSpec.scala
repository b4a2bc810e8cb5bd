package graft

import graft.graph.{Bfs, GraphOps}
import org.apache.spark.sql.functions._

class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def edges(rows: (String, String, String, Double)*) =
    rows.toDF("src", "dst", "etype", "weight")

  test("TC-GRAPH-01: chain A→B→C→D, depth 2 reaches {B,C} not D") {
    val e = edges(("A", "B", "t", 1.0), ("B", "C", "t", 1.0), ("C", "D", "t", 1.0))
    val got = Bfs.traverse(e, lit("A"), depth = 2)
      .as[(String, Int, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got.keySet == Set("A", "B", "C"))
    assert(got("B") == (1, 1.0) && got("C") == (2, 2.0))
  }

  test("TC-GRAPH-02: edge-type filter follows only that type") {
    val e = edges(("A", "P1", "author_of", 1.0), ("A", "P2", "cites", 1.0))
    val got = Bfs.traverse(e, lit("A"), depth = 2, edgeType = Some(("etype", "author_of")))
      .as[(String, Int, Double)].collect().map(_._1).toSet
    assert(got == Set("A", "P1"))
  }

  test("TC-GRAPH-03: 2-cycle A⇄B terminates, start excluded from frontier") {
    val e = edges(("A", "B", "c", 1.0), ("B", "A", "c", 1.0))
    val got = Bfs.traverse(e, lit("A"), depth = 3)
      .as[(String, Int, Double)].collect().map(r => r._1 -> r._2).toMap
    assert(got == Map("A" -> 0, "B" -> 1), s"cycle must not revisit: $got")
  }

  test("isolated start short-circuits to {start: (0, 0.0)} (app.py:521-525)") {
    val e = edges(("X", "Y", "t", 1.0))
    val got = Bfs.traverse(e, lit("Z"), depth = 3)
      .as[(String, Int, Double)].collect()
    assert(got.toSeq == Seq(("Z", 0, 0.0)))
  }

  test("max-weight-among-shortest-paths: diamond picks heavier parent path") {
    // A→B(1), A→C(5), B→D(1), C→D(1): D at dist 2 via C has weight 6
    val e = edges(("A", "B", "t", 1.0), ("A", "C", "t", 5.0),
      ("B", "D", "t", 1.0), ("C", "D", "t", 1.0))
    val got = Bfs.traverse(e, lit("A"), depth = 3)
      .as[(String, Int, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got("D") == (2, 6.0), s"$got")
  }

  test("shorter path wins over heavier longer path (min-dist primacy)") {
    // A→D direct (w=1) and A→B→D (w=10): dist 1 wins, weight 1.0
    val e = edges(("A", "D", "t", 1.0), ("A", "B", "t", 5.0), ("B", "D", "t", 5.0))
    val got = Bfs.traverse(e, lit("A"), depth = 3)
      .as[(String, Int, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got("D") == (1, 1.0), s"$got")
  }

  test("closeness scores: start 1.0, depth decay, weight factor (app.py:551-589)") {
    val e = edges(("A", "B", "t", 2.0), ("B", "C", "t", 2.0))
    val bfs = Bfs.traverse(e, lit("A"), depth = 2)
    val got = GraphOps.closeness(bfs, lit("A"), maxDepth = 2)
      .select($"node", $"graph_score").as[(String, Double)].collect().toMap
    assert(got("A") == 1.0)
    // max_w = 4 (path A→B→C); B: ((2-1+1)/3) * (0.5 + 0.5*2/4) = 2/3 * 0.75
    assert(math.abs(got("B") - (2.0 / 3) * 0.75) < 1e-12, s"$got")
    // C: ((2-2+1)/3) * (0.5 + 0.5*4/4) = 1/3 * 1.0
    assert(math.abs(got("C") - 1.0 / 3) < 1e-12, s"$got")
  }

  test("induced subgraph includes off-type edges between visited (app.py:613-634)") {
    val e = edges(("A", "B", "follow", 1.0), ("B", "A", "other", 9.0), ("B", "X", "follow", 1.0))
    val visited = Bfs.traverse(e, lit("A"), depth = 1, edgeType = Some(("etype", "follow")))
    val got = GraphOps.inducedEdges(e, visited)
      .select($"src", $"dst", $"etype").as[(String, String, String)].collect().toSet
    // visited = {A, B}; the off-type B→A edge IS reported, B→X is not
    assert(got == Set(("A", "B", "follow"), ("B", "A", "other")), s"$got")
  }

  test("null dst (eventEdges shape): one row per level it is reached, never expanded") {
    // get_json_object(props, '$.k').cast("long") % 15 is null when k is
    // missing, exactly as GraphQueries.eventEdges derives dst
    val ev = Seq((0L, """{"k": 16}""", 1.0), (0L, """{"j": 1}""", 2.0),
      (1L, """{"k": 2}""", 1.5), (1L, "{}", 3.0), (2L, """{"k": 30}""", 1.0),
      (2L, """{"k": 3}""", 0.5), (3L, "{}", 1.0))
      .toDF("src", "props", "weight")
      .select($"src", (get_json_object($"props", "$.k").cast("long") % 15).as("dst"),
        $"weight")
    val got = Bfs.traverse(ev, lit(0L), depth = 3).collect().map(_.toString).sorted
    // pinned from the distributed join/anti-join loop this BFS replaced
    assert(got.toSeq == Seq("[0,0,0.0]", "[1,1,1.0]", "[2,2,2.5]", "[3,3,3.0]",
      "[null,1,2.0]", "[null,2,4.0]"), got.mkString(" "))
  }

  test("int src/dst columns started from lit(0L): bigint nodes, same labels") {
    val e = Seq((0, 1, 1.0), (1, 2, 2.5), (0, 2, 4.0), (2, 0, 1.0), (2, 3, 0.25),
      (1, 3, 3.0)).toDF("src", "dst", "weight")
    val bfs = Bfs.traverse(e, lit(0L), depth = 3)
    assert(bfs.schema.simpleString == "struct<node:bigint,dist:int,path_weight:double>")
    // pinned from the distributed join/anti-join loop this BFS replaced
    val got = bfs.as[(Long, Int, Double)].collect().sorted.toSeq
    assert(got == Seq((0L, 0, 0.0), (1L, 1, 1.0), (2L, 1, 4.0), (3L, 2, 4.25)), got)
  }
}
