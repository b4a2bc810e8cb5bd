package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private def stream(seed: Long, blocks: Int): String = {
    val s = new OpStream(Gen.corpus(seed, 300), seed)
    (1 to blocks).flatMap(_ => s.nextBlock()).mkString("\n")
  }

  test("the same seed gives a byte-identical corpus and request stream") {
    assert(Gen.corpus(7, 300).toString == Gen.corpus(7, 300).toString)
    assert(stream(7, 5) == stream(7, 5))
  }

  test("a different seed gives a different corpus and stream") {
    assert(Gen.corpus(7, 300).toString != Gen.corpus(8, 300).toString)
    assert(stream(7, 2) != stream(8, 2))
  }

  test("the registry slice is permuted by the seed and samples the large modules") {
    val a = Batch.order(Batch.slice, 1)
    assert(a == Batch.order(Batch.slice, 1))
    assert(a != Batch.order(Batch.slice, 2))
    assert(a.map(_._2.name).sorted == Batch.slice.map(_._2.name))
    assert(a.map(_._1).toSet == Batch.SampledModules.toSet)
    assert(a.map(_._1).toSet.contains("GraphQueries") && a.map(_._1).toSet.contains("GraphXQueries"))
  }

  test("blocks carry the exact request mix") {
    val s = new OpStream(Gen.corpus(3, 300), 3)
    val block = s.nextBlock()
    val kinds = block.map(_.kind).groupBy(identity).map { case (k, v) => k -> v.size }
    assert(kinds == Map("vector" -> 5, "vector_filter" -> 2, "graph" -> 5, "hybrid" -> 5,
      "get_node" -> 3, "write" -> 18))
    assert(block.collect { case g: Op.Graph => g.depth }.sorted == Gen.GraphDepths.sorted)
  }

  test("the corpus has about five edges per node, no self loops, weights in [0.5, 3]") {
    val c = Gen.corpus(11, 2000)
    val perNode = c.edges.size.toDouble / c.nodes.size
    assert(perNode > 3.5 && perNode < 6.5, perNode)
    assert(c.edges.forall(e => e.source != e.target))
    assert(c.edges.forall(e => e.weight >= 0.5 && e.weight <= 3.0))
    assert(c.nodes.map(_.metadata("type")).toSet == Gen.NodeTypes.toSet)
  }
}
