package graft.perfbench

import scala.collection.mutable

import graft.functions.HashEmbed
import graft.perfbench.ServingModel.{MEdge, MNode}

/** Checks one HTTP reply against the serving model and applies the
  * request to the model. Returns the first mismatch, if any. */
object Checks {
  val Tolerance = 1e-9

  private type Obj = Map[String, Any]

  private final class Mismatch(msg: String) extends Exception(msg)
  private def fail(msg: String): Nothing = throw new Mismatch(msg)
  private def expect(cond: Boolean, msg: => String): Unit = if (!cond) fail(msg)

  private def obj(v: Any, what: String): Obj = v match {
    case m: Map[_, _] => m.asInstanceOf[Obj]
    case other => fail(s"$what: expected an object, got $other")
  }
  private def list(v: Any, what: String): Seq[Any] = v match {
    case s: Seq[_] => s
    case other => fail(s"$what: expected a list, got $other")
  }
  private def num(v: Any, what: String): Double = v match {
    case d: Double => d
    case l: Long => l.toDouble
    case other => fail(s"$what: expected a number, got $other")
  }
  private def close(got: Any, want: Double, what: String): Unit = {
    val g = num(got, what)
    expect(math.abs(g - want) <= Tolerance * math.max(1.0, math.abs(want)),
      s"$what: got $g, want $want")
  }
  private def same(got: Any, want: Any, what: String): Unit =
    expect(got == want, s"$what: got $got, want $want")

  private def status(got: Int, want: Int, body: String): Unit =
    expect(got == want, s"status $got, want $want: ${body.take(300)}")

  private def vectorOf(v: Any, what: String): Seq[Double] = list(v, what).map(num(_, what))

  private def nodeBody(b: Obj, n: MNode, model: ServingModel, withEmbedding: Boolean): Unit = {
    same(b.get("id"), Some(n.id), "node id")
    same(b.get("text"), Some(n.text), s"node ${n.id} text")
    same(b.get("metadata"), Some(n.metadata), s"node ${n.id} metadata")
    same(b.get("created_at"), Some(n.createdAt), s"node ${n.id} created_at")
    same(b.get("updated_at"), Some(n.updatedAt), s"node ${n.id} updated_at")
    same(b.get("has_embedding"), Some(n.vector.nonEmpty), s"node ${n.id} has_embedding")
    if (withEmbedding)
      same(b.get("embedding").map(vectorOf(_, "embedding")),
        Some(n.vector.toSeq.map(_.toDouble)), s"node ${n.id} embedding")
    val edges = obj(b.getOrElse("edges", fail("node without edges")), "edges")
    def edgeList(key: String, peer: String, want: Seq[MEdge], peerOf: MEdge => String): Unit = {
      val got = list(edges.getOrElse(key, fail(s"no $key edges")), key).map(obj(_, key))
      same(got.map(_.get("id")), want.map(e => Some(e.id)), s"node ${n.id} $key edge ids")
      got.zip(want).foreach { case (g, e) =>
        same(g.get(peer), Some(peerOf(e)), s"edge ${e.id} $peer")
        same(g.get("type"), Some(e.etype), s"edge ${e.id} type")
        close(g.getOrElse("weight", fail("edge without weight")), e.weight, s"edge ${e.id} weight")
      }
    }
    edgeList("outgoing", "target_id", model.outgoing(n.id), _.target)
    edgeList("incoming", "source_id", model.incoming(n.id), _.source)
  }

  private def edgeBody(b: Obj, e: MEdge): Unit = {
    same(b.get("id"), Some(e.id), "edge id")
    same(b.get("source"), Some(e.source), s"edge ${e.id} source")
    same(b.get("target"), Some(e.target), s"edge ${e.id} target")
    same(b.get("type"), Some(e.etype), s"edge ${e.id} type")
    close(b.getOrElse("weight", fail("edge without weight")), e.weight, s"edge ${e.id} weight")
  }

  private def str(b: Obj, k: String): String = b.get(k) match {
    case Some(s: String) => s
    case other => fail(s"$k: expected a string, got $other")
  }

  def check(op: Op, code: Int, body: String, model: ServingModel,
            bound: mutable.Map[String, String], resolve: String => String,
            dim: Int): Option[String] =
    try {
      def json = Json.read(body)
      op match {
        case Op.Vector(text, filter) =>
          status(code, 200, body)
          val want = model.vectorSearch(HashEmbed.encode(text, dim), Serve.TopK, filter.toMap)
          val got = list(json, "vector hits").map(obj(_, "vector hit"))
          same(got.size, want.size, "vector hit count")
          got.zip(want).zipWithIndex.foreach { case ((g, (id, score)), i) =>
            val node = obj(g.getOrElse("node", fail("hit without node")), "node")
            same(node.get("id"), Some(id), s"vector hit $i id")
            same(node.get("text"), Some(model.nodes(id).text), s"vector hit $i text")
            same(node.get("metadata"), Some(model.nodes(id).metadata), s"vector hit $i metadata")
            close(g.getOrElse("vector_score", fail("hit without score")), score, s"vector hit $i score")
          }

        case Op.Graph(start, depth, etype) =>
          val s = resolve(start)
          status(code, 200, body)
          val (hits, induced) = model.graphSearch(s, depth, etype)
          val b = obj(json, "graph result")
          same(b.get("start_id"), Some(s), "start_id")
          same(b.get("depth"), Some(depth.toLong), "depth")
          same(b.get("edge_type"), Some(etype.orNull), "edge_type")
          val nodes = list(b.getOrElse("nodes", fail("no nodes")), "nodes").map(obj(_, "node hit"))
          same(nodes.size, hits.size, "graph node count")
          nodes.zip(hits).foreach { case (g, (id, d, w)) =>
            val node = obj(g.getOrElse("node", fail("hit without node")), "node")
            same(node.get("id"), Some(id), "graph node id")
            same(node.get("text"), Some(model.nodes(id).text), s"graph node $id text")
            same(node.get("metadata"), Some(model.nodes(id).metadata), s"graph node $id metadata")
            same(g.get("distance"), Some(d.toLong), s"graph node $id distance")
            close(g.getOrElse("path_weight", fail("no path_weight")), w, s"graph node $id path_weight")
          }
          val edges = list(b.getOrElse("edges", fail("no edges")), "edges").map(obj(_, "edge"))
          same(edges.size, induced.size, "induced edge count")
          edges.zip(induced).foreach { case (g, e) => edgeBody(g, e) }

        case Op.Hybrid(text, start) =>
          status(code, 200, body)
          val want = model.hybridSearch(HashEmbed.encode(text, dim), resolve(start),
            Serve.HybridDepth, Serve.VectorWeight, Serve.GraphWeight, Serve.TopK)
          val got = list(json, "hybrid hits").map(obj(_, "hybrid hit"))
          same(got.size, want.size, "hybrid hit count")
          got.zip(want).zipWithIndex.foreach { case ((g, (id, vn, gs, f)), i) =>
            val node = obj(g.getOrElse("node", fail("hit without node")), "node")
            same(node.get("id"), Some(id), s"hybrid hit $i id")
            same(node.get("text"), Some(model.nodes(id).text), s"hybrid hit $i text")
            close(g.getOrElse("vector_score", fail("no vector_score")), vn, s"hybrid hit $i vector_score")
            close(g.getOrElse("graph_score", fail("no graph_score")), gs, s"hybrid hit $i graph_score")
            close(g.getOrElse("final_score", fail("no final_score")), f, s"hybrid hit $i final_score")
          }

        case Op.GetNode(node) =>
          model.nodes.get(resolve(node)) match {
            case Some(n) =>
              status(code, 200, body)
              nodeBody(obj(json, "node"), n, model, withEmbedding = false)
            case None =>
              status(code, 404, body)
              same(obj(json, "404 body").get("detail"), Some("Node not found"), "404 detail")
          }

        case Op.CreateNode(handle, text, md) =>
          status(code, 201, body)
          val b = obj(json, "created node")
          val id = str(b, "id")
          expect(!model.nodes.contains(id), s"created id $id already exists")
          val ts = str(b, "created_at")
          val n = MNode(id, text, md, ts, ts, HashEmbed.encode(text, dim))
          nodeBody(b, n, model, withEmbedding = true)
          bound(handle) = id
          model.putNode(n)

        case Op.UpdateNode(node, text, md) =>
          val old = model.nodes.getOrElse(resolve(node), fail(s"update of unknown node $node"))
          status(code, 200, body)
          val b = obj(json, "updated node")
          val n = old.copy(text = text, metadata = md.getOrElse(old.metadata),
            updatedAt = str(b, "updated_at"), vector = HashEmbed.encode(text, dim))
          nodeBody(b, n, model, withEmbedding = true)
          model.putNode(n)

        case Op.DeleteNode(node) =>
          status(code, 204, body)
          model.deleteNode(resolve(node))

        case Op.CreateEdge(handle, s, t, etype, w) =>
          status(code, 201, body)
          val b = obj(json, "created edge")
          val id = str(b, "id")
          expect(!model.edges.contains(id), s"created edge id $id already exists")
          val e = MEdge(id, resolve(s), resolve(t), etype, w)
          edgeBody(b, e)
          bound(handle) = id
          model.putEdge(e)

        case Op.UpdateEdge(edge, etype, w) =>
          val old = model.edges.getOrElse(resolve(edge), fail(s"update of unknown edge $edge"))
          status(code, 200, body)
          val e = old.copy(etype = etype, weight = w)
          edgeBody(obj(json, "updated edge"), e)
          model.putEdge(e)

        case Op.DeleteEdge(edge) =>
          status(code, 204, body)
          model.deleteEdge(resolve(edge))
      }
      None
    } catch { case m: Mismatch => Some(s"${op.kind}: ${m.getMessage}") }
}
