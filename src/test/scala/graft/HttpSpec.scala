package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import com.fasterxml.jackson.databind.ObjectMapper

import graft.api.{Engine, EngineHttpServer}

import scala.jdk.CollectionConverters._

/** HTTP-shell contract checks (the full black-box suite is the reference's
  * own `test_final.py`, run unmodified against `graft.api.ServeMain` — this
  * spec pins the wire shapes so regressions surface in `sbt test`). */
class HttpSpec extends SparkSpec {

  private lazy val server = {
    val s = new EngineHttpServer(new Engine(spark), port = 0)
    s.start()
    s
  }
  private lazy val base = s"http://127.0.0.1:${server.boundPort}"
  private val client = HttpClient.newHttpClient()
  private val mapper = new ObjectMapper()

  private def send(method: String, path: String, body: Option[String] = None)
      : (Int, String) = {
    val b = HttpRequest.newBuilder(URI.create(base + path))
    val req = (body match {
      case Some(j) => b.method(method, HttpRequest.BodyPublishers.ofString(j))
        .header("Content-Type", "application/json")
      case None => b.method(method, HttpRequest.BodyPublishers.noBody())
    }).build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  private def json(s: String): java.util.Map[String, Object] =
    mapper.readValue(s, classOf[java.util.Map[String, Object]])

  test("POST /nodes → 201 with embedding; GET echoes text/metadata; 404 on missing") {
    val (code, body) = send("POST", "/nodes",
      Some("""{"text":"caching \"notes\" here","metadata":{"type":"note"},"auto_embed":true}"""))
    assert(code == 201, body)
    val n = json(body)
    assert(n.get("text") == "caching \"notes\" here", "JSON escaping round-trips")
    assert(n.get("metadata").asInstanceOf[java.util.Map[_, _]].get("type") == "note")
    assert(n.get("embedding").asInstanceOf[java.util.List[_]].size == 256)
    assert(n.get("has_embedding") == java.lang.Boolean.TRUE)
    val id = n.get("id").toString

    val (gCode, gBody) = send("GET", s"/nodes/$id")
    assert(gCode == 200)
    val g = json(gBody)
    assert(g.get("text") == "caching \"notes\" here")
    assert(!g.containsKey("embedding"), "GET omits the raw vector (app.py:785-790)")
    assert(g.get("edges").asInstanceOf[java.util.Map[_, _]].keySet.asScala
      .map(_.toString) == Set("outgoing", "incoming"))

    assert(send("GET", "/nodes/node-nope")._1 == 404)
    assert(send("DELETE", s"/nodes/$id")._1 == 204)
    assert(send("DELETE", s"/nodes/$id")._1 == 404)
  }

  test("edges + searches speak the reference wire shapes") {
    val a = json(send("POST", "/nodes",
      Some("""{"text":"node a http","metadata":{}}"""))._2).get("id").toString
    val b = json(send("POST", "/nodes",
      Some("""{"text":"node b http","metadata":{}}"""))._2).get("id").toString
    val (eCode, eBody) = send("POST", "/edges",
      Some(s"""{"source":"$a","target":"$b","type":"t1","weight":2.5}"""))
    assert(eCode == 201)
    val e = json(eBody)
    assert(e.get("type") == "t1" && e.get("weight") == java.lang.Double.valueOf(2.5))
    // missing endpoint → 404 (app.py:843-846)
    assert(send("POST", "/edges",
      Some(s"""{"source":"nope","target":"$b"}"""))._1 == 404)

    val (vCode, vBody) = send("POST", "/search/vector",
      Some("""{"query_text":"node a http","top_k":5}"""))
    assert(vCode == 200)
    val hits = mapper.readValue(vBody, classOf[java.util.List[java.util.Map[String, Object]]])
    assert(!hits.isEmpty)
    assert(hits.get(0).containsKey("node") && hits.get(0).containsKey("vector_score"))

    val (gCode, gBody) = send("GET", s"/search/graph?start_id=$a&depth=1&type=t1")
    assert(gCode == 200)
    val gr = json(gBody)
    val nodes = gr.get("nodes").asInstanceOf[java.util.List[java.util.Map[String, Object]]]
    assert(nodes.asScala.exists(n =>
      n.get("node").asInstanceOf[java.util.Map[_, _]].get("id") == b &&
        n.get("path_weight") == java.lang.Double.valueOf(2.5)))
    assert(send("GET", "/search/graph?start_id=missing&depth=1")._1 == 404)

    val (hCode, hBody) = send("POST", "/search/hybrid",
      Some(s"""{"query_text":"node a http","vector_weight":0.7,"graph_weight":0.3,"top_k":5,"graph_start_id":"$a"}"""))
    assert(hCode == 200)
    val hy = mapper.readValue(hBody, classOf[java.util.List[java.util.Map[String, Object]]])
    assert(hy.asScala.forall(h => h.containsKey("final_score") &&
      h.containsKey("vector_score") && h.containsKey("graph_score")))

    val st = json(send("GET", "/stats")._2)
    assert(st.get("total_nodes").asInstanceOf[Number].longValue() >= 2)
    assert(json(send("GET", "/")._2).containsKey("status"))
  }

  test("unreadable input → 422 with a short detail, and no write happens") {
    val before = json(send("GET", "/stats")._2).get("total_nodes")
    val a = json(send("POST", "/nodes",
      Some("""{"text":"node a 422","metadata":{}}"""))._2).get("id").toString
    val bad = Seq(
      "GET" -> s"/search/graph?start_id=$a&depth=two" -> None,
      "POST" -> "/search/vector" -> Some("""{"query_text":"x","top_k":"five"}"""),
      "POST" -> "/search/vector" -> Some("""{"query_text":"x","top_k":-1}"""),
      "POST" -> "/search/hybrid" -> Some("""{"query_text":"x","top_k":-3}"""),
      "POST" -> "/search/hybrid" ->
        Some(s"""{"query_text":"x","graph_start_id":"$a","top_k":-1}"""),
      "POST" -> "/search/hybrid" ->
        Some(s"""{"query_text":"x","graph_start_id":"$a","graph_depth":"deep"}"""),
      "POST" -> "/nodes" -> Some("""{"text":"t","auto_embed":"yes"}"""),
      "POST" -> "/nodes" -> Some("""{"text":"t","metadata":["not","a","map"]}"""),
      "POST" -> "/nodes" -> Some("""{"text":"t","embedding":[1.0,"x"]}"""),
      "POST" -> "/nodes" -> Some("""not json"""),
      "POST" -> "/nodes" -> Some("""[1, 2]"""),
      "POST" -> "/edges" -> Some(s"""{"source":"$a","target":"$a","weight":"x"}"""),
      "PUT" -> s"/nodes/$a" -> Some("""{"text":"changed","regen_embedding":1}"""))
    bad.foreach { case ((method, path), body) =>
      val (code, resp) = send(method, path, body)
      assert(code == 422, s"$method $path $body -> $resp")
      val detail = json(resp).get("detail").toString
      assert(detail.nonEmpty && detail.length < 80 && !detail.contains("Exception"),
        s"$method $path: detail '$detail'")
    }
    val negative = json(send("POST", "/search/vector",
      Some("""{"query_text":"x","top_k":-1}"""))._2).get("detail").toString
    assert(negative.startsWith("top_k must be"), negative)
    val after = json(send("GET", "/stats")._2).get("total_nodes")
    assert(after.asInstanceOf[Number].longValue() ==
      before.asInstanceOf[Number].longValue() + 1, "rejected POSTs created no node")
    val node = json(send("GET", s"/nodes/$a")._2)
    assert(node.get("text") == "node a 422", "rejected PUT left the node as it was")
    assert(node.get("edges").asInstanceOf[java.util.Map[String, java.util.List[_]]]
      .get("outgoing").isEmpty, "rejected edge POST created no edge")
  }

  test("a response is not held back by a delayed ACK: GET /stats median under 20 ms") {
    // with Nagle's algorithm on, the body segment waits for the client's
    // delayed ACK of the headers, at least 40 ms on Linux
    (1 to 3).foreach(_ => send("GET", "/stats"))
    val ms = (1 to 21).map { _ =>
      val t0 = System.nanoTime()
      assert(send("GET", "/stats")._1 == 200)
      (System.nanoTime() - t0) / 1e6
    }.sorted
    info(f"GET /stats: median ${ms(10)}%.1f ms, max ${ms.last}%.1f ms")
    assert(ms(10) < 20, s"median ${ms(10)} ms")
  }

  test("stop() leaves no non-daemon thread of the server alive") {
    def nonDaemon = Thread.getAllStackTraces.keySet.asScala.filter(t => t.isAlive && !t.isDaemon).toSet
    val engine = new Engine(spark)
    val before = nonDaemon
    val s = new EngineHttpServer(engine, port = 0)
    s.start()
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${s.boundPort}/stats")).build()
    assert(client.send(req, HttpResponse.BodyHandlers.ofString()).statusCode() == 200)
    s.stop()
    val left = nonDaemon -- before
    assert(left.isEmpty, s"alive after stop(): ${left.map(_.getName)}")
  }
}
