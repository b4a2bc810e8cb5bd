package graft.api

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{Executors, TimeUnit}

import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.model._

import scala.jdk.CollectionConverters._

/** Minimal JDK HTTP shell over [[Engine]], speaking the reference's JSON
  * contracts verbatim (app.py:753-948) so `test_final.py` runs against it
  * unmodified. Serialization goes through jackson over plain Java
  * collections (correct escaping, no new dependencies — jackson ships with
  * Spark). One request at a time (single-thread executor): the engine's
  * snapshot store is single-writer by design and the reference's test
  * harness is sequential.
  */
final class EngineHttpServer(engine: Engine, port: Int) {
  private val mapper = new ObjectMapper()
  private val server = EngineHttpServer.bind(port)

  // ------------------------------------------------------------- JSON out
  /** Scala value → jackson-serializable Java structure. */
  private def j(v: Any): Object = v match {
    case null          => null
    case Some(x)       => j(x)
    case None          => null
    case m: Map[_, _]  =>
      val out = new java.util.LinkedHashMap[String, Object]()
      m.foreach { case (k, x) => out.put(k.toString, j(x)) }
      out
    case s: Seq[_]     =>
      val out = new java.util.ArrayList[Object](s.length)
      s.foreach(x => out.add(j(x)))
      out
    case f: Float      => java.lang.Double.valueOf(f.toDouble)
    case other         => other.asInstanceOf[Object]
  }

  private def nodeJson(n: NodeDetails, withEmbedding: Boolean): Map[String, Any] = {
    val base = Map(
      "id" -> n.id, "text" -> n.text, "metadata" -> n.metadata,
      "created_at" -> n.created_at, "updated_at" -> n.updated_at,
      "has_embedding" -> n.hasEmbedding,
      "edges" -> Map(
        "outgoing" -> n.outgoing.map(e => Map(
          "id" -> e.id, "target_id" -> e.target, "type" -> e.etype,
          "weight" -> e.weight)),
        "incoming" -> n.incoming.map(e => Map(
          "id" -> e.id, "source_id" -> e.source, "type" -> e.etype,
          "weight" -> e.weight))))
    // reference: GET omits the raw vector, POST/PUT echo it (app.py:777-781)
    if (withEmbedding) base ++ n.embedding.map(v => "embedding" -> v)
    else base
  }

  private def edgeJson(e: EdgeInfo): Map[String, Any] = Map(
    "id" -> e.id, "source" -> e.source, "target" -> e.target,
    "type" -> e.etype, "weight" -> e.weight)

  // -------------------------------------------------------------- JSON in
  /** A request the server cannot read — a body that is not a JSON
    * object, a field of the wrong JSON type, a non-integer query
    * parameter. Answered 422 with a short detail, the status FastAPI's
    * request validation returns. */
  private final class BadRequest(detail: String) extends Exception(detail)

  private def parseBody(ex: HttpExchange): Map[String, Object] = {
    val raw = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    if (raw.isEmpty) Map.empty
    else {
      val m = try mapper.readValue(raw, classOf[java.util.Map[String, Object]])
        catch { case _: JsonProcessingException => null }
      if (m == null) throw new BadRequest("body must be a JSON object")
      m.asScala.toMap
    }
  }

  /** Field `k` when present and not null, read by `read`; a value of any
    * other JSON type is a [[BadRequest]]. */
  private def field[T](b: Map[String, Object], k: String, expected: String)(
      read: PartialFunction[Object, T]): Option[T] =
    b.get(k).filter(_ != null).map(v =>
      read.applyOrElse(v, (_: Object) => throw new BadRequest(s"$k must be $expected")))

  private def optStr(b: Map[String, Object], k: String): Option[String] =
    b.get(k).filter(_ != null).map(_.toString)

  private def optStrMap(b: Map[String, Object], k: String): Option[Map[String, String]] =
    field(b, k, "an object") { case m: java.util.Map[_, _] =>
      m.asScala.map { case (kk, vv) => kk.toString -> String.valueOf(vv) }.toMap
    }

  private def optVec(b: Map[String, Object], k: String): Option[Seq[Float]] =
    field(b, k, "a list of numbers") {
      case l: java.util.List[_] if l.asScala.forall(_.isInstanceOf[Number]) =>
        l.asScala.map(_.asInstanceOf[Number].floatValue()).toSeq
    }

  private def optBool(b: Map[String, Object], k: String, dflt: Boolean): Boolean =
    field(b, k, "a boolean") { case x: java.lang.Boolean => x.booleanValue() }
      .getOrElse(dflt)

  private def optNum(b: Map[String, Object], k: String): Option[Double] =
    field(b, k, "a number") { case x: Number => x.doubleValue() }

  /** `top_k` of a search body: a number, 10 when absent; a negative one
    * is a [[BadRequest]]. */
  private def topKOf(b: Map[String, Object]): Int =
    optNum(b, "top_k").map(_.toInt).getOrElse(10) match {
      case k if k < 0 => throw new BadRequest("top_k must be a non-negative number")
      case k => k
    }

  private def queryParams(ex: HttpExchange): Map[String, String] =
    try Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&")
      .filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        java.net.URLDecoder.decode(k, "UTF-8") ->
          java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap
    catch { case _: IllegalArgumentException => throw new BadRequest("malformed query string") }

  private def intParam(q: Map[String, String], k: String): Option[Int] =
    q.get(k).map(v => v.toIntOption.getOrElse(throw new BadRequest(s"$k must be an integer")))

  // ------------------------------------------------------------ responses
  private def respond(ex: HttpExchange, code: Int, body: Any): Unit = {
    val bytes = mapper.writeValueAsString(j(body)).getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def noContent(ex: HttpExchange): Unit = {
    ex.sendResponseHeaders(204, -1)
    ex.close()
  }

  private def notFound(ex: HttpExchange, detail: String): Unit =
    respond(ex, 404, Map("detail" -> detail))

  private def handler(f: HttpExchange => Unit): com.sun.net.httpserver.HttpHandler =
    (ex: HttpExchange) =>
      try f(ex)
      catch {
        case e: Throwable =>
          val (code, detail) = e match {
            case b: BadRequest => (422, b.getMessage)
            case _             => (500, String.valueOf(e))
          }
          try respond(ex, code, Map("detail" -> detail)) catch { case _: Throwable => () }
      }

  // --------------------------------------------------------------- routes
  private def pathTail(ex: HttpExchange, prefix: String): Option[String] = {
    val p = ex.getRequestURI.getPath
    if (p.length > prefix.length + 1 && p.startsWith(prefix + "/"))
      Some(p.substring(prefix.length + 1)) else None
  }

  server.createContext("/nodes", handler { ex =>
    (ex.getRequestMethod, pathTail(ex, "/nodes")) match {
      case ("POST", None) =>
        val b = parseBody(ex)
        val n = engine.createNode(
          text = optStr(b, "text").getOrElse(""),
          metadata = optStrMap(b, "metadata").getOrElse(Map.empty),
          autoEmbed = optBool(b, "auto_embed", dflt = true),
          embedding = optVec(b, "embedding"))
        respond(ex, 201, nodeJson(n, withEmbedding = true))
      case ("GET", Some(id)) =>
        engine.getNode(id) match {
          case Some(n) => respond(ex, 200, nodeJson(n, withEmbedding = false))
          case None    => notFound(ex, "Node not found")
        }
      case ("PUT", Some(id)) =>
        val b = parseBody(ex)
        engine.updateNode(id,
          text = optStr(b, "text"),
          metadata = optStrMap(b, "metadata"),
          regenEmbedding = optBool(b, "regen_embedding", dflt = false),
          embedding = optVec(b, "embedding")) match {
          case Some(n) => respond(ex, 200, nodeJson(n, withEmbedding = true))
          case None    => notFound(ex, "Node not found")
        }
      case ("DELETE", Some(id)) =>
        if (engine.deleteNode(id)) noContent(ex)
        else notFound(ex, "Node not found")
      case _ => notFound(ex, "Not found")
    }
  })

  server.createContext("/edges", handler { ex =>
    (ex.getRequestMethod, pathTail(ex, "/edges")) match {
      case ("POST", None) =>
        val b = parseBody(ex)
        val source = optStr(b, "source").getOrElse("")
        val target = optStr(b, "target").getOrElse("")
        engine.createEdge(source, target,
          etype = optStr(b, "type").getOrElse("default"),
          weight = optNum(b, "weight").getOrElse(1.0)) match {
          case Some(e) => respond(ex, 201, edgeJson(e))
          case None    => notFound(ex, s"Source node $source not found")
        }
      case ("GET", Some(id)) =>
        engine.getEdge(id) match {
          case Some(e) => respond(ex, 200, edgeJson(e))
          case None    => notFound(ex, "Edge not found")
        }
      case ("PUT", Some(id)) =>
        val b = parseBody(ex)
        engine.updateEdge(id, etype = optStr(b, "type"),
          weight = optNum(b, "weight")) match {
          case Some(e) => respond(ex, 200, edgeJson(e))
          case None    => notFound(ex, "Edge not found")
        }
      case ("DELETE", Some(id)) =>
        if (engine.deleteEdge(id)) noContent(ex)
        else notFound(ex, "Edge not found")
      case _ => notFound(ex, "Not found")
    }
  })

  server.createContext("/search/vector", handler { ex =>
    val b = parseBody(ex)
    val hits = engine.vectorSearch(
      queryText = optStr(b, "query_text").getOrElse(""),
      topK = topKOf(b),
      metadataFilter = optStrMap(b, "metadata_filter").getOrElse(Map.empty))
    respond(ex, 200, hits.map(h => Map(
      "node" -> Map("id" -> h.id, "text" -> h.text, "metadata" -> h.metadata),
      "vector_score" -> h.vectorScore)))
  })

  server.createContext("/search/graph", handler { ex =>
    val q = queryParams(ex)
    val startId = q.getOrElse("start_id", "")
    engine.graphSearch(startId,
      depth = intParam(q, "depth").getOrElse(2),
      edgeType = q.get("type")) match {
      case Some(r) => respond(ex, 200, Map(
        "start_id" -> r.startId, "depth" -> r.depth, "edge_type" -> r.edgeType,
        "nodes" -> r.nodes.map(n => Map(
          "node" -> Map("id" -> n.id, "text" -> n.text, "metadata" -> n.metadata),
          "distance" -> n.distance, "path_weight" -> n.pathWeight)),
        "edges" -> r.edges.map(edgeJson)))
      case None => notFound(ex, "Start node not found")
    }
  })

  server.createContext("/search/hybrid", handler { ex =>
    val b = parseBody(ex)
    engine.hybridSearch(
      queryText = optStr(b, "query_text").getOrElse(""),
      vectorWeight = optNum(b, "vector_weight").getOrElse(0.5),
      graphWeight = optNum(b, "graph_weight").getOrElse(0.5),
      topK = topKOf(b),
      graphStartId = optStr(b, "graph_start_id"),
      graphDepth = optNum(b, "graph_depth").map(_.toInt).getOrElse(2)) match {
      case Some(hits) => respond(ex, 200, hits.map(h => Map(
        "node" -> Map("id" -> h.id, "text" -> h.text),
        "vector_score" -> h.vectorScore,
        "graph_score" -> h.graphScore,
        "final_score" -> h.finalScore)))
      case None => notFound(ex, "Graph start node not found")
    }
  })

  server.createContext("/stats", handler { ex =>
    val s = engine.stats()
    respond(ex, 200, Map(
      "total_nodes" -> s.totalNodes,
      "nodes_with_embeddings" -> s.nodesWithEmbeddings,
      "total_edges" -> s.totalEdges))
  })

  server.createContext("/", handler { ex =>
    if (ex.getRequestURI.getPath == "/")
      respond(ex, 200, Map("status" -> "Vector + Graph Database is running"))
    else notFound(ex, "Not found")
  })

  // one request at a time; its worker is not a daemon, so stop() ends it
  private val executor = Executors.newSingleThreadExecutor()
  server.setExecutor(executor)

  def start(): Unit = server.start()

  /** Close the socket, then end the worker once its request, if any, is
    * answered: no thread the server started outlives this call. */
  def stop(): Unit = {
    server.stop(0)
    executor.shutdown()
    executor.awaitTermination(30, TimeUnit.SECONDS)
  }

  def boundPort: Int = server.getAddress.getPort
}

object EngineHttpServer {
  // The JDK server writes a response's headers and body as two segments;
  // with Nagle's algorithm on, the body waits for the client's delayed ACK
  // of the headers (40 ms or more on Linux). The server reads this
  // property once, when its first instance is made.
  System.setProperty("sun.net.httpserver.nodelay", "true")

  private def bind(port: Int): HttpServer = HttpServer.create(new InetSocketAddress(port), 0)
}

/** `runMain graft.api.ServeMain [port]` — stand up the engine over an empty
  * store and serve the reference HTTP contract (reference runner:
  * test_final.py:801-841 against http://127.0.0.1:8000). */
object ServeMain {
  def main(args: Array[String]): Unit = {
    val port = args.headOption.orElse(sys.env.get("APP_PORT")).map(_.toInt)
      .getOrElse(8000)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .appName("graft-serve")
      // point-lookup workload over driver-local snapshots: big shuffle
      // fan-out only adds scheduling latency per request
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val srv = new EngineHttpServer(new Engine(spark), port)
    srv.start()
    println(s"graft engine serving on http://127.0.0.1:$port")
    Thread.currentThread.join()
  }
}
