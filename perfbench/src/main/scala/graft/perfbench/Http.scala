package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Loopback JSON client: one connection, one request at a time. */
final class Http(port: Int) {
  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private val base = s"http://127.0.0.1:$port"

  def call(method: String, path: String, body: Option[Any] = None): Http.Reply = {
    val publisher = body.fold(HttpRequest.BodyPublishers.noBody())(b =>
      HttpRequest.BodyPublishers.ofString(Json.write(b), StandardCharsets.UTF_8))
    val req = HttpRequest.newBuilder(URI.create(base + path))
      .method(method, publisher).header("Content-Type", "application/json").build()
    val t0 = System.nanoTime()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString(StandardCharsets.UTF_8))
    val ms = (System.nanoTime() - t0) / 1e6
    Http.Reply(resp.statusCode(), resp.body(), ms)
  }
}

object Http {
  /** Status, body and the time from sending the request until the whole
    * body is read, in ms. */
  final case class Reply(status: Int, body: String, ms: Double)
}

/** JSON through jackson (shipped with Spark), as plain Scala values:
  * objects → Map, arrays → Seq, numbers → Double or Long. */
object Json {
  private val mapper = new ObjectMapper()

  def write(v: Any): String = mapper.writeValueAsString(toJava(v))

  def read(s: String): Any = fromJava(mapper.readValue(s, classOf[Object]))

  private def toJava(v: Any): Object = v match {
    case null => null
    case m: Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Object]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] =>
      val out = new java.util.ArrayList[Object]()
      s.foreach(x => out.add(toJava(x)))
      out
    case Some(x) => toJava(x)
    case None => null
    case other => other.asInstanceOf[Object]
  }

  private def fromJava(v: Object): Any = v match {
    case m: java.util.Map[_, _] =>
      m.asScala.map { case (k, x) => k.toString -> fromJava(x.asInstanceOf[Object]) }.toMap
    case l: java.util.List[_] => l.asScala.map(x => fromJava(x.asInstanceOf[Object])).toSeq
    case i: java.lang.Integer => i.longValue()
    case l: java.lang.Long => l.longValue()
    case d: java.lang.Double => d.doubleValue()
    case b: java.math.BigInteger => b.longValue()
    case b: java.math.BigDecimal => b.doubleValue()
    case other => other
  }
}
