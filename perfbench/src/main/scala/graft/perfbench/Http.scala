package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** A loopback client for one closed-loop benchmark client. */
final class Http(port: Int) {
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).build()

  def get(path: String): (Int, String) = send(
    HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET())

  def post(path: String, body: String): (Int, String) = send(
    HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body)))

  def delete(path: String): (Int, String) = send(
    HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).DELETE())

  private def send(b: HttpRequest.Builder): (Int, String) = {
    val r = client.send(b.timeout(Duration.ofSeconds(120)).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode, r.body)
  }
}

object Json {
  val mapper = new ObjectMapper()
  def parse(s: String): JsonNode = mapper.readTree(s)
  def obj(fields: (String, Any)*): String = {
    val o = mapper.createObjectNode()
    fields.foreach {
      case (k, v: String) => o.put(k, v)
      case (k, v: Int) => o.put(k, v)
      case (k, v: JsonNode) => o.set[JsonNode](k, v)
      case (k, v) => o.put(k, String.valueOf(v))
    }
    mapper.writeValueAsString(o)
  }
  def arr(items: Seq[String]): JsonNode = {
    val a = mapper.createArrayNode()
    items.foreach(s => a.add(parse(s)))
    a
  }
}
