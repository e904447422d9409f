package graftbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** The daemon's two query surfaces as a remote caller sees them. */
final class Clients(httpPort: Int, rpcPort: Int) {
  private val http = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()
  val rpc = new graft.server.RpcClient("127.0.0.1", rpcPort)
  private val mapper = new ObjectMapper()

  /** POST /run; returns the parsed body and its size in bytes. A non-200
    * answer or an `error` body raises.
    */
  def run(sql: String): (JsonNode, Int) = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$httpPort/run"))
      .POST(HttpRequest.BodyPublishers.ofString(sql)).build()
    val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
    val body = resp.body()
    val node = mapper.readTree(body)
    if (resp.statusCode() != 200 || node.has("error"))
      throw new IllegalStateException(s"/run answered ${resp.statusCode()}: ${body.take(300)}")
    (node, body.length)
  }

  /** Rows of a /run answer as column -> value maps. */
  def rows(node: JsonNode): Seq[Map[String, JsonNode]] = {
    val b = Seq.newBuilder[Map[String, JsonNode]]
    node.get("rows").forEach { r =>
      val m = Map.newBuilder[String, JsonNode]
      r.fields().forEachRemaining(e => m += e.getKey -> e.getValue)
      b += m.result()
    }
    b.result()
  }

  /** RPC QUERY; returns the JSON rows parsed and the bytes received. */
  def query(sql: String): (Seq[Map[String, JsonNode]], Int) = {
    val (_, lines, stats) = rpc.queryWithStats(sql)
    val rows = lines.map { l =>
      val m = Map.newBuilder[String, JsonNode]
      mapper.readTree(l).fields().forEachRemaining(e => m += e.getKey -> e.getValue)
      m.result()
    }
    (rows, lines.iterator.map(_.length + 1).sum + stats.length)
  }
}
