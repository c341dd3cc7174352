package perfbench

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Client for the statement face: `POST /v1/statement`, then `GET` each
  * `nextUri` until the cursor drains — the loop a Trino client runs.
  * Every call is timed on the benchmark clock. `spoolBytes` measures the
  * server's result spool; it is read once the POST has returned, when
  * the statement has run to its spool and no page has been served. */
final class Face(base: String, spoolBytes: () => Long) {
  private val mapper = new ObjectMapper()

  final case class Page(t0: Double, t1: Double, bytes: Long)
  final case class Result(rows: Vector[String], post: Page, pages: Vector[Page],
      spoolBytes: Long, analysisMs: Long, planningMs: Long, queuedMs: Long)

  private def http(method: String, url: String, body: Option[String]): (String, Page) = {
    val t0 = Clock.ms
    val conn = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    conn.setRequestProperty("X-Trino-User", "perfbench")
    body.foreach { b =>
      conn.setDoOutput(true)
      conn.getOutputStream.write(b.getBytes(StandardCharsets.UTF_8))
    }
    val code = conn.getResponseCode
    val in = if (code < 400) conn.getInputStream else conn.getErrorStream
    val bytes = if (in == null) Array.emptyByteArray else in.readAllBytes()
    if (in != null) in.close()
    val out = new String(bytes, StandardCharsets.UTF_8)
    if (code != 200) throw new RuntimeException(s"$method $url: HTTP $code $out")
    (out, Page(t0, Clock.ms, bytes.length.toLong))
  }

  private def canon(v: JsonNode): String =
    if (v.isNull) "null"
    else if (v.isArray) v.elements().asScala.map(canon).mkString("[", ",", "]")
    else if (v.isFloatingPointNumber) Canon.value(v.asDouble)
    else v.asText

  def run(sql: String): Result = {
    val (first, post) = http("POST", s"$base/v1/statement", Some(sql))
    val spooled = spoolBytes()
    var j = mapper.readTree(first)
    val rows = Vector.newBuilder[String]
    val pages = Vector.newBuilder[Page]
    while (!j.has("error") && j.has("nextUri")) {
      val (body, page) = http("GET", j.get("nextUri").asText, None)
      pages += page
      j = mapper.readTree(body)
      if (j.has("data"))
        j.get("data").elements().asScala.foreach(r =>
          rows += r.elements().asScala.map(canon).mkString("|"))
    }
    if (j.has("error"))
      throw new RuntimeException("statement failed: " + j.get("error").get("message").asText)
    val st = j.get("stats")
    if (st.get("state").asText != "FINISHED")
      throw new RuntimeException("statement ended in state " + st.get("state").asText)
    Result(rows.result(), post, pages.result(), spooled, st.get("analysisTimeMillis").asLong,
      st.get("planningTimeMillis").asLong, st.get("queuedTimeMillis").asLong)
  }
}
