package perfbench

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets

import org.json4s._
import org.json4s.jackson.JsonMethods

/** One search request as the client saw it. `rttNs` is the client
  * round-trip time; `serverSec` the envelope's `time` (the handler's own
  * measure); `hits` is empty unless `ok`.
  */
final case class Reply(mode: String, query: String, startNs: Long, rttNs: Long, status: Int,
                       ok: Boolean, serverSec: Double, hits: Vector[Hit], error: String)

/** A blocking HTTP client for `POST /collections/{name}/search`. The JDK
  * keeps connections alive per client thread.
  */
final class Http(port: Int, collection: String, column: String) {
  private val url = URI.create(s"http://127.0.0.1:$port/collections/$collection/search").toURL
  implicit private val formats: Formats = DefaultFormats

  def search(mode: String, query: String, limit: Int = 10): Reply = {
    val body = JsonMethods.compact(JObject(
      "column_name" -> JString(column), "query" -> JString(query),
      "limit" -> JInt(limit), "mode" -> JString(mode)))
    val t0 = System.nanoTime()
    try {
      val c = url.openConnection().asInstanceOf[HttpURLConnection]
      c.setRequestMethod("POST")
      c.setDoOutput(true)
      c.setConnectTimeout(10000)
      c.setReadTimeout(120000)
      c.setRequestProperty("Content-Type", "application/json")
      val os = c.getOutputStream
      try os.write(body.getBytes(StandardCharsets.UTF_8)) finally os.close()
      val status = c.getResponseCode
      val in = if (status < 400) c.getInputStream else c.getErrorStream
      val text = try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
      val rtt = System.nanoTime() - t0
      Http.parse(mode, query, t0, rtt, status, text)
    } catch {
      case e: java.io.IOException =>
        Reply(mode, query, t0, System.nanoTime() - t0, -1, ok = false, 0.0, Vector.empty,
          s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
  }
}

object Http {
  implicit private val formats: Formats = DefaultFormats

  /** Parse the reference envelope `{"status","time","data":{"results"}}`. */
  def parse(mode: String, query: String, t0: Long, rtt: Long, status: Int, text: String): Reply =
    try {
      val j = JsonMethods.parse(text)
      val time = (j \ "time").extractOpt[Double].getOrElse(0.0)
      if (status != 200 || (j \ "status").extractOpt[String].contains("error"))
        Reply(mode, query, t0, rtt, status, ok = false, time, Vector.empty,
          (j \ "message").extractOpt[String].getOrElse(text.take(200)))
      else {
        val hits = (j \ "data" \ "results").children.map { r =>
          Hit((r \ "key").extract[Long], (r \ "score").extract[Double],
            (r \ "content").extractOpt[String].orNull)
        }.toVector
        Reply(mode, query, t0, rtt, status, ok = true, time, hits, "")
      }
    } catch {
      case e: Exception =>
        Reply(mode, query, t0, rtt, status, ok = false, 0.0, Vector.empty,
          s"unparseable reply: ${e.getMessage}")
    }
}
