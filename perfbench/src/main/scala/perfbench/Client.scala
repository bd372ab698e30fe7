package perfbench

import java.net.{HttpURLConnection, URI, URLEncoder}

/** One HTTP exchange as the load generator saw it. `dueNs` is when the
  * request was scheduled (open loop) or sent (closed loop); latency is
  * measured from it. */
final case class Exchange(kind: String, key: String, code: Int,
    ok: Boolean, dueNs: Long, sendMs: Long, endNs: Long, endMs: Long,
    bytes: Int, body: String) {
  def latencyMs: Double = (endNs - dueNs) / 1e6
}

/** Blocking HTTP/1.1 client over the JDK's keep-alive connection
  * cache: one connection per calling thread. */
final class Client(port: Int) {
  private val base = s"http://127.0.0.1:$port"

  def enc(s: String): String = URLEncoder.encode(s, "UTF-8")

  /** Sends one request; never throws (a transport error reads as
    * code 0). The body is kept only when `keep` is set. */
  def call(kind: String, key: String, path: String, dueNs: Long,
      post: Option[(Array[Byte], Seq[(String, String)])] = None,
      keep: Boolean = false): Exchange = {
    val sendMs = System.currentTimeMillis()
    var code = 0; var bytes = 0; var text = ""
    try {
      val conn = new URI(base + path).toURL.openConnection()
        .asInstanceOf[HttpURLConnection]
      conn.setConnectTimeout(10000); conn.setReadTimeout(150000)
      post.foreach { case (b, hs) =>
        conn.setRequestMethod("POST"); conn.setDoOutput(true)
        hs.foreach { case (k, v) => conn.setRequestProperty(k, v) }
        val os = conn.getOutputStream; os.write(b); os.close()
      }
      code = conn.getResponseCode
      val in = if (code >= 400) conn.getErrorStream else conn.getInputStream
      val b = if (in == null) Array.emptyByteArray
        else try in.readAllBytes() finally in.close()
      bytes = b.length
      text = new String(b, "UTF-8")
    } catch { case _: java.io.IOException => code = 0 }
    val endNs = System.nanoTime()
    val ok = code == 200 && !text.contains("\"status\":\"error\"")
    Exchange(kind, key, code, ok, dueNs, sendMs, endNs,
      System.currentTimeMillis(), bytes, if (keep) text else "")
  }

  def get(path: String): String =
    call("get", "", path, System.nanoTime(), keep = true).body

  /** One sample value of the Prometheus text exposition, summed over
    * every label set of `name` that contains all of `labels`. */
  def metric(name: String, labels: String = ""): Double =
    Client.metric(get("/metrics"), name, labels)
}

object Client {
  def metric(text: String, name: String, labels: String): Double =
    text.linesIterator
      .filter(l => !l.startsWith("#") &&
        (l.startsWith(name + " ") || l.startsWith(name + "{")) &&
        l.contains(labels))
      .map(l => l.substring(l.lastIndexOf(' ') + 1).toDouble).sum
}
