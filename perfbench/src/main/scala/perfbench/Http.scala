package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util.concurrent.atomic.AtomicInteger

/** One HTTP request to the tick server. */
final case class Req(method: String, path: String, body: String = "")

/** Its response; `status` -1 means the request itself failed. */
final case class Resp(status: Int, body: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** A JDK HTTP client bound to the server's port. */
final class Client(port: Int) {
  private val http = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10))
    .build()

  def send(r: Req): Resp = {
    val pub =
      if (r.body.isEmpty) HttpRequest.BodyPublishers.noBody()
      else HttpRequest.BodyPublishers.ofString(r.body)
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port${r.path}"))
      .timeout(Duration.ofSeconds(120))
      .header("Content-Type", "application/json")
      .method(r.method, pub)
      .build()
    val t0 = System.nanoTime()
    try {
      val res = http.send(req, HttpResponse.BodyHandlers.ofString())
      Resp(res.statusCode, res.body, t0, System.nanoTime())
    } catch {
      case e: Exception => Resp(-1, String.valueOf(e), t0, System.nanoTime())
    }
  }

  /** Closed loop: `clients` threads each send their next request only
    * after the previous one returned, taking requests in order from
    * `reqs`. Responses come back in the order of `reqs`.
    */
  def closedLoop(reqs: IndexedSeq[Req], clients: Int): IndexedSeq[Resp] = {
    val out = new Array[Resp](reqs.size)
    val next = new AtomicInteger(0)
    val threads = (0 until clients).map { _ =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (i < reqs.size) {
          out(i) = send(reqs(i))
          i = next.getAndIncrement()
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    out.toIndexedSeq
  }
}
