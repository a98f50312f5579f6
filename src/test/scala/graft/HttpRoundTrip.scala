package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.scalatest.Assertion
import org.scalatest.Assertions._

/** Round-trip probe for the served HTTP surfaces: repeated calls over one
  * keep-alive HTTP/1.1 connection, as an interactive client makes them.
  * A JDK HttpServer without TCP_NODELAY answers no faster than the
  * client's delayed-ACK timer (40 ms on Linux, ~44 ms measured), so a
  * median under 20 ms shows the transport is not holding the response.
  */
object HttpRoundTrip {

  /** Asserts that the median of 40 calls after 10 warm-ups is under
    * 20 ms; every call must answer 200. A `body` makes the call a POST,
    * otherwise a GET. When the route's own work is too slow to compare
    * against the bound (a Spark search), `inProcess` runs that work
    * without the transport and its median is subtracted, leaving the
    * transport's share.
    *
    * Calls run back to back in blocks of 10: a client that sends its next
    * request right after a reply stays in delayed-ACK ("ping-pong") mode,
    * the case this probe is about, while slow work between two calls takes
    * it out of that mode and would hide the gap. `inProcess` blocks
    * alternate with the call blocks so drift hits both alike.
    */
  def assertNoAckStall(port: Int, path: String,
                       body: Option[String] = None,
                       headers: Seq[(String, String)] = Nil,
                       inProcess: Option[() => Unit] = None): Assertion = {
    val client = HttpClient.newBuilder()
      .version(HttpClient.Version.HTTP_1_1).build()
    val uri = URI.create(s"http://127.0.0.1:$port$path")
    val call = () => {
      val b = HttpRequest.newBuilder(uri)
      headers.foreach { case (k, v) => b.header(k, v) }
      val req = body.fold(b.GET())(s =>
        b.POST(HttpRequest.BodyPublishers.ofString(s))).build()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
      require(resp.statusCode() == 200,
        s"$path answered ${resp.statusCode()}: ${resp.body()}")
    }
    def block(f: () => Unit): Seq[Double] = Seq.fill(10) {
      val t0 = System.nanoTime()
      f()
      (System.nanoTime() - t0) / 1e6
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    block(call)
    inProcess.foreach(block)
    val (http, local) = Seq.fill(4)((block(call), inProcess.map(block))).unzip
    val localMs = local.flatten.flatten
    val p50 =
      median(http.flatten) - (if (localMs.isEmpty) 0.0 else median(localMs))
    assert(p50 < 20.0, s"$path median round trip $p50 ms")
  }
}
