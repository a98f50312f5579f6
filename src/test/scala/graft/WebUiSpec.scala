package graft

import com.fasterxml.jackson.databind.ObjectMapper

import graft.needleql.{CollectionDef, NeedleSession}
import graft.server.{RestApi, WebUi}
import graft.server.WebUi._

import org.apache.spark.sql.functions._

/** Dashboard semantics vs the reference web_ui module: health-score
  * arithmetic, alert rules, the latency heatmap's bucket/percentile
  * estimates, format_number, the deterministic visualize projection, and
  * the HTML/JSON routes over a live RestApi.
  */
class WebUiSpec extends SparkSpec {
  import spark.implicits._

  private val mapper = new ObjectMapper()

  private def apiWithData(): RestApi = {
    val a = new RestApi(spark)
    a.handle("POST", "/collections", """{"name":"docs","dimensions":3}""")
    a.handle("POST", "/collections/docs/vectors/batch",
      """{"vectors":[
        |{"id":"a","vector":[1.0,0.0,0.0],"metadata":{"lang":"en"}},
        |{"id":"b","vector":[0.0,1.0,0.0],"metadata":{"lang":"de"}},
        |{"id":"c","vector":[0.0,0.0,1.0],"metadata":{"lang":"en"}},
        |{"id":"d","vector":[0.5,0.5,0.0],"metadata":{"lang":"fr"}}
        |]}""".stripMargin)
    a.handle("DELETE", "/collections/docs/vectors/d", "")
    a
  }

  test("format_number groups thousands like the reference") {
    // routes.rs test_format_number
    assert(formatNumber(0) == "0")
    assert(formatNumber(100) == "100")
    assert(formatNumber(1000) == "1,000")
    assert(formatNumber(1000000) == "1,000,000")
    assert(formatNumber(1234567) == "1,234,567")
  }

  test("projection coefficients replay the reference LCG bit-exactly") {
    // routes.rs:1052-1057: s = seed.wrapping_mul(6364136223846793005)
    //   .wrapping_add(i); coeff = (s >> 33) / u32::MAX * 2 - 1
    val p = projection(42L, 4)
    (0 until 4).foreach { i =>
      val s = 42L * 6364136223846793005L + i
      val want = (s >>> 33).toFloat / 4294967295f * 2f - 1f
      assert(p(i) == want)
    }
    // different seeds give different axes
    assert(!projection(42L, 8).sameElements(projection(43L, 8)))
  }

  test("alert rules: warning on p99, critical on error rate, silent when " +
      "disabled or under threshold") {
    val cfg = AlertConfig() // 100ms / 5%
    assert(checkAlerts(cfg, 50.0, 0.01f, 7L).isEmpty)
    val warn = checkAlerts(cfg, 150.0, 0.01f, 7L)
    assert(warn.map(_.severity) == Seq("warning"))
    assert(warn.head.message.contains("150.0ms") &&
      warn.head.message.contains("100.0ms"))
    val both = checkAlerts(cfg, 150.0, 0.10f, 7L)
    assert(both.map(_.severity) == Seq("warning", "critical"))
    assert(both(1).message.contains("10.0%"))
    assert(checkAlerts(cfg.copy(enabled = false), 500.0, 1.0f, 7L).isEmpty)
  }

  test("latency heatmap: reference buckets, overflow, ceil-target " +
      "percentile estimate") {
    val h = new LatencyHeatmap
    assert(h.buckets.length == 11)
    assert(h.buckets.head._1 == "0.1-0.5ms")
    assert(h.buckets.last._1 == "500-1000ms")
    // 90 fast ops in (0.1, 0.5], 9 in (5, 10], 1 overflow past 1000
    (1 to 90).foreach(_ => h.record(0.3))
    (1 to 9).foreach(_ => h.record(7.0))
    h.record(5000.0)
    assert(h.totalOps == 100)
    assert(h.buckets.head._3 == 90 && h.buckets.last._3 == 1)
    h.computePercentiles()
    // ceil(100·.50)=50 → running hits 50 in the first bucket → 0.5ms
    assert(h.p50Ms == 0.5)
    // ceil(100·.95)=95 → 90+9=99 ≥ 95 in the 5-10 bucket → 10ms
    assert(h.p95Ms == 10.0)
    // ceil(100·.99)=99 → same bucket
    assert(h.p99Ms == 10.0)
  }

  test("api/stats and api/monitoring compute the reference health math") {
    val ui = new WebUi(apiWithData(), now = () => 1700000000L)
    val (ss, sct, stats) = ui.handle("GET", "/api/stats")
    assert(ss == 200 && sct == "application/json")
    val sj = mapper.readTree(stats)
    assert(sj.get("healthy").asBoolean())
    assert(sj.get("total_collections").asInt() == 1)
    assert(sj.get("total_vectors").asLong() == 3)
    val c0 = sj.get("collections").get(0)
    assert(c0.get("name").asText() == "docs")
    assert(c0.get("deleted_count").asLong() == 1)
    assert(c0.get("needs_compaction").asBoolean()) // 1/(3+1) = 0.25 > 0.2

    val (ms, _, mon) = ui.handle("GET", "/api/monitoring")
    assert(ms == 200)
    val mj = mapper.readTree(mon)
    val h0 = mj.get("health_scores").get(0)
    // fragmentation = deleted/(count+deleted) = 1/4
    assert(math.abs(h0.get("fragmentation").asDouble() - 0.25) < 1e-12)
    // score = 0.7·(1−0.25) + 0.3·1 = 0.825
    assert(math.abs(h0.get("score").asDouble() - 0.825) < 1e-12)
    // density = count/dims = 3/3
    assert(math.abs(h0.get("density").asDouble() - 1.0) < 1e-12)
    // memory = count·dims·4
    assert(h0.get("memory_bytes").asLong() == 3L * 3 * 4)
    assert(math.abs(mj.get("system_health").asDouble() - 0.825) < 1e-12)
    assert(mj.get("latency").get("total_ops").asLong() >= 1)
  }

  test("visualize projects deterministically through keyset pages") {
    val ui = new WebUi(apiWithData())
    val (s, _, body) = ui.handle("GET", "/api/visualize/docs?max=10")
    assert(s == 200)
    val j = mapper.readTree(body)
    assert(j.get("dims").asInt() == 3)
    assert(j.get("total").asLong() == 3)
    val pts = j.get("points")
    assert(pts.size() == 3)
    // id order (the deterministic sample), exact projected coordinates
    val ids = (0 until 3).map(pts.get(_).get("id").asText())
    assert(ids == Seq("a", "b", "c"))
    val pA = projection(42L, 3)
    assert(pts.get(0).get("x").asDouble() == pA(0).toDouble) // e1 · projA
    // a second call returns byte-identical points
    val (_, _, body2) = ui.handle("GET", "/api/visualize/docs?max=10")
    assert(body == body2)
    assert(ui.handle("GET", "/api/visualize/nope")._1 == 404)
  }

  test("HTML routes render; unknown routes and collections 404") {
    val ui = new WebUi(apiWithData())
    val (ds, dct, dash) = ui.handle("GET", "/")
    assert(ds == 200 && dct == "text/html")
    assert(dash.contains("docs") && dash.contains("needs compaction"))
    assert(ui.handle("GET", "/collections")._3.contains("/collections/docs"))
    assert(ui.handle("GET", "/collections/docs")._3.contains("Dimensions"))
    assert(ui.handle("GET", "/collections/ghost")._1 == 404)
    assert(ui.handle("GET", "/monitoring")._3.contains("System health"))
    assert(ui.handle("GET", "/visualize")._3.contains("docs"))
    assert(ui.handle("GET", "/query")._1 == 200)
    assert(ui.handle("GET", "/nope")._1 == 404)
    val (hs, _, health) = ui.handle("GET", "/health")
    assert(hs == 200 && health == """{"status":"ok"}""")
    // the 404s above counted into the error rate
    assert(ui.errorRate > 0f)
  }

  test("serve hosts the dashboard over live HTTP with content types") {
    val ui = new WebUi(apiWithData())
    val server = ui.serve()
    try {
      val port = server.getAddress.getPort
      val client = java.net.http.HttpClient.newHttpClient()
      def get(path: String) = client.send(
        java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      val stats = get("/api/stats")
      assert(stats.statusCode() == 200)
      assert(stats.headers().firstValue("Content-Type")
        .orElse("").startsWith("application/json"))
      assert(mapper.readTree(stats.body())
        .get("total_collections").asInt() == 1)
      val dash = get("/")
      assert(dash.statusCode() == 200)
      assert(dash.headers().firstValue("Content-Type")
        .orElse("").startsWith("text/html"))
      assert(dash.body().contains("docs"))
      assert(get("/nope").statusCode() == 404)
      HttpRoundTrip.assertNoAckStall(port, "/health")
    } finally server.stop(0)
  }

  test("NeedleQL playground executes through the mounted session") {
    val ql = new NeedleSession(spark)
    ql.register("notes", CollectionDef(
      Seq(("n1", Array(1f, 0f), "alpha"), ("n2", Array(0f, 1f), "beta"))
        .toDF("id", "vector", "tag")))
    val ui = new WebUi(apiWithData(), ql = Some(ql))
    val (s, _, body) = ui.handle("POST", "/playground",
      """{"query":"SELECT id, tag FROM notes WHERE tag = 'alpha'"}""")
    assert(s == 200, body)
    val j = mapper.readTree(body)
    assert(j.get("row_count").asInt() == 1)
    assert(j.get("rows").get(0).get(0).asText() == "n1")
    // parse errors surface as 400 with the message, not a 500
    assert(ui.handle("POST", "/playground",
      """{"query":"SELEKT nope"}""")._1 == 400)
    // no session mounted → 503
    assert(new WebUi(apiWithData()).handle("POST", "/playground",
      """{"query":"SELECT 1"}""")._1 == 503)
  }
}
