package graft.server

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

import graft.needleql.NeedleSession

import RestApi.pathSegment

/** Web dashboard (reference: src/web_ui/{mod,routes,state,templates}.rs):
  * server-rendered monitoring and management pages plus the JSON stats
  * routes the pages poll.
  *
  * Spark re-expression: the reference dashboard reads its in-process
  * `Database` directly; here every data read goes through [[RestApi]]'s
  * pure `(method, path, body) → (status, json)` function — the SAME
  * Spark-backed JSON surface a browser (or the Go/Python SDKs) would
  * fetch — so the dashboard adds zero new data paths and inherits the
  * REST layer's bounded-read discipline (keyset paging, capped limits).
  * The whole UI is itself one pure function `handle(method, path, body)
  * → (status, contentType, body)`; any HTTP server can mount it, and
  * specs drive it directly.
  *
  * Reference semantics kept exactly:
  *   - collection health scores (routes.rs:1216-1272): fragmentation =
  *     deleted/(count+deleted), density = count/dims, score =
  *     clamp(0.7·(1−fragmentation) + 0.3·(count>0 ? 1 : 0.5)),
  *     memory = count·dims·4 bytes, system health = mean score;
  *   - alert rules (routes.rs:1152-1192): Warning when p99 latency
  *     exceeds the threshold, Critical when the error rate does;
  *   - the latency heatmap's fixed bucket ladder and its
  *     ceil-target histogram percentile estimate (state.rs:371-451);
  *   - the visualize route's seeded deterministic 2-D random projection
  *     (routes.rs:1049-1063) — same LCG constants, bit-identical
  *     coefficients;
  *   - `format_number`'s thousands grouping (routes.rs tests).
  *
  * One deliberate divergence: the reference samples visualize points
  * with `thread_rng` shuffle; a Spark engine must stay deterministic, so
  * the sample is the first `max` rows in id order, fetched through the
  * REST layer's keyset pages.
  */
final class WebUi(api: RestApi, ql: Option[NeedleSession] = None,
                  title: String = "graft",
                  now: () => Long = () => System.currentTimeMillis() / 1000L) {
  import WebUi._

  private val mapper = new ObjectMapper()
  private val startedAt = now()
  private[server] val searchLatencies = new LatencyHeatmap
  private var errorCount = 0L
  private var opCount = 0L

  def uptimeSecs: Long = now() - startedAt

  // ------------------------------------------------------------ dispatch

  /** (method, path[?query], body) → (status, contentType, body). */
  def handle(method: String, rawPath: String,
             body: String = ""): (Int, String, String) = {
    val (path, params) = rawPath.split("\\?", 2) match {
      case Array(p) => (p, Map.empty[String, String])
      case Array(p, q) => (p, q.split("&").filter(_.contains("="))
        .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap)
    }
    val parts = path.stripPrefix("/").stripSuffix("/").split("/").toList
      .filter(_.nonEmpty)
    val t0 = System.nanoTime()
    val res = try {
      (method, parts) match {
        case ("GET", Nil)                        => htmlOk(dashboardPage())
        case ("GET", List("collections"))        => htmlOk(collectionsPage())
        case ("GET", List("collections", name))  => collectionDetailPage(name)
        case ("GET", List("query"))              => htmlOk(queryPlaygroundPage())
        case ("GET", List("playground"))         => htmlOk(needleqlPlaygroundPage())
        case ("POST", List("playground"))        => runPlayground(body)
        case ("GET", List("monitoring"))         => htmlOk(monitoringPage())
        case ("GET", List("visualize"))          => htmlOk(visualizePage())
        case ("GET", List("api", "stats"))       => jsonOk(apiStats())
        case ("GET", List("api", "monitoring"))  => jsonOk(apiMonitoring())
        case ("GET", List("api", "visualize", c)) => apiVisualize(c, params)
        case ("GET", List("health")) => jsonOk("""{"status":"ok"}""")
        case _ =>
          (404, "application/json", mapper.writeValueAsString(
            mapper.createObjectNode()
              .put("error", s"no route for $method $path")))
      }
    } catch {
      case e: Exception =>
        (500, "application/json",
          mapper.writeValueAsString(mapper.createObjectNode()
            .put("error", String.valueOf(e.getMessage))))
    }
    synchronized {
      opCount += 1
      if (res._1 >= 400) errorCount += 1
      searchLatencies.record((System.nanoTime() - t0) / 1e6)
    }
    res
  }

  /** Error rate over everything this UI has served. */
  def errorRate: Float =
    synchronized { if (opCount == 0) 0f else errorCount.toFloat / opCount }

  private def htmlOk(b: String) = (200, "text/html", b)
  private def jsonOk(b: String) = (200, "application/json", b)

  /** HTML-escape user-derived text before page interpolation (the
    * reference web_ui templates route all such text through
    * html_escape; register()/CLI names are unconstrained).
    */
  private def htmlEsc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;").replace("'", "&#39;")

  // ----------------------------------------------------- REST-layer reads

  private def rest(method: String, path: String, body: String = ""): JsonNode = {
    val (status, resp) = api.handle(method, path, body)
    if (status >= 400)
      throw new NoSuchElementException(
        Option(mapper.readTree(resp).get("error")).map(_.asText())
          .getOrElse(s"$method $path failed: $status"))
    mapper.readTree(resp)
  }

  private def collectionNames(): Seq[String] =
    rest("GET", "/collections?limit=1000").get("collections").asScala
      .map(_.get("name").asText()).toSeq

  private case class CollStats(name: String, count: Long, dims: Int,
                               deleted: Long, needsCompaction: Boolean)

  private def collStats(name: String): CollStats = {
    val n = rest("GET", s"/collections/${pathSegment(name)}")
    CollStats(name, n.get("count").asLong(), n.get("dimensions").asInt(),
      n.get("deleted_count").asLong(), n.get("needs_compaction").asBoolean())
  }

  // ------------------------------------------------------------ api/stats

  /** StatsResponse (state.rs:116-131 / routes.rs:838-866). */
  private def apiStats(): String = {
    val o = mapper.createObjectNode()
    val all = collectionNames().map(collStats)
    o.put("healthy", true)
    o.put("uptime_seconds", uptimeSecs)
    o.put("total_collections", all.size)
    o.put("total_vectors", all.map(_.count).sum)
    val arr = o.putArray("collections")
    all.foreach { c =>
      arr.addObject().put("name", c.name).put("vector_count", c.count)
        .put("dimensions", c.dims).put("deleted_count", c.deleted)
        .put("needs_compaction", c.needsCompaction)
    }
    mapper.writeValueAsString(o)
  }

  // ------------------------------------------------------- api/monitoring

  /** MonitoringSnapshot (routes.rs:1216-1272) + the UI's own latency
    * heatmap and alerts.
    */
  private def apiMonitoring(): String = {
    val all = collectionNames().map(collStats)
    val scores = all.map { c =>
      val fragmentation =
        if (c.count + c.deleted > 0) c.deleted.toDouble / (c.count + c.deleted)
        else 0.0
      val density = if (c.dims > 0) c.count.toDouble / c.dims else 0.0
      val score = math.min(1.0, math.max(0.0,
        (1.0 - fragmentation) * 0.7 +
          (if (c.count > 0) 1.0 else 0.5) * 0.3))
      (c, fragmentation, density, score, c.count * c.dims * 4L)
    }
    val o = mapper.createObjectNode()
    o.put("timestamp", now())
    o.put("total_collections", all.size)
    o.put("total_vectors", all.map(_.count).sum)
    o.put("total_memory_bytes", scores.map(_._5).sum)
    val hs = o.putArray("health_scores")
    scores.foreach { case (c, frag, density, score, mem) =>
      hs.addObject().put("name", c.name).put("score", score)
        .put("fragmentation", frag).put("memory_bytes", mem)
        .put("vector_count", c.count)
        .put("needs_compaction", frag > 0.2)
        .put("density", density)
    }
    o.put("system_health",
      if (scores.isEmpty) 1.0 else scores.map(_._4).sum / scores.size)
    o.put("uptime_secs", uptimeSecs)
    val (p50, p95, p99, totalOps, buckets) = synchronized {
      searchLatencies.computePercentiles()
      (searchLatencies.p50Ms, searchLatencies.p95Ms, searchLatencies.p99Ms,
        searchLatencies.totalOps, searchLatencies.buckets.map(b => (b._1, b._3)))
    }
    val lat = o.putObject("latency")
    lat.put("total_ops", totalOps)
    lat.put("p50_ms", p50); lat.put("p95_ms", p95); lat.put("p99_ms", p99)
    val ba = lat.putArray("buckets")
    buckets.foreach { case (label, count) =>
      ba.addObject().put("label", label).put("count", count)
    }
    val alerts = o.putArray("alerts")
    checkAlerts(AlertConfig(), p99, errorRate, now()).foreach { a =>
      alerts.addObject().put("severity", a.severity)
        .put("message", a.message).put("timestamp", a.timestamp)
        .put("acknowledged", a.acknowledged)
    }
    mapper.writeValueAsString(o)
  }

  // ------------------------------------------------------- api/visualize

  /** Deterministic 2-D random projection (routes.rs:1007-1076): per-dim
    * coefficients from the reference's seeded LCG, bit-identical; points
    * fetched through keyset pages (bounded), first `max` in id order.
    */
  private def apiVisualize(name: String,
                           params: Map[String, String]): (Int, String, String) = {
    val max = math.min(math.max(
      params.get("max").flatMap(_.toIntOption).getOrElse(500), 10), 5000)
    val stats =
      try collStats(name)
      catch { case _: NoSuchElementException =>
        return (404, "application/json", """{"error":"Collection not found"}""")
      }
    val dims = stats.dims
    val projA = projection(42L, dims)
    val projB = projection(43L, dims)
    val points = mapper.createArrayNode()
    var after = ""
    var done = false
    var n = 0
    while (!done && n < max) {
      val page = rest("GET",
        s"/collections/${pathSegment(name)}/vectors?limit=" +
        math.min(1000, max - n) +
        (if (after.nonEmpty) s"&after_id=${pathSegment(after)}" else ""))
      val vecs = page.get("vectors").asScala.toSeq
      vecs.foreach { v =>
        if (n < max) {
          val arr = v.get("vector").asScala.map(_.floatValue()).toArray
          val e = points.addObject()
          e.put("id", v.get("id").asText())
          e.put("x", dot(arr, projA)); e.put("y", dot(arr, projB))
          n += 1
        }
      }
      done = !page.get("pagination").get("has_more").asBoolean() ||
        vecs.isEmpty
      if (!done) after = page.get("pagination").get("next_after_id").asText()
    }
    val o = mapper.createObjectNode()
    o.set[ArrayNode]("points", points)
    o.put("dims", dims); o.put("total", stats.count)
    (200, "application/json", mapper.writeValueAsString(o))
  }

  private def dot(v: Array[Float], p: Array[Float]): Double = {
    var s = 0.0; var i = 0
    val n = math.min(v.length, p.length)
    while (i < n) { s += v(i).toDouble * p(i); i += 1 }
    s
  }

  // ----------------------------------------------------------- playground

  /** POST /playground {"query": "..."} → NeedleQL result rows as JSON
    * (first 100), or 400 with the parser/compiler error.
    */
  private def runPlayground(body: String): (Int, String, String) = {
    val session = ql.getOrElse(
      return (503, "application/json",
        """{"error":"no NeedleQL session mounted"}"""))
    val q = Option(mapper.readTree(body).get("query")).map(_.asText())
      .getOrElse(return (400, "application/json",
        """{"error":"missing query"}"""))
    try {
      val df = session.sql(q)
      val rows = df.limit(100).collect()
      val cols = df.columns
      val o = mapper.createObjectNode()
      val ca = o.putArray("columns"); cols.foreach(ca.add)
      val ra = o.putArray("rows")
      rows.foreach { r =>
        val e = ra.addArray()
        cols.indices.foreach(i => e.add(String.valueOf(r.get(i))))
      }
      o.put("row_count", rows.length)
      (200, "application/json", mapper.writeValueAsString(o))
    } catch {
      case e: Exception => (400, "application/json",
        mapper.writeValueAsString(mapper.createObjectNode()
          .put("error", String.valueOf(e.getMessage))))
    }
  }

  // ----------------------------------------------------------- HTML pages

  private def page(heading: String, content: String): String =
    s"""<!DOCTYPE html><html><head><title>$title — $heading</title>
       |<style>body{font-family:sans-serif;margin:2rem;color:#1a1a2e}
       |.card{border:1px solid #ddd;border-radius:8px;padding:1rem;margin:1rem 0}
       |table{border-collapse:collapse}td,th{padding:.4rem .8rem;border-bottom:1px solid #eee}
       |.page-title{font-size:1.5rem}.nav a{margin-right:1rem}</style></head>
       |<body><div class="nav"><a href="/">Dashboard</a>
       |<a href="/collections">Collections</a><a href="/query">Query</a>
       |<a href="/playground">NeedleQL</a><a href="/monitoring">Monitoring</a>
       |<a href="/visualize">Visualize</a></div>
       |<h1 class="page-title">$heading</h1>
       |$content</body></html>""".stripMargin

  private def dashboardPage(): String = {
    val all = collectionNames().map(collStats)
    val rows = all.map { c =>
      val status =
        if (c.needsCompaction) "needs compaction" else "healthy"
      s"""<tr><td><a href="/collections/${pathSegment(c.name)}">${htmlEsc(c.name)}</a></td>
         |<td>${formatNumber(c.count)}</td><td>${c.dims}</td>
         |<td>${formatNumber(c.deleted)}</td><td>$status</td></tr>""".stripMargin
    }.mkString
    page("Dashboard",
      s"""<div class="card">Collections: ${all.size} · Vectors:
         |${formatNumber(all.map(_.count).sum)} · Uptime: ${uptimeSecs}s</div>
         |<div class="card"><table><tr><th>Name</th><th>Vectors</th>
         |<th>Dims</th><th>Deleted</th><th>Status</th></tr>$rows</table>
         |</div>""".stripMargin)
  }

  private def collectionsPage(): String = {
    val items = collectionNames().map(n =>
      s"""<li><a href="/collections/${pathSegment(n)}">${htmlEsc(n)}</a></li>""")
      .mkString
    page("Collections", s"<ul>$items</ul>")
  }

  private def collectionDetailPage(name: String): (Int, String, String) =
    try {
      val c = collStats(name)
      htmlOk(page(s"Collection: ${htmlEsc(name)}",
        s"""<div class="card"><table>
           |<tr><th>Vectors</th><td>${formatNumber(c.count)}</td></tr>
           |<tr><th>Dimensions</th><td>${c.dims}</td></tr>
           |<tr><th>Deleted</th><td>${formatNumber(c.deleted)}</td></tr>
           |<tr><th>Needs compaction</th><td>${c.needsCompaction}</td></tr>
           |</table></div>""".stripMargin))
    } catch {
      case _: NoSuchElementException =>
        (404, "text/html",
          page("Not found", s"No collection '${htmlEsc(name)}'"))
    }

  private def queryPlaygroundPage(): String =
    page("Query Playground",
      """<div class="card"><p>POST a JSON body to
        |<code>/collections/{name}/search</code> — e.g.
        |<code>{"vector": [...], "k": 10, "filter": {"lang": "en"}}</code>.
        |The same REST surface the SDKs call serves this page's
        |queries.</p></div>""".stripMargin)

  private def needleqlPlaygroundPage(): String =
    page("NeedleQL Playground",
      """<div class="card"><p>POST <code>{"query": "SELECT ..."}</code> to
        |<code>/playground</code> to execute NeedleQL against the mounted
        |session.</p></div>""".stripMargin)

  private def monitoringPage(): String = {
    val snap = mapper.readTree(apiMonitoring())
    val rows = snap.get("health_scores").asScala.map { h =>
      f"""<tr><td>${htmlEsc(h.get("name").asText())}</td>
         |<td>${h.get("score").asDouble()}%.3f</td>
         |<td>${h.get("fragmentation").asDouble()}%.3f</td>
         |<td>${formatNumber(h.get("vector_count").asLong())}</td></tr>"""
        .stripMargin
    }.mkString
    page("Monitoring",
      f"""<div class="card">System health:
         |${snap.get("system_health").asDouble()}%.3f</div>
         |<div class="card"><table><tr><th>Collection</th><th>Score</th>
         |<th>Fragmentation</th><th>Vectors</th></tr>$rows%s</table></div>"""
        .stripMargin)
  }

  /** Host the dashboard on [[Http]]; port 0 picks a free port. */
  def serve(port: Int = 0): com.sun.net.httpserver.HttpServer =
    Http.serve(port) { (method, uri, _, body) =>
      val (status, contentType, resp) = handle(method, uri.toString, body)
      Http.text(status, contentType, resp)
    }

  private def visualizePage(): String = {
    val options = collectionNames()
      .map(n => s"""<option value="${htmlEsc(n)}">${htmlEsc(n)}</option>""")
      .mkString
    page("Vector Visualization",
      s"""<div class="card"><select id="viz-collection">$options</select>
         |<p>GET <code>/api/visualize/{collection}?max=500</code> returns
         |the deterministic 2-D projection points.</p></div>""".stripMargin)
  }
}

object WebUi {

  /** Thousands-grouped integer rendering (routes.rs format_number tests:
    * 1234567 → "1,234,567").
    */
  def formatNumber(n: Long): String =
    n.toString.reverse.grouped(3).mkString(",").reverse

  /** Per-dim projection coefficients (routes.rs:1052-1063): LCG step
    * `s = seed · 6364136223846793005 + i` (wrapping), coefficient
    * `(s >>> 33) / u32::MAX · 2 − 1`. Scala Long arithmetic wraps
    * identically to Rust's wrapping_mul/wrapping_add.
    */
  def projection(seed: Long, dims: Int): Array[Float] =
    Array.tabulate(dims) { i =>
      val s = seed * 6364136223846793005L + i.toLong
      (s >>> 33).toFloat / 4294967295f * 2f - 1f
    }

  /** Alert thresholds (state.rs:267-295 defaults). */
  final case class AlertConfig(enabled: Boolean = true,
                               latencyThresholdMs: Double = 100.0,
                               maxErrorRate: Float = 0.05f)

  final case class Alert(severity: String, message: String, timestamp: Long,
                         acknowledged: Boolean = false)

  /** Alert rules (routes.rs:1152-1192): Warning on p99 latency over the
    * threshold, Critical on error rate over the cap.
    */
  def checkAlerts(config: AlertConfig, p99LatencyMs: Double,
                  errorRate: Float, now: Long): Seq[Alert] = {
    if (!config.enabled) return Nil
    val out = mutable.Buffer.empty[Alert]
    if (p99LatencyMs > config.latencyThresholdMs)
      out += Alert("warning",
        f"P99 latency ($p99LatencyMs%.1fms) exceeds threshold " +
          f"(${config.latencyThresholdMs}%.1fms)", now)
    if (errorRate > config.maxErrorRate)
      out += Alert("critical",
        f"Error rate (${errorRate * 100}%.1f%%) exceeds threshold " +
          f"(${config.maxErrorRate * 100}%.1f%%)", now)
    out.toSeq
  }

  /** Latency histogram with the reference's fixed bucket ladder and its
    * histogram-estimate percentiles (state.rs:371-451): record assigns to
    * the first bucket whose upper bound covers the value (overflow rides
    * in the last bucket); a percentile is the upper bound of the first
    * bucket at which the running count reaches ceil(total · p).
    */
  final class LatencyHeatmap {
    private val bounds =
      Array(0.1, 0.5, 1.0, 2.0, 5.0, 10.0, 25.0, 50.0, 100.0, 250.0, 500.0,
        1000.0)
    /** (label, upper bound ms, count) per bucket. */
    val buckets: Array[(String, Double, Long)] = bounds.sliding(2).map { w =>
      (s"${fmt(w(0))}-${fmt(w(1))}ms", w(1), 0L)
    }.toArray
    private def fmt(d: Double): String =
      if (d == d.floor) d.toLong.toString else d.toString
    var totalOps: Long = 0L
    var p50Ms: Double = 0.0
    var p95Ms: Double = 0.0
    var p99Ms: Double = 0.0

    def record(latencyMs: Double): Unit = {
      totalOps += 1
      val i = buckets.indexWhere(latencyMs <= _._2)
      val at = if (i >= 0) i else buckets.length - 1
      buckets(at) = buckets(at).copy(_3 = buckets(at)._3 + 1)
    }

    def computePercentiles(): Unit = {
      if (totalOps == 0) return
      Seq(0.50 -> 0, 0.95 -> 1, 0.99 -> 2).foreach { case (pct, slot) =>
        val target = math.ceil(totalOps * pct).toLong
        var running = 0L
        var res = 0.0
        var i = 0
        var found = false
        while (i < buckets.length && !found) {
          running += buckets(i)._3
          if (running >= target) { res = buckets(i)._2; found = true }
          i += 1
        }
        slot match {
          case 0 => p50Ms = res
          case 1 => p95Ms = res
          case 2 => p99Ms = res
        }
      }
    }
  }
}
