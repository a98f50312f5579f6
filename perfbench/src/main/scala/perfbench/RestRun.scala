package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}

import graft.ann.{Ivf, LocalServe}
import graft.filter.{Filter, FilterCompiler}
import graft.ops.Search
import graft.server.RestApi
import Main._

/** `rest_ann` and `rest_exact`: one collection behind `RestApi.serve`,
  * driven over HTTP by one client on one keep-alive connection.
  *
  * Set-up registers the generated parquet (and, for `rest_ann`, builds
  * the ANN snapshot with `POST /collections/c/index`), then sends the
  * warm-up operations. The timed phase sends the plan's
  * fixed sequence once.
  *
  * Traced runs add, outside each operation's interval: the same read
  * replayed through `RestApi.handle` in-process, `LocalServe.search` on
  * the live snapshot (ANN reads), and the filter compile plus a
  * `Search.topK` replay split at `executedPlan` (exact reads). Every
  * second write goes through `RestApi.handle` instead of HTTP, so the
  * collection sees the same writes as in an untraced run.
  */
final class RestRun(spark: SparkSession, plan: JsonNode, tracer: Tracer,
                    listener: JobListener, out: ObjectNode) {
  private val api = new RestApi(spark)
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()
  private var base = ""

  private val handleRead = ArrayBuffer.empty[Double]
  private val handleWrite = ArrayBuffer.empty[Double]
  private val annSearch = ArrayBuffer.empty[Double]
  private val rowsScored = ArrayBuffer.empty[Double]
  private val filterCompile = ArrayBuffer.empty[Double]
  private val planMs = ArrayBuffer.empty[Double]
  private val execMs = ArrayBuffer.empty[Double]
  private var annBuildMs = 0.0

  private def http(method: String, path: String,
                   body: String): (Int, String, Long) = {
    val req = HttpRequest.newBuilder(URI.create(base + path))
      .header("Content-Type", "application/json")
      .method(method, HttpRequest.BodyPublishers.ofString(body)).build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body(), body.getBytes(UTF_8).length.toLong)
  }

  def run(): Seq[Op] = {
    val t0 = System.nanoTime()
    val server = tracer.span("setup.server")(api.serve(0))
    base = s"http://127.0.0.1:${server.getAddress.getPort}"
    try {
      val df = tracer.span("setup.read")(
        spark.read.parquet(plan.get("collection").asText()))
      tracer.span("setup.register")(
        api.register("c", df, plan.get("dims").asInt(), "cosine"))
      Option(plan.get("index_body")).foreach { b =>
        val tb = System.nanoTime()
        val (st, resp, _) = tracer.span("ann.build")(
          http("POST", "/collections/c/index", b.asText()))
        require(st == 200, s"index build failed: $st $resp")
        annBuildMs = ms(tb)
      }
      val tw = System.nanoTime()
      plan.get("warmup").elements().asScala.foreach { o =>
        val (st, resp, _) = tracer.span("setup.warmup")(
          http("POST", o.get("path").asText(), o.get("body").asText()))
        require(st == 200, s"warm-up operation failed: $st $resp")
      }
      out.put("warmup_ms", ms(tw))
      out.put("setup_ms", ms(t0))

      val phase = new Phase
      var writes = 0
      val ops = plan.get("ops").elements().asScala.map { o =>
        val kind = o.get("kind").asText()
        val inProcess = tracer.on && kind == "write" && writes % 2 == 1
        if (kind == "write") writes += 1
        runOp(kind, o.get("path").asText(), o.get("body").asText(), inProcess)
      }.toVector
      phase.finish(out)
      out.put("retained_heap_mb", retainedHeapMb())
      if (tracer.on) layers(ops)
      ops
    } finally server.stop(0)
  }

  private def runOp(kind: String, path: String, body: String,
                    inProcess: Boolean): Op = tracer.span(s"op.$kind") {
    val startMs = System.currentTimeMillis()
    val t = System.nanoTime()
    val (status, resp, reqBytes, error) =
      try {
        if (inProcess) {
          val (st, r) = tracer.span("server.handle")(
            api.handle("POST", path, body))
          (st, r, 0L, null)
        } else {
          val (st, r, b) = tracer.span("server.http")(http("POST", path, body))
          (st, r, b, null)
        }
      } catch {
        case e: Exception => (-1, "", 0L, e.toString)
      }
    val lat = ms(t)
    val endMs = System.currentTimeMillis()
    if (inProcess) handleWrite += lat
    val answer =
      try { if (resp.isEmpty) null else mapper.readTree(resp) }
      catch { case _: Exception => null }
    if (tracer.on && kind == "read" && status == 200) {
      Thread.sleep(2) // keep replay jobs out of the operation's interval
      replayRead(path, body)
    }
    Op(kind, if (inProcess) "handle" else "http", status, lat, startMs,
      endMs, reqBytes, if (inProcess) 0L else resp.getBytes(UTF_8).length,
      answer, error)
  }

  /** The live collection; `RestApi` keeps its registry private. */
  private def live(): api.Coll = {
    val f = classOf[RestApi].getDeclaredFields
      .find(_.getType == classOf[mutable.LinkedHashMap[_, _]]).get
    f.setAccessible(true)
    f.get(api).asInstanceOf[mutable.LinkedHashMap[String, api.Coll]]("c")
  }

  private def replayRead(path: String, body: String): Unit = {
    val t = System.nanoTime()
    tracer.span("server.handle")(api.handle("POST", path, body))
    handleRead += ms(t)
    val req = mapper.readTree(body)
    val qv = req.get("vector").elements().asScala.map(_.floatValue()).toArray
    val k = req.get("k").asInt()
    val c = live()
    if (c.ann != null) {
      val a = c.ann
      val ts = System.nanoTime()
      tracer.span("ann.search")(LocalServe.search(a.li, qv, k, a.nprobe))
      annSearch += ms(ts)
      rowsScored += tracer.span("ann.probe")(
        Ivf.probeCells(a.li.centroids, a.li.metric, qv, a.nprobe)
          .map(a.li.cellIds(_).length).sum.toDouble)
    } else {
      val tf = System.nanoTime()
      val pred = Option(req.get("filter")).map { f =>
        tracer.span("filter.compile")(FilterCompiler.compile(
          Filter.parse(mapper.writeValueAsString(f)),
          (p: String) => FilterCompiler.schemaResolver(c.df.schema)(
            s"metadata.$p")))
      }
      if (pred.isDefined) filterCompile += ms(tf)
      val rows = c.df.filter(col("ttl_expires_at").isNull ||
        col("ttl_expires_at") > api.nowEpochS())
      val hits = Search.topK(pred.map(rows.filter).getOrElse(rows),
        col("vector"), lit(qv), k, c.metric)
      val tp = System.nanoTime()
      tracer.span("spark.plan")(hits.queryExecution.executedPlan)
      planMs += ms(tp)
      val te = System.nanoTime()
      tracer.span("spark.exec")(hits.collect())
      execMs += ms(te)
    }
  }

  private def layers(ops: Seq[Op]): Unit = {
    val l = out.putObject("layers")
    val http = ops.filter(_.name == "http")
    val rtRead = http.filter(_.kind == "read").map(_.ms)
    l.put("server.handle_read_ms", median(handleRead.toSeq))
    l.put("server.handle_write_ms", median(handleWrite.toSeq))
    l.put("server.http_overhead_ms",
      median(rtRead) - median(handleRead.toSeq))
    l.put("server.bytes_per_op", http.map(o => o.reqBytes + o.respBytes)
      .sum.toDouble / math.max(1, http.size))
    l.put("ann.search_ms", median(annSearch.toSeq))
    l.put("ann.rows_scored_per_query",
      if (rowsScored.isEmpty) 0.0 else rowsScored.sum / rowsScored.size)
    l.put("ann.build_s", annBuildMs / 1000)
    l.put("filter.compile_ms", median(filterCompile.toSeq))
    l.put("spark.plan_ms", median(planMs.toSeq))
    l.put("spark.exec_ms", median(execMs.toSeq))
    sparkWork(listener, ops, l)
    l.put("spark.storage_mb", storageMb(spark))
    gcLayers(out, l, ops.size)
    // partition growth under writes: tasks per read early and late
    val reads = ops.filter(_.kind == "read")
    val tenth = math.max(1, reads.size / 10)
    def tasks(rs: Seq[Op]): Double =
      listener.within(rs.map(o => (o.startMs, o.endMs))).tasks.toDouble /
        rs.size
    val d = out.putObject("diag")
    d.put("tasks_per_read_first_tenth", tasks(reads.take(tenth)))
    d.put("tasks_per_read_last_tenth", tasks(reads.takeRight(tenth)))
  }
}
