package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.SparkEntry
import graft.core.Tables
import graft.filter.{Filter, FilterCompiler}
import graft.needleql.{CollectionDef, NeedleSession, Parser}
import graft.ops.Search
import Main._

/** `operator_suite`: `SparkEntry` queries over the generated tables, each
  * collected on the driver the way graft.Bench runs them. The plan's
  * first pass is the warm pass (part of set-up); the later passes are
  * timed. Each query's answer is kept for the DuckDB oracle check.
  *
  * Traced runs time each query by name and, afterwards, `Parser.parse`
  * and `NeedleSession.sql` (up to the DataFrame) on the NeedleQL texts
  * of the suite's NeedleQL queries, and the filter and top-k calls of
  * `knn_filtered`.
  */
final class OperatorRun(spark: SparkSession, plan: JsonNode, tracer: Tracer,
                        listener: JobListener, out: ObjectNode) {
  private val dir = plan.get("data_dir").asText()
  private val passes = plan.get("passes").elements().asScala.toVector
    .map(_.elements().asScala.toVector)

  def run(): Seq[Op] = {
    val tw = System.nanoTime()
    passes.head.foreach { o =>
      val name = o.get("name").asText()
      tracer.span(s"warm.$name")(runQuery(name))
    }
    out.put("warmup_ms", ms(tw))
    out.put("setup_ms", ms(tw))
    val oracle = out.putObject("oracle_sql")
    passes.head.map(_.get("name").asText()).foreach { n =>
      SparkEntry.oracleSql.get(n).foreach(oracle.put(n, _))
    }
    val phase = new Phase
    val ops = passes.tail.flatten.map { o =>
      val name = o.get("name").asText()
      tracer.span(s"op.$name") {
        val startMs = System.currentTimeMillis()
        val t = System.nanoTime()
        val (answer, error) =
          try (runQuery(name), null)
          catch { case e: Exception => (null, e.toString) }
        val lat = ms(t)
        Op(o.get("kind").asText(), name, if (error == null) 200 else -1,
          lat, startMs, System.currentTimeMillis(), 0L, 0L, answer, error)
      }
    }
    phase.finish(out)
    out.put("retained_heap_mb", retainedHeapMb())
    if (tracer.on) layers(ops)
    ops
  }

  private def runQuery(name: String): JsonNode = {
    val df = SparkEntry.queries(name)(spark, dir)
    val rows = df.collect()
    val res = mapper.createObjectNode()
    val cols = res.putArray("cols")
    df.columns.foreach(cols.add)
    val arr = res.putArray("rows")
    rows.foreach(r => addRow(arr.addArray(), r))
    res
  }

  private def addRow(a: ArrayNode, r: Row): Unit =
    (0 until r.length).foreach(i => addValue(a, r.get(i)))

  /** Timestamps and dates become tagged integers so the checker can
    * compare them with DuckDB's values without a formatting convention.
    */
  private def addValue(a: ArrayNode, v: Any): Unit = v match {
    case null => a.addNull()
    case x: java.lang.Double => a.add(x.doubleValue())
    case x: java.lang.Float => a.add(x.doubleValue())
    case x: java.math.BigDecimal => a.add(x.doubleValue())
    case x: java.lang.Number => a.add(x.longValue())
    case x: java.lang.Boolean => a.add(x.booleanValue())
    case x: String => a.add(x)
    case x: java.sql.Timestamp =>
      a.add(s"ts:${x.getTime / 1000 * 1000000 + x.getNanos / 1000 % 1000000}")
    case x: java.time.Instant =>
      a.add(s"ts:${x.getEpochSecond * 1000000 + x.getNano / 1000}")
    case x: java.time.LocalDateTime =>
      val i = x.toInstant(java.time.ZoneOffset.UTC)
      a.add(s"ts:${i.getEpochSecond * 1000000 + i.getNano / 1000}")
    case x: java.sql.Date => a.add(s"date:${x.toLocalDate.toEpochDay}")
    case x: java.time.LocalDate => a.add(s"date:${x.toEpochDay}")
    case x: scala.collection.Seq[_] =>
      val sub = a.addArray(); x.foreach(addValue(sub, _))
    case x: Row => val sub = a.addArray(); addRow(sub, x)
    case x => a.add(x.toString)
  }

  private def layers(ops: Seq[Op]): Unit = {
    val l = out.putObject("layers")
    sparkWork(listener, ops, l)
    ops.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (name, os) =>
      l.put(s"op.${name}_ms", median(os.map(_.ms)))
      l.put(s"op.${name}_jobs", listener.within(
        os.map(o => (o.startMs, o.endMs))).jobs.toDouble / os.size)
    }
    l.put("spark.storage_mb", storageMb(spark))
    gcLayers(out, l, ops.size)
    val (parse, compile) = needleql()
    l.put("needleql.parse_ms", parse)
    l.put("needleql.compile_ms", compile)
    filteredTopK(l)
  }

  /** The filter and exact top-k layers as `knn_filtered` calls them:
    * `Filter.parse` plus `FilterCompiler.compile`, then `Search.topK`
    * timed up to `executedPlan` and then to `collect`.
    */
  private def filteredTopK(l: ObjectNode): Unit = {
    val emb = Tables.load(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") === 0).select("embedding")
      .collect()(0).getSeq[Float](0).toArray
    val compile = mutable.ArrayBuffer.empty[Double]
    val plan = mutable.ArrayBuffer.empty[Double]
    val exec = mutable.ArrayBuffer.empty[Double]
    for (_ <- 1 to 5) {
      val tf = System.nanoTime()
      val pred = tracer.span("filter.compile")(FilterCompiler.compile(
        Filter.parse("""{"label": {"$in": [1, 2, 3]}}"""), emb))
      compile += ms(tf)
      val hits = Search.topK(emb.filter(pred), col("embedding"), lit(q), 10,
        "cosine", "vec_id")
      val tp = System.nanoTime()
      tracer.span("spark.plan")(hits.queryExecution.executedPlan)
      plan += ms(tp)
      val te = System.nanoTime()
      tracer.span("spark.exec")(hits.collect())
      exec += ms(te)
    }
    l.put("filter.compile_ms", median(compile.toSeq))
    l.put("spark.plan_ms", median(plan.toSeq))
    l.put("spark.exec_ms", median(exec.toSeq))
  }

  /** The session NeedleQL queries of the suite are compiled against. */
  private def needleql(): (Double, Double) = {
    val ns = new NeedleSession(spark)
    ns.register("events", CollectionDef(Tables.load(spark, dir, "events"),
      idCol = "event_id", vectorCol = "none"))
    ns.register("documents", CollectionDef(
      Tables.load(spark, dir, "documents"), idCol = "doc_id",
      vectorCol = "none", textCol = Some("text")))
    val emb = Tables.load(spark, dir, "embeddings")
    ns.register("embeddings", CollectionDef(emb, idCol = "vec_id",
      vectorCol = "embedding", metric = "cosine"))
    ns.roundDistanceTo = Some(6)
    ns.bind("q", emb.filter(col("vec_id") === 0).select("embedding")
      .collect()(0).getSeq[Float](0).toArray)
    val parse = mutable.ArrayBuffer.empty[Double]
    val compile = mutable.ArrayBuffer.empty[Double]
    for (_ <- 1 to 5; q <- plan.get("needleql").elements().asScala) {
      val text = q.asText()
      val tp = System.nanoTime()
      tracer.span("needleql.parse")(Parser.parse(text))
      parse += ms(tp)
      val tc = System.nanoTime()
      tracer.span("needleql.compile")(ns.sql(text))
      compile += ms(tc)
    }
    (median(parse.toSeq), median(compile.toSeq))
  }
}
