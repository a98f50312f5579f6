package perfbench

import java.io.File

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM.
  *
  * `run.py` generates the inputs from the seed and writes a plan: the
  * workload, where its data lies and the fixed sequence of operations.
  * This side sets up, runs the sequence once as a single closed-loop
  * client, and writes every operation's status, latency and answer to a
  * results file. Answers are checked afterwards, outside the JVM, so the
  * checks cost no measured time.
  *
  * Usage: perfbench.Main <plan.json> <results.json>
  */
object Main {
  val mapper = new ObjectMapper()

  /** One timed operation. `answer` is what the checker compares. */
  final case class Op(kind: String, name: String, status: Int, ms: Double,
                      startMs: Long, endMs: Long, reqBytes: Long,
                      respBytes: Long, answer: JsonNode, error: String)

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(new File(args(0)))
    val out = mapper.createObjectNode()
    if (plan.get("workload").asText() == "oracle_sql") {
      // the oracle SQL the program declares, for oracle.py; no session
      val o = out.putObject("oracle_sql")
      plan.get("names").elements().forEachRemaining { n =>
        graft.SparkEntry.oracleSql.get(n.asText()).foreach(o.put(n.asText(), _))
      }
      mapper.writeValue(new File(args(1)), out)
      return
    }
    val tracer = new Tracer(plan.get("trace").asBoolean())
    val spark = tracer.span("setup.session")(session(plan))
    out.put("session_ready_epoch_ms", System.currentTimeMillis())
    val listener = new JobListener
    spark.sparkContext.addSparkListener(listener)
    try {
      val ops = plan.get("workload").asText() match {
        case "rest_ann" | "rest_exact" =>
          new RestRun(spark, plan, tracer, listener, out).run()
        case "operator_suite" =>
          new OperatorRun(spark, plan, tracer, listener, out).run()
      }
      val arr = out.putArray("ops")
      ops.foreach { o =>
        val n = arr.addObject()
        n.put("kind", o.kind).put("name", o.name).put("status", o.status)
        n.put("ms", o.ms).put("req_bytes", o.reqBytes)
        n.put("resp_bytes", o.respBytes)
        n.set[JsonNode]("answer", o.answer)
        if (o.error != null) n.put("error", o.error)
      }
      if (tracer.on) tracer.write(plan.get("spans").asText())
    } finally spark.stop()
    mapper.writeValue(new File(args(1)), out)
  }

  /** The session graft.Bench builds, with `threads` task threads. */
  private def session(plan: JsonNode): SparkSession = {
    val threads = plan.get("threads").asInt()
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", plan.get("local_dir").asText())
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "65536")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Used heap after collection, in MB. Spark's ContextCleaner drops
    * unreferenced blocks, shuffles and broadcasts asynchronously once a
    * collection has found them unreachable, so collect until the figure
    * stops falling.
    */
  def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    var last = Double.MaxValue
    var used = 0.0
    var i = 0
    while (i < 6) {
      System.gc()
      Thread.sleep(200)
      used = mem.getHeapMemoryUsage.getUsed / 1048576.0
      if (used > last - 1.0) i = 6 else { last = used; i += 1 }
    }
    math.min(used, last)
  }

  /** Spark work per operation of a kind, attributed by interval. */
  def sparkWork(listener: JobListener, ops: Seq[Op],
                layers: ObjectNode): Unit = {
    listener.drain()
    def per(kind: String): (listener.Work, Double) = {
      val sel = ops.filter(_.kind == kind)
      (listener.within(sel.map(o => (o.startMs, o.endMs))),
        math.max(1, sel.size).toDouble)
    }
    val (r, nr) = per("read")
    val (w, nw) = per("write")
    val all = listener.within(ops.map(o => (o.startMs, o.endMs)))
    val n = math.max(1, ops.size).toDouble
    layers.put("spark.jobs_per_read", r.jobs / nr)
    layers.put("spark.stages_per_read", r.stages / nr)
    layers.put("spark.tasks_per_read", r.tasks / nr)
    layers.put("spark.input_rows_per_read", r.inputRows / nr)
    layers.put("spark.jobs_per_write", w.jobs / nw)
    layers.put("spark.tasks_per_write", w.tasks / nw)
    layers.put("spark.shuffle_bytes_per_op", all.shuffleBytes / n)
    layers.put("spark.task_ms_per_op", all.taskMs / n)
  }

  /** Block-manager memory held by the session (cached and checkpointed
    * blocks, broadcasts), in MB.
    */
  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum / 1048576.0

  def gcLayers(out: ObjectNode, layers: ObjectNode, nOps: Int): Unit = {
    layers.put("jvm.gc_ms_per_op",
      out.get("gc_ms").asDouble() / math.max(1, nOps))
    layers.put("jvm.gc_count", out.get("gc_count").asDouble())
  }
}
