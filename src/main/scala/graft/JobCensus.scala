package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Diagnostic main (optimization-round tooling, guide §1): runs the named
  * queries once warm, then reports scheduled jobs / stages / tasks and
  * wall time for ONE further execution. A query whose wall time ≈
  * jobs × 40–80 ms of driver latency is SCHEDULED-WORK bound (the r20
  * session-3 census finding) — the lever is fewer jobs/stages, not faster
  * kernels. It runs on the engine's own session (`Session.local`). Usage:
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.JobCensus q1 q2 ..."
  */
object JobCensus {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Session.local(cpus)
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    // verbose (SPARK_GRAFT_CENSUS_VERBOSE=1): one line per scheduled job
    // with its callsite — attributes each fixed ~40-80 ms driver-latency
    // unit to the operator code that scheduled it
    val verbose = sys.env.get("SPARK_GRAFT_CENSUS_VERBOSE").contains("1")
    val jobT0 = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs += 1
        if (verbose) {
          jobT0.put(j.jobId, System.nanoTime())
          val site = j.stageInfos.map(_.name).distinct.mkString(" | ")
          println(f"    job ${j.jobId}%3d start  [${j.stageInfos.size}%d stages] $site")
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages += 1
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = tasks += 1
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        if (verbose) Option(jobT0.remove(e.jobId)).foreach { t0 =>
          println(f"    job ${e.jobId}%3d end    ${(System.nanoTime() - t0) / 1e6}%7.1f ms")
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val names =
      if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    println(f"${"query"}%-28s ${"jobs"}%5s ${"stages"}%7s ${"tasks"}%6s ${"fn_s"}%8s ${"plan_s"}%8s ${"exec_s"}%8s ${"sec"}%8s")
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => println(s"$name: unknown query")
        case Some(fn) =>
          try {
            fn(spark, sfDir).collect() // warm-up: codegen/IO/plan caches
            Thread.sleep(50)           // let straggler listener events drain
            jobs = 0; stages = 0; tasks = 0
            val t0 = System.nanoTime()
            // fixture construction: plan building plus any driver
            // round-trips the operator's algebra performs (probes, seeds,
            // index fits, eager checkpoints)
            val df = fn(spark, sfDir)
            val tf = System.nanoTime()
            // driver-side analysis + optimization + physical planning of
            // the FINAL frame (AQE's per-stage re-optimization is NOT in
            // here — it lands in exec along with the jobs it schedules)
            df.queryExecution.executedPlan
            val t1 = System.nanoTime()
            df.collect()
            val t2 = System.nanoTime()
            Thread.sleep(100)
            println(f"$name%-28s $jobs%5d $stages%7d $tasks%6d ${(tf - t0) / 1e9}%8.3f ${(t1 - tf) / 1e9}%8.3f ${(t2 - t1) / 1e9}%8.3f ${(t2 - t0) / 1e9}%8.3f")
          } catch {
            case e: Throwable => println(s"$name: ERROR ${e.getMessage}")
          }
      }
    }
    spark.stop()
  }
}
