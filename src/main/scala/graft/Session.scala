package graft

import org.apache.spark.sql.SparkSession

/** The one way the engine builds a Spark session. Every main, example and
  * test gets its session here, so the tests run the engine configured as
  * the oracle and the benchmarks measure it.
  */
object Session {

  /** A session with `cpus` task threads and `cpus` shuffle partitions, the
    * engine's SQL settings and [[GraftExtensions]] installed. The master is
    * `local[cpus]` unless `spark.master` is already a system property (as
    * under spark-submit). `conf` carries settings that only one caller
    * needs; they are applied last.
    */
  def local(cpus: Int, conf: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Session artifact isolation (Spark 4) routes executor class lookups
      // through an RPC-backed ExecutorClassLoader even in local mode; every
      // class-miss probe (Janino codegen, lambda deserialization) then pays
      // a driver round-trip — tens of seconds per complex query. Irrelevant
      // for a single-session engine, so disable it.
      .config("spark.sql.artifact.isolation.enabled", "false")
      // bounded-buffer aggregates (TopKAgg) keep k·16 bytes per group —
      // the 128-group default silently degrades them to sort-based
      // aggregation (sorts EVERY scored row, the cost the aggregate
      // exists to avoid). 64k groups/task ≈ 10 MB at k=10: safe.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "65536")
      // let AQE size cached-plan partitions from runtime statistics
      // (guide §2: scale-adaptive partitioning). Without it a cached
      // frame freezes spark.sql.shuffle.partitions at build time: tiny
      // postings/stat tables carry cpus-many near-empty partitions into
      // every consuming stage locally, and at scale a cached plan can't
      // benefit from AQE's size-based coalescing or skew handling.
      // Interleaved 10-run A/B (knn_cosine control flat): bm25_search
      // 0.376->0.231 s, hybrid_rrf 0.492->0.313, bm25_incremental
      // 0.366->0.281; no query slower.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .withExtensions(new GraftExtensions)
    conf.foreach { case (k, v) => builder.config(k, v) }
    if (!sys.props.contains("spark.master")) builder.master(s"local[$cpus]")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
