package graft
import java.nio.file.Files

import com.fasterxml.jackson.core.JsonGenerator
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

/** Benchmark surface: one JSON line with per-query wall times.
  *
  * Methodology (stability over raw speed-of-measurement): queries run in
  * deterministic (sorted) order, each timed over `runs` consecutive
  * executions — the first execution absorbs plan compilation/JIT/IO
  * warm-up, so a single-shot suite manufactures phantom regressions that
  * depend on run order (plan-identical queries were measured 9× apart).
  * Three estimators are reported per query: the final JSON line's
  * `queries` map = MEDIAN (2-decimal); per-query `#detail` lines carry
  * full-precision median/min/spread, where spread = (max − min)/median. On sub-second queries the
  * median still carries ±0.1-0.3 s of ambient jitter (GC, page cache,
  * shared host); the MIN is the standard noise-robust floor estimator —
  * noise only ever ADDS time — so round-over-round comparisons should
  * diff `min`, while `spread` makes noisy measurements visible instead of
  * silently trusted.
  *
  * Measured noise floor on this sandbox (two clean back-to-back suite
  * runs, nothing else on the host): suite totals can differ ~1.5× between
  * MINUTES from host-level variance alone — multiplicative, hitting every
  * query in a run, invisible to within-run spread. Treat per-query deltas
  * as signal only when they exceed the run's total-level ratio, or
  * normalize by the suite total before comparing.
  */
object Bench {

  /** One host-load sample: (1-min loadavg, runnable-entity count from
    * /proc/loadavg's 4th field). Two driver rounds in a row (r15 1.09×,
    * r16 2.04×) produced bench artifacts that were host contamination —
    * adjudicated after the fact by re-running on a quiet host. Recording
    * load WITH the measurement lets the artifact self-adjudicate:
    * `load_start` is sampled before the SparkSession exists, so anything
    * substantial there is foreign work (the 1-min EMA decays slowly —
    * a suite that just finished still shows); `load_max`/`runnable_max`
    * across per-query samples catch work arriving mid-run. The bench's
    * own contribution is bounded by its `cpus` thread budget, so
    * tools/bench_diff.py flags a run as SUSPECT when these exceed
    * cpus + a host-size margin.
    */
  private def hostLoad(): (Double, Int) = {
    try {
      val line = scala.io.Source.fromFile("/proc/loadavg").mkString.trim
      val f = line.split("\\s+")
      (f(0).toDouble, f(3).split("/")(0).toInt)
    } catch {
      case _: Throwable =>
        val mx = java.lang.management.ManagementFactory.getOperatingSystemMXBean
        (mx.getSystemLoadAverage, -1)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val (loadStart, runnableStart) = hostLoad()
    var loadMax = loadStart
    var runnableMax = runnableStart
    // 3 runs: the first absorbs warm-up, the median of 3 is stable, and
    // 100 queries x 5 runs was brushing against the driver's time budget
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val spark = Session.local(cpus)
    // Warm up the JVM/codegen/IO paths once so the first measured query
    // does not absorb session initialization (standard bench practice).
    spark.range(1000000).selectExpr("sum(id)").collect()
    try graft.core.Tables.load(spark, sfDir, "nation").count()
    catch { case _: Throwable => () }
    // optional args: bench only the named queries (local iteration)
    val only = args.toSet
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val json = new ObjectMapper()
      .enable(JsonGenerator.Feature.WRITE_BIGDECIMAL_AS_PLAIN)
    def num(v: Double, dec: Int): java.math.BigDecimal =
      java.math.BigDecimal.valueOf(v)
        .setScale(dec, java.math.RoundingMode.HALF_UP)
    // a query that throws is a failure, never a timing: its remaining
    // runs are skipped and it is listed by name under "failed"
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    def fail(name: String, e: Throwable): Unit = {
      System.err.println(s"[bench] $name failed: $e")
      failed += name
    }
    val benched = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
    val results = benched.flatMap { case (name, fn) =>
      val times = Iterator.fill(runs) {
        val t0 = System.nanoTime()
        // collect, not count: count() lets Catalyst prune the projections a
        // query exists to compute (result sets are bounded, so collect is safe)
        try { fn(spark, sfDir).collect(); Some((System.nanoTime() - t0) / 1e9) }
        catch { case e: Throwable => fail(name, e); None }
      }.takeWhile(_.isDefined).flatten.toSeq
      // per-query load sample: catches contamination arriving mid-run
      val (l, r) = hostLoad()
      loadMax = math.max(loadMax, l); runnableMax = math.max(runnableMax, r)
      if (times.size < runs) None
      else {
        val med = median(times)
        val spread = if (med > 0) (times.max - times.min) / med else 0.0
        Some((name, med, times.min, spread))
      }
    }
    // The driver keeps only the LAST ~2000 characters of stdout and parses
    // the JSON line from that window. Full-precision maps for 80+ queries
    // overflow it (rounds 1-3 all recorded parsed:null), so the detail
    // (median/min/spread per query, full precision) goes on earlier
    // `#detail` lines and the FINAL line is a compact (<1.8 KB) JSON with
    // 2-decimal medians that fits the window even with sbt's trailing
    // "[success]" line.
    def stats(o: ObjectNode, med: Double, mn: Double, sp: Double): ObjectNode =
      o.put("median", num(med, 4)).put("min", num(mn, 4))
        .put("spread", num(sp, 3))
    results.foreach { case (k, med, mn, sp) =>
      println("#detail " +
        json.writeValueAsString(stats(json.createObjectNode().put("q", k), med, mn, sp)))
    }
    val total = results.map(_._2).sum
    // Full-precision details also land in a file (the driver's stdout
    // window only keeps the last ~2000 chars, so the #detail stream is
    // lost there): bench_history/ archives one file per round for
    // tools/bench_diff.py to audit regressions mechanically.
    val detailOut = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "target/bench_detail.json")
    // The three recall floors (ivf_recall, ivf_recall_clustered,
    // quantized_recall) are inherently non-oracle — their measured values
    // are the only drift signal, so every bench artifact records them as
    // a `recall` block (diffable round-over-round instead of buried in
    // logs). One extra execution each; their expensive state is already
    // warm in IndexCache from the timed runs. A failing recall query is
    // listed under "failed" and the others are still recorded; NaN,
    // Infinity and non-numeric values become JSON null (NaN is not legal
    // JSON and would break bench_diff.py's parse of the whole artifact).
    val recall = json.createObjectNode()
    if (only.isEmpty)
      Seq("ivf_recall", "ivf_recall_clustered", "quantized_recall")
        .foreach { name =>
          SparkEntry.queries.get(name).foreach { fn =>
            try {
              val kv = json.createObjectNode()
              fn(spark, sfDir).collect().foreach { r =>
                val key = String.valueOf(r.get(0))
                r.get(1) match {
                  case n: java.lang.Number
                    if !n.doubleValue.isNaN && !n.doubleValue.isInfinite =>
                    kv.set[JsonNode](key, json.valueToTree[JsonNode](n))
                  case _ => kv.putNull(key)
                }
              }
              recall.set[JsonNode](name, kv)
            } catch { case e: Throwable => fail(name, e) }
          }
        }
    try {
      val f = new java.io.File(detailOut)
      Option(f.getParentFile).foreach(_.mkdirs())
      val doc = json.createObjectNode()
        .put("total", num(total, 2))
        .put("sf", new java.io.File(sfDir).getName)
        .put("runs", runs)
      doc.put("cpus", cpus)
      doc.putObject("host")
        .put("cpus_host", Runtime.getRuntime.availableProcessors)
        .put("load_start", num(loadStart, 2)).put("load_max", num(loadMax, 2))
        .put("runnable_start", runnableStart).put("runnable_max", runnableMax)
      if (!recall.isEmpty) doc.set[JsonNode]("recall", recall)
      val fl = doc.putArray("failed"); failed.foreach(fl.add)
      val qs = doc.putObject("queries")
      results.foreach { case (k, med, mn, sp) =>
        stats(qs.putObject(k), med, mn, sp)
      }
      Files.writeString(f.toPath, json.writeValueAsString(doc) + "\n")
    } catch { case _: Throwable => () } // bench output must never fail the run
    val sfName = new java.io.File(sfDir).getName
    // The final line must fit the driver's ~2000-char stdout tail window.
    // The full 99-query map no longer does at any precision, so the line
    // carries a FIXED headline subset (the BASELINE-comparable + scale-
    // critical queries; stable across rounds so per-query deltas stay
    // diffable) while `value`/`n_queries` still cover the whole suite and
    // the #detail lines above carry every query at full precision.
    val headline: Seq[String] = Seq(
      "knn_cosine", "knn_euclidean", "knn_dot", "knn_manhattan",
      "knn_chebyshev", "knn_hamming", "knn_filtered", "batch_knn_cosine",
      "batch_knn_bulk", "batch_knn_filtered", "radius_cosine",
      "radius_filtered", "matryoshka",
      "search_after", "recommend", "bm25_search", "hybrid_rrf",
      "term_overlap_rerank", "mmr_diversify", "maxsim", "maxsim_two_stage",
      "sparse_dot", "sparse_cosine", "multimodal_fusion", "crossmodal_rrf",
      "graph_knn_edges", "graphrag_search", "ivf_knn_full_probe",
      "ivf_knn_pruned", "lsh_ann", "quantized_recall", "dedup_exact",
      "ngram_jaccard", "minhash_lsh_dedup", "simhash_near_dup",
      "embedding_near_dup", "text_stats", "quality_score", "lang_id",
      "chunk_fixed", "q1_agg", "q2_having", "q3_count_distinct",
      "q4_join_topk", "q5_region_revenue", "vec_centroid", "vec_medoid", "vec_cluster",
      "pipeline_full", "upsert_merge", "change_feed", "federated_rrf",
      "bandit_rerank", "trajectory_dtw", "kg_search", "memory_recall",
      "crdt_converge", "split_assign", "pack_sequential",
      "repetition_signals", "contamination_ngram", "query_builder",
      "data_profile", "pipeline_train_prep", "corpus_mix_report",
      "gopher_rules", "span_dedup", "pii_scrub", "c4_rules",
      "quality_classifier", "semantic_dedup", "boilerplate_lines")
    val shown =
      if (only.nonEmpty) results
      else results.filter { case (k, _, _, _) => headline.contains(k) }
    // failed names ride the final line too, as many as fit the window
    // (the artifact lists them all)
    def line(dec: Int, failedShown: Seq[String]): String = {
      val o = json.createObjectNode()
        .put("metric", "total").put("value", num(total, 2).stripTrailingZeros)
        .put("unit", "sec").put("n_queries", benched.size)
        .put("load_start", num(loadStart, 1).stripTrailingZeros)
        .put("load_max", num(loadMax, 1).stripTrailingZeros)
      val qs = o.putObject("queries")
      shown.foreach { case (k, v, _, _) =>
        qs.put(k, num(v, dec).stripTrailingZeros)
      }
      o.put("sf", sfName)
      val fl = o.putArray("failed"); failedShown.foreach(fl.add)
      json.writeValueAsString(o)
    }
    val fs = failed.toSeq
    val lines = Seq(line(2, fs)) ++ (fs.size to 0 by -1).map(n => line(1, fs.take(n)))
    println(lines.find(_.length <= 1900).getOrElse(lines.last))
    spark.stop()
  }
}
