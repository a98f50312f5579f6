package graft

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.core.JsonGenerator
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ann.Ivf
import graft.ops.Search

/** Baseline-shape benchmark: the reference's OWN published workload —
  * 1M vectors × 384 dims (reference README.md:75-85: single search
  * ~300 QPS, batch ~3,000 QPS, insert ~1,200 ops/s, filtered search at
  * 10% selectivity ~220 QPS) — measured against this engine at the same
  * shape, so the 2×-of-baseline criterion is a like-for-like number
  * instead of an sf0.1 proxy (VERDICT r5 next-round #1).
  *
  * Data is deterministic clustered synthetic (1000 centers + 15% noise,
  * xxhash64-seeded): the cluster structure real embedding corpora have,
  * which is exactly what IVF/LSH pruning assumes; uniform random 384-d
  * would make ANY cell pruning useless (distance concentration) and
  * benchmark nothing real. Generated once into `target/` and reused.
  *
  * Measured modes per operation:
  *   - `single_*`: one Spark job per query, sequential — the honest
  *     interactive-latency number (carries the ~0.2 s/job scheduler
  *     floor the reference's in-process HNSW does not pay).
  *   - `batch_*`: N queries through [[Search.batchTopKPairs]]'s bounded
  *     top-k aggregate, ONE scan for all queries — the throughput shape
  *     that survives 100×, and the fair peer of the reference's batch row.
  *   - `insert_append`: rows/s appending a batch as a parquet file into
  *     the collection dir (the table-format ingest path).
  *   - `upsert_checkpoint`: rows/s of a 1000-row replace materialized
  *     as one union + localCheckpoint — the shape of one `RestApi`
  *     compaction (REST writes themselves land in a driver-side delta).
  *   - `ivf_*`: recall@10 and wall-clock of cell-pruned search vs the
  *     exact scan at the same k, tuning evidence for the ANN mode.
  *
  * Emits one JSON line (stdout) and writes the full artifact with
  * reference ratios to `bench_history/baseline_shape_r06.json`.
  */
object BaselineBench {

  private def timeMs[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e6)
  }

  /** Min over `runs` timed evaluations (noise only adds time). */
  private def best(runs: Int)(f: => Unit): Double =
    (1 to runs).map(_ => timeMs(f)._2).min

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val n = sys.env.getOrElse("SPARK_GRAFT_BASE_N", "1000000").toLong
    val dims = sys.env.getOrElse("SPARK_GRAFT_BASE_DIMS", "384").toInt
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val dataDir = sys.env.getOrElse("SPARK_GRAFT_BASE_DIR",
      s"target/baseline_${n / 1000}k_$dims")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BASE_OUT",
      "bench_history/baseline_shape_r06.json")

    // Fail fast on an undersized driver heap: the 1M×384 shape OOMs a
    // 24g driver mid-run (r11 lost a cycle to this), and run_main.sh
    // defaults to 24g. LocalServe + the packed IVF blocks need the
    // whole snapshot resident, so demand the known-good floor up front
    // instead of dying 20 minutes in.
    if (n * dims >= 128_000_000L &&
        Runtime.getRuntime.maxMemory < 48L * 1024 * 1024 * 1024) {
      System.err.println(
        s"[baseline] driver heap ${Runtime.getRuntime.maxMemory >> 30} GiB " +
          s"is below the floor for the ${n / 1000}k x $dims shape; run as: " +
          "SPARK_DRIVER_MEM=64g tools/run_main.sh graft.BaselineBench")
      sys.exit(2)
    }

    // LocalServe.fromIndex collects the 1M×384 snapshot (~1.5 GB
    // serialized) — above the 1 GiB maxResultSize default
    val spark = Session.local(cpus, "spark.driver.maxResultSize" -> "4g")
    import spark.implicits._

    // ---- data: 1000 clusters, 15% noise, 10% selectivity label ---------
    val path = s"$dataDir/vectors.parquet"
    if (!Files.exists(Paths.get(path))) {
      System.err.println(s"[baseline] generating $n x $dims at $path")
      spark.range(n).repartition(cpus)
        .select(col("id"),
          expr(s"""transform(sequence(0, ${dims - 1}), j -> cast(
                  |  (pmod(xxhash64(pmod(xxhash64(id, 1), 1000), j, 3), 1000000)/500000.0 - 1.0)
                  |  + 0.15 * (pmod(xxhash64(id, j, 7), 1000000)/500000.0 - 1.0)
                  |as float))""".stripMargin).as("vector"),
          pmod(xxhash64(col("id"), lit(5)), lit(100)).cast("int").as("label"))
        .write.mode("overwrite").parquet(path)
    }
    val df = spark.read.parquet(path).persist()
    val total = df.count() // warm the cache
    System.err.println(s"[baseline] $total rows cached")

    def queryVecs(m: Int): Array[Array[Float]] = df
      .filter(col("id") < m).orderBy("id")
      .select(col("vector")).collect().map(_.getSeq[Float](0).toArray)

    def queryDf(m: Int): DataFrame = df.filter(col("id") < m)
      .select(col("id").cast("int").as("query_id"),
        col("vector").as("query_vector"))
      .coalesce(1).persist()

    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]

    // ---- single search (sequential jobs) -------------------------------
    val q20 = queryVecs(20)
    def singleScan(qs: Array[Array[Float]], base: DataFrame): Unit =
      qs.foreach(q => Search.topK(base, col("vector"), lit(q), 10,
        "cosine", "id").collect())
    singleScan(q20.take(2), df) // warm codegen
    val singleMs = best(runs)(singleScan(q20, df)) / q20.length
    out("single_search_ms_per_query") = singleMs
    out("single_search_qps") = 1000.0 / singleMs

    // ---- batch search: 100 queries, one scan ---------------------------
    val qdf100 = queryDf(100)
    qdf100.count()
    def batch(qdf: DataFrame): Unit =
      Search.batchTopKPairs(df, qdf, 10, metric = "cosine").collect()
    batch(qdf100) // warm
    val batch100Ms = best(runs)(batch(qdf100)) / 100.0
    out("batch100_ms_per_query") = batch100Ms
    out("batch100_qps") = 1000.0 / batch100Ms

    // ---- batch search: 2000 queries (amortization limit) ---------------
    val qdf2000 = queryDf(2000)
    qdf2000.count()
    val batch2000Ms = best(math.max(1, runs - 1))(batch(qdf2000)) / 2000.0
    out("batch2000_ms_per_query") = batch2000Ms
    out("batch2000_qps") = 1000.0 / batch2000Ms

    // ---- insert: parquet append path -----------------------------------
    val incoming = spark.read.parquet(path).filter(col("id") < 1000)
      .withColumn("id", col("id") + lit(total)).coalesce(1).persist()
    incoming.count()
    val appendMs = best(runs) {
      incoming.write.mode("append").parquet(s"$dataDir/append_sink.parquet")
    }
    out("insert_append_ops_per_s") = 1000.0 / (appendMs / 1000.0)

    // ---- upsert: union + localCheckpoint -------------------------------
    // replace ids 0..999 with the incoming 1000-row batch, then
    // materialize the checkpointed collection (the shape of a RestApi
    // compaction)
    val upsertMs = best(math.max(1, runs - 1)) {
      df.filter(col("id") >= 1000L).unionByName(incoming)
        .localCheckpoint(false).count()
    }
    out("upsert_checkpoint_1000_ms") = upsertMs
    out("upsert_checkpoint_ops_per_s") = 1000.0 / (upsertMs / 1000.0)

    // ---- filtered search at 10% selectivity ----------------------------
    val filtered = df.filter(col("label") < 10)
    singleScan(q20.take(2), filtered) // warm
    val fSingleMs = best(runs)(singleScan(q20, filtered)) / q20.length
    out("filtered_single_ms_per_query") = fSingleMs
    out("filtered_single_qps") = 1000.0 / fSingleMs
    def fBatch(): Unit =
      Search.batchTopKPairs(filtered, qdf100, 10, metric = "cosine").collect()
    fBatch() // warm
    val fBatchMs = best(runs)(fBatch()) / 100.0
    out("filtered_batch100_ms_per_query") = fBatchMs
    out("filtered_batch100_qps") = 1000.0 / fBatchMs

    // ---- IVF pruned search: recall + speedup ---------------------------
    val cells = sys.env.getOrElse("SPARK_GRAFT_BASE_CELLS", "64").toInt
    val (ix0, buildMs) = timeMs(Ivf.build(df, col("vector"), cells,
      "cosine", maxTrainRows = 20000))
    val ix = ix0.copy(assigned = ix0.assigned.persist())
    ix.assigned.count()
    out("ivf_build_ms") = buildMs
    val cellSizes = ix.assigned.groupBy("cell").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val qr = queryVecs(20)
    val exactTops = qr.map { q =>
      Search.topK(df, col("vector"), lit(q), 10, "cosine", "id")
        .select("id").collect().map(_.getLong(0)).toSet
    }
    Seq(2, 4, 8).foreach { nprobe =>
      val recalls = qr.zip(exactTops).map { case (q, exact) =>
        val approx = Ivf.search(ix, q, 10, nprobe, "id", "vector")
          .select("id").collect().map(_.getLong(0)).toSet
        exact.intersect(approx).size / 10.0
      }
      val scan = qr.map(q => Ivf.probeCells(ix, q, nprobe)
        .map(c => cellSizes.getOrElse(c, 0L)).sum).sum.toDouble /
        (qr.length * total)
      val ms = best(1)(qr.foreach(q =>
        Ivf.search(ix, q, 10, nprobe, "id", "vector").collect())) / qr.length
      out(s"ivf_nprobe${nprobe}_recall_at_10") = recalls.sum / recalls.length
      out(s"ivf_nprobe${nprobe}_scan_fraction") = scan
      out(s"ivf_nprobe${nprobe}_ms_per_query") = ms
    }
    out("ivf_exact_ms_per_query") = singleMs

    // ---- batched IVF: one job, all queries, pruned scan ----------------
    // the ANN throughput mode — the like-for-like peer of the reference's
    // batch row (HNSW ef=50 is approximate too; recall measured per config)
    val q100 = queryVecs(100).zipWithIndex.map { case (v, i) => (i, v) }
    val q2000 = queryVecs(2000).zipWithIndex.map { case (v, i) => (i, v) }
    val ix256 = {
      val (b, ms) = timeMs(Ivf.build(df, col("vector"), 256, "cosine",
        maxTrainRows = 20000))
      out("ivf256_build_ms") = ms
      val p = b.copy(assigned = b.assigned.persist())
      p.assigned.count(); p
    }
    val sizes256 = ix256.assigned.groupBy("cell").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val packedCache = scala.collection.mutable.Map.empty[Int, Ivf.PackedIndex]
    for ((index, cells, sizes, probes) <- Seq(
           (ix, 64, cellSizes, Seq(2, 4)),
           (ix256, 256, sizes256, Seq(4, 8)));
         nprobe <- probes) {
      val recalls = qr.zip(exactTops).map { case (q, exact) =>
        val approx = Ivf.search(index, q, 10, nprobe, "id", "vector")
          .select("id").collect().map(_.getLong(0)).toSet
        exact.intersect(approx).size / 10.0
      }
      val scan = qr.map(q => Ivf.probeCells(index, q, nprobe)
        .map(c => sizes.getOrElse(c, 0L)).sum).sum.toDouble /
        (qr.length * total)
      out(s"ivf${cells}_batch_nprobe${nprobe}_recall_at_10") =
        recalls.sum / recalls.length
      out(s"ivf${cells}_batch_nprobe${nprobe}_scan_fraction") = scan
      // packed inverted lists: per-query Ivf.search's rows (AnnSpec
      // row-identity), zero per-batch decode — the serving-mode throughput row
      val px = packedCache.getOrElseUpdate(cells, {
        val (p, pms) = timeMs(Ivf.pack(index, "id", "vector"))
        out(s"packed${cells}_pack_ms") = pms
        p
      })
      out(s"packed${cells}_batch_nprobe${nprobe}_recall_at_10") =
        recalls.sum / recalls.length
      def packedBatch(qs: Seq[(Int, Array[Float])]): Unit =
        Ivf.batchSearchPacked(px, qs, 10, nprobe, "id").collect()
      packedBatch(q100.take(10)) // warm
      val pms100 = best(runs)(packedBatch(q100)) / 100.0
      out(s"packed${cells}_batch100_nprobe${nprobe}_qps") = 1000.0 / pms100
      val pms2000 = best(math.max(1, runs - 1))(packedBatch(q2000)) / 2000.0
      out(s"packed${cells}_batch2000_nprobe${nprobe}_ms_per_query") = pms2000
      out(s"packed${cells}_batch2000_nprobe${nprobe}_qps") = 1000.0 / pms2000
    }

    // ---- exact batch over the packed layout ----------------------------
    // nprobe = numCells degenerates to brute force (spec-asserted equal to
    // per-query Ivf.search at full probe) — the fastest EXACT batch mode: one
    // decode-free flat-array pass over the whole collection per batch
    {
      val px = packedCache(256)
      def exactBatch(): Unit =
        Ivf.batchSearchPacked(px, q2000, 10, nprobe = 256, "id").collect()
      val ms = best(1)(exactBatch()) / 2000.0
      out("packed256_batch2000_exact_ms_per_query") = ms
      out("packed256_batch2000_exact_qps") = 1000.0 / ms
    }

    // ---- SIMD serving kernels over the packed layout -------------------
    // f32 lane-accumulated scoring (graft.ann.VectorSimd) — the numerics
    // the reference's own SIMD engine computes (its simd_basic.rs f32
    // horizontal reduce); recall measured against the exact f64 top-10,
    // and configs only become the comparison row at recall ≥ 0.95.
    // nprobe = 256 is the SIMD brute-force bound (full scan per batch).
    {
      val px = packedCache(256)
      out("simd_available") = if (graft.ann.Simd.available) 1.0 else 0.0
      for (nprobe <- Seq(4, 8, 256)) {
        val recalls = qr.zip(exactTops).map { case (q, exact) =>
          val ids = Ivf.batchSearchPacked(px, Seq((0, q)), 10, nprobe, "id",
              simd = true)
            .select("id").collect().map(_.getLong(0)).toSet
          exact.intersect(ids).size / 10.0
        }
        out(s"simd256_batch_nprobe${nprobe}_recall_at_10") =
          recalls.sum / recalls.length
        def sb(qs: Seq[(Int, Array[Float])]): Unit =
          Ivf.batchSearchPacked(px, qs, 10, nprobe, "id", simd = true)
            .collect()
        sb(q100.take(10)) // warm
        val ms100 = best(runs)(sb(q100)) / 100.0
        out(s"simd256_batch100_nprobe${nprobe}_qps") = 1000.0 / ms100
        val sruns = if (nprobe >= 256) 1 else math.max(1, runs - 1)
        val ms2000 = best(sruns)(sb(q2000)) / 2000.0
        out(s"simd256_batch2000_nprobe${nprobe}_ms_per_query") = ms2000
        out(s"simd256_batch2000_nprobe${nprobe}_qps") = 1000.0 / ms2000
      }
    }

    // ---- driver-local serving: in-process single-query latency ---------
    // the reference's ~300 QPS single-search row is an in-process probe
    // with no scheduler in the loop; this is the like-for-like mode (see
    // LocalServe's caveats: a collect()ed snapshot, maxRows-guarded)
    {
      import graft.ann.LocalServe
      val (li, lbMs) = timeMs(LocalServe.fromIndex(ix256, "id", "vector"))
      out("local_snapshot_build_ms") = lbMs
      val localRecalls = qr.zip(exactTops).map { case (q, exact) =>
        val ids = LocalServe.search(li, q, 10, nprobe = 8).map(_._1).toSet
        exact.intersect(ids).size / 10.0
      }
      out("single_search_local_recall_at_10") =
        localRecalls.sum / localRecalls.length
      val lq = queryVecs(200)
      lq.foreach(q => LocalServe.search(li, q, 10, 8)) // warm JIT
      val perMs = best(runs) {
        lq.foreach(q => LocalServe.search(li, q, 10, 8))
      } / lq.length
      out("single_search_local_ms_per_query") = perMs
      out("single_search_local_qps") = 1000.0 / perMs
      // simd point-query serving: same snapshot, f32 kernel
      val simdRecalls = qr.zip(exactTops).map { case (q, exact) =>
        val ids = LocalServe.search(li, q, 10, nprobe = 8, simd = true)
          .map(_._1).toSet
        exact.intersect(ids).size / 10.0
      }
      out("single_search_local_simd_recall_at_10") =
        simdRecalls.sum / simdRecalls.length
      lq.foreach(q => LocalServe.search(li, q, 10, 8, simd = true)) // warm
      val sMs = best(runs) {
        lq.foreach(q => LocalServe.search(li, q, 10, 8, simd = true))
      } / lq.length
      out("single_search_local_simd_ms_per_query") = sMs
      out("single_search_local_simd_qps") = 1000.0 / sMs
      // serve-under-writes: a 1000-row write batch into the live 1M-row
      // snapshot (copy-on-write cell appends, no rebuild). The vectors
      // are PERTURBED copies of base rows — reusing them verbatim made
      // the self-serve check a 0-distance TIE with the original row,
      // which the top-k legitimately breaks toward the older entry.
      val wrows = queryVecs(1000).zipWithIndex.map { case (v0, i) =>
        val v = v0.clone(); v(0) += 1.0f
        ((2000000 + i).toLong, v)
      }
      val (li2, addMs) = timeMs(LocalServe.addBatch(li, wrows))
      out("ann_live_upsert_1000_ms") = addMs
      out("ann_live_upsert_ops_per_s") = 1000.0 / (addMs / 1000.0)
      // and the written rows serve immediately
      val hit = LocalServe.search(li2, wrows.head._2, 1, 8)
      require(hit.head._1 == wrows.head._1, "live write must serve")
    }

    // ---- filtered ANN over the packed payload ------------------------
    // the reference's filtered-search row is approximate too (HNSW with a
    // metadata predicate); here the predicate is a kernel-level skip over
    // the packed payload column — recall measured against the exact
    // FILTERED top-10, throughput at the batch shape
    {
      val pxf = Ivf.pack(ix256, "id", "vector", payloadCol = Some("label"))
      val exactF = qr.map { q =>
        Search.topK(filtered, col("vector"), lit(q), 10, "cosine", "id")
          .select("id").collect().map(_.getLong(0)).toSet
      }
      val fpred: Long => Boolean = p => p < 10
      Seq(8, 16).foreach { nprobe =>
        val recalls = qr.zip(exactF).map { case (q, exact) =>
          val ids = Ivf.batchSearchPacked(pxf, Seq((0, q)), 10, nprobe,
              "id", payloadPred = Some(fpred))
            .select("id").collect().map(_.getLong(0)).toSet
          if (exact.isEmpty) 1.0
          else exact.intersect(ids).size.toDouble / exact.size
        }
        out(s"filtered_packed_nprobe${nprobe}_recall_at_10") =
          recalls.sum / recalls.length
        def fp(qs: Seq[(Int, Array[Float])]): Unit =
          Ivf.batchSearchPacked(pxf, qs, 10, nprobe, "id",
            payloadPred = Some(fpred)).collect()
        fp(q100.take(10)) // warm
        val ms100 = best(runs)(fp(q100)) / 100.0
        out(s"filtered_packed_batch100_nprobe${nprobe}_qps") = 1000.0 / ms100
        val ms2000 = best(math.max(1, runs - 1))(fp(q2000)) / 2000.0
        out(s"filtered_packed_batch2000_nprobe${nprobe}_qps") = 1000.0 / ms2000
        // simd kernel under the same payload predicate
        val sRecalls = qr.zip(exactF).map { case (q, exact) =>
          val ids = Ivf.batchSearchPacked(pxf, Seq((0, q)), 10, nprobe,
              "id", payloadPred = Some(fpred), simd = true)
            .select("id").collect().map(_.getLong(0)).toSet
          if (exact.isEmpty) 1.0
          else exact.intersect(ids).size.toDouble / exact.size
        }
        out(s"filtered_simd_nprobe${nprobe}_recall_at_10") =
          sRecalls.sum / sRecalls.length
        def fps(qs: Seq[(Int, Array[Float])]): Unit =
          Ivf.batchSearchPacked(pxf, qs, 10, nprobe, "id",
            payloadPred = Some(fpred), simd = true).collect()
        fps(q100.take(10)) // warm
        val sMs2000 = best(math.max(1, runs - 1))(fps(q2000)) / 2000.0
        out(s"filtered_simd_batch2000_nprobe${nprobe}_qps") = 1000.0 / sMs2000
      }
      pxf.unpersist()
    }

    packedCache.values.foreach(_.unpersist())
    ix256.assigned.unpersist()
    ix.assigned.unpersist()

    // ---- artifact ------------------------------------------------------
    // reference README.md:75-85 at this exact shape
    val refRows = Seq(
      ("single_search_qps", 300.0, out("single_search_qps")),
      ("batch_search_exact_qps", 3000.0,
        // best exact batch mode: the declarative scan or the packed
        // full-probe brute force (identical results, spec-asserted)
        Seq(out("batch100_qps"), out("batch2000_qps"),
          out("packed256_batch2000_exact_qps")).max),
      ("batch_search_ann_qps", 3000.0, {
        // best bulk ANN throughput among configs whose measured recall@10
        // clears the reference's published band (≥ 0.95) — a fast
        // low-recall config is not a comparable number
        val eligible = out.keys.filter(_.matches(
          "(packed\\d+|simd\\d+)_batch_nprobe\\d+_recall_at_10"))
          .filter(out(_) >= 0.95)
          .map(_.replace("_batch_nprobe", "_batch2000_nprobe")
            .replace("_recall_at_10", "_qps"))
          .filter(out.contains)
        // maxOption: an all-below-floor run must still write the artifact
        eligible.map(out).maxOption.getOrElse(0.0)
      }),
      ("insert_ops_per_s", 1200.0, out("insert_append_ops_per_s")),
      ("filtered_search_qps", 220.0, {
        // best of the exact batch row and any filtered-ANN config whose
        // recall vs the exact filtered top-10 clears 0.95 (the reference's
        // filtered search is approximate as well)
        val eligible = out.keys
          .filter(_.matches("filtered_(packed|simd)_nprobe\\d+_recall_at_10"))
          .filter(out(_) >= 0.95)
          .map(_.replace("_nprobe", "_batch2000_nprobe")
            .replace("_recall_at_10", "_qps"))
          .filter(out.contains)
        (eligible.map(out).toSeq :+ out("filtered_batch100_qps")).max
      }),
      // in-process serving mode (LocalServe) — the fair peer of the
      // reference's in-process single-search row; recall reported beside
      // it; the simd kernel counts when its measured recall clears 0.95
      ("single_search_local_qps", 300.0, {
        val simdOk = out.getOrElse("single_search_local_simd_recall_at_10",
          0.0) >= 0.95
        if (simdOk)
          math.max(out("single_search_local_qps"),
            out("single_search_local_simd_qps"))
        else out("single_search_local_qps")
      }))
    val mapper = new ObjectMapper()
      .enable(JsonGenerator.Feature.WRITE_BIGDECIMAL_AS_PLAIN)
    // a non-finite figure (a zero-time row) is written as JSON null
    def f(d: Double): java.math.BigDecimal =
      if (d.isNaN || d.isInfinite) null
      else java.math.BigDecimal.valueOf(d).setScale(if (d >= 100) 1 else 4,
        java.math.RoundingMode.HALF_UP)
    val doc = mapper.createObjectNode().put("shape", s"${total}x$dims")
    doc.put("cpus", cpus)
    doc.put("runs", runs)
    val comparison = doc.putObject("comparison")
    refRows.foreach { case (k, ref, got) =>
      comparison.putObject(k).put("reference", ref)
        .put("this_engine", f(got)).put("ratio_vs_ref", f(got / ref))
    }
    val detail = doc.putObject("detail")
    out.foreach { case (k, v) => detail.put(k, f(v)) }
    val json = mapper.writeValueAsString(doc)
    Files.createDirectories(Paths.get(outPath).getParent)
    Files.writeString(Paths.get(outPath), json + "\n")
    println(json)
    spark.stop()
  }
}
