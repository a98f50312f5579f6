package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{Distances, Metric}

/** IVF (inverted-file) approximate nearest-neighbor search — the
  * Spark-natural ANN (SURVEY.md §7.1 step 13; the reference's own IVF is the
  * semantic model: src/indexing/ivf.rs:509, its HNSW is a single-node graph
  * structure with no distributed analogue).
  *
  * Build: KMeans centroids (tiny, driver-resident) + a cell id per row.
  * At cluster scale the assigned table is *written partitioned by cell*
  * (`write.partitionBy("cell")`), so a search with nprobe cells reads only
  * nprobe/numCells of the data — real partition pruning at the storage
  * layer, the distributed analogue of probing posting lists. On 100 TB:
  * numCells ~ √N keeps cells executor-sized; nprobe trades recall for scan
  * fraction exactly like the reference's `nprobe` (ivf.rs).
  *
  * Exact brute-force is the correctness oracle; the recall@k harness
  * (AnnSpec) mirrors the reference's recall_benchmark.rs.
  */
object Ivf {

  final case class Index(
      centroids: Array[Array[Float]],   // cellId -> centroid
      assigned: DataFrame,              // input cols + `cell`
      metric: String)

  /** Column computing the nearest-centroid cell id for a vector column. */
  def cellOf(vecCol: Column, centroids: Array[Array[Float]],
             metric: String): Column = {
    // array of (distance, cellId) structs; array_min picks lexicographic min
    val scored = array(centroids.zipWithIndex.map { case (c, i) =>
      struct(Distances.distance(metric, vecCol, lit(c)).as("d"),
        lit(i).as("cell"))
    }: _*)
    array_min(scored).getField("cell")
  }

  /** The `nprobe` nearest cell ids for a vector column, as an array —
    * multi-probe assignment for blocked self-joins (each row lands in its
    * nprobe nearest cells; two near vectors falling either side of a cell
    * boundary still meet in the runner-up cell).
    */
  def probeCellsOf(vecCol: Column, centroids: Array[Array[Float]],
                   metric: String, nprobe: Int): Column = {
    val scored = array(centroids.zipWithIndex.map { case (c, i) =>
      struct(Distances.distance(metric, vecCol, lit(c)).as("d"),
        lit(i).as("cell"))
    }: _*)
    transform(slice(array_sort(scored), 1, nprobe), s => s.getField("cell"))
  }

  /** Unbiased bounded training sample. `limit(maxRows)` serves rows from
    * the EARLIEST partitions only — at 100 TB that correlates with
    * ingestion order / key ranges, so quantizers trained on it see a
    * skewed slice of the distribution. When the table exceeds `maxRows`,
    * a seeded Bernoulli sample draws from every partition (the count is
    * parquet-metadata-cheap and index builds are full-data passes anyway);
    * at or below `maxRows` this degenerates to the limit() path —
    * bit-identical behavior at correctness-test scales.
    */
  private[graft] def boundedSample(df: DataFrame, maxRows: Int,
                                   seed: Long = 42L): DataFrame = {
    // ONE probing job instead of count()-then-collect: take maxRows+1
    // rows — if that is everything (the common case for index builds over
    // bounded slices), the probe IS the sample, returned as a local
    // relation with identical rows in identical scan order. Corpora
    // larger than the bound fall back to the exact count+seeded-sample
    // path (unchanged rows); the probe there transfers a bounded
    // maxRows+1 rows, the same magnitude the sampled path collects
    // anyway.
    val spark = df.sparkSession
    val head = df.limit(maxRows + 1).collect()
    if (head.length <= maxRows)
      spark.createDataFrame(java.util.Arrays.asList(head: _*), df.schema)
    else {
      val n = df.count()
      df.sample(withReplacement = false,
        math.min(1.0, maxRows * 1.2 / n), seed).limit(maxRows)
    }
  }

  /** Centroids are fit on a bounded sample collected to the driver — the
    * standard coarse-quantizer recipe (FAISS trains IVF on ~30-100k sampled
    * vectors regardless of corpus size): at 100 TB only the cell ASSIGNMENT
    * is a full-data pass, and that stays a distributed narrow map. A
    * driver-local Lloyd loop over ≤`maxTrainRows` vectors costs milliseconds
    * and zero Spark jobs, where an MLlib fit is ~2 jobs per iteration.
    */
  def build(df: DataFrame, vecCol: Column, numCells: Int,
            metric: String = "cosine", seed: Long = TrainSeed,
            maxIter: Int = TrainIters,
            maxTrainRows: Int = MaxTrainRows): Index = {
    val train: Array[Array[Float]] = boundedSample(
      df.select(vecCol.cast("array<float>").as("v")), maxTrainRows, seed)
      .collect()
      .map(_.getSeq[Float](0).toArray)
    val centroids = localKMeans(train, numCells, maxIter, seed)
    Index(centroids, df.withColumn("cell", cellOf(vecCol, centroids, metric)),
      metric)
  }

  /** [[build]]'s training defaults, shared by [[LocalServe.build]] so a
    * driver-side build fits the same centroids over the same rows.
    */
  private[graft] val TrainSeed = 42L
  private[graft] val TrainIters = 20
  private[graft] val MaxTrainRows = 100000

  /** Seeded k-means++ init + Lloyd iterations, squared-euclidean (the same
    * objective MLlib's KMeans optimizes), f64 accumulation.
    */
  private[graft] def localKMeans(vecs: Array[Array[Float]], k: Int,
                                 maxIter: Int, seed: Long): Array[Array[Float]] =
    localKMeansTrace(vecs, k, maxIter, seed)._1

  /** [[localKMeans]] plus the per-iteration WCSS trace (sum of squared
    * distances to assigned centers, recorded after each assignment step).
    * Lloyd's algorithm guarantees this sequence is non-increasing — the
    * quantitative invariant the `vec_cluster` gate asserts.
    */
  private[graft] def localKMeansTrace(vecs: Array[Array[Float]], k: Int,
                                      maxIter: Int, seed: Long)
      : (Array[Array[Float]], Array[Double]) = {
    require(vecs.nonEmpty, "IVF build needs at least one training vector")
    val dims = vecs(0).length
    val n = vecs.length
    val kk = math.min(k, n)
    val rnd = new scala.util.Random(seed)
    def d2(a: Array[Float], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dims) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    // k-means++ seeding
    val centers = Array.ofDim[Double](kk, dims)
    val first = vecs(rnd.nextInt(n))
    var i = 0; while (i < dims) { centers(0)(i) = first(i); i += 1 }
    val minD2 = Array.fill(n)(Double.MaxValue)
    var c = 1
    while (c < kk) {
      var j = 0
      while (j < n) {
        val d = d2(vecs(j), centers(c - 1))
        if (d < minD2(j)) minD2(j) = d
        j += 1
      }
      val total = minD2.sum
      var pick = rnd.nextDouble() * total
      var sel = 0
      j = 0
      while (j < n && pick > 0) { pick -= minD2(j); if (pick > 0) { j += 1 } }
      sel = math.min(j, n - 1)
      i = 0; while (i < dims) { centers(c)(i) = vecs(sel)(i); i += 1 }
      c += 1
    }
    // Lloyd
    val assign = Array.fill(n)(-1)
    val wcss = Array.newBuilder[Double]
    var iter = 0
    var changed = true
    while (iter < maxIter && changed) {
      changed = false
      var j = 0
      var iterWcss = 0.0
      while (j < n) {
        var best = 0; var bestD = Double.MaxValue
        var ci = 0
        while (ci < kk) {
          val d = d2(vecs(j), centers(ci))
          if (d < bestD) { bestD = d; best = ci }
          ci += 1
        }
        if (assign(j) != best) { assign(j) = best; changed = true }
        iterWcss += bestD
        j += 1
      }
      wcss += iterWcss
      if (changed) {
        val sums = Array.ofDim[Double](kk, dims)
        val counts = Array.fill(kk)(0L)
        j = 0
        while (j < n) {
          val a = assign(j); counts(a) += 1
          val v = vecs(j)
          i = 0; while (i < dims) { sums(a)(i) += v(i); i += 1 }
          j += 1
        }
        var ci = 0
        while (ci < kk) {
          if (counts(ci) > 0) {
            i = 0; while (i < dims) { centers(ci)(i) = sums(ci)(i) / counts(ci); i += 1 }
          } // empty cell keeps its previous center (MLlib does the same)
          ci += 1
        }
      }
      iter += 1
    }
    (centers.map(_.map(_.toFloat)), wcss.result())
  }

  /** The nprobe cells nearest to the query (driver-side over the tiny
    * centroid set), ranked by the metric's own flat kernel with the lower
    * cell first among equal distances — the order [[cellOf]] assigns by,
    * so the first cell probed for a row's vector is the row's own cell.
    */
  def probeCells(ix: Index, query: Array[Float], nprobe: Int): Seq[Int] =
    probeCells(ix.centroids, ix.metric, query, nprobe)

  def probeCells(centroids: Array[Array[Float]], metric: String,
                 query: Array[Float], nprobe: Int): Seq[Int] = {
    val m = Metric.parse(metric).name
    val score = flatScoreKernel(m)
    val qn2 = if (m == "cosine") norm2(query) else 0.0
    centroids.zipWithIndex
      .map { case (c, i) =>
        val cn2 = if (m == "cosine") norm2(c) else 0.0
        (score(query, 0, query.length, c, qn2, cn2), i)
      }
      .sortBy(x => (x._1, x._2))
      .take(nprobe).map(_._2).toSeq
  }

  /** ANN top-k: scan only the nprobe nearest cells, exact top-k within.
    * nprobe = numCells degenerates to exact search (recall 1.0).
    */
  def search(ix: Index, query: Array[Float], k: Int, nprobe: Int,
             idCol: String = "id", vecCol: String = "vector",
             roundTo: Option[Int] = None): DataFrame = {
    val cells = probeCells(ix, query, nprobe)
    val raw = Distances.distance(ix.metric, col(vecCol), lit(query))
    val dist = roundTo.fold(raw)(n => round(raw, n))
    ix.assigned
      .filter(col("cell").isin(cells: _*)) // partition pruning when stored by cell
      .withColumn("distance", dist)
      .orderBy(col("distance").asc, col(idCol).asc)
      .limit(k)
      .drop("cell")
  }

  /** Persist an index as collection state (the reference serializes its
    * index beside the data, src/indexing/ivf.rs): the tiny centroid table
    * at `path/centroids`, and the assigned rows at `path/cells` written
    * `partitionBy("cell")`. That directory layout IS the inverted file —
    * each cell is a parquet partition directory, so a probe-time
    * `cell IN (...)` filter becomes a storage-level PartitionFilter and a
    * search with nprobe cells lists only nprobe/numCells of the files.
    * At 100 TB this is the difference between scanning the corpus and
    * scanning the posting lists.
    */
  def writeIndex(ix: Index, path: String): Unit = {
    val spark = ix.assigned.sparkSession
    import spark.implicits._
    ix.centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq, ix.metric) }.toSeq
      .toDF("cell", "centroid", "metric")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    ix.assigned.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/cells")
  }

  /** Load a persisted index. The assigned frame reads `cell` back as a
    * parquet partition column, so [[search]]'s probe filter prunes at the
    * file listing — no data files outside the probed cells are opened.
    */
  def loadIndex(spark: org.apache.spark.sql.SparkSession, path: String): Index = {
    val rows = spark.read.parquet(s"$path/centroids")
      .orderBy("cell").collect()
    require(rows.nonEmpty, s"no centroids at $path/centroids")
    Index(rows.map(_.getSeq[Float](1).toArray),
      spark.read.parquet(s"$path/cells"), rows(0).getString(2))
  }

  private[graft] def norm2(v: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
    s
  }

  /** Per-cell prober set in struct-of-arrays form: the scoring kernels
    * index these primitive arrays directly instead of destructuring a
    * Tuple3 per (row × query) iteration.
    */
  private[graft] final class CellProbers(val qids: Array[Int],
      val qvs: Array[Array[Float]], val qn2s: Array[Double])
      extends Serializable {
    def length: Int = qids.length
  }

  private[graft] def splitProbers(
      xs: Seq[(Int, Array[Float], Double)]): CellProbers = {
    val arr = xs.toArray
    new CellProbers(arr.map(_._1), arr.map(_._2), arr.map(_._3))
  }

  /** HALF_UP decimal rounding of a distance — the kernels branch on a
    * plain int scale instead of Option.foreach, whose var-capturing
    * closure costs a DoubleRef allocation per scored row.
    */
  private[graft] def roundHalfUp(d: Double, scale: Int): Double =
    java.math.BigDecimal.valueOf(d)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()

  /** k-bounded (score, id)-sorted buffer — the per-partition mirror of
    * [[graft.functions.TopKAgg]]'s aggregation buffer.
    */
  private[graft] final class TopBuf(k: Int) {
    val scores = new Array[Double](k); val ids = new Array[Long](k)
    var n = 0
    def insert(s: Double, id: Long): Unit = {
      if (n >= k) {
        val ws = scores(n - 1)
        if (s > ws || (s == ws && id >= ids(n - 1))) return
      }
      var lo = 0; var hi = n
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        val ms = scores(mid)
        if (ms < s || (ms == s && ids(mid) < id)) lo = mid + 1 else hi = mid
      }
      var j = math.min(n, k - 1)
      while (j > lo) { scores(j) = scores(j - 1); ids(j) = ids(j - 1); j -= 1 }
      scores(lo) = s; ids(lo) = id
      if (n < k) n += 1
    }
  }

  /** One partition-resident inverted list: a cell's ids and row-major flat
    * vectors (dims stride) plus per-row squared norms (cosine) and an
    * optional per-row long payload (the filterable attribute — empty when
    * the index was packed without one). Primitive arrays only — zero
    * per-row object overhead, scan-friendly layout.
    */
  final case class PackedBlock(cell: Int, ids: Array[Long],
                               vecs: Array[Float], norms2: Array[Double],
                               payload: Array[Long] = Array.emptyLongArray)

  /** The JVM-resident serving form of an [[Index]]: per-cell flat blocks
    * persisted DESERIALIZED across the cluster, one block per cell and
    * partition from [[pack]] (the kernel probes every block of a probed
    * cell).
    */
  final case class PackedIndex(centroids: Array[Array[Float]], metric: String,
                               dims: Int,
                               blocks: org.apache.spark.rdd.RDD[PackedBlock]) {
    def unpersist(): Unit = blocks.unpersist()
  }

  /** Decode once, serve many: a scan over the assigned table pays a full
    * columnar-cache decode (InternalRow → Array[Float] allocation) of every
    * probed row on EVERY batch — at 1M×384 with a large batch (all cells
    * probed by someone) that decode dominates the scan arithmetic itself.
    * Packing converts the assigned table ONCE into per-cell primitive-array blocks
    * held deserialized (the in-memory posting-list layout of any native ANN
    * engine), so every subsequent batch runs the kernel over JVM-native
    * flat floats at array-scan speed. Stays an RDD: blocks live partitioned
    * across executors, and 100 TB-scale collections simply hold more
    * blocks per executor — nothing here is driver-resident.
    */
  def pack(ix: Index, idCol: String = "id",
           vecCol: String = "vector",
           payloadCol: Option[String] = None): PackedIndex = {
    import org.apache.spark.storage.StorageLevel
    val spark = ix.assigned.sparkSession
    import spark.implicits._
    val needsNorm = ix.metric == "cosine"
    val dims = ix.centroids.headOption.map(_.length).getOrElse(0)
    val hasPayload = payloadCol.isDefined
    val payC = payloadCol.map(c => col(c).cast("long")).getOrElse(lit(0L))
    val ds = ix.assigned.select(col(idCol).cast("long"), col("cell").cast("int"),
      col(vecCol).cast("array<float>"), payC)
      .as[(Long, Int, Array[Float], Long)]
    val blocks = ds.rdd.mapPartitions { it =>
      val idsB = new java.util.HashMap[Int, scala.collection.mutable.ArrayBuilder.ofLong]()
      val vecsB = new java.util.HashMap[Int, scala.collection.mutable.ArrayBuilder.ofFloat]()
      val payB = new java.util.HashMap[Int, scala.collection.mutable.ArrayBuilder.ofLong]()
      it.foreach { case (id, cell, v, pay) =>
        var ib = idsB.get(cell)
        if (ib == null) {
          ib = new scala.collection.mutable.ArrayBuilder.ofLong
          idsB.put(cell, ib)
          vecsB.put(cell, new scala.collection.mutable.ArrayBuilder.ofFloat)
          if (hasPayload)
            payB.put(cell, new scala.collection.mutable.ArrayBuilder.ofLong)
        }
        ib += id
        vecsB.get(cell).addAll(v)
        if (hasPayload) payB.get(cell) += pay
      }
      import scala.jdk.CollectionConverters._
      idsB.entrySet().iterator().asScala.map { e =>
        val cell = e.getKey.intValue()
        val ids = e.getValue.result()
        val vecs = vecsB.get(cell).result()
        val norms2 =
          if (!needsNorm) Array.emptyDoubleArray
          else {
            val out = new Array[Double](ids.length)
            var i = 0
            while (i < ids.length) {
              var s = 0.0; var j = 0; val off = i * dims
              while (j < dims) {
                val x = vecs(off + j).toDouble; s += x * x; j += 1
              }
              out(i) = s; i += 1
            }
            out
          }
        val pay =
          if (hasPayload) payB.get(cell).result() else Array.emptyLongArray
        PackedBlock(cell, ids, vecs, norms2, pay)
      }
    }.persist(StorageLevel.MEMORY_AND_DISK)
    blocks.count() // materialize now: packing cost is paid once, here
    PackedIndex(ix.centroids, ix.metric, dims, blocks)
  }

  /** Mirror of the [[graft.functions.DistanceKernels]] float kernels over
    * a row-major flat array: same double accumulation in the same index
    * order, so scores are bit-identical to [[search]]'s codegen'd distance
    * expression (AnnSpec asserts row identity for every metric).
    */
  private[graft] def flatScoreKernel(metric: String)
      : (Array[Float], Int, Int, Array[Float], Double, Double) => Double =
    metric match {
      case "cosine" => (vs, off, dims, q, vn2, qn2) =>
        if (vn2 == 0.0 || qn2 == 0.0) 1.0
        else {
          var s = 0.0; var i = 0
          while (i < dims) { s += vs(off + i).toDouble * q(i).toDouble; i += 1 }
          1.0 - s / (math.sqrt(vn2) * math.sqrt(qn2))
        }
      case "cosine_normalized" => (vs, off, dims, q, _, _) => {
        var s = 0.0; var i = 0
        while (i < dims) { s += vs(off + i).toDouble * q(i).toDouble; i += 1 }
        1.0 - s
      }
      case "dot" => (vs, off, dims, q, _, _) => {
        var s = 0.0; var i = 0
        while (i < dims) { s += vs(off + i).toDouble * q(i).toDouble; i += 1 }
        -s
      }
      case "euclidean" => (vs, off, dims, q, _, _) => {
        var s = 0.0; var i = 0
        while (i < dims) {
          val d = vs(off + i).toDouble - q(i).toDouble; s += d * d; i += 1
        }
        math.sqrt(s)
      }
      case "sq_euclidean" => (vs, off, dims, q, _, _) => {
        var s = 0.0; var i = 0
        while (i < dims) {
          val d = vs(off + i).toDouble - q(i).toDouble; s += d * d; i += 1
        }
        s
      }
      case "manhattan" => (vs, off, dims, q, _, _) => {
        var s = 0.0; var i = 0
        while (i < dims) {
          s += math.abs(vs(off + i).toDouble - q(i).toDouble); i += 1
        }
        s
      }
      case "chebyshev" => (vs, off, dims, q, _, _) => {
        var s = 0.0; var i = 0
        while (i < dims) {
          val d = math.abs(vs(off + i).toDouble - q(i).toDouble)
          if (d > s) s = d; i += 1
        }
        s
      }
      case "hamming" => (vs, off, dims, q, _, _) => {
        var s = 0.0; var i = 0
        while (i < dims) {
          if ((vs(off + i) != 0.0f) != (q(i) != 0.0f)) s += 1.0; i += 1
        }
        s
      }
      case other => throw new IllegalArgumentException(s"unknown metric $other")
    }

  /** Kernel selection for the serving paths: the scalar f64 kernel is
    * the default (bit-identical to [[search]] — the oracle
    * contract); `simd = true` swaps in the f32 [[VectorSimd]] kernel
    * when the vector module resolves in the CURRENT JVM, else falls
    * back to scalar. Called inside task closures so each executor JVM
    * makes its own (cached-per-JVM) decision.
    */
  private[graft] def pickFlatKernel(metric: String, simd: Boolean)
      : (Array[Float], Int, Int, Array[Float], Double, Double) => Double =
    if (simd && Simd.available)
      Simd.flatKernel(metric).getOrElse(flatScoreKernel(metric))
    else flatScoreKernel(metric)

  /** Batched ANN over a [[PackedIndex]]: per-query [[search]]'s exact
    * semantics (same probe algebra, kernels, (distance, id) tie order) for
    * a whole batch in one job, with zero per-batch decode — the loop reads flat primitive floats straight from the block
    * cache. Row-outer / prober-inner keeps each 1.5 KB vector L1-resident
    * across all its cell's probers, so DRAM traffic is one pass over the
    * probed cells regardless of batch size.
    */
  /** `payloadPred` (filtered ANN serving): rows whose packed payload fails
    * the predicate are skipped BEFORE scoring — the kernel-level analogue
    * of `search_with_filter`, paying one long-compare instead of a
    * dims-length dot product per excluded row. Requires the index to have
    * been packed with `payloadCol`.
    */
  /** `simd = true` (serving opt-in): score with the f32 SIMD kernel
    * ([[VectorSimd]], ~8× the scalar f64 kernel at 384 dims) — top-k is
    * then selected by f32-accumulated distances, so ties/last-ulp ranks
    * can differ from the exact kernel; recall stays ~1.0 (AnnSpec floor)
    * and it is what the reference's own SIMD engine computes. Oracle-
    * gated paths keep the default exact kernel.
    */
  def batchSearchPacked(px: PackedIndex, queries: Seq[(Int, Array[Float])],
                        k: Int, nprobe: Int, idCol: String = "id",
                        roundTo: Option[Int] = None,
                        maxDriverMergeRows: Long = 4000000L,
                        payloadPred: Option[Long => Boolean] = None,
                        simd: Boolean = false): DataFrame = {
    import graft.functions.TopKAgg
    val spark = org.apache.spark.sql.SparkSession.active
    import spark.implicits._
    val qarr = queries.toArray
    val cellsPer = new Array[Seq[Int]](qarr.length)
    java.util.stream.IntStream.range(0, qarr.length).parallel()
      .forEach(i => cellsPer(i) =
        probeCells(px.centroids, px.metric, qarr(i)._2, nprobe))
    val byCell: Map[Int, CellProbers] =
      qarr.indices.flatMap { i =>
        val (qid, qv) = qarr(i); val n2 = norm2(qv)
        cellsPer(i).map(c => (c, (qid, qv, n2)))
      }.groupBy(_._1).map { case (c, xs) => c -> splitProbers(xs.map(_._2)) }
    val bc = spark.sparkContext.broadcast(byCell)
    val metric = px.metric
    val kk = k
    val rndScale = roundTo.getOrElse(-1)
    val dims = px.dims
    val pred: Long => Boolean = payloadPred.orNull
    val useSimd = simd
    // the per-partition scan: one pass over this partition's blocks into
    // k-bounded per-query TopBufs (shared by both finish strategies).
    // A function VAL, not a def — a nested def would lift into a closure
    // class holding the whole enclosing frame (including the
    // non-serializable RDD); the lambda captures only what it reads.
    val scanPartition: Iterator[PackedBlock] => java.util.HashMap[Int, TopBuf] = { it =>
      val score = pickFlatKernel(metric, useSimd)
      // query-blocked SIMD (dot/euclidean families): one row load feeds
      // 4 probers' accumulator chains — the raw sums land in a reused
      // scratch array and the metric transform runs per prober after
      // 0 = per-pair kernel; 1-3 dot family (cosine/cos_norm/dot);
      // 4-5 euclidean family — a plain int so the hot loop never
      // branches on a string
      val blockKind =
        if (useSimd && Simd.available) metric match {
          case "cosine" => 1
          case "cosine_normalized" => 2
          case "dot" => 3
          case "euclidean" => 4
          case "sq_euclidean" => 5
          case _ => 0
        } else 0
      val needsNorm = metric == "cosine"
      val bufs = new java.util.HashMap[Int, TopBuf]()
      var scratch = Array.emptyFloatArray
      it.foreach { b =>
        val probers = bc.value.getOrElse(b.cell, null)
        if (probers != null) {
          require(pred == null || b.payload.length == b.ids.length,
            "payloadPred requires an index packed with payloadCol")
          val n = b.ids.length
          val m = probers.length
          // hoist the per-query buffers for this block: the inner loop
          // indexes an aligned array instead of a HashMap per (row, query)
          val qbufs = new Array[TopBuf](m)
          var j0 = 0
          while (j0 < m) {
            val qid = probers.qids(j0)
            var buf = bufs.get(qid)
            if (buf == null) { buf = new TopBuf(kk); bufs.put(qid, buf) }
            qbufs(j0) = buf; j0 += 1
          }
          if (blockKind != 0 && scratch.length < m) scratch = new Array[Float](m)
          val vecs = b.vecs; val ids = b.ids; val norms2 = b.norms2
          var i = 0
          while (i < n) {
            if (pred == null || pred(b.payload(i))) {
              val off = i * dims
              val vn2 = if (needsNorm) norms2(i) else 0.0
              val id = ids(i)
              if (blockKind != 0) {
                if (blockKind <= 3)
                  VectorSimd.dotBlock(vecs, off, dims, probers.qvs, m, scratch)
                else
                  VectorSimd.sqEuclideanBlock(vecs, off, dims, probers.qvs,
                    m, scratch)
                var j = 0
                while (j < m) {
                  val s = scratch(j).toDouble
                  var d =
                    if (blockKind == 1) {
                      val qn2 = probers.qn2s(j)
                      if (vn2 == 0.0 || qn2 == 0.0) 1.0
                      else 1.0 - s / (math.sqrt(vn2) * math.sqrt(qn2))
                    } else if (blockKind == 2) 1.0 - s
                    else if (blockKind == 3) -s
                    else if (blockKind == 4) math.sqrt(s)
                    else s // sq_euclidean
                  if (rndScale >= 0) d = roundHalfUp(d, rndScale)
                  qbufs(j).insert(d, id)
                  j += 1
                }
              } else {
                var j = 0
                while (j < m) {
                  var d = score(vecs, off, dims, probers.qvs(j), vn2,
                    probers.qn2s(j))
                  if (rndScale >= 0) d = roundHalfUp(d, rndScale)
                  qbufs(j).insert(d, id)
                  j += 1
                }
              }
            }
            i += 1
          }
        }
      }
      bufs
    }
    // Finish: partials are k-bounded (≤ |partitions|·|queries|·k rows).
    // When that bound is driver-sized, merging the per-partition TopBufs
    // on the driver skips an entire exchange + aggregate stage — at
    // batch-serving shapes that stage costs more than the scan itself.
    // Each partition ships ONE packed primitive-array triple instead of
    // |queries|·k boxed tuples (the tuple deserialization was a
    // measurable slice of the batch at 2000×10×32 partials). Beyond the
    // bound (cluster-scale fan-in) the bounded top-k aggregate keeps the
    // reduction distributed. Both finishes pick the identical canonical
    // k-smallest-(distance, id) set per query.
    val estPartials =
      px.blocks.getNumPartitions.toLong * qarr.length.toLong * kk
    if (estPartials <= maxDriverMergeRows) {
      import scala.jdk.CollectionConverters._
      val parts = px.blocks.mapPartitions { it =>
        val bufs = scanPartition(it)
        if (bufs.isEmpty) Iterator.empty
        else {
          var total = 0
          bufs.values().iterator().asScala.foreach(total += _.n)
          val qids = new Array[Int](total)
          val scores = new Array[Double](total)
          val pids = new Array[Long](total)
          var at = 0
          bufs.entrySet().iterator().asScala.foreach { e =>
            val b = e.getValue
            var i = 0
            while (i < b.n) {
              qids(at) = e.getKey.intValue()
              scores(at) = b.scores(i)
              pids(at) = b.ids(i)
              at += 1; i += 1
            }
          }
          Iterator.single((qids, scores, pids))
        }
      }.collect()
      val merged = new java.util.HashMap[Int, TopBuf]()
      parts.foreach { case (qids, scores, pids) =>
        var i = 0
        while (i < qids.length) {
          var b = merged.get(qids(i))
          if (b == null) { b = new TopBuf(kk); merged.put(qids(i), b) }
          b.insert(scores(i), pids(i))
          i += 1
        }
      }
      val rows = merged.entrySet().iterator().asScala.flatMap { e =>
        val b = e.getValue
        (0 until b.n).iterator
          .map(i => (e.getKey.intValue(), b.ids(i), b.scores(i)))
      }.toSeq
      rows.toDF("query_id", idCol, "distance")
    } else {
      import scala.jdk.CollectionConverters._
      val partial = px.blocks.mapPartitions { it =>
        scanPartition(it).entrySet().iterator().asScala.flatMap { e =>
          val b = e.getValue
          (0 until b.n).iterator
            .map(i => (e.getKey.intValue(), b.scores(i), b.ids(i)))
        }
      }
      partial.toDF("query_id", "__d", "__id")
        .groupBy(col("query_id"))
        .agg(TopKAgg.topKF(kk)(col("__d"), col("__id")).as("__top"))
        .select(col("query_id"), explode(col("__top")).as("__t"))
        .select(col("query_id"), col("__t._2").as(idCol),
          col("__t._1").as("distance"))
    }
  }

  /** Blocked near-duplicate join: pairs within maxDistance *inside each
    * cell* — the 100 TB path for embedding near-dup (cells are
    * executor-sized). Cross-cell near-dups are the recall trade:
    * `multiAssign = m` places every row in its m nearest cells, so a pair
    * straddling a cell boundary still meets in the runner-up cell
    * (AnnSpec plants such a pair and asserts recovery at m = 2). Join
    * input grows to rows×m — bounded and linear, unlike any all-pairs
    * fallback; pairs meeting in several shared cells dedupe with one
    * distinct on the (already distance-filtered, small) output.
    */
  def nearDupBlocked(ix: Index, idCol: String, vecCol: String,
                     maxDistance: Double, multiAssign: Int = 1): DataFrame = {
    require(multiAssign >= 1, s"multiAssign must be >= 1, got $multiAssign")
    val assigned =
      if (multiAssign <= 1)
        ix.assigned.select(col("cell"), col(idCol), col(vecCol))
      else
        ix.assigned.select(
          explode(probeCellsOf(col(vecCol), ix.centroids, ix.metric,
            multiAssign)).as("cell"),
          col(idCol), col(vecCol))
    val a = assigned.select(col("cell"), col(idCol).as("id_a"),
      col(vecCol).as("v_a"))
    val b = assigned.select(col("cell"), col(idCol).as("id_b"),
      col(vecCol).as("v_b"))
    val pairs = a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("distance",
        round(Distances.distance(ix.metric, col("v_a"), col("v_b")), 6))
      .filter(col("distance") <= maxDistance)
      .select(col("id_a"), col("id_b"), col("distance"))
    if (multiAssign <= 1) pairs else pairs.distinct()
  }

  /** recall@k of an approximate result against the exact result. */
  def recallAtK(exact: DataFrame, approx: DataFrame, idCol: String): Double = {
    val e = exact.select(col(idCol)).collect().map(_.get(0)).toSet
    if (e.isEmpty) return 1.0
    val a = approx.select(col(idCol)).collect().map(_.get(0)).toSet
    e.intersect(a).size.toDouble / e.size
  }
}

/** Random-hyperplane (sign) LSH for cosine ANN — multi-table bucket join.
  * Each table hashes a vector to a `numPlanes`-bit bucket (sign of dot with
  * seeded random planes); candidates share a bucket in ≥1 table; exact
  * re-rank picks the top-k. All shuffles are equi-joins on (table, bucket).
  */
object Lsh {

  private[graft] def planes(dims: Int, numPlanes: Int, seed: Long): Array[Array[Float]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(numPlanes)(Array.fill(dims)((rnd.nextGaussian()).toFloat))
  }

  /** Bucket id column for one table. */
  def bucket(vecCol: Column, dims: Int, numPlanes: Int, seed: Long): Column = {
    val ps = planes(dims, numPlanes, seed)
    ps.zipWithIndex.map { case (p, i) =>
      when(-graft.functions.Distances.dot(vecCol, lit(p)) > 0, lit(1L << i))
        .otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** ANN top-k via multi-table buckets. */
  def search(df: DataFrame, idCol: String, vecCol: String,
             query: Array[Float], k: Int, dims: Int,
             numTables: Int = 4, numPlanes: Int = 12, seed: Long = 42L,
             metric: String = "cosine",
             roundTo: Option[Int] = None): DataFrame = {
    val qBuckets: Seq[(Int, Long)] = (0 until numTables).map { t =>
      val ps = planes(dims, numPlanes, seed + t)
      val b = ps.zipWithIndex.map { case (p, i) =>
        var dot = 0.0; var j = 0
        while (j < dims) { dot += query(j).toDouble * p(j); j += 1 }
        if (dot > 0) 1L << i else 0L
      }.sum
      (t, b)
    }
    val candFilter = qBuckets.map { case (t, b) =>
      bucket(col(vecCol), dims, numPlanes, seed + t) === b
    }.reduce(_ || _)
    val raw = graft.functions.Distances.distance(metric, col(vecCol), lit(query))
    val dist = roundTo.fold(raw)(n => round(raw, n))
    df.filter(candFilter)
      .withColumn("distance", dist)
      .orderBy(col("distance").asc, col(idCol).asc)
      .limit(k)
  }
}
