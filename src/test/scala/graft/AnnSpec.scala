package graft

import org.apache.spark.sql.functions._

import graft.ann.{Ivf, LocalServe, Lsh}
import graft.functions.Distances

/** Recall harness for the ANN layer (mirrors the reference's
  * src/recall_benchmark.rs approach: exact brute force is ground truth).
  */
class AnnSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = sf("embeddings")
  private lazy val query: Array[Float] = emb.filter(col("vec_id") === 0)
    .select("embedding").collect()(0).getSeq[Float](0).toArray

  /** Every metric, and the frame each is checked on: hamming counts
    * zero-ness flips, which dense embeddings never have, so it runs on
    * the embeddings with negative components zeroed.
    */
  private val metrics = graft.functions.Metric.all.map(_.name)
  private def embFor(metric: String) =
    if (metric != "hamming") emb
    else emb.withColumn("embedding",
      transform(col("embedding"), x => greatest(x, lit(0f))))

  private def exactTopK(k: Int) =
    emb.withColumn("distance",
        round(Distances.cosine(col("embedding"), lit(query)), 6))
      .orderBy(col("distance").asc, col("vec_id").asc)
      .limit(k)

  test("ivf with nprobe = numCells is exact (recall 1.0)") {
    val ix = Ivf.build(emb, col("embedding"), numCells = 8)
    val approx = Ivf.search(ix, query, 10, nprobe = 8,
      idCol = "vec_id", vecCol = "embedding", roundTo = Some(6))
    assert(Ivf.recallAtK(exactTopK(10), approx, "vec_id") == 1.0)
    // and the actual rows match the exact result
    val e = exactTopK(10).select("vec_id").as[Long].collect().toSeq
    val a = approx.select("vec_id").as[Long].collect().toSeq
    assert(e == a)
  }

  test("ivf partial probe keeps high recall at a fraction of the scan") {
    val ix = Ivf.build(emb, col("embedding"), numCells = 8)
    val approx = Ivf.search(ix, query, 10, nprobe = 3,
      idCol = "vec_id", vecCol = "embedding", roundTo = Some(6))
    val recall = Ivf.recallAtK(exactTopK(10), approx, "vec_id")
    assert(recall >= 0.7, s"recall@10 = $recall")
    // scan fraction: cells probed hold well under the full row count
    val probed = Ivf.probeCells(ix, query, 3)
    val scanned = ix.assigned.filter(col("cell").isin(probed: _*)).count()
    assert(scanned < emb.count())
  }

  test("ivf batchSearchPacked is row-identical to per-query Ivf.search") {
    for (metric <- metrics; nprobe <- Seq(2, 8)) {
      val data = embFor(metric)
      val queries = data.filter(col("vec_id") < 5).orderBy("vec_id")
        .select("embedding").collect()
        .map(_.getSeq[Float](0).toArray).zipWithIndex.map(_.swap).toSeq
      val ix = Ivf.build(data, col("embedding"), numCells = 8, metric)
      val px = Ivf.pack(ix, "vec_id", "embedding")
      def rows(df: org.apache.spark.sql.DataFrame) = df
        .select(col("query_id"), col("vec_id").cast("long"), col("distance"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
        .sortBy(x => (x._1, x._3, x._2)).toSeq
      val single = queries.flatMap { case (qid, qv) =>
        rows(Ivf.search(ix, qv, 5, nprobe, "vec_id", "embedding",
          roundTo = Some(6)).withColumn("query_id", lit(qid)))
      }
      // both finishes: driver-side TopBuf merge and the distributed
      // bounded top-k aggregate (maxDriverMergeRows = 0 forces the latter)
      val packed = rows(Ivf.batchSearchPacked(px, queries, 5, nprobe,
        "vec_id", roundTo = Some(6)))
      val packedAgg = rows(Ivf.batchSearchPacked(px, queries, 5, nprobe,
        "vec_id", roundTo = Some(6), maxDriverMergeRows = 0L))
      px.unpersist()
      assert(packed == single, s"metric=$metric nprobe=$nprobe")
      assert(packedAgg == single, s"agg finish: metric=$metric nprobe=$nprobe")
    }
  }

  test("packed payload filter at full probe equals exact filtered top-k") {
    val ix = Ivf.build(emb, col("embedding"), numCells = 8)
    val px = Ivf.pack(ix, "vec_id", "embedding", payloadCol = Some("label"))
    val queries = emb.filter(col("vec_id") < 3).orderBy("vec_id")
      .select("embedding").collect()
      .map(_.getSeq[Float](0).toArray).zipWithIndex.map(_.swap).toSeq
    val got = Ivf.batchSearchPacked(px, queries, 5, nprobe = 8, "vec_id",
        roundTo = Some(6), payloadPred = Some((p: Long) => p < 5))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
    val filtered = emb.filter(col("label") < 5)
    queries.foreach { case (qid, qv) =>
      val exact = filtered.withColumn("distance",
          round(Distances.cosine(col("embedding"), lit(qv)), 6))
        .orderBy(col("distance").asc, col("vec_id").asc).limit(5)
        .select(col("vec_id").cast("long"), col("distance"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(got(qid).map(x => (x._2, x._3)).toSet == exact, s"query=$qid")
    }
    px.unpersist()
  }

  test("LocalServe.search equals Ivf.search row for row") {
    import graft.ann.LocalServe
    for (metric <- metrics) {
      val data = embFor(metric)
      val q = data.filter(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0).toArray
      val ix = Ivf.build(data, col("embedding"), numCells = 8, metric)
      val li = LocalServe.fromIndex(ix, "vec_id", "embedding")
      Seq(2, 8).foreach { nprobe =>
        val dist = Ivf.search(ix, q, 10, nprobe, "vec_id", "embedding")
          .select(col("vec_id").cast("long"), col("distance"))
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        val local = LocalServe.search(li, q, 10, nprobe).toSeq
        assert(local == dist, s"metric=$metric nprobe=$nprobe")
      }
    }
  }

  test("a row's cell is the first cell probed for its vector, for every " +
      "metric, built or written") {
    for (metric <- metrics) {
      val ix = Ivf.build(embFor(metric), col("embedding"), numCells = 8,
        metric)
      val rows = ix.assigned.select(col("cell"), col("embedding")).collect()
        .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      val off = rows.count { case (cell, v) =>
        Ivf.probeCells(ix, v, 1).head != cell }
      assert(off == 0, s"metric=$metric: $off of ${rows.length} rows " +
        "outside the cell probed first for their own vector")
      // a row written after the build is read back at nprobe 1: k above
      // the row count returns the whole probed cell
      val writes = rows.take(60).zipWithIndex.map { case ((_, v), i) =>
        (1000000L + i, v.reverse) }
      val li = LocalServe.addBatch(
        LocalServe.fromIndex(ix, "vec_id", "embedding"), writes)
      val missed = writes.count { case (id, v) =>
        !LocalServe.search(li, v, 1000, 1).exists(_._1 == id) }
      assert(missed == 0, s"metric=$metric: $missed of ${writes.length} " +
        "written rows not found at nprobe 1")
    }
  }

  test("LocalServe.fromIndex refuses collections beyond maxRows") {
    val ix = Ivf.build(emb, col("embedding"), numCells = 4)
    intercept[IllegalArgumentException] {
      graft.ann.LocalServe.fromIndex(ix, "vec_id", "embedding", maxRows = 10)
    }
  }

  test("ivf blocked near-dup is a subset of the exact near-dup pairs") {
    val small = emb.filter(col("vec_id") < 120)
    val exact = graft.pipeline.Dedup.embeddingNearDup(
      small, col("vec_id"), col("embedding"), maxDistance = 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val ix = Ivf.build(small, col("embedding"), numCells = 4)
    val blocked = Ivf.nearDupBlocked(ix, "vec_id", "embedding", 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(blocked.subsetOf(exact))
    if (exact.nonEmpty)
      assert(blocked.size.toDouble / exact.size >= 0.5,
        s"blocked recall ${blocked.size}/${exact.size}")
  }

  test("multi-assignment recovers a planted boundary near-dup pair") {
    val base = emb.filter(col("vec_id") < 200)
      .select(col("vec_id"), col("embedding"))
    val ix0 = Ivf.build(base, col("embedding"), numCells = 4)
    val cents = ix0.centroids
    def cosDist(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      1.0 - dot / (math.sqrt(na) * math.sqrt(nb))
    }
    // plant a near-dup pair straddling the boundary between the two
    // mutually-closest centroids: each point leans slightly toward one
    val (ci, cj) = (for {
      i <- cents.indices; j <- cents.indices if i < j
    } yield ((i, j), cosDist(cents(i), cents(j)))).minBy(_._2)._1
    // mix the NORMALIZED centroids — under cosine the Voronoi boundary
    // lies between the unit directions, not the raw (norm-skewed) vectors
    def unit(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.map(x => (x / n).toFloat)
    }
    def mix(wa: Float): Array[Float] =
      unit(cents(ci)).zip(unit(cents(cj)))
        .map { case (x, y) => x * wa + y * (1f - wa) }
    val p1 = mix(0.51f); val p2 = mix(0.49f)
    val thr = math.max(1e-6, cosDist(p1, p2) * 2)
    val planted = base.unionAll(
      Seq((9001L, p1.toSeq), (9002L, p2.toSeq)).toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>")))
    val ix = Ivf.Index(cents, planted.withColumn("cell",
      Ivf.cellOf(col("embedding"), cents, ix0.metric)), ix0.metric)
    // precondition: the plant really does split across two cells
    val plantCells = ix.assigned.filter(col("vec_id") >= 9001)
      .select("cell").as[Int].collect().toSet
    assert(plantCells.size == 2, s"plant landed in one cell: $plantCells")
    def hasPair(df: org.apache.spark.sql.DataFrame): Boolean =
      df.filter(col("id_a") === 9001L && col("id_b") === 9002L).count() == 1
    val single = Ivf.nearDupBlocked(ix, "vec_id", "embedding", thr)
    val multi = Ivf.nearDupBlocked(ix, "vec_id", "embedding", thr,
      multiAssign = 2)
    assert(!hasPair(single), "boundary pair should be invisible single-assigned")
    assert(hasPair(multi), "multiAssign=2 should recover the boundary pair")
    // multi-assignment output is a superset of the single-assigned pairs
    val sp = single.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val mp = multi.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(sp.subsetOf(mp))
  }

  test("lsh candidates give reasonable recall with bounded scan") {
    // fewer planes per table = wider buckets (higher collision probability);
    // more tables recover recall: p ≈ 1-(1-cosθ-ish^6)^10
    val approx = Lsh.search(emb, "vec_id", "embedding", query, k = 10,
      dims = 64, numTables = 12, numPlanes = 4, roundTo = Some(6))
    val recall = Ivf.recallAtK(exactTopK(10), approx, "vec_id")
    assert(recall >= 0.5, s"lsh recall@10 = $recall")
  }
}

/** Storage-layer proof of the IVF scale path: cells written with
  * partitionBy become real partition-pruned scans.
  */
class IvfStorageSpec extends SparkSpec {
  import spark.implicits._

  test("cell-partitioned parquet prunes at the scan (PartitionFilters)") {
    val emb = sf("embeddings")
    val ix = Ivf.build(emb, col("embedding"), numCells = 4)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    ix.assigned.write.partitionBy("cell").mode("overwrite").parquet(dir)
    val stored = spark.read.parquet(dir)
    val cells = Ivf.probeCells(ix, emb.filter(col("vec_id") === 0)
      .select("embedding").collect()(0).getSeq[Float](0).toArray, 1)
    val pruned = stored.filter(col("cell").isin(cells: _*))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"))
    // pruned scan reads strictly fewer rows than the table holds
    assert(pruned.count() < stored.count())
  }

  test("writeIndex/loadIndex round-trips and the loaded search prunes files") {
    val emb = sf("embeddings")
    val query = emb.filter(col("vec_id") === 0)
      .select("embedding").collect()(0).getSeq[Float](0).toArray
    val ix = Ivf.build(emb, col("embedding"), numCells = 4)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfix").toString
    Ivf.writeIndex(ix, dir)
    val loaded = Ivf.loadIndex(spark, dir)
    assert(loaded.metric == ix.metric)
    assert(loaded.centroids.length == ix.centroids.length)
    assert(loaded.centroids.zip(ix.centroids)
      .forall { case (a, b) => a.sameElements(b) })
    // full probe on the stored index reproduces the in-memory result
    def rows(i: Ivf.Index) =
      Ivf.search(i, query, 10, nprobe = 4, "vec_id", "embedding",
        roundTo = Some(6))
        .select(col("vec_id").cast("long"), col("distance"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rows(loaded) == rows(ix))
    // pruned probe opens strictly fewer files than the table holds: the
    // scan node's numFiles metric counts files AFTER partition pruning
    // (Dataset.inputFiles would list the whole relation)
    val probed = Ivf.probeCells(loaded, query, 1)
    def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
      val plan = df.queryExecution.executedPlan
      plan.execute().count() // run this exact plan so metrics populate
      plan.collectLeaves().flatMap(_.metrics.get("numFiles"))
        .map(_.value).sum
    }
    val prunedFiles = filesRead(
      loaded.assigned.filter(col("cell").isin(probed: _*)))
    val allFiles = filesRead(loaded.assigned)
    assert(prunedFiles > 0 && prunedFiles < allFiles,
      s"pruned scan read $prunedFiles of $allFiles files")
  }

  test("SIMD kernels resolve in forked JVMs and agree with scalar") {
    // build.sbt forks every JVM with --add-modules jdk.incubator.vector;
    // if this regresses, the simd serving mode silently degrades to
    // scalar — fail loudly here instead.
    assert(graft.ann.Simd.available,
      "jdk.incubator.vector did not resolve — check build.sbt javaOptions")
    val rnd = new scala.util.Random(7)
    val dims = 384
    val vs = Array.fill(16 * dims)(rnd.nextFloat() - 0.5f)
    val q = Array.fill(dims)(rnd.nextFloat() - 0.5f)
    val qn2 = Ivf.norm2(q)
    for (metric <- Seq("cosine", "cosine_normalized", "dot", "euclidean",
        "sq_euclidean", "manhattan", "chebyshev", "hamming")) {
      val scalar = Ivf.flatScoreKernel(metric)
      val simd = graft.ann.Simd.flatKernel(metric).get
      (0 until 16).foreach { i =>
        val off = i * dims
        var vn2 = 0.0
        var j = 0
        while (j < dims) { vn2 += vs(off + j).toDouble * vs(off + j); j += 1 }
        val s = scalar(vs, off, dims, q, vn2, qn2)
        val f = simd(vs, off, dims, q, vn2, qn2)
        if (metric == "hamming") assert(f == s)
        else assert(math.abs(f - s) <= 1e-4 * math.max(1.0, math.abs(s)),
          s"metric=$metric row=$i scalar=$s simd=$f")
      }
    }
    // hamming counts positions whose zero-ness differs, as dist_hamming
    // does: over vectors with zeros (and a -0.0) both flat kernels equal
    // DistanceKernels.hamming
    val sparse = vs.map(x => if (x < 0f) 0f else x)
    sparse(3) = -0.0f
    val sq = q.map(x => if (x < 0.1f) 0f else x)
    def arr(xs: Array[Float]) =
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(xs)
    val hams = (0 until 16).map { i =>
      val off = i * dims
      val want = graft.functions.DistanceKernels.hamming(
        arr(sparse.slice(off, off + dims)), arr(sq))
      assert(Ivf.flatScoreKernel("hamming")(sparse, off, dims, sq, 0, 0) ==
        want, s"scalar hamming row=$i")
      assert(graft.ann.Simd.flatKernel("hamming").get(
        sparse, off, dims, sq, 0, 0) == want, s"simd hamming row=$i")
      want
    }
    assert(hams.distinct.size > 1, s"hamming distances $hams")
    // zero-vector convention (cosine): both kernels pin the distance to 1
    val zeros = new Array[Float](dims)
    assert(graft.ann.Simd.flatKernel("cosine").get(
      zeros, 0, dims, q, 0.0, qn2) == 1.0)
    // query-blocked kernels agree with the per-pair f32 kernels for
    // every m (exercises the 4-blocked body AND the <4 tail)
    for (m <- 1 to 6) {
      val qs = Array.fill(m)(Array.fill(dims)(rnd.nextFloat() - 0.5f))
      val outD = new Array[Float](m)
      val outE = new Array[Float](m)
      (0 until 4).foreach { i =>
        val off = i * dims
        graft.ann.VectorSimd.dotBlock(vs, off, dims, qs, m, outD)
        graft.ann.VectorSimd.sqEuclideanBlock(vs, off, dims, qs, m, outE)
        (0 until m).foreach { j =>
          val d = graft.ann.VectorSimd.dot(vs, off, dims, qs(j))
          val e = graft.ann.VectorSimd.sqEuclidean(vs, off, dims, qs(j))
          assert(math.abs(outD(j) - d) <= 1e-3f * math.max(1f, math.abs(d)),
            s"dotBlock m=$m row=$i q=$j: ${outD(j)} vs $d")
          assert(math.abs(outE(j) - e) <= 1e-3f * math.max(1f, e),
            s"sqEuclideanBlock m=$m row=$i q=$j: ${outE(j)} vs $e")
        }
      }
    }
  }

  test("packed simd serving mode keeps recall 1.0 on the fixture") {
    val emb = sf("embeddings")
    val queries = emb.filter(col("vec_id") < 5).orderBy("vec_id")
      .select("embedding").collect()
      .map(_.getSeq[Float](0).toArray).zipWithIndex.map(_.swap).toSeq
    // cosine + euclidean + manhattan: exercises the query-blocked dot
    // family, the blocked euclidean family, and the per-pair fallback
    for (metric <- Seq("cosine", "euclidean", "manhattan")) {
      val ix = Ivf.build(emb, col("embedding"), numCells = 8, metric)
      val px = Ivf.pack(ix, "vec_id", "embedding")
      val got = Ivf.batchSearchPacked(px, queries, 10, nprobe = 8, "vec_id",
          simd = true)
        .collect().map(r => (r.getInt(0), r.getLong(1))).groupBy(_._1)
      px.unpersist()
      val dist = graft.functions.Distances
      queries.foreach { case (qid, qv) =>
        val dcol = metric match {
          case "cosine" => dist.cosine(col("embedding"), lit(qv))
          case "euclidean" => dist.euclidean(col("embedding"), lit(qv))
          case _ => dist.manhattan(col("embedding"), lit(qv))
        }
        val exact = emb.withColumn("distance", dcol)
          .orderBy(col("distance").asc, col("vec_id").asc).limit(10)
          .select(col("vec_id").cast("long")).as[Long].collect().toSet
        val ids = got(qid).map(_._2).toSet
        val recall = ids.intersect(exact).size / 10.0
        assert(recall >= 0.9, s"metric=$metric query=$qid recall=$recall")
      }
    }
  }

  test("LocalServe serve-under-writes: addBatch, remove, copy-on-write") {
    val emb = sf("embeddings")
    val dims = emb.select("embedding").head.getSeq[Float](0).length
    val query = emb.filter(col("vec_id") === 0)
      .select("embedding").collect()(0).getSeq[Float](0).toArray
    val ix = Ivf.build(emb, col("embedding"), numCells = 8)
    val li0 = LocalServe.fromIndex(ix, "vec_id", "embedding")
    val before = LocalServe.search(li0, query, 5, nprobe = 8)
    // insert a vector AT the query point: it must serve first, and the
    // OLD snapshot must not see it (copy-on-write isolation)
    val newId = 999999L
    val li1 = LocalServe.addBatch(li0, Seq((newId, query.clone())))
    assert(li1.liveCount == li0.liveCount + 1)
    // the new vector IS the query, so it ties vec_id 0 at distance 0
    // and (distance, id) order puts it second
    val after = LocalServe.search(li1, query, 5, nprobe = 8)
    assert(after.take(2).map(_._1).contains(newId) &&
      after(1)._2 == 0.0, s"got ${after.toSeq}")
    assert(LocalServe.search(li0, query, 5, nprobe = 8).toSeq == before.toSeq)
    // tombstone it: result set returns to the original
    val li2 = LocalServe.remove(li1, Seq(newId))
    assert(li2.liveCount == li0.liveCount)
    assert(LocalServe.search(li2, query, 5, nprobe = 8).toSeq == before.toSeq)
    // and the li1 snapshot still serves it (immutability both ways)
    assert(LocalServe.search(li1, query, 5, nprobe = 8)
      .take(2).map(_._1).contains(newId))
    // re-using a tombstoned id is rejected (an id-level tombstone can't
    // tell the old physical copy from the new one — replace = fresh
    // surrogate id, the REST model)
    intercept[IllegalArgumentException] {
      LocalServe.addBatch(li2, Seq((newId, query.clone())))
    }
    // ...but a fresh surrogate serves immediately
    val li3 = LocalServe.addBatch(li2, Seq((newId + 1, query.clone())))
    assert(LocalServe.search(li3, query, 5, nprobe = 8)
      .take(2).map(_._1).contains(newId + 1))
    // dims guard
    intercept[IllegalArgumentException] {
      LocalServe.addBatch(li0, Seq((1L, new Array[Float](dims + 1))))
    }
  }

  test("LocalServe simd mode matches its exact mode's id set") {
    val emb = sf("embeddings")
    val query = emb.filter(col("vec_id") === 0)
      .select("embedding").collect()(0).getSeq[Float](0).toArray
    val ix = Ivf.build(emb, col("embedding"), numCells = 8)
    val li = LocalServe.fromIndex(ix, "vec_id", "embedding")
    val exactIds = LocalServe.search(li, query, 10, nprobe = 8).map(_._1).toSet
    val simdIds = LocalServe.search(li, query, 10, nprobe = 8, simd = true)
      .map(_._1).toSet
    val recall = simdIds.intersect(exactIds).size / 10.0
    assert(recall >= 0.9, s"recall=$recall")
  }
}
