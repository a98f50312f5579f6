package graft

import org.apache.spark.sql.functions._

import graft.ann.Quantization
import graft.functions.Distances

class QuantizationSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = sf("embeddings").limit(300).cache()
  private lazy val dims =
    emb.select(size(col("embedding"))).as[Int].head()

  test("SQ8 roundtrip error bounded by half a quantization step per dim") {
    val sq = Quantization.trainSq(emb, col("embedding"))
    assert(sq.dims == dims)
    val enc = emb.withColumn("codes", Quantization.sqEncode(sq)(col("embedding")))
    val row = enc.select("embedding", "codes").head()
    val v = row.getSeq[Float](0)
    val codes = row.getAs[Array[Byte]](1)
    assert(codes.length == dims)
    var i = 0
    while (i < dims) {
      val decoded = (codes(i) & 0xff).toFloat / sq.scale(i) + sq.minVals(i)
      val step = 1.0f / sq.scale(i)
      assert(math.abs(decoded - v(i)) <= step + 1e-6,
        s"dim $i: |$decoded - ${v(i)}| > $step")
      i += 1
    }
  }

  test("SQ asymmetric distance approximates exact euclidean") {
    val sq = Quantization.trainSq(emb, col("embedding"))
    val q = emb.filter(col("vec_id") === 1).select("embedding")
      .as[Seq[Float]].head().toArray
    val enc = emb.withColumn("codes", Quantization.sqEncode(sq)(col("embedding")))
    val got = enc.select(
      Distances.euclidean(col("embedding"), lit(q)).as("exact"),
      Quantization.sqAsymmetricDist(sq, q)(col("codes")).as("approx"))
      .as[(Double, Double)].collect()
    got.foreach { case (exact, approx) =>
      assert(math.abs(exact - approx) < 0.05 * math.max(1.0, exact),
        s"approx $approx too far from exact $exact")
    }
  }

  test("SQ two-phase search recall@10 >= 0.9 vs exact") {
    val sq = Quantization.trainSq(emb, col("embedding"))
    val q = emb.filter(col("vec_id") === 1).select("embedding")
      .as[Seq[Float]].head().toArray
    val enc = emb.withColumn("codes", Quantization.sqEncode(sq)(col("embedding")))
      .cache()
    val exact = emb
      .withColumn("distance", Distances.euclidean(col("embedding"), lit(q)))
      .orderBy(col("distance").asc, col("vec_id").asc).limit(10)
    val approx = Quantization.sqSearchRerank(enc, sq, q, k = 10,
      idCol = "vec_id", vecCol = "embedding")
    val r = graft.ann.Ivf.recallAtK(exact, approx, "vec_id")
    assert(r >= 0.9, s"SQ recall@10 = $r")
  }

  test("PQ ADC two-phase search recall@10 >= 0.8 and codes are 1 byte/subspace") {
    val pq = Quantization.trainPq(emb, col("embedding"), numSubvectors = 8)
    assert(pq.subDim == dims / 8)
    val q = emb.filter(col("vec_id") === 1).select("embedding")
      .as[Seq[Float]].head().toArray
    val enc = emb.withColumn("codes", Quantization.pqEncode(pq)(col("embedding")))
      .cache()
    assert(enc.select("codes").head().getAs[Array[Byte]](0).length == 8)
    val exact = emb
      .withColumn("distance", Distances.euclidean(col("embedding"), lit(q)))
      .orderBy(col("distance").asc, col("vec_id").asc).limit(10)
    val approx = Quantization.pqSearchRerank(enc, pq, q, k = 10,
      idCol = "vec_id", vecCol = "embedding", oversample = 8)
    val r = graft.ann.Ivf.recallAtK(exact, approx, "vec_id")
    assert(r >= 0.8, s"PQ recall@10 = $r")
  }

  test("split two-phase: coarse scan reads ONLY (id, codes); fetch pushes id filter") {
    val sq = Quantization.trainSq(emb, col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("qsplit").toString
    emb.withColumn("codes", Quantization.sqEncode(sq)(col("embedding")))
      .select("vec_id", "codes").write.mode("overwrite").parquet(s"$dir/codes")
    emb.write.mode("overwrite").parquet(s"$dir/full")
    val codesDf = spark.read.parquet(s"$dir/codes")
    val fullDf = spark.read.parquet(s"$dir/full")
    val q = emb.filter(col("vec_id") === 1).select("embedding")
      .as[Seq[Float]].head().toArray

    // phase-1 plan: the narrow scan must not touch any f32 vector bytes
    val coarse = codesDf
      .select(col("vec_id"), Quantization.sqAsymmetricDist(sq, q)(col("codes")).as("__qd"))
      .orderBy(col("__qd").asc, col("vec_id").asc).limit(40)
    val coarsePlan = coarse.queryExecution.executedPlan.toString
    assert(coarsePlan.contains("ReadSchema: struct<vec_id:bigint,codes:binary>"),
      s"coarse scan reads more than (id, codes):\n$coarsePlan")

    val top = Quantization.sqSearchRerankSplit(codesDf, fullDf, sq, q, k = 10,
      idCol = "vec_id", vecCol = "embedding")
    // phase-2 plan: candidate id list pushed into the parquet scan
    assert(top.queryExecution.executedPlan.toString.contains("PushedFilters: [In(vec_id"),
      "candidate id filter not pushed to the full-table scan")
    // and the result matches exact search
    val exact = fullDf
      .withColumn("distance", Distances.euclidean(col("embedding"), lit(q)))
      .orderBy(col("distance").asc, col("vec_id").asc).limit(10)
    assert(graft.ann.Ivf.recallAtK(exact, top, "vec_id") >= 0.9)
  }

  test("binary quantizer packs sign bits and ranks near-dups first") {
    val bq = Quantization.trainBq(emb, col("embedding"))
    assert(bq.dims == dims)
    val enc = emb.withColumn("codes", Quantization.bqEncode(bq)(col("embedding")))
    val bytes = enc.select("codes").head().getAs[Array[Byte]](0)
    assert(bytes.length == (dims + 7) / 8)
    // self-hamming = 0; two-phase search puts the query row first
    val q = emb.filter(col("vec_id") === 1).select("embedding")
      .as[Seq[Float]].head().toArray
    val top = Quantization.bqSearchRerank(enc, bq, q, k = 5,
      idCol = "vec_id", vecCol = "embedding")
      .select("vec_id").as[Long].collect()
    assert(top.head == 1L)
  }
}
