package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Distances

/** Vector quantization for scan-bandwidth reduction (SURVEY.md §4.1;
  * reference: src/indexing/quantization.rs — ScalarQuantizer :135-290,
  * BinaryQuantizer :536-600).
  *
  * At 100 TB the scan is the cost: SQ8 stores 1 byte/dim (4× less IO than
  * f32), binary packs 1 bit/dim (32×). The search pattern is two-phase:
  * rank by cheap quantized distance over the compact codes column, keep
  * k×oversample candidates, re-rank those exactly on the full vectors —
  * only the candidate rows ever touch the wide column (Parquet column
  * pruning does the rest). Quantizer state (per-dim min/scale or
  * thresholds) is trained on a bounded driver-side sample, like the IVF
  * centroids.
  *
  * Formulas match the reference bit-for-bit where integral:
  *   - code_i  = clamp((v_i − min_i)·scale_i, 0, 255) as u8,
  *     scale_i = 255/(max_i − min_i) (1.0 when range ≤ 1e-10)
  *   - asymmetric_distance(q, c) = √Σ (q_i − (c_i/scale_i + min_i))²
  *   - symmetric distance² = Σ (a_i − b_i)² / avg_scale²
  *   - binary: bit_i = v_i > mean_i, packed LSB-first into ⌈dims/8⌉ bytes;
  *     hamming = popcount(xor)
  */
object Quantization {

  // ------------------------------------------------------------------ SQ8

  final case class Sq(minVals: Array[Float], scale: Array[Float]) {
    def dims: Int = minVals.length
    def avgScale: Float =
      if (scale.isEmpty) 1.0f else scale.sum / scale.length
  }

  /** Train per-dimension min/max on a bounded sample
    * (quantization.rs:154-212).
    */
  def trainSq(df: DataFrame, vecCol: Column, maxTrainRows: Int = 100000): Sq = {
    // per-dim min/max via posexplode + groupBy (one pass, tiny result)
    val mm = Ivf.boundedSample(
        df.select(vecCol.cast("array<float>").as("v")), maxTrainRows)
      .select(posexplode(col("v")))
      .toDF("dim", "x")
      .groupBy("dim").agg(min("x").as("mn"), max("x").as("mx"))
      .orderBy("dim").collect()
    val minVals = mm.map(_.getFloat(1))
    val maxVals = mm.map(_.getFloat(2))
    val scale = minVals.zip(maxVals).map { case (mn, mx) =>
      val range = mx - mn
      if (range > 1e-10f) 255.0f / range else 1.0f
    }
    Sq(minVals, scale)
  }

  /** Column: Array[Float] → quantized codes as BinaryType (1 byte/dim). */
  def sqEncode(sq: Sq)(vecCol: Column): Column = {
    val enc = udf((v: Seq[Float]) => {
      val out = new Array[Byte](v.length)
      var i = 0
      while (i < out.length) {
        val n = (v(i) - sq.minVals(i)) * sq.scale(i)
        out(i) = math.max(0f, math.min(255f, n)).toByte // u8 via toInt wrap-safe clamp
        i += 1
      }
      out
    })
    enc(vecCol.cast("array<float>"))
  }

  /** Asymmetric distance column: f32 query vs u8 codes
    * (quantization.rs:277-289) — √Σ(q_i − decoded_i)², f32 accumulation
    * to match the reference.
    */
  def sqAsymmetricDist(sq: Sq, query: Array[Float])(codesCol: Column): Column = {
    val d = udf((codes: Array[Byte]) => {
      var sum = 0.0f
      var i = 0
      while (i < codes.length) {
        val decoded = (codes(i) & 0xff).toFloat / sq.scale(i) + sq.minVals(i)
        val diff = query(i) - decoded
        sum += diff * diff
        i += 1
      }
      math.sqrt(sum.toDouble).toFloat.toDouble
    })
    d(codesCol)
  }

  /** Symmetric code-to-code distance² scaled by the cached average scale
    * (quantization.rs:265-275).
    */
  def sqSymmetricDistSq(sq: Sq)(aCol: Column, bCol: Column): Column = {
    val avg = sq.avgScale
    val d = udf((a: Array[Byte], b: Array[Byte]) => {
      var sum = 0L
      var i = 0
      while (i < a.length) {
        val diff = (a(i) & 0xff) - (b(i) & 0xff)
        sum += (diff * diff).toLong
        i += 1
      }
      sum.toFloat / (avg * avg)
    })
    d(aCol, bCol)
  }

  /** Two-phase SQ search: rank by asymmetric distance over the codes
    * column, keep k×oversample, exact re-rank on the full vectors. The
    * coarse pass reads only the 1-byte/dim codes (Parquet prunes the f32
    * column); the exact pass touches ≤ k×oversample rows.
    */
  def sqSearchRerank(df: DataFrame, sq: Sq, query: Array[Float], k: Int,
                     idCol: String = "id", vecCol: String = "vector",
                     codesCol: String = "codes", oversample: Int = 4,
                     metric: String = "euclidean",
                     roundTo: Option[Int] = None): DataFrame = {
    val coarse = df
      .withColumn("__qd", sqAsymmetricDist(sq, query)(col(codesCol)))
      .orderBy(col("__qd").asc, col(idCol).asc)
      .limit(k * oversample)
    val raw = Distances.distance(metric, col(vecCol), lit(query))
    val dist = roundTo.fold(raw)(n => round(raw, n))
    coarse
      .withColumn("distance", dist)
      .orderBy(col("distance").asc, col(idCol).asc)
      .limit(k)
      .drop("__qd")
  }

  // ------------------------------------------------------------------- PQ

  /** Product quantizer (quantization.rs:317-530): the vector splits into
    * `numSubvectors` contiguous subspaces; each learns a ≤256-centroid
    * codebook (k-means on a bounded sample), so a vector stores as one
    * byte per subspace — dims·4/numSubvectors × compression. Query-time
    * ADC: per-subspace squared-distance tables against the query, summed
    * by code lookup, √ at the end (quantization.rs:468-503).
    */
  final case class Pq(codebooks: Array[Array[Array[Float]]], subDim: Int) {
    def numSubvectors: Int = codebooks.length
  }

  def trainPq(df: DataFrame, vecCol: Column, numSubvectors: Int,
              maxTrainRows: Int = 20000, maxIter: Int = 20,
              seed: Long = 42L): Pq = {
    val train = Ivf.boundedSample(
        df.select(vecCol.cast("array<float>").as("v")), maxTrainRows, seed)
      .collect().map(_.getSeq[Float](0).toArray)
    require(train.nonEmpty, "PQ training needs vectors")
    val dims = train(0).length
    val subDim = dims / numSubvectors
    val codebooks = Array.tabulate(numSubvectors) { m =>
      val sub = train.map(_.slice(m * subDim, (m + 1) * subDim))
      Ivf.localKMeans(sub, math.min(256, sub.length), maxIter, seed + m)
    }
    Pq(codebooks, subDim)
  }

  /** Column: Array[Float] → one code byte per subspace (BinaryType). */
  def pqEncode(pq: Pq)(vecCol: Column): Column = {
    val enc = udf((v: Seq[Float]) => {
      val out = new Array[Byte](pq.numSubvectors)
      var m = 0
      while (m < pq.numSubvectors) {
        val base = m * pq.subDim
        val book = pq.codebooks(m)
        var best = 0; var bestD = Float.MaxValue
        var c = 0
        while (c < book.length) {
          var d = 0.0f; var i = 0
          while (i < pq.subDim) {
            val diff = v(base + i) - book(c)(i); d += diff * diff; i += 1
          }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        out(m) = best.toByte
        m += 1
      }
      out
    })
    enc(vecCol.cast("array<float>"))
  }

  /** ADC distance column: per-subspace table lookups summed, then √
    * (quantization.rs:497-503). The table is computed once on the driver
    * and ships in the closure — numSubvectors×256 floats.
    */
  def pqAdcDist(pq: Pq, query: Array[Float])(codesCol: Column): Column = {
    val table: Array[Array[Float]] = Array.tabulate(pq.numSubvectors) { m =>
      val base = m * pq.subDim
      pq.codebooks(m).map { c =>
        var d = 0.0f; var i = 0
        while (i < pq.subDim) {
          val diff = query(base + i) - c(i); d += diff * diff; i += 1
        }
        d
      }
    }
    val f = udf((codes: Array[Byte]) => {
      var d = 0.0f
      var m = 0
      while (m < codes.length) {
        d += table(m)(codes(m) & 0xff)
        m += 1
      }
      math.sqrt(d.toDouble)
    })
    f(codesCol)
  }

  /** Two-phase PQ search: ADC pre-rank over code bytes, exact re-rank. */
  def pqSearchRerank(df: DataFrame, pq: Pq, query: Array[Float], k: Int,
                     idCol: String = "id", vecCol: String = "vector",
                     codesCol: String = "codes", oversample: Int = 4,
                     metric: String = "euclidean",
                     roundTo: Option[Int] = None): DataFrame = {
    val coarse = df
      .withColumn("__qd", pqAdcDist(pq, query)(col(codesCol)))
      .orderBy(col("__qd").asc, col(idCol).asc)
      .limit(k * oversample)
    val raw = Distances.distance(metric, col(vecCol), lit(query))
    val dist = roundTo.fold(raw)(n => round(raw, n))
    coarse
      .withColumn("distance", dist)
      .orderBy(col("distance").asc, col(idCol).asc)
      .limit(k)
      .drop("__qd")
  }

  // ------------------------------------------------------- split two-phase

  /** IO-minimal two-phase search over SPLIT storage: the codes live in
    * their own narrow table (id + codes — the thing you actually want on
    * 100 TB, where a coarse pass over a combined table still scans the f32
    * column's bytes; see the ReadSchema assertions in QuantizationSpec).
    * Phase 1 ranks the codes table only; phase 2 fetches the k×oversample
    * candidates from the full table via an `isin` predicate that pushes to
    * the parquet scan (row-group min/max skipping — the candidate list is
    * driver-bounded at k×oversample ids, so the literal filter is small).
    */
  def twoPhaseSplit(codesDf: DataFrame, fullDf: DataFrame,
                    coarseDist: Column => Column, query: Array[Float],
                    k: Int, idCol: String, vecCol: String,
                    codesCol: String, oversample: Int,
                    metric: String, roundTo: Option[Int]): DataFrame = {
    val candIds: Array[Any] = codesDf
      .select(col(idCol), coarseDist(col(codesCol)).as("__qd"))
      .orderBy(col("__qd").asc, col(idCol).asc)
      .limit(k * oversample)
      .select(idCol).collect().map(_.get(0))
    val raw = Distances.distance(metric, col(vecCol), lit(query))
    val dist = roundTo.fold(raw)(n => round(raw, n))
    fullDf
      .filter(col(idCol).isin(candIds.toIndexedSeq: _*))
      .withColumn("distance", dist)
      .orderBy(col("distance").asc, col(idCol).asc)
      .limit(k)
  }

  def sqSearchRerankSplit(codesDf: DataFrame, fullDf: DataFrame, sq: Sq,
                          query: Array[Float], k: Int,
                          idCol: String = "id", vecCol: String = "vector",
                          codesCol: String = "codes", oversample: Int = 4,
                          metric: String = "euclidean",
                          roundTo: Option[Int] = None): DataFrame =
    twoPhaseSplit(codesDf, fullDf, sqAsymmetricDist(sq, query), query, k,
      idCol, vecCol, codesCol, oversample, metric, roundTo)

  def pqSearchRerankSplit(codesDf: DataFrame, fullDf: DataFrame, pq: Pq,
                          query: Array[Float], k: Int,
                          idCol: String = "id", vecCol: String = "vector",
                          codesCol: String = "codes", oversample: Int = 4,
                          metric: String = "euclidean",
                          roundTo: Option[Int] = None): DataFrame =
    twoPhaseSplit(codesDf, fullDf, pqAdcDist(pq, query), query, k,
      idCol, vecCol, codesCol, oversample, metric, roundTo)

  // --------------------------------------------------------------- binary

  final case class Bq(thresholds: Array[Float]) { def dims: Int = thresholds.length }

  /** Per-dimension mean thresholds (quantization.rs:545-572). */
  def trainBq(df: DataFrame, vecCol: Column, maxTrainRows: Int = 100000): Bq = {
    val mm = Ivf.boundedSample(
        df.select(vecCol.cast("array<float>").as("v")), maxTrainRows)
      .select(posexplode(col("v")))
      .toDF("dim", "x")
      .groupBy("dim").agg(avg("x").as("mean"))
      .orderBy("dim").collect()
    Bq(mm.map(_.getDouble(1).toFloat))
  }

  /** Column: Array[Float] → LSB-first packed sign bits, ⌈dims/8⌉ bytes. */
  def bqEncode(bq: Bq)(vecCol: Column): Column = {
    val enc = udf((v: Seq[Float]) => {
      val out = new Array[Byte]((v.length + 7) / 8)
      var i = 0
      while (i < v.length) {
        if (v(i) > bq.thresholds(i)) out(i / 8) = (out(i / 8) | (1 << (i % 8))).toByte
        i += 1
      }
      out
    })
    enc(vecCol.cast("array<float>"))
  }

  /** Hamming distance between packed codes (quantization.rs:588-597). */
  def bqHamming(aCol: Column, bCol: Column): Column = {
    val d = udf((a: Array[Byte], b: Array[Byte]) => {
      var sum = 0
      var i = 0
      while (i < a.length) {
        sum += java.lang.Integer.bitCount((a(i) ^ b(i)) & 0xff)
        i += 1
      }
      sum
    })
    d(aCol, bCol)
  }

  /** Two-phase binary search: Hamming pre-rank over packed bits (32× less
    * IO than f32), exact re-rank of k×oversample candidates.
    */
  def bqSearchRerank(df: DataFrame, bq: Bq, query: Array[Float], k: Int,
                     idCol: String = "id", vecCol: String = "vector",
                     codesCol: String = "codes", oversample: Int = 8,
                     metric: String = "cosine",
                     roundTo: Option[Int] = None): DataFrame = {
    val qCodes = {
      val out = new Array[Byte]((query.length + 7) / 8)
      var i = 0
      while (i < query.length) {
        if (query(i) > bq.thresholds(i)) out(i / 8) = (out(i / 8) | (1 << (i % 8))).toByte
        i += 1
      }
      out
    }
    val coarse = df
      .withColumn("__hd", bqHamming(col(codesCol), lit(qCodes)))
      .orderBy(col("__hd").asc, col(idCol).asc)
      .limit(k * oversample)
    val raw = Distances.distance(metric, col(vecCol), lit(query))
    val dist = roundTo.fold(raw)(n => round(raw, n))
    coarse
      .withColumn("distance", dist)
      .orderBy(col("distance").asc, col(idCol).asc)
      .limit(k)
      .drop("__hd")
  }
}
