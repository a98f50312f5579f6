package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Compression advisor (reference: src/indexing/compression_advisor.rs):
  * given a vector collection, measure what each quantization strategy
  * (SQ8 / PQ / binary) would do to recall@k, memory, and reconstruction
  * error, then recommend the most compressed strategy meeting each
  * target recall.
  *
  * Scale shape: the ANALYSIS is sample-bounded by the reference's own
  * semantics (compression_advisor.rs:367-372 stratified sample, default
  * 10k), so the Spark cost is one `Ivf.boundedSample` scan; everything
  * downstream is driver-local arithmetic over ≤ maxSampleSize vectors.
  * The quantizers evaluated are the engine's OWN trainers
  * ([[Quantization.trainSq]]/[[Quantization.trainPq]]/
  * [[Quantization.trainBq]]), so the advisor scores exactly what a
  * migration would deploy — not a lookalike. The REPORT then projects to
  * full-collection size (`projectMemorySavings(totalVectors)`), which is
  * where the 100 TB decision actually happens: the advisor reads
  * megabytes to decide about terabytes.
  */
object CompressionAdvisor {

  /** compression_advisor.rs:27-47. */
  final case class AdvisorConfig(maxSampleSize: Int = 10000,
                                 numTestQueries: Int = 100,
                                 recallK: Int = 10,
                                 targetRecalls: Seq[Double] =
                                   Seq(0.99, 0.95, 0.90, 0.85),
                                 seed: Long = 42L)

  final case class StrategyResult(strategy: String,
                                  recallAtK: Double,
                                  compressionRatio: Double,
                                  bytesPerVector: Long,
                                  reconstructionError: Double)

  /** compression_advisor.rs:94-109. */
  final case class DistributionAnalysis(numVectors: Int, dimensions: Int,
                                        meanVariance: Double,
                                        coeffVariation: Double,
                                        clusteringTendency: Double)

  final case class Recommendation(targetRecall: Double, strategy: String,
                                  achievedRecall: Double,
                                  compressionRatio: Double, savings: String)

  final case class AdvisorReport(distribution: DistributionAnalysis,
                                 strategies: Seq[StrategyResult],
                                 recommendations: Seq[Recommendation]) {

    /** compression_advisor.rs:190-208, projected to the full collection. */
    def projectMemorySavings(totalVectors: Long): Seq[(String, Long, Long, Double)] =
      strategies.map { s =>
        val original = distribution.dimensions.toLong * 4 * totalVectors
        val compressed = s.bytesPerVector * totalVectors
        (s.strategy, compressed, math.max(0L, original - compressed),
          s.recallAtK)
      }

    /** compression_advisor.rs:210-295: ordered steps for applying the
      * best recommendation — phrased for the Spark engine (codes column
      * + two-phase rerank rather than HNSW rebuild).
      */
    def migrationPlan(collection: String, totalVectors: Long): Seq[String] = {
      val best = recommendations.headOption.map(_.strategy).getOrElse("None")
      best match {
        case "None" => Seq(s"$collection: no migration needed (f32 already optimal)")
        case "SQ8" => Seq(
          s"$collection: train per-dimension min/max on a bounded sample",
          s"add a codes column: sqEncode over $totalVectors vectors (1 byte/dim)",
          "serve via two-phase sqSearchRerank (coarse codes scan, exact re-rank)",
          "validate recall on held-out queries")
        case s if s.startsWith("PQ") => Seq(
          s"$collection: train PQ codebooks (k-means per subspace) on a bounded sample",
          s"add a codes column: pqEncode over $totalVectors vectors",
          "serve via two-phase pqSearchRerank (ADC tables, exact re-rank)",
          "validate recall on held-out queries")
        case _ => Seq(
          s"$collection: train sign thresholds (per-dimension means)",
          s"add a bits column: bqEncode over $totalVectors vectors",
          "serve via two-phase bqSearchRerank (Hamming coarse rank, exact re-rank)",
          "validate recall on held-out queries")
      }
    }
  }

  private def euclid(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    math.sqrt(s)
  }

  private def topK(base: Array[Array[Float]], q: Array[Float],
                   k: Int): Set[Int] =
    base.indices.map(i => (i, euclid(q, base(i))))
      .sortBy(_._2).take(k).map(_._1).toSet

  private def recall(results: Seq[Set[Int]], truth: Seq[Set[Int]]): Double =
    if (truth.isEmpty) 0.0
    else results.zip(truth)
      .map { case (r, t) => (r & t).size.toDouble / t.size }
      .sum / truth.length

  /** Analyze a collection's vector column (compression_advisor.rs:355). */
  def analyze(df: DataFrame, vecCol: Column,
              config: AdvisorConfig = AdvisorConfig()): AdvisorReport = {
    val sampleDf = Ivf.boundedSample(
      df.select(vecCol.cast("array<float>").as("v")),
      config.maxSampleSize, config.seed).cache()
    try {
    val sample = sampleDf.collect().map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "No vectors to analyze")
    val dim = sample(0).length

    val distribution = analyzeDistribution(sample, dim)

    // split: queries are the tail of the sample (advisor.rs:378-380)
    val numQueries = math.max(1, math.min(config.numTestQueries,
      sample.length / 10))
    val (base, queries) = sample.splitAt(sample.length - numQueries)
    val k = math.min(config.recallK, base.length)
    val truth = queries.toSeq.map(q => topK(base, q, k))

    val strategies = Seq.newBuilder[StrategyResult]
    strategies += StrategyResult("None", 1.0, 1.0, dim.toLong * 4, 0.0)

    // SQ8: the engine's own trainer; eval vs the dequantized vectors
    val sq = Quantization.trainSq(sampleDf, col("v"))
    val sqDecoded = base.map { v =>
      val codes = v.indices.map { i =>
        math.max(0f, math.min(255f, (v(i) - sq.minVals(i)) * sq.scale(i)))
          .toByte
      }
      codes.toArray.zipWithIndex.map { case (c, i) =>
        (c & 0xff).toFloat / sq.scale(i) + sq.minVals(i)
      }
    }
    strategies += StrategyResult("SQ8",
      recall(queries.toSeq.map(q => topK(sqDecoded, q, k)), truth),
      4.0, dim.toLong,
      base.zip(sqDecoded).map { case (o, d) => euclid(o, d) }.sum /
        base.length)

    // PQ at dim/4 and dim/2 subvectors (advisor.rs:401-406)
    Seq(dim / 4, dim / 2).foreach { m =>
      if (m > 0 && dim % m == 0) {
        val pq = Quantization.trainPq(sampleDf, col("v"), m)
        val sub = pq.subDim
        val pqDecoded = base.map { v =>
          val out = new Array[Float](dim)
          var s = 0
          while (s < m) {
            val slice = v.slice(s * sub, (s + 1) * sub)
            val cb = pq.codebooks(s)
            var bestI = 0; var bestD = Double.MaxValue
            var c = 0
            while (c < cb.length) {
              val d = euclid(slice, cb(c))
              if (d < bestD) { bestD = d; bestI = c }
              c += 1
            }
            System.arraycopy(cb(bestI), 0, out, s * sub, sub)
            s += 1
          }
          out
        }
        strategies += StrategyResult(s"PQ$m",
          recall(queries.toSeq.map(q => topK(pqDecoded, q, k)), truth),
          dim * 4.0 / m, m.toLong,
          base.zip(pqDecoded).map { case (o, d) => euclid(o, d) }.sum /
            base.length)
      }
    }

    // Binary: Hamming ranking against the query's own bits
    val bq = Quantization.trainBq(sampleDf, col("v"))
    def bits(v: Array[Float]): Array[Long] = {
      val words = new Array[Long]((dim + 63) / 64)
      var i = 0
      while (i < dim) {
        if (v(i) > bq.thresholds(i)) words(i / 64) |= 1L << (i % 64)
        i += 1
      }
      words
    }
    val baseBits = base.map(bits)
    val bqResults = queries.toSeq.map { q =>
      val qb = bits(q)
      base.indices.map { i =>
        var h = 0; var w = 0
        while (w < qb.length) {
          h += java.lang.Long.bitCount(qb(w) ^ baseBits(i)(w)); w += 1
        }
        (i, h)
      }.sortBy(_._2).take(k).map(_._1).toSet
    }
    strategies += StrategyResult("Binary",
      recall(bqResults, truth), dim * 4.0 / ((dim + 7) / 8),
      ((dim + 7) / 8).toLong, Double.NaN)

    val all = strategies.result()
    AdvisorReport(distribution, all,
      recommendations(all, dim, config.targetRecalls))
    // cache feeds the collect AND the three quantizer trainings; released
    // on every exit, the empty-sample require and failed jobs included
    } finally sampleDf.unpersist()
  }

  /** compression_advisor.rs:424-493: per-dim variance moments + a
    * distance-variance clustering-tendency proxy.
    */
  private def analyzeDistribution(sample: Array[Array[Float]],
                                  dim: Int): DistributionAnalysis = {
    val n = sample.length
    val means = new Array[Double](dim)
    sample.foreach(v => (0 until dim).foreach(i => means(i) += v(i)))
    (0 until dim).foreach(i => means(i) /= n)
    val variance = new Array[Double](dim)
    sample.foreach(v => (0 until dim).foreach { i =>
      val d = v(i) - means(i); variance(i) += d * d
    })
    (0 until dim).foreach(i => variance(i) /= n)
    val meanVar = variance.sum / dim
    val varOfVar = variance.map(v => (v - meanVar) * (v - meanVar)).sum / dim
    val cv = if (meanVar > 0) math.sqrt(varOfVar) / meanVar else 0.0
    val m = math.min(50, n)
    val dists = for (i <- 0 until m; j <- i + 1 until m)
      yield euclid(sample(i), sample(j))
    val tendency = if (dists.isEmpty) 0.5 else {
      val dm = dists.sum / dists.length
      val dv = dists.map(d => (d - dm) * (d - dm)).sum / dists.length
      math.min(1.0, dv / (dm * dm + 1e-10))
    }
    DistributionAnalysis(n, dim, meanVar, cv, tendency)
  }

  /** compression_advisor.rs:687-730: per target, the highest-compression
    * strategy whose measured recall clears it; f32 fallback otherwise.
    */
  private def recommendations(strategies: Seq[StrategyResult], dim: Int,
                              targets: Seq[Double]): Seq[Recommendation] =
    targets.map { t =>
      strategies.filter(_.recallAtK >= t)
        .sortBy(-_.compressionRatio).headOption match {
        case Some(best) =>
          val savedPct = (1.0 - best.bytesPerVector.toDouble / (dim * 4)) * 100
          Recommendation(t, best.strategy, best.recallAtK,
            best.compressionRatio, f"$savedPct%.0f%% memory savings")
        case None =>
          Recommendation(t, "None", 1.0, 1.0, "No compression meets target")
      }
    }
}
