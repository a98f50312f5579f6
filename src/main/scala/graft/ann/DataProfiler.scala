package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-driven index tuning (reference: src/tuning.rs:1122-1652 —
  * DataProfiler, SmartIndexSelector, AdaptiveTuner).
  *
  * The reference profiles an in-memory sample array; here the moment
  * statistics (magnitudes, sparsity) run as ONE distributed aggregation
  * over the whole corpus — exact instead of sampled — while the
  * pairwise-distance estimators (intrinsic dimensionality, cluster count)
  * run the reference's step-capped loop over a bounded, deterministic
  * driver-side sample, exactly as written (tuning.rs:1183-1310).
  */
object DataProfiler {

  /** tuning.rs:1122-1141. */
  final case class DataProfile(dimensions: Int, sampleSize: Long,
                               meanMagnitude: Double, stdMagnitude: Double,
                               meanPairwiseDistance: Double,
                               intrinsicDimensionality: Double,
                               appearsNormalized: Boolean,
                               estimatedClusters: Int, sparsityRatio: Double)

  private val emptyProfile =
    DataProfile(0, 0L, 0.0, 0.0, 0.0, 0.0, appearsNormalized = false, 0, 0.0)

  /** Per-row (dim, magnitude, nearZero<0.001 count) as `aggregate`
    * expressions, NOT a UDF. Measured on this engine
    * (bench_history/udf_vs_hof_r16.json): the compiled-UDF formulation is
    * 1.6× SLOWER at 64-dim and ~9× slower at 384-dim than these
    * higher-order aggregates — a `Seq[Float]` UDF boxes every element on
    * deserialization, and that allocation cost grows faster with dim
    * than the interpreted-lambda overhead the UDF was meant to avoid.
    * (String-input UDFs are a different regime: no boxing — see the
    * gopher/tokenizer rows of the same artifact.) The aggregate runs
    * left-to-right over the array, so magnitude reproduces the UDF's
    * sequential double accumulation bit-for-bit; near-zero compares in
    * double exactly as the UDF did.
    */
  private[graft] def rowStatsCols(v: Column): (Column, Column, Column) = {
    val nn = coalesce(v, typedLit(Seq.empty[Float])) // null vec = empty, as the UDF did
    (size(nn),
      sqrt(aggregate(nn, lit(0.0),
        (acc, x) => acc + x.cast("double") * x.cast("double"))),
      aggregate(nn, lit(0),
        (acc, x) => acc + when(abs(x.cast("double")) < 0.001, 1).otherwise(0)))
  }

  /** Profile a vector corpus: distributed moments + sampled pair stats. */
  def profile(df: DataFrame, vecCol: Column,
              pairSampleVectors: Int = 64): DataProfile = {
    // mean/variance from fixed-point (µ-precision) sums so the moments are
    // independent of partial-aggregate merge order — a plain avg()/var_pop()
    // over millions of f64 magnitudes shifts in the last decimals with
    // partitioning, which would make profiles non-reproducible across runs
    val magE6 = round(col("mag") * 1e6, 0).cast("long")
    val magSqE6 = round(col("mag") * col("mag") * 1e6, 0).cast("long")
    val (dimC, magC, nzC) = rowStatsCols(vecCol.cast("array<float>"))
    val stats = df.select(dimC.as("dim"), magC.as("mag"), nzC.as("nz"))
      .agg(count(lit(1)).as("n"), first(col("dim")).as("dim"),
        sum(magE6).as("s1"), sum(magSqE6).as("s2"),
        sum(col("nz")).as("nz"), sum(col("dim")).as("total_vals"))
      .head()
    val n = stats.getLong(0)
    if (n == 0) return emptyProfile
    val dim = stats.getInt(1)
    val meanMag = stats.getLong(2).toDouble / (n * 1e6)
    // population variance (as the reference computes, tuning.rs:1172) via
    // E[x²] − E[x]² over the fixed-point sums
    val varMag = math.max(stats.getLong(3).toDouble / (n * 1e6) - meanMag * meanMag, 0.0)
    val stdMag = math.sqrt(varMag)
    val sparsity = stats.getLong(4).toDouble / math.max(1L, stats.getLong(5))

    // bounded deterministic sample for the pairwise estimators
    val sample: Array[Array[Float]] = df
      .select(vecCol.cast("array<float>")).limit(pairSampleVectors)
      .collect().map(_.getSeq[Float](0).toArray)
    val distances = pairwiseDistances(sample)
    val meanPair =
      if (distances.isEmpty) 0.0 else distances.sum / distances.length

    DataProfile(dim, n, meanMag, stdMag, meanPair,
      estimateIntrinsicDim(distances, dim),
      appearsNormalized = math.abs(meanMag - 1.0) < 0.1 && stdMag < 0.1,
      estimateClusters(distances), sparsity)
  }

  /** Step-capped pairwise euclidean distances (tuning.rs:1183-1205):
    * at most 1000 pairs, every `step`-th pair of the triangle.
    */
  private[graft] def pairwiseDistances(vs: Array[Array[Float]]): Array[Double] = {
    val nv = vs.length
    if (nv < 2) return Array.empty
    val totalPairs = nv * (nv - 1) / 2
    val maxPairs = math.min(1000, totalPairs)
    val step = math.max(1, totalPairs / maxPairs)
    val out = Array.newBuilder[Double]
    var pairIdx = 0; var taken = 0
    var i = 0
    while (i < nv && taken < maxPairs) {
      var j = i + 1
      while (j < nv && taken < maxPairs) {
        if (pairIdx % step == 0) {
          var ss = 0.0; var d = 0
          val a = vs(i); val b = vs(j)
          while (d < a.length) {
            val diff = a(d).toDouble - b(d).toDouble
            ss += diff * diff
            d += 1
          }
          out += math.sqrt(ss)
          taken += 1
        }
        pairIdx += 1
        j += 1
      }
      i += 1
    }
    out.result()
  }

  /** Simplified MLE intrinsic-dim estimate from the distance quantile ratio
    * (tuning.rs:1240-1266).
    */
  private[graft] def estimateIntrinsicDim(distances: Array[Double],
                                        nominalDim: Int): Double = {
    if (distances.length < 10) return nominalDim.toDouble
    val sorted = distances.sorted
    val k1 = sorted.length / 4
    val k2 = sorted.length / 2
    if (k1 == 0 || sorted(k1) < 0.0001 || sorted(k2) < 0.0001)
      return nominalDim.toDouble
    val ratio = sorted(k2) / sorted(k1)
    if (ratio <= 1.0) return nominalDim.toDouble
    math.min((math.log(ratio) / 0.693).max(1.0) * 10.0, nominalDim.toDouble)
  }

  /** Cluster-count heuristic: local maxima of a 20-bin distance histogram
    * (tuning.rs:1269-1309).
    */
  private[graft] def estimateClusters(distances: Array[Double]): Int = {
    if (distances.length < 20) return 1
    val minD = distances.min
    val maxD = distances.max
    if (maxD - minD < 0.001) return 1
    val numBins = 20
    val binWidth = (maxD - minD) / numBins
    val hist = new Array[Int](numBins)
    distances.foreach { d =>
      hist(math.min(((d - minD) / binWidth).toInt, numBins - 1)) += 1
    }
    var modes = 0
    var i = 1
    while (i < numBins - 1) {
      if (hist(i) > hist(i - 1) && hist(i) > hist(i + 1)) modes += 1
      i += 1
    }
    if (modes <= 1) 1 else modes + 1
  }
}

/** Smart index selection from an actual data sample
  * (tuning.rs:1311-1445). The reference chooses among HNSW/IVF/DiskANN;
  * this engine's modes are exact scan / IVF pruning / IVF+SQ8 / binary
  * re-rank (Tuner.recommendIndex), so the profile-driven ADJUSTMENTS keep
  * the reference's trigger conditions but speak in those modes.
  */
object SmartIndexSelector {

  final case class Selection(recommended: String,
                             profile: DataProfiler.DataProfile,
                             confidence: Double, reasoning: Seq[String],
                             suggestedIvf: Option[Tuner.IvfConfig])

  def select(df: DataFrame, vecCol: Column,
             expectedVectors: Option[Long] = None,
             targetRecall: Double = 0.95,
             memoryBudgetBytes: Option[Long] = None): Selection = {
    val profile = DataProfiler.profile(df, vecCol)
    val reasoning = Seq.newBuilder[String]
    var confidence = 0.8
    // absent an expectation, extrapolate ×10 as the reference does for its
    // assume-sample-is-10% default (tuning.rs:1340-1344)
    val expected = expectedVectors.getOrElse(profile.sampleSize * 10)
    val (baseMode, baseReasons) =
      Tuner.recommendIndex(expected, profile.dimensions, targetRecall,
        memoryBudgetBytes)
    val recommended = baseMode
    reasoning += s"Base recommendation: $baseMode (${baseReasons.last})"

    if (profile.intrinsicDimensionality > profile.dimensions * 0.5) {
      reasoning += f"High intrinsic dimensionality (${profile.intrinsicDimensionality}%.1f): cell pruning needs higher nprobe for recall"
      if (recommended.startsWith("ivf") && expected < 5000000L)
        confidence *= 0.9
    }
    if (profile.estimatedClusters > 5) {
      reasoning += s"Data appears clustered (~${profile.estimatedClusters} clusters): IVF cell pruning will be efficient"
      if (!recommended.startsWith("ivf") && expected > 500000L)
        confidence *= 0.95
    }
    if (profile.sparsityRatio > 0.5)
      reasoning += f"High sparsity (${profile.sparsityRatio * 100}%.1f%%): consider the sparse search operators"
    if (profile.appearsNormalized)
      reasoning += "Vectors appear normalized: optimal for cosine distance"

    val suggested =
      if (recommended.startsWith("ivf"))
        Some(Tuner.IvfConfig(
          numCells = math.max(4, math.sqrt(expected.toDouble).toInt),
          nprobe = if (targetRecall >= 0.95) 8 else 4))
      else None
    Selection(recommended, profile, confidence, reasoning.result(), suggested)
  }
}

/** Workload-aware adaptive tuner (tuning.rs:1448-1652): linear scorers per
  * index mode over normalized workload features, with SGD feedback. The
  * reference's three arms (HNSW / IVF / DiskANN) map to this engine's
  * in-memory IVF / IVF+SQ8 / binary re-rank — same roles (fast in-memory /
  * balanced / disk-frugal), identical initial weights and learning rule.
  */
class AdaptiveTuner(targetRecall: Double = 0.95,
                    targetLatencyMs: Double = 50.0,
                    memoryBudget: Long = 16L * 1024 * 1024 * 1024) {
  import AdaptiveTuner._

  private val observations = scala.collection.mutable.ArrayBuffer.empty[Observation]
  private val weights: Map[String, Array[Double]] = Map(
    Ivf -> Array(0.7, -0.05, 0.0, 0.1, -0.1, -0.2, 0.3, -0.2),
    IvfSq8 -> Array(0.4, 0.1, 0.0, -0.05, 0.05, 0.1, 0.1, 0.1),
    BinaryRerank -> Array(0.2, 0.2, 0.0, -0.1, 0.0, 0.15, 0.05, 0.3))
  private val learningRate = 0.01

  private def features(o: Observation): Array[Double] = Array(
    1.0,
    (if (o.vectorCount > 0) math.log(o.vectorCount.toDouble) else 0.0) / 20.0,
    o.dimensions / 4096.0,
    math.min(o.qps / 1000.0, 1.0),
    if (o.qps + o.insertRate > 0) o.insertRate / (o.qps + o.insertRate) else 0.0,
    math.min(o.avgLatencyMs / targetLatencyMs, 2.0),
    math.max(targetRecall - o.measuredRecall, 0.0),
    if (memoryBudget > 0) math.min(o.memoryBytes.toDouble / memoryBudget, 2.0)
    else 0.0)

  private def score(w: Array[Double], f: Array[Double]): Double =
    w.zip(f).map { case (a, b) => a * b }.sum

  def observe(o: Observation): Unit = synchronized { observations += o }

  /** Recommend against the most recent observation (tuning.rs:1557-1614). */
  def recommend(): Recommendation = synchronized {
    observations.lastOption match {
      case None =>
        Recommendation(Ivf,
          Seq(Ivf -> 0.7, IvfSq8 -> 0.4, BinaryRerank -> 0.2),
          shouldMigrate = false, confidence = 0.5)
      case Some(obs) =>
        val f = features(obs)
        val scores = weights.toSeq
          .map { case (mode, w) => mode -> score(w, f) }
          .sortBy(-_._2)
        val recommended = scores.head._1
        val confidence =
          math.min(math.abs(scores(0)._2 - scores(1)._2) /
            (math.abs(scores(0)._2) + 0.01), 1.0)
        Recommendation(recommended, scores,
          shouldMigrate = recommended != obs.currentIndex, confidence)
    }
  }

  /** SGD update toward observed reward (tuning.rs:1616-1647):
    * reward = 0.6·(recall − target) + 0.4·(target − latency)/target.
    */
  def feedback(obs: Observation, actualRecall: Double,
               actualLatencyMs: Double): Unit = synchronized {
    val f = features(obs)
    val reward = (actualRecall - targetRecall) * 0.6 +
      (targetLatencyMs - actualLatencyMs) / targetLatencyMs * 0.4
    weights.get(obs.currentIndex).foreach { w =>
      var i = 0
      while (i < w.length) { w(i) += learningRate * reward * f(i); i += 1 }
    }
  }

  def weightsFor(mode: String): Seq[Double] = synchronized {
    weights.get(mode).map(_.toSeq).getOrElse(Nil)
  }
}

object AdaptiveTuner {
  val Ivf = "ivf"; val IvfSq8 = "ivf+sq8"; val BinaryRerank = "binary+rerank"

  /** tuning.rs:1448-1483 WorkloadObservation. */
  final case class Observation(vectorCount: Long, dimensions: Int, qps: Double,
                               insertRate: Double, avgLatencyMs: Double,
                               measuredRecall: Double, memoryBytes: Long,
                               currentIndex: String)

  /** tuning.rs:1652-1660 AdaptiveRecommendation. */
  final case class Recommendation(recommended: String,
                                  scores: Seq[(String, Double)],
                                  shouldMigrate: Boolean, confidence: Double)
}
