package graft

import org.apache.spark.sql.functions._

import graft.ann.CompressionAdvisor
import graft.ann.CompressionAdvisor._

/** Compression advisor (reference src/indexing/compression_advisor.rs):
  * strategy evaluation over the engine's own quantizers, recall-gated
  * recommendations, full-collection memory projection, migration plan.
  */
class CompressionAdvisorSpec extends SparkSpec {

  private lazy val report: AdvisorReport = CompressionAdvisor.analyze(
    sf("embeddings"), col("embedding"),
    AdvisorConfig(maxSampleSize = 500, numTestQueries = 20, recallK = 5,
      targetRecalls = Seq(0.99, 0.90, 0.50, 0.0)))

  test("strategies cover None/SQ8/PQ/Binary with sane metrics") {
    val names = report.strategies.map(_.strategy)
    assert(names.contains("None") && names.contains("SQ8") &&
      names.contains("Binary") && names.exists(_.startsWith("PQ")))
    val none = report.strategies.find(_.strategy == "None").get
    assert(none.recallAtK == 1.0 && none.compressionRatio == 1.0 &&
      none.reconstructionError == 0.0)
    val sq8 = report.strategies.find(_.strategy == "SQ8").get
    assert(sq8.recallAtK > 0.9,
      s"SQ8 recall should be near-exact, got ${sq8.recallAtK}")
    assert(sq8.compressionRatio == 4.0)
    assert(sq8.reconstructionError > 0.0 && sq8.reconstructionError < 1.0)
    report.strategies.foreach(s =>
      assert(s.recallAtK >= 0.0 && s.recallAtK <= 1.0, s.toString))
    // more compression should not improve reconstruction: SQ8 (4x) beats
    // any PQ (>= 8x here) on reconstruction error
    val pqErr = report.strategies.filter(_.strategy.startsWith("PQ"))
      .map(_.reconstructionError)
    pqErr.foreach(e => assert(e > sq8.reconstructionError))
  }

  test("distribution analysis reports the sample's shape") {
    val d = report.distribution
    assert(d.numVectors == 500)
    assert(d.dimensions == sf("embeddings")
      .select(size(col("embedding"))).head.getInt(0))
    assert(d.meanVariance > 0.0)
    assert(d.clusteringTendency >= 0.0 && d.clusteringTendency <= 1.0)
  }

  test("recommendations: highest compression meeting each target, f32 fallback") {
    val recs = report.recommendations
    assert(recs.map(_.targetRecall) == Seq(0.99, 0.90, 0.50, 0.0))
    recs.foreach { r =>
      assert(r.achievedRecall >= r.targetRecall || r.strategy == "None",
        r.toString)
    }
    // lower targets can only unlock equal-or-more compression
    recs.sliding(2).foreach { case Seq(hi, lo) =>
      assert(lo.compressionRatio >= hi.compressionRatio,
        s"$hi then $lo: compression must be monotone in relaxed targets")
    }
    // the 0.0 target is met by every strategy, so the most-compressed
    // (binary) must win
    assert(recs.last.strategy == "Binary")
  }

  test("memory projection scales linearly; migration plan matches strategy") {
    val proj = report.projectMemorySavings(1000000L)
    val dim = report.distribution.dimensions
    val none = proj.find(_._1 == "None").get
    assert(none._2 == dim.toLong * 4 * 1000000L && none._3 == 0L)
    val sq8 = proj.find(_._1 == "SQ8").get
    assert(sq8._2 == dim.toLong * 1000000L)
    assert(sq8._3 == dim.toLong * 3 * 1000000L)
    val plan = report.migrationPlan("embeddings", 1000000L)
    assert(plan.nonEmpty)
    val best = report.recommendations.head.strategy
    if (best == "SQ8") assert(plan.exists(_.contains("sqEncode")))
    if (best.startsWith("PQ")) assert(plan.exists(_.contains("pqEncode")))
    if (best == "Binary") assert(plan.exists(_.contains("bqSearchRerank")))
  }
}
