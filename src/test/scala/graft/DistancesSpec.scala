package graft

import org.apache.spark.sql.functions._

import graft.functions.{Distances, Metric}
import graft.ops.Search

/** Ports of the reference's property-based invariants
  * (tests/property_tests.rs: distance non-negativity :96, self-distance
  * zero :106, triangle inequality :266, search ≤ k :41, results sorted
  * :122, filter consistency :148, idempotence :238).
  */
class DistancesSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(42)
  private def vec(n: Int): Array[Float] = Array.fill(n)(rnd.nextFloat() * 2 - 1)
  private val cases: Seq[(Array[Float], Array[Float])] =
    Seq.fill(50)((vec(16), vec(16)))

  private def d(m: String, a: Array[Float], b: Array[Float]): Double =
    Seq((a, b)).toDF("a", "b")
      .select(Distances.distance(m, col("a"), col("b"))).as[Double].head()

  /** Batch evaluation of a metric over all cases in one job. */
  private def dAll(m: String): Seq[(Double, Double, Double)] =
    cases.map { case (a, b) => (a, b) }.toDF("a", "b")
      .select(Distances.distance(m, col("a"), col("b")).as("ab"),
        Distances.distance(m, col("b"), col("a")).as("ba"),
        Distances.distance(m, col("a"), col("a")).as("aa"))
      .as[(Double, Double, Double)].collect().toSeq

  test("self-distance zero; symmetry; non-negativity (metrics with those laws)") {
    for (m <- Seq("euclidean", "manhattan", "chebyshev", "hamming", "sq_euclidean")) {
      val rows = dAll(m)
      rows.foreach { case (ab, ba, aa) =>
        assert(aa == 0.0, s"$m self-distance")
        assert(math.abs(ab - ba) < 1e-12, s"$m symmetry")
        assert(ab >= 0.0, s"$m non-negativity")
      }
    }
    // cosine: self-distance ~0 (fp), symmetric, within [0, 2]
    dAll("cosine").foreach { case (ab, ba, aa) =>
      assert(math.abs(aa) < 1e-12 && math.abs(ab - ba) < 1e-12)
      assert(ab >= -1e-12 && ab <= 2.0 + 1e-12)
    }
  }

  test("triangle inequality for the metric distances") {
    val triples = Seq.fill(25)((vec(12), vec(12), vec(12)))
    for (m <- Seq("euclidean", "manhattan", "chebyshev", "hamming")) {
      val rows = triples.toDF("a", "b", "c")
        .select(Distances.distance(m, col("a"), col("c")).as("ac"),
          Distances.distance(m, col("a"), col("b")).as("ab"),
          Distances.distance(m, col("b"), col("c")).as("bc"))
        .as[(Double, Double, Double)].collect()
      rows.foreach { case (ac, ab, bc) =>
        assert(ac <= ab + bc + 1e-9, s"$m triangle")
      }
    }
  }

  test("reference formula cross-checks") {
    val a = Array(1f, 0f, 2f)
    val b = Array(0f, 1f, 2f)
    assert(math.abs(d("euclidean", a, b) - math.sqrt(2)) < 1e-12)
    assert(d("manhattan", a, b) == 2.0)
    assert(d("chebyshev", a, b) == 1.0)
    assert(d("hamming", a, b) == 2.0) // positions 0 and 1 flip zero-ness
    assert(d("dot", a, b) == -4.0)    // negated dot product
    assert(math.abs(d("cosine_normalized", a, b) - (1.0 - 4.0)) < 1e-12)
    // zero-norm cosine -> 1.0 (distance.rs:153-164)
    assert(d("cosine", Array(0f, 0f, 0f), b) == 1.0)
  }

  test("dimension mismatch raises (distance.rs:77-85)") {
    val ex = intercept[Exception](d("euclidean", Array(1f, 2f), Array(1f, 2f, 3f)))
    assert(ex.getMessage.contains("Dimension mismatch")
      || ex.getCause != null)
  }

  test("metric alias parsing (distance.rs:132-145)") {
    assert(Metric.parse("l2") == Metric.Euclidean)
    assert(Metric.parse("inner_product") == Metric.Dot)
    assert(Metric.parse("L1") == Metric.Manhattan)
    assert(Metric.parse("l_inf") == Metric.Chebyshev)
    assert(Metric.parse("cosine-norm") == Metric.CosineNormalized)
    assertThrows[IllegalArgumentException](Metric.parse("nope"))
  }

  test("SQL registration: dist_* functions") {
    val got = Seq((Array(1f, 0f), Array(0f, 1f))).toDF("a", "b")
      .selectExpr("dist_euclidean(a, b)").as[Double].head()
    assert(math.abs(got - math.sqrt(2)) < 1e-12)
  }
}

class SearchOpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = sf("embeddings")
  private lazy val q = emb.filter(col("vec_id") === 1)
    .select(col("embedding").as("qv"))

  test("search returns at most k, sorted ascending (property_tests.rs:41,:122)") {
    val res = Search.topK(emb.crossJoin(broadcast(q)), col("embedding"),
      col("qv"), 7, idCol = "vec_id")
      .select("distance").as[Double].collect().toSeq
    assert(res.length == 7)
    assert(res == res.sorted)
  }

  test("search is idempotent (property_tests.rs:238)") {
    def run() = Search.topK(emb.crossJoin(broadcast(q)), col("embedding"),
      col("qv"), 5, idCol = "vec_id")
      .select("vec_id").as[Long].collect().toSeq
    assert(run() == run())
  }

  test("filtered search results all satisfy the filter (property_tests.rs:148)") {
    val res = Search.topKWithFilter(emb.crossJoin(broadcast(q)),
      col("embedding"), col("qv"), 10, col("label") === 3, idCol = "vec_id")
    assert(res.count() > 0)
    assert(res.filter(col("label") =!= 3).count() == 0)
  }

  test("radius results within bound; batch search per-query k") {
    val r = Search.radius(emb.crossJoin(broadcast(q)), col("embedding"),
      col("qv"), r = 0.9, limit = 1000, idCol = "vec_id")
    assert(r.filter(col("distance") > 0.9).count() == 0)
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vector"))
    val b = Search.batchTopK(emb, queries, k = 4, vecCol = "embedding", idCol = "vec_id")
    val counts = b.groupBy("query_id").count().select("count").as[Long].collect()
    assert(counts.forall(_ == 4))
  }

  test("normalization: minmax maps best->1 worst->0; inverse distance") {
    val res = Search.topK(emb.crossJoin(broadcast(q)), col("embedding"),
      col("qv"), 5, idCol = "vec_id")
    val mm = Search.normalizeMinMax(res).select("score").as[Double].collect()
    assert(math.abs(mm.max - 1.0) < 1e-12 && math.abs(mm.min) < 1e-12)
    val inv = Search.normalizeInverseDistance(res)
      .select("distance", "score").as[(Double, Double)].collect()
    inv.foreach { case (dst, s) => assert(math.abs(s - 1.0 / (1.0 + dst)) < 1e-12) }
  }

  test("recommend: mean(pos) - mean(neg) query, seeds excluded") {
    val res = Search.recommend(emb, col("embedding"), col("vec_id"),
      positiveIds = Seq(1L, 2L), negativeIds = Seq(3L), k = 5)
    val ids = res.select("vec_id").as[Long].collect().toSet
    assert(ids.intersect(Set(1L, 2L, 3L)).isEmpty)
    assert(ids.size == 5)
  }
}
