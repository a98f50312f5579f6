package graft

import org.apache.spark.sql.functions._

import graft.ops.{Extras, PipelineDsl}
import graft.ops.PipelineDsl._

class PipelineDslSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = sf("embeddings")
  private lazy val query: Array[Float] = emb.filter(col("vec_id") === 0)
    .select("embedding").collect()(0).getSeq[Float](0).toArray

  test("templates: all 10 exist; optimize moves filters after search") {
    assert(Templates.list.size == 10)
    val p = SearchPipeline("t")
      .addStage(SearchStage(30))
      .addStage(LimitStage(10))
      .addStage(FilterStage("""{"label": {"$lt": 5}}"""))
    val opt = p.optimize()
    assert(opt.stages.map(_.stageType) == Seq("search", "filter", "limit"))
    assert(p.summary.contains("search -> limit -> filter"))
  }

  test("json round-trip") {
    val p = Templates.fullRag(5, """{"label": 3}""")
    val back = SearchPipeline.fromJson(p.toJson)
    assert(back.name == "full-rag")
    assert(back.stages.map(_.stageType) == p.stages.map(_.stageType))
    assert(back.stages.collect { case FilterStage(f, _) => f } ==
      Seq("""{"label": 3}"""))
  }

  test("execute: search/filter/threshold/limit compile to one plan") {
    val p = SearchPipeline("x")
      .addStage(SearchStage(50))
      .addStage(FilterStage("""{"label": {"$lt": 5}}"""))
      .addStage(ThresholdStage(0.95))
      .addStage(LimitStage(10))
    val res = p.execute(emb, col("embedding"), "vec_id", query,
      roundTo = Some(6))
    assert(res.count() <= 10)
    assert(res.filter(col("label") >= 5 || col("distance") > 0.95).count() == 0)
  }

  test("execute: diversify stage bounds result to k") {
    val p = Templates.diverseRag(5, 0.7)
    val res = p.execute(emb, col("embedding"), "vec_id", query,
      roundTo = Some(6))
    assert(res.count() == 5)
  }
}

class ExtrasSpec extends SparkSpec {
  import spark.implicits._

  test("searchExplain wraps results + plan + timing") {
    val df = sf("embeddings").limit(5)
    val ex = Extras.searchExplain(df)
    assert(ex.resultCount == 5 && ex.totalTimeMs > 0)
    assert(ex.physicalPlan.contains("Physical Plan"))
  }

  test("ensemble rerank: weighted rrf over member lists") {
    val m1 = Seq((1L, 10.0), (2L, 5.0)).toDF("id", "score")
    val m2 = Seq((2L, 9.0), (3L, 1.0)).toDF("id", "score")
    val got = Extras.ensembleRerank(Seq((m1, 1.0), (m2, 1.0)), k = 10)
      .as[(Long, Double)].collect().toMap
    def c(r: Int) = 1.0 / (60 + r)
    assert(math.abs(got(2L) - (c(2) + c(1))) < 1e-12)
    assert(math.abs(got(1L) - c(1)) < 1e-12)
    assert(math.abs(got(3L) - c(2)) < 1e-12)
  }

  test("query-type features + classification + weight presets") {
    import Extras._
    assert(classify(extractFeatures("what is spark")) == QueryType.Semantic)
    assert(classify(extractFeatures("\"exact phrase\" lookup")) == QueryType.Keyword)
    assert(classify(extractFeatures("foo.bar(baz)")) == QueryType.Mixed)
    assert(weightsFor(QueryType.Semantic).vectorWeight == 0.7)
    assert(weightsFor(QueryType.Keyword).bm25Weight == 0.7)
  }

  test("field stats: cardinality + nulls + threshold flag") {
    val stats = Extras.fieldStats(sf("documents"), Seq("lang", "source"),
      cardinalityThreshold = 10)
    stats.select("field", "cardinality", "high_cardinality")
      .as[(String, Long, Boolean)].collect()
    val langRow = stats.filter(col("field") === "lang")
      .select("cardinality", "high_cardinality").as[(Long, Boolean)].head()
    assert(langRow._1 == 5 && !langRow._2)
    val srcRow = stats.filter(col("field") === "source")
      .select("cardinality", "high_cardinality").as[(Long, Boolean)].head()
    assert(srcRow._1 == 20 && srcRow._2)
  }

  test("provenance struct column") {
    val df = Extras.withProvenance(sf("documents").limit(3), "crawl-7", 1234L)
    val p = df.select("provenance.source", "provenance.created_at")
      .as[(String, Long)].head()
    assert(p == (("crawl-7", 1234L)))
  }
}

class GraftExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("salted join preserves inner-join semantics") {
    val left = Seq((1, "a"), (1, "b"), (2, "c"), (3, "d")).toDF("k", "lv")
    val right = Seq((1, "X"), (2, "Y")).toDF("k", "rv")
    val plain = left.join(right, "k").select("k", "lv", "rv")
      .as[(Int, String, String)].collect().sortBy(_.toString).toSeq
    val salted = graft.ops.Extras.saltedJoin(left, right, "k", salt = 4)
      .select("k", "lv", "rv")
      .as[(Int, String, String)].collect().sortBy(_.toString).toSeq
    assert(salted == plain)
  }

  test("extensions apply cleanly to a SparkSessionExtensions instance") {
    val ext = new graft.GraftExtensions
    val target = new org.apache.spark.sql.SparkSessionExtensions
    ext(target) // registers one function builder per metric; must not throw
    // and the session's installed builders produce working expressions
    val got = Seq((Array(3f, 4f), Array(0f, 0f))).toDF("a", "b")
      .selectExpr("dist_euclidean(a, b)").as[Double].head()
    assert(got == 5.0)
  }

  test("SparkSpec runs the engine session: its conf and dist_* with no register call") {
    val conf = spark.conf
    assert(conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold") == "65536")
    assert(conf.get("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    val v = Seq((Array(1f, 0f), Array(0f, 1f))).toDF("a", "b")
    val cos = v.selectExpr("dist_cosine(a, b)").as[Double].head()
    assert(math.abs(cos - 1.0) < 1e-12)
    val l2 = v.selectExpr("dist_euclidean(a, b)").as[Double].head()
    assert(math.abs(l2 - math.sqrt(2)) < 1e-12)
  }

}

class ValidationSpec extends SparkSpec {
  import spark.implicits._

  private lazy val vecs = Seq(
    (1L, Array(1f, 2f)),
    (2L, Array(1f, 2f, 3f)),          // wrong dims
    (3L, Array(Float.NaN, 1f)),       // NaN
    (4L, Array(Float.PositiveInfinity, 0f)), // Inf
    (5L, null.asInstanceOf[Array[Float]]),   // null vector
  ).toDF("id", "v")

  test("dims + NaN/Inf/null rejection (insert.rs:36, validation.rs)") {
    val (ok, bad) = graft.core.Validation.partition(vecs, col("v"), dims = 2)
    assert(ok.select("id").as[Long].collect().toSeq == Seq(1L))
    assert(bad.select("id").as[Long].collect().sorted.toSeq == Seq(2L, 3L, 4L, 5L))
    assertThrows[IllegalArgumentException](
      graft.core.Validation.requireValid(vecs, col("v"), 2))
    graft.core.Validation.requireValid(vecs.filter(col("id") === 1), col("v"), 2)
  }
}

class MetadataSchemaSpec extends SparkSpec {
  import spark.implicits._
  import graft.core.Validation

  private val schema =
    """{"required": ["title"],
      |"properties": {"title": {"type": "string"},
      |               "score": {"type": "number"},
      |               "tags": {"type": "array"}}}""".stripMargin

  test("JSON-Schema subset: required + per-property type (metadata.rs:69-110)") {
    assert(Validation.validateMetadataJson("""{"title": "x", "score": 1}""", schema).isEmpty)
    assert(Validation.validateMetadataJson("""{"score": 1}""", schema)
      .contains("missing required metadata field: 'title'"))
    assert(Validation.validateMetadataJson("""{"title": 3}""", schema)
      .contains("metadata field 'title' expected type 'string', got 'number'"))
    assert(Validation.validateMetadataJson("""{"title": "x", "tags": {"a": 1}}""", schema)
      .contains("metadata field 'tags' expected type 'array', got 'object'"))
    assert(Validation.validateMetadataJson("""[1,2]""", schema)
      .contains("metadata must be a JSON object"))
    // extra fields are fine (schemaless beyond declared properties)
    assert(Validation.validateMetadataJson("""{"title": "x", "other": true}""", schema).isEmpty)
  }

  test("partitionBySchema splits a batch with per-row reasons") {
    val df = Seq(
      ("a", """{"title": "ok"}"""),
      ("b", """{"nope": 1}"""),
      ("c", """{"title": 9}""")).toDF("id", "metadata")
    val (ok, bad) = Validation.partitionBySchema(df, org.apache.spark.sql.functions.col("metadata"), schema)
    assert(ok.select("id").as[String].collect().toSeq == Seq("a"))
    val reasons = bad.select("id", "schema_error").as[(String, String)].collect().toMap
    assert(reasons("b").contains("missing required"))
    assert(reasons("c").contains("expected type 'string'"))
  }
}
