package graft

import com.fasterxml.jackson.databind.ObjectMapper

import graft.server.RestApi

/** Contract tests for the REST layer (reference: src/server/mod.rs route
  * table + types.rs bodies): exercised through the pure
  * (method, path, body) → (status, json) dispatch — no sockets — plus one
  * live round-trip through the JDK HttpServer host.
  */
class RestApiSpec extends SparkSpec {

  private val mapper = new ObjectMapper()
  private def api = {
    val a = new RestApi(spark)
    a.nowEpochS = () => 1700000000L
    val (s, _) = a.handle("POST", "/collections",
      """{"name":"docs","dimensions":3,"distance":"cosine"}""")
    assert(s == 201)
    a
  }

  private def insert(a: RestApi, id: String, v: Seq[Double],
                     meta: String = null, ttl: Long = -1): Unit = {
    val m = if (meta == null) "" else s""","metadata":$meta"""
    val t = if (ttl < 0) "" else s""","ttl_seconds":$ttl"""
    val (s, body) = a.handle("POST", "/collections/docs/vectors",
      s"""{"id":"$id","vector":[${v.mkString(",")}]$m$t}""")
    assert(s == 200, body)
  }

  test("collection lifecycle: create/list/info/delete, error shapes") {
    val a = api
    // duplicate create → 409 with the reference error body {error, code}
    val (dup, dupBody) = a.handle("POST", "/collections",
      """{"name":"docs","dimensions":3}""")
    assert(dup == 409)
    val err = mapper.readTree(dupBody)
    assert(err.get("code").asText() == "ALREADY_EXISTS")
    assert(err.get("error").asText().nonEmpty)
    // bad dims → INVALID_DIMENSIONS (handlers/collections.rs guard)
    val (bad, badBody) = a.handle("POST", "/collections",
      """{"name":"x","dimensions":0}""")
    assert(bad == 400 &&
      mapper.readTree(badBody).get("code").asText() == "INVALID_DIMENSIONS")
    insert(a, "v1", Seq(1, 0, 0))
    val (_, list) = a.handle("GET", "/collections?offset=0&limit=10", "")
    val l = mapper.readTree(list)
    assert(l.get("collections").get(0).get("name").asText() == "docs")
    assert(l.get("collections").get(0).get("count").asLong() == 1L)
    assert(l.get("pagination").get("total").asInt() == 1)
    val (_, info) = a.handle("GET", "/collections/docs", "")
    val i = mapper.readTree(info)
    assert(i.get("dimensions").asInt() == 3 && i.get("count").asLong() == 1L)
    assert(a.handle("DELETE", "/collections/docs", "")._1 == 200)
    assert(a.handle("GET", "/collections/docs", "")._1 == 404)
  }

  test("vector CRUD: insert/dup/upsert/get/delete, dimension guard") {
    val a = api
    insert(a, "v1", Seq(1, 0, 0), meta = """{"cat":"a","n":5}""")
    // duplicate id → 409; upsert replaces
    val (dup, _) = a.handle("POST", "/collections/docs/vectors",
      """{"id":"v1","vector":[0,1,0]}""")
    assert(dup == 409)
    val (up, _) = a.handle("POST", "/collections/docs/vectors/upsert",
      """{"id":"v1","vector":[0,1,0],"metadata":{"cat":"b"}}""")
    assert(up == 200)
    val (gs, got) = a.handle("GET", "/collections/docs/vectors/v1", "")
    assert(gs == 200)
    val g = mapper.readTree(got)
    assert(g.get("vector").get(1).asDouble() == 1.0)
    assert(g.get("metadata").get("cat").asText() == "b")
    // wrong dims → DIMENSION_MISMATCH
    val (dm, dmBody) = a.handle("POST", "/collections/docs/vectors",
      """{"id":"v2","vector":[1,2]}""")
    assert(dm == 400 &&
      mapper.readTree(dmBody).get("code").asText() == "DIMENSION_MISMATCH")
    assert(a.handle("DELETE", "/collections/docs/vectors/v1", "")._1 == 200)
    assert(a.handle("GET", "/collections/docs/vectors/v1", "")._1 == 404)
    // deleted_count feeds needs_compaction
    val (_, info) = a.handle("GET", "/collections/docs", "")
    assert(mapper.readTree(info).get("deleted_count").asLong() == 1L)
  }

  test("within-batch duplicate ids: insert conflicts, upsert keeps last") {
    val a = api
    val (dup, dupBody) = a.handle("POST", "/collections/docs/vectors/batch",
      """{"vectors":[{"id":"v1","vector":[1,0,0]},{"id":"v1","vector":[0,1,0]}]}""")
    assert(dup == 409 &&
      mapper.readTree(dupBody).get("code").asText() == "DUPLICATE_ID")
    assert(mapper.readTree(a.handle("POST", "/collections/docs/count",
      "{}")._2).get("count").asLong() == 0L, "conflicted batch inserts nothing")
    // upsert path: last occurrence wins (sequential upsert semantics)
    val (us, ub) = a.handle("POST", "/collections/docs/vectors/upsert",
      """{"id":"v1","vector":[1,0,0]}""")
    assert(us == 200 && mapper.readTree(ub).get("upserted").asInt() == 1)
  }

  test("search: top-k order, score=1/(1+d), filter, cursor paging") {
    val a = api
    insert(a, "v1", Seq(1, 0, 0), meta = """{"cat":"a"}""")
    insert(a, "v2", Seq(0.9, 0.1, 0), meta = """{"cat":"b"}""")
    insert(a, "v3", Seq(0, 1, 0), meta = """{"cat":"a"}""")
    insert(a, "v4", Seq(0, 0.9, 0.1), meta = """{"cat":"a"}""")
    val (s, body) = a.handle("POST", "/collections/docs/search",
      """{"vector":[1,0,0],"k":2,"include_vectors":true}""")
    assert(s == 200)
    val r = mapper.readTree(body)
    val rs = r.get("results")
    assert(rs.size() == 2)
    assert(rs.get(0).get("id").asText() == "v1")
    assert(rs.get(1).get("id").asText() == "v2")
    val d0 = rs.get(0).get("distance").asDouble()
    assert(math.abs(rs.get(0).get("score").asDouble() - 1.0 / (1.0 + d0)) < 1e-12)
    assert(rs.get(0).get("vector").size() == 3)
    assert(r.get("has_more").asBoolean())
    // cursor continues strictly after the last (distance, id)
    val cur = r.get("next_cursor")
    val (_, page2) = a.handle("POST", "/collections/docs/search",
      s"""{"vector":[1,0,0],"k":2,"search_after":${cur.toString}}""")
    val ids2 = mapper.readTree(page2).get("results")
    assert(ids2.get(0).get("id").asText() != "v1")
    // metadata pre-filter
    val (_, filtered) = a.handle("POST", "/collections/docs/search",
      """{"vector":[1,0,0],"k":10,"filter":{"cat":{"$eq":"a"}}}""")
    val fIds = mapper.readTree(filtered).get("results")
    assert((0 until fIds.size()).map(i => fIds.get(i).get("id").asText())
      .toSet == Set("v1", "v3", "v4"))
  }

  test("batch + radius + count + metadata query + recommend") {
    val a = api
    insert(a, "v1", Seq(1, 0, 0), meta = """{"cat":"a"}""")
    insert(a, "v2", Seq(0, 1, 0), meta = """{"cat":"b"}""")
    insert(a, "v3", Seq(0, 0, 1), meta = """{"cat":"a"}""")
    val (_, batch) = a.handle("POST", "/collections/docs/search/batch",
      """{"vectors":[[1,0,0],[0,1,0]],"k":1}""")
    val b = mapper.readTree(batch).get("results")
    assert(b.size() == 2)
    assert(b.get(0).get(0).get("id").asText() == "v1")
    assert(b.get(1).get(0).get("id").asText() == "v2")
    val (_, rad) = a.handle("POST", "/collections/docs/search/radius",
      """{"vector":[1,0,0],"max_distance":0.5,"limit":10}""")
    assert(mapper.readTree(rad).get("count").asInt() == 1)
    val (_, cnt) = a.handle("POST", "/collections/docs/count",
      """{"filter":{"cat":{"$eq":"a"}}}""")
    assert(mapper.readTree(cnt).get("count").asLong() == 2L)
    val (mqs, mq) = a.handle("POST", "/collections/docs/query",
      """{"filter":{"cat":{"$eq":"a"}},"limit":1}""")
    assert(mqs == 200)
    val m = mapper.readTree(mq)
    assert(m.get("data").size() == 1)
    assert(m.get("pagination").get("total").asLong() == 2L)
    assert(m.get("pagination").get("has_more").asBoolean())
    // missing filter on /query → the reference's MISSING_FILTER error
    assert(mapper.readTree(a.handle("POST", "/collections/docs/query",
      "{}")._2).get("code").asText() == "MISSING_FILTER")
    val (_, rec) = a.handle("POST", "/collections/docs/recommend",
      """{"positive_ids":["v1"],"limit":2}""")
    val rr = mapper.readTree(rec).get("results")
    assert(rr.size() > 0 && rr.get(0).get("id").asText() != "v1",
      "seeds excluded from recommendations")
  }

  test("ttl_seconds expires rows from every read path") {
    val a = api
    insert(a, "v1", Seq(1, 0, 0), ttl = 100)   // expires at 1700000100
    insert(a, "v2", Seq(0, 1, 0))
    val (_, c1) = a.handle("POST", "/collections/docs/count", "{}")
    assert(mapper.readTree(c1).get("count").asLong() == 2L)
    a.nowEpochS = () => 1700000200L // past v1's expiry
    val (_, c2) = a.handle("POST", "/collections/docs/count", "{}")
    assert(mapper.readTree(c2).get("count").asLong() == 1L)
    val (_, sr) = a.handle("POST", "/collections/docs/search",
      """{"vector":[1,0,0],"k":10}""")
    val ids = mapper.readTree(sr).get("results")
    assert((0 until ids.size()).map(i => ids.get(i).get("id").asText())
      .toSet == Set("v2"))
  }

  test("request validation: non-positive k/limit and oversized offset") {
    val a = api
    insert(a, "v1", Seq(1, 0, 0), meta = """{"cat":"a"}""")
    val (ks, kb) = a.handle("POST", "/collections/docs/search",
      """{"vector":[1,0,0],"k":0}""")
    assert(ks == 400 &&
      mapper.readTree(kb).get("code").asText() == "INVALID_K")
    assert(a.handle("POST", "/collections/docs/search",
      """{"vector":[1,0,0],"k":-5}""")._1 == 400)
    assert(a.handle("POST", "/collections/docs/search/batch",
      """{"vectors":[[1,0,0]],"k":0}""")._1 == 400)
    assert(a.handle("POST", "/collections/docs/search/radius",
      """{"vector":[1,0,0],"max_distance":1,"limit":0}""")._1 == 400)
    assert(a.handle("POST", "/collections/docs/recommend",
      """{"positive_ids":["v1"],"limit":0}""")._1 == 400)
    // /query offset is capped: limit(offset+limit) is driver-collected,
    // so an unbounded offset would materialize the whole collection
    val (os, ob) = a.handle("POST", "/collections/docs/query",
      """{"filter":{"cat":{"$eq":"a"}},"offset":1000000}""")
    assert(os == 400 &&
      mapper.readTree(ob).get("code").asText() == "INVALID_OFFSET")
    assert(a.handle("POST", "/collections/docs/query",
      """{"filter":{"cat":{"$eq":"a"}},"offset":-1}""")._1 == 400)
  }

  test("search_after cursor honors post_filter on every page") {
    val a = api
    // 6 rows at increasing distance from [1,0,0], alternating categories
    val vecs = Seq(
      ("v1", Seq(1.0, 0.0, 0.0), "a"), ("v2", Seq(0.9, 0.1, 0.0), "b"),
      ("v3", Seq(0.8, 0.2, 0.0), "a"), ("v4", Seq(0.6, 0.4, 0.0), "b"),
      ("v5", Seq(0.4, 0.6, 0.0), "a"), ("v6", Seq(0.2, 0.8, 0.0), "b"))
    vecs.foreach { case (id, v, cat) =>
      insert(a, id, v, meta = s"""{"cat":"$cat"}""") }
    val pf = """"post_filter":{"cat":{"$eq":"a"}}"""
    val (s1, p1) = a.handle("POST", "/collections/docs/search",
      s"""{"vector":[1,0,0],"k":2,$pf}""")
    assert(s1 == 200)
    val r1 = mapper.readTree(p1)
    val ids1 = (0 until r1.get("results").size())
      .map(i => r1.get("results").get(i).get("id").asText())
    assert(ids1 == Seq("v1", "v3"), s"page 1 filtered: $ids1")
    val cur = r1.get("next_cursor")
    val (s2, p2) = a.handle("POST", "/collections/docs/search",
      s"""{"vector":[1,0,0],"k":2,$pf,"search_after":${cur.toString}}""")
    assert(s2 == 200)
    val r2 = mapper.readTree(p2)
    val ids2 = (0 until r2.get("results").size())
      .map(i => r2.get("results").get(i).get("id").asText())
    assert(ids2 == Seq("v5"), s"page 2 must stay filtered: $ids2")
  }

  test("concurrent inserts and searches against the shared registry") {
    val a = api
    insert(a, "seed", Seq(1, 0, 0))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val done = new java.util.concurrent.CountDownLatch(8)
    (0 until 8).foreach { t =>
      pool.submit(new Runnable {
        def run(): Unit = try {
          (0 until 5).foreach { i =>
            val (is, ib) = a.handle("POST", "/collections/docs/vectors",
              s"""{"id":"t$t-$i","vector":[0.1,${0.01 * t},${0.01 * i}]}""")
            assert(is == 200, ib)
            val (ss, sb) = a.handle("POST", "/collections/docs/search",
              """{"vector":[1,0,0],"k":3}""")
            assert(ss == 200, sb)
            assert(mapper.readTree(sb).get("results").size() > 0)
          }
        } catch { case e: Throwable => errors.add(e) }
        finally done.countDown()
      })
    }
    assert(done.await(120, java.util.concurrent.TimeUnit.SECONDS))
    pool.shutdown()
    assert(errors.isEmpty, s"concurrent failures: ${errors.peek()}")
    val (_, cnt) = a.handle("POST", "/collections/docs/count", "{}")
    assert(mapper.readTree(cnt).get("count").asLong() == 41L,
      "all 40 concurrent inserts + seed visible")
  }

  test("metadata query pages by keyset cursor at constant cost") {
    val a = api
    (1 to 7).foreach(i =>
      insert(a, f"v$i%02d", Seq(i * 0.1, 0, 0), meta = """{"cat":"a"}"""))
    def page(cursor: Option[String]) = {
      val cur = cursor.map(c => s""","after_id":"$c"""").getOrElse("")
      val (s, b) = a.handle("POST", "/collections/docs/query",
        s"""{"filter":{"cat":{"$$eq":"a"}},"limit":3$cur}""")
      assert(s == 200, b)
      mapper.readTree(b)
    }
    val p1 = page(None)
    val ids1 = (0 until p1.get("data").size())
      .map(i => p1.get("data").get(i).get("id").asText())
    assert(ids1 == Seq("v01", "v02", "v03"))
    assert(p1.get("pagination").get("has_more").asBoolean())
    val p2 = page(Some(p1.get("pagination").get("next_after_id").asText()))
    val ids2 = (0 until p2.get("data").size())
      .map(i => p2.get("data").get(i).get("id").asText())
    assert(ids2 == Seq("v04", "v05", "v06"))
    val p3 = page(Some(p2.get("pagination").get("next_after_id").asText()))
    assert((0 until p3.get("data").size())
      .map(i => p3.get("data").get(i).get("id").asText()) == Seq("v07"))
    assert(!p3.get("pagination").get("has_more").asBoolean())
    // cursor and offset are mutually exclusive
    assert(a.handle("POST", "/collections/docs/query",
      """{"filter":{"cat":{"$eq":"a"}},"offset":2,"after_id":"v01"}""")._1
      == 400)
  }

  test("vector listing pages by keyset and carries vectors + metadata") {
    val a = api
    (1 to 5).foreach(i =>
      insert(a, f"v$i%02d", Seq(i * 0.1, 0, 0), meta = s"""{"n":"$i"}"""))
    val (s1, b1) = a.handle("GET", "/collections/docs/vectors?limit=3", "")
    assert(s1 == 200, b1)
    val p1 = mapper.readTree(b1)
    val ids1 = (0 until p1.get("vectors").size())
      .map(i => p1.get("vectors").get(i).get("id").asText())
    assert(ids1 == Seq("v01", "v02", "v03"))
    assert(p1.get("vectors").get(0).get("vector").size() == 3)
    assert(p1.get("vectors").get(0).get("metadata").get("n").asText() == "1")
    assert(p1.get("pagination").get("has_more").asBoolean())
    val cur = p1.get("pagination").get("next_after_id").asText()
    val (s2, b2) = a.handle("GET",
      s"/collections/docs/vectors?limit=3&after_id=$cur", "")
    assert(s2 == 200, b2)
    val p2 = mapper.readTree(b2)
    assert((0 until p2.get("vectors").size())
      .map(i => p2.get("vectors").get(i).get("id").asText())
      == Seq("v04", "v05"))
  }

  test("exact-boundary final page reports has_more=false") {
    val a = api
    (1 to 6).foreach(i =>
      insert(a, f"v$i%02d", Seq(i * 0.1, 0, 0), meta = s"""{"n":"$i"}"""))
    // 6 rows, limit 3 → page 2 is exactly full AND final
    val (_, b1) = a.handle("GET", "/collections/docs/vectors?limit=3", "")
    val cur = mapper.readTree(b1).get("pagination").get("next_after_id").asText()
    val (_, b2) = a.handle("GET",
      s"/collections/docs/vectors?limit=3&after_id=$cur", "")
    val p2 = mapper.readTree(b2)
    assert(p2.get("vectors").size() == 3)
    assert(!p2.get("pagination").get("has_more").asBoolean(), b2)
    // same for the metadata keyset query
    val (_, m1) = a.handle("POST", "/collections/docs/query",
      """{"filter":{"n":{"$exists":true}},"limit":3,"after_id":"v03"}""")
    val mp = mapper.readTree(m1)
    assert(mp.get("data").size() == 3)
    assert(!mp.get("pagination").get("has_more").asBoolean(), m1)
  }

  test("percent-encoded ids round-trip through path and query params") {
    val a = api
    val weird = "doc a/b&c#d"
    insert(a, weird, Seq(1, 0, 0))
    val enc = java.net.URLEncoder.encode(weird, "UTF-8")
    val (s1, b1) = a.handle("GET", s"/collections/docs/vectors/$enc", "")
    assert(s1 == 200, b1)
    assert(mapper.readTree(b1).get("id").asText() == weird)
    val (s2, b2) = a.handle("GET",
      s"/collections/docs/vectors?limit=5&after_id=${java.net.URLEncoder.encode("doc", "UTF-8")}", "")
    assert(s2 == 200, b2)
    assert(mapper.readTree(b2).get("vectors").get(0).get("id").asText() == weird)
    val (s3, _) = a.handle("DELETE", s"/collections/docs/vectors/$enc", "")
    assert(s3 == 200)
    val (s4, _) = a.handle("GET", s"/collections/docs/vectors/$enc", "")
    assert(s4 == 404)
  }

  test("ttl honored on a registered parquet-backed table") {
    import org.apache.spark.sql.functions._
    val a = new RestApi(spark)
    a.nowEpochS = () => 1700000000L
    val dir = java.nio.file.Files.createTempDirectory("graft-rest-ttl")
    val path = dir.resolve("t.parquet").toString
    spark.range(10).select(
      concat(lit("r"), col("id")).as("id"),
      array(col("id").cast("float"), lit(0f)).as("vector"),
      // rows 0-4 already expired, 5-9 live forever
      when(col("id") < 5, lit(1699999999L)).as("ttl_expires_at"))
      .write.mode("overwrite").parquet(path)
    a.register("t", spark.read.parquet(path), dims = 2)
    val (_, cnt) = a.handle("POST", "/collections/t/count", "{}")
    assert(mapper.readTree(cnt).get("count").asLong() == 5L)
    val (_, sr) = a.handle("POST", "/collections/t/search",
      """{"vector":[0,0],"k":10,"distance":"euclidean"}""")
    val ids = mapper.readTree(sr).get("results")
    assert((0 until ids.size()).map(i => ids.get(i).get("id").asText())
      .forall(id => id.stripPrefix("r").toInt >= 5), "expired rows excluded")
  }

  test("upsert-batch keeps the partition count bounded and answers exact") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val a = new RestApi(spark)
    def vec(i: Int): Seq[Float] =
      Seq((i % 7 + 1).toFloat, (i % 5).toFloat, (i % 3 - 1).toFloat)
    def frame(rows: Seq[(String, Seq[Float])], parts: Int) =
      rows.toDF("id", "vector").repartition(parts, col("id"))
    var rows = (0 until 30).map(i => s"r$i" -> vec(i)).toMap
    a.register("w", frame(rows.toSeq, 3), dims = 3)
    val bound = math.max(a.collectionFrame("w").rdd.getNumPartitions,
      spark.sparkContext.defaultParallelism)
    (0 until 20).foreach { i =>
      // one replaced id and one new id per batch
      val batch = Seq(s"r$i" -> vec(i + 100), s"n$i" -> vec(i + 200))
      val body = batch.map { case (id, v) =>
        s"""{"id":"$id","vector":[${v.mkString(",")}]}"""
      }.mkString("""{"vectors":[""", ",", "]}")
      val (s, out) = a.handle("POST",
        "/collections/w/vectors/upsert-batch", body)
      assert(s == 200, out)
      rows ++= batch
    }
    val parts = a.collectionFrame("w").rdd.getNumPartitions
    assert(parts <= bound, s"$parts partitions after 20 writes > $bound")
    a.register("ref", frame(rows.toSeq, 2), dims = 3)
    Seq(vec(0), vec(113), vec(205)).foreach { q =>
      val req = s"""{"vector":[${q.mkString(",")}],"k":10}"""
      def results(c: String) = {
        val (s, out) = a.handle("POST", s"/collections/$c/search", req)
        assert(s == 200, out)
        mapper.readTree(out).get("results")
      }
      assert(results("w") == results("ref"), s"query $q")
    }
  }

  /** Descriptions of the Spark jobs `body` starts ("counted" unless a
    * job sets its own), in start order.
    */
  private def jobsOf(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val group = "rest-jobs-" + System.nanoTime()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        if (p.exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.add(p.map(_.getProperty("spark.job.description")).orNull)
        ()
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      body
      // a marker job flushes the listener bus up to this point
      sc.setJobDescription("marker")
      spark.range(1).count()
      val deadline = System.nanoTime() + 30e9.toLong
      while (!jobs.contains("marker") && System.nanoTime() < deadline)
        Thread.sleep(20)
    } finally {
      sc.removeSparkListener(listener)
      sc.clearJobGroup(); sc.setJobDescription(null)
    }
    import scala.jdk.CollectionConverters._
    jobs.asScala.toSeq.takeWhile(_ != "marker")
  }

  /** Longest dependency chain below `rdd`, walked level by level so a
    * deep lineage cannot overflow the walk itself.
    */
  private def lineageDepth(rdd: org.apache.spark.rdd.RDD[_]): Int = {
    var level: Seq[org.apache.spark.rdd.RDD[_]] = Seq(rdd)
    var depth = 0
    while (level.nonEmpty) {
      depth += 1
      level = level.flatMap(_.dependencies.map(_.rdd))
        .groupBy(_.id).values.map(_.head).toSeq
    }
    depth
  }

  private def upsertBody(rows: Seq[(String, Seq[Float])]): String =
    rows.map { case (id, v) =>
      s"""{"id":"$id","vector":[${v.mkString(",")}]}"""
    }.mkString("""{"vectors":[""", ",", "]}")

  test("150 upsert-batch calls between ANN reads keep the lineage bounded " +
      "and the collection exact") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val a = new RestApi(spark)
    def vec(i: Int): Seq[Float] =
      (0 until 8).map(d => math.sin(i * 0.37 + d).toFloat)
    var rows = (0 until 200).map(i => s"r$i" -> vec(i)).toMap
    a.register("c", rows.toSeq.toDF("id", "vector")
      .repartition(2, col("id")), dims = 8)
    assert(a.handle("POST", "/collections/c/index",
      """{"num_cells":4}""")._1 == 200)
    var next = 200
    def write(): Unit = { // eight new ids: 16 delta entries
      val batch = (next until next + 8).map(i => s"n$i" -> vec(i))
      next += 8
      val (s, out) = a.handle("POST",
        "/collections/c/vectors/upsert-batch", upsertBody(batch))
      assert(s == 200, out)
      rows ++= batch
    }
    val annRead = s"""{"vector":[${vec(3).mkString(",")}],"k":5,"mode":"ann"}"""
    def exactTop(q: Seq[Float]): Seq[String] = {
      val (s, out) = a.handle("POST", "/collections/c/search",
        s"""{"vector":[${q.mkString(",")}],"k":10}""")
      assert(s == 200, out)
      val rs = mapper.readTree(out).get("results")
      (0 until rs.size()).map(i => rs.get(i).get("id").asText())
    }
    // the first write marks the registered base, the first exact read
    // pins it: from here on every base is a materialized checkpoint
    write()
    exactTop(vec(0))
    var depth10 = -1
    val loopJobs = jobsOf {
      (1 to 150).foreach { w =>
        write()
        val (s, out) = a.handle("POST", "/collections/c/search", annRead)
        assert(s == 200, out)
        if (w == 10) depth10 = lineageDepth(a.collectionFrame("c").rdd)
      }
    }
    val (gs, got) = a.handle("GET", "/collections/c", "")
    assert(gs == 200, got)
    assert(mapper.readTree(got).get("count").asLong() == rows.size.toLong)
    def cosine(x: Seq[Float], y: Seq[Float]): Double = {
      val dot = x.zip(y).map { case (p, q) => p.toDouble * q }.sum
      def norm(z: Seq[Float]) = math.sqrt(z.map(f => f.toDouble * f).sum)
      1 - dot / (norm(x) * norm(y))
    }
    Seq(vec(5), vec(777), vec(1300)).foreach { q =>
      val brute = rows.toSeq.map { case (id, v) => (cosine(q, v), id) }
        .sorted.take(10).map(_._2)
      assert(exactTop(q).toSet == brute.toSet, s"query $q")
    }
    // entries after the pinning write, then 16 per write
    var size = 16
    val compactions = (1 to 150).count { _ =>
      size += 16
      val crossed = size > RestApi.DeltaBound
      if (crossed) size = 0
      crossed
    }
    assert(compactions >= 2, s"$compactions compactions")
    assert(loopJobs.nonEmpty &&
      loopJobs.forall(_ == "RestApi compaction of c"),
      s"writes and ANN reads scheduled jobs: $loopJobs")
    assert(loopJobs.size == compactions, loopJobs)
    val depth150 = lineageDepth(a.collectionFrame("c").rdd)
    assert(depth150 == depth10, s"lineage depth $depth10 → $depth150")
  }

  test("delete-batch with a repeated id deletes and un-indexes it once") {
    val a = api
    (0 until 6).foreach(i => insert(a, s"v$i", Seq(i + 1.0, 1, 0)))
    assert(a.handle("POST", "/collections/docs/index",
      """{"num_cells":2}""")._1 == 200)
    def indexRows = mapper.readTree(
      a.handle("GET", "/collections/docs/index", "")._2).get("rows").asLong()
    assert(indexRows == 6L)
    val (s, out) = a.handle("POST", "/collections/docs/vectors/delete-batch",
      """{"ids":["v2","v2"]}""")
    assert(s == 200, out)
    assert(mapper.readTree(out).get("deleted").asLong() == 1L)
    assert(indexRows == 5L)
    val (_, info) = a.handle("GET", "/collections/docs", "")
    assert(mapper.readTree(info).get("count").asLong() == 5L)
  }

  test("write counts stay exact on every membership path and across a " +
      "compaction") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def vec(i: Int): Seq[Float] =
      Seq((i % 7 + 1).toFloat, (i % 5).toFloat, (i % 3 - 1).toFloat)
    def check(a: RestApi, c: String, special: Seq[String] = Nil): Unit = {
      // brute force over the frame: every write's reported count is the
      // change in these ids, and GET counts them
      def ids = a.collectionFrame(c).select("id").collect()
        .map(_.getString(0)).toSeq
      def getCount = mapper.readTree(
        a.handle("GET", s"/collections/$c", "")._2).get("count").asLong()
      def multiset(xs: Seq[String]) = xs.groupBy(identity).map {
        case (k, v) => k -> v.size
      }
      def upsert(route: String, batch: Seq[(String, Seq[Float])]): Unit = {
        val before = ids
        val clash = route == "batch" && batch.exists(b => before.contains(b._1))
        val (s, out) = a.handle("POST", s"/collections/$c/vectors/$route",
          upsertBody(batch))
        val after = ids
        if (clash) {
          assert(s == 409, out)
          assert(multiset(after) == multiset(before), "409 wrote nothing")
        } else {
          assert(s == 200, out)
          val key = if (route == "batch") "inserted" else "upserted"
          val distinct = batch.map(_._1).distinct
          assert(mapper.readTree(out).get(key).asLong() == distinct.size)
          assert(multiset(after) ==
            multiset(before.filterNot(distinct.toSet) ++ distinct))
        }
        assert(getCount == after.size, s"$route $batch")
      }
      def delete(del: Seq[String]): Unit = {
        val before = ids
        val (s, out) = a.handle("POST",
          s"/collections/$c/vectors/delete-batch",
          s"""{"ids":[${del.map(i => s""""$i"""").mkString(",")}]}""")
        assert(s == 200, out)
        val after = ids
        assert(mapper.readTree(out).get("deleted").asLong() ==
          before.count(del.toSet), s"delete $del")
        assert(multiset(after) == multiset(before.filterNot(del.toSet)))
        assert(getCount == after.size, s"delete $del")
      }
      if (special.nonEmpty) delete(special ++ special)
      val present = ids.head
      upsert("upsert-batch", Seq("d1" -> vec(1), "d1" -> vec(2),
        present -> vec(3)))                       // repeated + replaced id
      upsert("batch", Seq("d2" -> vec(4), present -> vec(5))) // clash
      upsert("batch", Seq("d2" -> vec(4), "d3" -> vec(6)))
      delete(Seq("d1", "d1", "nope"))             // delta id, repeated, unknown
      delete(Seq("nope1", "nope2"))
      delete(Seq(present, "d2", present))
      // crosses a compaction: 2 · 520 entries > DeltaBound
      upsert("upsert-batch", (0 until RestApi.DeltaBound / 2 + 8)
        .map(i => s"big$i" -> vec(i)))
      upsert("upsert-batch", Seq("big3" -> vec(9), "d3" -> vec(8)))
      delete(Seq("big0", "big1", "d3", "big0"))
      upsert("batch", Seq("big2" -> vec(1)))      // clash after compaction
      upsert("batch", Seq("big0" -> vec(1)))      // deleted id comes back
    }
    def registered(extra: Seq[(String, Seq[Float], java.lang.Long)]) = {
      val a = new RestApi(spark)
      a.nowEpochS = () => 1700000000L
      val base = (0 until 30).map(i => (s"r$i", vec(i), null: java.lang.Long))
      a.register("c", (base ++ extra).toDF("id", "vector", "ttl_expires_at")
        .repartition(3, col("id")), dims = 3)
      a
    }
    def indexed(a: RestApi): RestApi = {
      val (s, out) = a.handle("POST", "/collections/c/index",
        """{"num_cells":2}""")
      assert(s == 200, out); a
    }
    // covering snapshot, then no snapshot
    check(indexed(registered(Nil)), "c")
    check(registered(Nil), "c")
    // snapshots that do not cover the frame: a duplicate id, and a row
    // whose TTL has already expired (the frame keeps it, the index not)
    check(indexed(registered(Seq(("r4", vec(40), null)))), "c", Seq("r4"))
    check(indexed(registered(Seq(("old", vec(41), 1690000000L)))), "c",
      Seq("old"))
  }

  test("build_index refuses an oversized collection via the CHEAP " +
      "pre-guard, before any ranking/checkpoint work") {
    val a = api
    (1 to 6).foreach(i => insert(a, s"v$i", Seq(i.toDouble, 0, 0)))
    // 6 live rows > bound 5: the build's bounded collect brings at most
    // 6 rows to the driver, the same bound a build at the limit collects,
    // and refuses with the "collection exceeds" message.
    val e = intercept[IllegalArgumentException] {
      a.buildIndex("docs", """{"num_cells":2}""", maxRows = 5L)
    }
    assert(e.getMessage.contains("collection exceeds the in-process " +
      "serving bound (5)"), e.getMessage)
    // exactly at the bound the same request builds
    val (s, body) = a.buildIndex("docs", """{"num_cells":2}""", maxRows = 6L)
    assert(s == 200, body)
    assert(mapper.readTree(body).get("indexed").asInt() == 6)
  }

  test("ann serving tier: build, full-probe parity with exact search, " +
      "serve-under-writes") {
    val a = api
    (0 until 40).foreach { i =>
      insert(a, s"v$i", Seq(math.sin(i), math.cos(i), math.sin(i * 2)))
    }
    // no index yet → 409 NO_INDEX
    val (no, noBody) = a.handle("POST", "/collections/docs/search",
      """{"vector":[1,0,0],"k":5,"mode":"ann"}""")
    assert(no == 409 &&
      mapper.readTree(noBody).get("code").asText() == "NO_INDEX")
    // build
    val (bs, bBody) = a.handle("POST", "/collections/docs/index",
      """{"num_cells":4}""")
    assert(bs == 200, bBody)
    assert(mapper.readTree(bBody).get("indexed").asInt() == 40)
    val (_, st) = a.handle("GET", "/collections/docs/index", "")
    assert(mapper.readTree(st).get("built").asBoolean())
    // full probe == exact search ids, in order
    def ids(body: String): Seq[String] = {
      val rs = mapper.readTree(body).get("results")
      (0 until rs.size()).map(i => rs.get(i).get("id").asText())
    }
    val (_, ex) = a.handle("POST", "/collections/docs/search",
      """{"vector":[1,0,0],"k":5}""")
    val (as, ab) = a.handle("POST", "/collections/docs/search",
      """{"vector":[1,0,0],"k":5,"mode":"ann","nprobe":4}""")
    assert(as == 200, ab)
    assert(ids(ab) == ids(ex), s"ann=${ids(ab)} exact=${ids(ex)}")
    assert(mapper.readTree(ab).get("mode").asText() == "ann")
    // simd kernel opt-in serves the same ids at full probe
    val (ss, sb) = a.handle("POST", "/collections/docs/search",
      """{"vector":[1,0,0],"k":5,"mode":"ann","nprobe":4,"kernel":"simd"}""")
    assert(ss == 200, sb)
    assert(ids(sb).toSet == ids(ex).toSet, s"simd=${ids(sb)} exact=${ids(ex)}")
    // guards: filter and foreign metric are exact-path features
    assert(a.handle("POST", "/collections/docs/search",
      """{"vector":[1,0,0],"mode":"ann","filter":{"x":1}}""")._1 == 400)
    assert(a.handle("POST", "/collections/docs/search",
      """{"vector":[1,0,0],"mode":"ann","distance":"euclidean"}""")._1 == 400)
    assert(a.handle("POST", "/collections/docs/search",
      """{"vector":[1,0,0],"mode":"nope"}""")._1 == 400)
    // serve-under-writes: an insert lands in the live snapshot — a
    // query AT the fresh vector must return it first, no rebuild
    insert(a, "fresh", Seq(0.5, 0.5, 0))
    val (lv, lvBody) = a.handle("POST", "/collections/docs/search",
      """{"vector":[0.5,0.5,0],"k":3,"mode":"ann","nprobe":4}""")
    assert(lv == 200, lvBody)
    assert(ids(lvBody).head == "fresh", s"got ${ids(lvBody)}")
    // replacement: upsert moves the id to the new position
    assert(a.handle("POST", "/collections/docs/vectors/upsert",
      """{"id":"fresh","vector":[-1,0,0]}""")._1 == 200)
    val (_, mv) = a.handle("POST", "/collections/docs/search",
      """{"vector":[-1,0,0],"k":3,"mode":"ann","nprobe":4}""")
    assert(ids(mv).head == "fresh")
    val (_, old) = a.handle("POST", "/collections/docs/search",
      """{"vector":[0.5,0.5,0],"k":3,"mode":"ann","nprobe":4}""")
    assert(ids(old).head != "fresh", "stale position must not serve")
    // delete tombstones out of the snapshot
    assert(a.handle("DELETE", "/collections/docs/vectors/fresh", "")._1 == 200)
    val (_, gone) = a.handle("POST", "/collections/docs/search",
      """{"vector":[-1,0,0],"k":5,"mode":"ann","nprobe":4}""")
    assert(!ids(gone).contains("fresh"))
    // status stays built and tracks the live count
    val st2 = mapper.readTree(
      a.handle("GET", "/collections/docs/index", "")._2)
    assert(st2.get("built").asBoolean && st2.get("rows").asLong == 40L)
    // a TTL insert has no expiry clock in the snapshot → invalidates
    assert(a.handle("POST", "/collections/docs/vectors",
      """{"id":"ttl1","vector":[0,0,1],"ttl_seconds":60}""")._1 == 200)
    val (inv, invBody) = a.handle("POST", "/collections/docs/search",
      """{"vector":[1,0,0],"k":5,"mode":"ann"}""")
    assert(inv == 409 &&
      mapper.readTree(invBody).get("code").asText() == "NO_INDEX")
    // drop route idempotent
    assert(a.handle("DELETE", "/collections/docs/index", "")._1 == 200)
  }

  test("an index build is one Spark job and publishes Ivf.build's " +
      "snapshot over the same live rows") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.ann.{Ivf, LocalServe}
    val a = new RestApi(spark)
    def vec(i: Int): Seq[Float] =
      (0 until 8).map(d => math.sin(i * 0.91 + d * 1.3).toFloat)
    // ids out of id order in the scan, over three pinned partitions
    val rows = (0 until 500).map(i => f"r${i * 7919 % 500}%04d" -> vec(i))
    a.register("c", rows.toDF("id", "vector").repartition(3)
      .localCheckpoint(true), dims = 8)
    assert(a.handle("POST", "/collections/c/vectors/upsert-batch",
      upsertBody(Seq("r0003" -> vec(900), "n0001" -> vec(901))))._1 == 200)
    assert(a.handle("POST", "/collections/c/vectors/delete-batch",
      """{"ids":["r0007"]}""")._1 == 200)
    val frame = a.collectionFrame("c")
    val jobs = jobsOf {
      val (s, out) = a.handle("POST", "/collections/c/index",
        """{"num_cells":6}""")
      assert(s == 200, out)
    }
    assert(jobs.size == 1, s"index build jobs: $jobs")
    val ann = a.annState("c")
    assert(ann.covers && ann.rows == 500L)
    // the Spark-side recipe over the live rows in id order, the order
    // the build hands LocalServe.build: surrogate ids by id order,
    // Ivf.build, LocalServe.fromIndex
    val scan = frame.select("id", "vector").collect().sortBy(_.getString(0))
    val ids = scan.map(_.getString(0))
    val ref = scan.toSeq.zipWithIndex.map { case (r, sid) =>
      (sid.toLong, r.getSeq[Float](1)) }.toDF("sid", "vector")
    val ix = Ivf.build(ref, col("vector"), 6, "cosine")
    val li = LocalServe.fromIndex(ix, "sid", "vector")
    def same[T](x: Array[Array[T]], y: Array[Array[T]]) =
      x.length == y.length && x.indices.forall(i => x(i).sameElements(y(i)))
    assert(ann.ids.sameElements(ids))
    assert(same(ann.li.centroids, ix.centroids))
    assert(same(ann.li.cellIds, li.cellIds))
    assert(same(ann.li.cellVecs, li.cellVecs))
    assert(same(ann.li.cellNorms2, li.cellNorms2))
    // and the cells are the ones Spark's Ivf.cellOf assigns, id order
    // kept within each cell
    val byCell = ix.assigned.select(col("cell"), col("sid")).collect()
      .groupBy(_.getInt(0)).map { case (c, rs) => c -> rs.map(_.getLong(1)) }
    assert(ann.li.cellIds.indices.forall(c =>
      ann.li.cellIds(c).sameElements(byCell.getOrElse(c, Array.empty[Long]))))
  }

  test("ann search at nprobe = num_cells equals exact search for every " +
      "metric and an alias spelling") {
    val a = new RestApi(spark)
    // small integers, zeros included, so hamming distances vary
    def vec(i: Int): Seq[Int] = (0 until 6).map(d => (i * 7 + d * d * 3) % 5 - 2)
    val rows = (0 until 60).map(i => f"v$i%02d" -> vec(i).map(_.toFloat))
    val spellings = graft.functions.Metric.all.map(_.name) :+ "l2"
    spellings.foreach { m =>
      val name = s"m_$m"
      assert(a.handle("POST", "/collections",
        s"""{"name":"$name","dimensions":6,"distance":"$m"}""")._1 == 201)
      assert(a.handle("POST", s"/collections/$name/vectors/batch",
        upsertBody(rows))._1 == 200)
      val (bs, bb) = a.handle("POST", s"/collections/$name/index",
        """{"num_cells":4}""")
      assert(bs == 200, s"$m: $bb")
      Seq(vec(3), vec(17).map(-_), Seq(1, 0, 0, 2, 0, -1)).foreach { q =>
        val v = q.mkString(",")
        def hits(mode: String) = {
          val (s, out) = a.handle("POST", s"/collections/$name/search",
            s"""{"vector":[$v],"k":10$mode}""")
          assert(s == 200, s"$m: $out")
          val rs = mapper.readTree(out).get("results")
          (0 until rs.size()).map(i => (rs.get(i).get("id").asText(),
            rs.get(i).get("distance").asDouble()))
        }
        assert(hits(""","mode":"ann","nprobe":4""") == hits(""),
          s"metric $m query $q")
      }
      // a row written after the build is read back by ANN at nprobe 1
      // with its own vector: k above the row count returns the whole
      // probed cell, which must be the cell the write went to
      val writes = (0 until 12).map(j => f"w$j%02d" ->
        (0 until 6).map(d => (2 * math.sin(j * 1.7 + d * 0.9)).toFloat))
      assert(a.handle("POST", s"/collections/$name/vectors/upsert-batch",
        upsertBody(writes))._1 == 200)
      writes.foreach { case (id, w) =>
        val (s, out) = a.handle("POST", s"/collections/$name/search",
          s"""{"vector":[${w.mkString(",")}],"k":1000,"mode":"ann",""" +
            """"nprobe":1}""")
        assert(s == 200, s"$m: $out")
        val rs = mapper.readTree(out).get("results")
        assert((0 until rs.size()).exists(i => rs.get(i).get("id").asText() == id),
          s"metric $m: $id written but not read back at nprobe 1")
      }
    }
    // the stored metric is the canonical name: an alias in the request
    // passes the ann guard, a foreign metric does not
    assert(a.collectionMetric("m_l2").contains("euclidean"))
    assert(a.handle("POST", "/collections/m_l2/search",
      """{"vector":[1,0,0,0,0,0],"mode":"ann","distance":"L2"}""")._1 == 200)
    assert(a.handle("POST", "/collections/m_l2/search",
      """{"vector":[1,0,0,0,0,0],"mode":"ann","distance":"dot"}""")._1 == 400)
    val (bad, badBody) = a.handle("POST", "/collections",
      """{"name":"bad","dimensions":3,"distance":"nope"}""")
    assert(bad == 400 &&
      mapper.readTree(badBody).get("code").asText() == "INVALID_DISTANCE")
    assert(a.handle("GET", "/collections/bad", "")._1 == 404)
  }

  test("collection counts come from a covering snapshot with no Spark job") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val a = new RestApi(spark)
    def vec(i: Int): Seq[Float] = Seq(math.sin(i).toFloat,
      math.cos(i).toFloat, (i % 3).toFloat)
    a.register("c", (0 until 200).map(i => s"r$i" -> vec(i))
      .toDF("id", "vector").repartition(2, col("id")), dims = 3)
    assert(a.handle("POST", "/collections/c/index",
      """{"num_cells":4}""")._1 == 200)
    assert(a.handle("POST", "/collections/c/vectors/upsert-batch",
      upsertBody(Seq("r1" -> vec(301), "n1" -> vec(302), "n1" -> vec(303))))
      ._1 == 200)
    assert(a.handle("POST", "/collections/c/vectors/batch",
      upsertBody(Seq("n2" -> vec(304), "n3" -> vec(305))))._1 == 200)
    assert(a.handle("POST", "/collections/c/vectors/delete-batch",
      """{"ids":["r2","r2","n3","nope"]}""")._1 == 200)
    assert(a.handle("DELETE", "/collections/c/vectors/r5", "")._1 == 200)
    assert(a.annState("c").covers)
    var one, listed = -1L
    val jobs = jobsOf {
      one = mapper.readTree(a.handle("GET", "/collections/c", "")._2)
        .get("count").asLong()
      listed = mapper.readTree(a.handle("GET", "/collections", "")._2)
        .get("collections").get(0).get("count").asLong()
    }
    assert(jobs.isEmpty, s"count jobs: $jobs")
    val brute = a.collectionFrame("c").count()
    assert(brute == 200L && one == brute && listed == brute)
    // without a snapshot the count is Spark's
    assert(a.handle("DELETE", "/collections/c/index", "")._1 == 200)
    assert(mapper.readTree(a.handle("GET", "/collections/c", "")._2)
      .get("count").asLong() == brute)
  }

  test("an index build over more than 100 000 rows trains on a seeded " +
      "sample independent of partitioning, and keeps recall") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(32, 8)(rnd.nextGaussian().toFloat)
    val rows = (0 until 120000).map { i =>
      val c = centers(i % 32)
      f"p$i%06d" -> c.map(x => x + 0.3f * rnd.nextGaussian().toFloat).toSeq
    }
    val a = new RestApi(spark)
    def register(name: String, rs: Seq[(String, Seq[Float])],
                 partitions: Int): Unit =
      a.register(name, rs.toDF("id", "vector").repartition(partitions)
        .localCheckpoint(true), dims = 8)
    def index(name: String): graft.ann.LocalServe.LocalIndex = {
      val (s, out) = a.handle("POST", s"/collections/$name/index",
        """{"num_cells":16,"nprobe":4}""")
      assert(s == 200, out)
      a.annState(name).li
    }
    // the published snapshot, centroids and each cell's rows in order,
    // is a function of the live rows alone
    def assertSame(x: String, y: String): Unit = {
      val (lx, ly) = (index(x), index(y))
      def same[T](p: Array[Array[T]], q: Array[Array[T]]) =
        p.length == q.length && p.indices.forall(i => p(i).sameElements(q(i)))
      val sameIds = a.annState(x).ids.sameElements(a.annState(y).ids)
      val sameCentroids = same(lx.centroids, ly.centroids)
      val sameCells = same(lx.cellIds, ly.cellIds) &&
        same(lx.cellVecs, ly.cellVecs)
      assert(sameIds, s"$x/$y: surrogate ids differ")
      assert(lx.centroids.length == 16)
      assert(sameCentroids,
        s"$x/$y: the training order depends on the partition layout")
      assert(sameCells,
        s"$x/$y: the cell layout depends on the partition layout")
    }
    register("c2", rows, 2)
    register("c5", rows, 5)
    assertSame("c2", "c5")
    // under 100 000 rows every row trains, in id order
    val small = rows.take(3000)
    register("s2", small, 2)
    register("s5", small, 5)
    assertSame("s2", "s5")
    // a collection that received writes (a base, then an upsert-batch and
    // a delete-batch) against a fresh one over the same live rows
    register("w", small.map { case (id, v) => id -> v.map(_ * 2f) } ++
      (0 until 40).map(i => f"x$i%02d" -> small(i)._2), 3)
    assert(a.handle("POST", "/collections/w/vectors/upsert-batch",
      upsertBody(small.filter(_._1.last == '7')))._1 == 200)
    assert(a.handle("POST", "/collections/w/vectors/delete-batch",
      (0 until 40).map(i => f"\"x$i%02d\"")
        .mkString("""{"ids":[""", ",", "]}"))._1 == 200)
    val live = a.collectionFrame("w").select("id", "vector").collect()
      .map(r => r.getString(0) -> r.getSeq[Float](1)).reverse.toSeq
    assert(live.length == small.length)
    register("wf", live, 4)
    assertSame("w", "wf")
    val queries = (0 until 20).map(i => rows(i * 4999)._2.map(_ + 0.05f))
    val recall = queries.map { q =>
      def ids(mode: String) = {
        val (s, out) = a.handle("POST", "/collections/c2/search",
          s"""{"vector":[${q.mkString(",")}],"k":10$mode}""")
        assert(s == 200, out)
        val rs = mapper.readTree(out).get("results")
        (0 until rs.size()).map(i => rs.get(i).get("id").asText()).toSet
      }
      ids(""","mode":"ann"""").intersect(ids("")).size / 10.0
    }.sum / queries.size
    assert(recall >= 0.9, s"recall@10 = $recall")
  }

  test("live HTTP round-trip through the JDK host") {
    val a = api
    insert(a, "v1", Seq(1, 0, 0))
    val server = a.serve(0)
    try {
      val port = server.getAddress.getPort
      val client = java.net.http.HttpClient.newHttpClient()
      def call(method: String, path: String, body: String) = {
        val b = java.net.http.HttpRequest
          .newBuilder(java.net.URI.create(s"http://127.0.0.1:$port$path"))
        val req = (if (method == "GET") b.GET()
                   else b.method(method, java.net.http.HttpRequest
                     .BodyPublishers.ofString(body))).build()
        client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
      }
      val health = call("GET", "/health", "")
      assert(health.statusCode() == 200 &&
        mapper.readTree(health.body()).get("status").asText() == "ok")
      val sr = call("POST", "/collections/docs/search",
        """{"vector":[1,0,0],"k":1}""")
      assert(sr.statusCode() == 200)
      assert(mapper.readTree(sr.body()).get("results").get(0)
        .get("id").asText() == "v1")
      assert(call("GET", "/collections/missing", "").statusCode() == 404)
    } finally server.stop(0)
  }

  test("HTTP round trip is not held by delayed ACK") {
    val server = api.serve(0)
    try HttpRoundTrip.assertNoAckStall(server.getAddress.getPort, "/health")
    finally server.stop(0)
  }
}
