package graft

import java.util.concurrent.atomic.AtomicInteger

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.functions._

import graft.multimodal.{HttpEmbeddingBackend, Multimodal}
import graft.server.Http

/** Contract test for the reference-shaped HTTP embedding provider
  * (auto_embed.rs:44-140 wire format) against an in-process stub server —
  * deterministic vectors derived from the input text, one request per
  * batch, retry on a planted 503. No network leaves the JVM.
  */
class HttpEmbeddingSpec extends SparkSpec
    with org.scalatest.BeforeAndAfterAll {
  import spark.implicits._

  private val mapper = new ObjectMapper()
  private val requests = new AtomicInteger(0)
  private val failFirst = new AtomicInteger(0) // >0 → next N requests 503
  // 0 normal; 1 drop last entry; 2 duplicate index 0; 3 out-of-range index
  private val malformedMode = new AtomicInteger(0)

  /** vector = [len, len+1, len+2, len+3] / 100 for input of length len. */
  private def stubVector(text: String): Seq[Float] =
    (0 until 4).map(j => (text.length + j) / 100.0f)

  private var server: HttpServer = _
  private var endpoint: String = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    // through graft.server.Http like every server in this JVM: the first
    // JDK HttpServer created fixes whether any of them gets TCP_NODELAY
    server = Http.serve(0, "/v1/embeddings") { (_, _, _, body) =>
      requests.incrementAndGet()
      if (failFirst.getAndUpdate(n => math.max(0, n - 1)) > 0) {
        Http.json(503, "{\"error\":\"overloaded\"}")
      } else {
        val root = mapper.readTree(body)
        assert(root.get("model").asText() == "stub-embed")
        val in = root.get("input")
        val resp = mapper.createObjectNode()
        val data = resp.putArray("data")
        // deliberately answer in REVERSE order with explicit index fields —
        // the client must honor index, not arrival order
        val mode = malformedMode.get()
        val lo = if (mode == 1) 1 else 0 // mode 1: silently drop one entry
        ((in.size() - 1) to lo by -1).foreach { i =>
          val entry = data.addObject()
          entry.put("index", mode match {
            case 2 => 0            // every entry claims index 0
            case 3 => i + in.size() // indices past the batch
            case _ => i
          })
          val arr = entry.putArray("embedding")
          stubVector(in.get(i).asText()).foreach(arr.add)
        }
        Http.json(200, mapper.writeValueAsString(resp))
      }
    }
    endpoint = s"http://127.0.0.1:${server.getAddress.getPort}/v1/embeddings"
  }

  override def afterAll(): Unit = {
    if (server != null) server.stop(0)
    super.afterAll()
  }

  private def backend = HttpEmbeddingBackend(
    endpoint = endpoint, model = "stub-embed", dims = 4,
    apiKey = Some("test-key"), retryBackoffMs = 10L)

  test("batched auto-embed through the HTTP backend, one call per batch") {
    requests.set(0)
    val docs = (0 until 10).map(i => (i.toLong, "x" * (i + 1))).toDF("id", "text")
    val out = Multimodal.autoEmbedWith(docs.repartition(1), "text", backend,
      batchSize = 4)
    val got = out.select(col("id"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(got.size == 10)
    (0 until 10).foreach { i =>
      assert(got(i.toLong) == stubVector("x" * (i + 1)),
        s"doc $i embeds its own text (index honored despite reversed reply)")
    }
    assert(requests.get() == 3, "10 rows at batchSize 4 = 3 calls")
  }

  test("null content never reaches the wire and yields null vectors") {
    requests.set(0)
    val got = backend.embedBatch(Seq(null, "ab".getBytes, null))
    assert(got(0) == null && got(2) == null)
    assert(got(1).toSeq == stubVector("ab"))
    assert(requests.get() == 1)
    assert(backend.embedBatch(Seq(null, null)) == Seq(null, null))
    assert(requests.get() == 1, "all-null batch makes no request")
  }

  test("retries ride through a transient 503") {
    failFirst.set(2)
    val got = backend.embedBatch(Seq("hello".getBytes))
    assert(got.head.toSeq == stubVector("hello"))
  }

  test("short, duplicate-index, and out-of-range responses are rejected") {
    try {
      malformedMode.set(1) // fewer entries than inputs
      val short = intercept[IllegalArgumentException] {
        backend.embedBatch(Seq("ab".getBytes, "cde".getBytes))
      }
      assert(short.getMessage.contains("2"), short.getMessage)
      malformedMode.set(2) // duplicate index
      val dup = intercept[IllegalArgumentException] {
        backend.embedBatch(Seq("ab".getBytes, "cde".getBytes))
      }
      assert(dup.getMessage.contains("duplicate"), dup.getMessage)
      malformedMode.set(3) // out-of-range index → descriptive error, not AIOOBE
      val oob = intercept[IllegalArgumentException] {
        backend.embedBatch(Seq("ab".getBytes))
      }
      assert(oob.getMessage.contains("out of range"), oob.getMessage)
    } finally malformedMode.set(0)
  }

  test("non-retryable status fails fast") {
    val notFound = backend.copy(endpoint =
      endpoint.replace("/v1/embeddings", "/nope"))
    val e = intercept[RuntimeException] {
      notFound.embedBatch(Seq("x".getBytes))
    }
    assert(e.getMessage.contains("404"))
  }
}
