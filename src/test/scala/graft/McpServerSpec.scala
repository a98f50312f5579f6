package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.server.{McpServer, RestApi}

/** MCP adapter spec: JSON-RPC round-trips for initialize / tools/list /
  * tools/call against the in-process server, mirroring the reference's
  * registered tool names (src/mcp.rs, mcp-registry.json).
  */
class McpServerSpec extends SparkSpec {

  private val mapper = new ObjectMapper()

  private def mcp(readOnly: Boolean = false): McpServer = {
    val api = new RestApi(spark)
    val m = new McpServer(api, readOnly)
    m.nowEpochMs = () => 1700000000000L
    m
  }

  private def rpc(m: McpServer, method: String,
                  params: String = "{}", id: Int = 1): JsonNode =
    mapper.readTree(m.handle(
      s"""{"jsonrpc":"2.0","id":$id,"method":"$method","params":$params}"""))

  private def call(m: McpServer, tool: String, args: String): JsonNode = {
    val resp = rpc(m, "tools/call",
      s"""{"name":"$tool","arguments":$args}""")
    val result = resp.get("result")
    assert(result != null, resp.toString)
    result
  }

  /** Parse the text content of a non-error tool result. */
  private def payload(result: JsonNode): JsonNode = {
    assert(!Option(result.get("isError")).exists(_.asBoolean(false)),
      result.toString)
    mapper.readTree(result.get("content").get(0).get("text").asText())
  }

  private val referenceTools = Seq(
    "list_collections", "create_collection", "collection_info",
    "insert_vectors", "search", "get_vector", "delete_vector",
    "delete_collection", "rename_collection", "save_database",
    "batch_delete", "update_metadata", "remember", "recall", "forget",
    "memory_consolidate")

  test("initialize + tools/list expose the reference's registered tools") {
    val m = mcp()
    val init = rpc(m, "initialize").get("result")
    assert(init.get("protocolVersion").asText() == "2024-11-05")
    assert(init.get("serverInfo").get("name").asText() == "graft-mcp")
    val tools = rpc(m, "tools/list").get("result").get("tools")
    val names = (0 until tools.size()).map(i => tools.get(i).get("name").asText())
    assert(names == referenceTools, names.mkString(", "))
    // every tool carries an object inputSchema with a required list
    (0 until tools.size()).foreach { i =>
      val schema = tools.get(i).get("inputSchema")
      assert(schema.get("type").asText() == "object")
      assert(schema.get("required").isArray)
    }
    // unknown JSON-RPC method → -32601
    assert(rpc(m, "no/such").get("error").get("code").asInt() == -32601)
  }

  test("collection + vector lifecycle through tools/call") {
    val m = mcp()
    val created = payload(call(m, "create_collection",
      """{"name":"notes","dimensions":3}"""))
    assert(created.get("created").asBoolean())
    payload(call(m, "insert_vectors",
      """{"collection":"notes","vectors":[
        |{"id":"a","values":[1,0,0],"metadata":{"lang":"en"}},
        |{"id":"b","values":[0,1,0],"metadata":{"lang":"de"}},
        |{"id":"c","values":[0.9,0.1,0],"metadata":{"lang":"en"}}]}"""
        .stripMargin)) match {
      case ins => assert(ins.get("inserted").asInt() == 3)
    }
    val listed = payload(call(m, "list_collections", "{}"))
    assert(listed.get("collections").get(0).get("name").asText() == "notes")
    assert(listed.get("collections").get(0).get("vector_count").asLong() == 3L)

    val info = payload(call(m, "collection_info", """{"name":"notes"}"""))
    assert(info.get("vector_count").asLong() == 3L)
    assert(info.get("stats").get("dimensions").asInt() == 3)

    // filtered search: only en docs, nearest first
    val found = payload(call(m, "search",
      """{"collection":"notes","vector":[1,0,0],"k":2,
        |"filter":{"lang":{"$eq":"en"}}}""".stripMargin))
    val ids = (0 until found.get("results").size())
      .map(i => found.get("results").get(i).get("id").asText())
    assert(ids == Seq("a", "c"), found.toString)
    assert(found.get("results").get(0).get("metadata")
      .get("lang").asText() == "en")

    val got = payload(call(m, "get_vector",
      """{"collection":"notes","id":"a"}"""))
    assert(got.get("found").asBoolean() && got.get("vector").size() == 3)
    val missing = payload(call(m, "get_vector",
      """{"collection":"notes","id":"zz"}"""))
    assert(!missing.get("found").asBoolean())

    // shallow metadata merge
    val upd = payload(call(m, "update_metadata",
      """{"collection":"notes","id":"a","metadata":{"topic":"intro"}}"""))
    assert(upd.get("metadata").get("lang").asText() == "en")
    assert(upd.get("metadata").get("topic").asText() == "intro")

    val del = payload(call(m, "delete_vector",
      """{"collection":"notes","id":"b"}"""))
    assert(del.get("deleted").asBoolean())
    val batch = payload(call(m, "batch_delete",
      """{"collection":"notes","ids":["a","c"]}"""))
    assert(batch.get("deleted_count").asLong() == 2L)

    val renamed = payload(call(m, "rename_collection",
      """{"old_name":"notes","new_name":"notes2"}"""))
    assert(renamed.get("renamed").asBoolean())
    val dropped = payload(call(m, "delete_collection",
      """{"name":"notes2"}"""))
    assert(dropped.get("deleted").asBoolean())
    assert(payload(call(m, "save_database", "{}"))
      .get("acknowledged").asBoolean())
  }

  test("agent memory tools: remember / recall / forget / consolidate") {
    val m = mcp()
    payload(call(m, "create_collection", """{"name":"mem","dimensions":2}"""))
    val stored = payload(call(m, "remember",
      """{"collection":"mem","content":"likes scala",
        |"vector":[1,0],"importance":0.9}""".stripMargin))
    assert(stored.get("stored").asBoolean())
    val mid = stored.get("memory_id").asText()
    assert(mid.startsWith("mem_"))
    // distinct ids need a ticking clock
    m.nowEpochMs = () => 1700000000001L
    payload(call(m, "remember",
      """{"collection":"mem","content":"low value","vector":[0,1],
        |"importance":0.05}""".stripMargin))
    m.nowEpochMs = () => 1700000000002L
    payload(call(m, "remember",
      """{"collection":"mem","content":"semantic fact","vector":[0.5,0.5],
        |"tier":"semantic","importance":0.8}""".stripMargin))

    val recalled = payload(call(m, "recall",
      """{"collection":"mem","vector":[1,0],"k":5,
        |"tier":"episodic","min_importance":0.5}""".stripMargin))
    assert(recalled.get("count").asInt() == 1, recalled.toString)
    val mem0 = recalled.get("memories").get(0)
    assert(mem0.get("content").asText() == "likes scala")
    assert(mem0.get("tier").asText() == "episodic")
    assert(mem0.get("relevance_score").asDouble() > 0.9)

    // consolidate: importance 0.9 episodic → promoted; 0.05 → forgotten
    val cons = payload(call(m, "memory_consolidate",
      """{"collection":"mem"}"""))
    assert(cons.get("scanned").asLong() == 2L, cons.toString)
    assert(cons.get("promoted").asLong() == 1L)
    assert(cons.get("forgotten").asLong() == 1L)
    val after = payload(call(m, "recall",
      """{"collection":"mem","vector":[1,0],"k":5,"tier":"semantic"}"""))
    assert(after.get("count").asInt() == 2, after.toString)

    val forgot = payload(call(m, "forget",
      s"""{"collection":"mem","memory_id":"$mid"}"""))
    assert(forgot.get("forgotten").asBoolean())
  }

  test("read-only mode blocks every mutating tool; errors are isError content") {
    val m = mcp(readOnly = true)
    for (t <- Seq(
        "create_collection" -> """{"name":"x","dimensions":2}""",
        "insert_vectors" -> """{"collection":"x","vectors":[]}""",
        "delete_vector" -> """{"collection":"x","id":"a"}""",
        "delete_collection" -> """{"name":"x"}""",
        "rename_collection" -> """{"old_name":"x","new_name":"y"}""",
        "batch_delete" -> """{"collection":"x","ids":[]}""",
        "update_metadata" -> """{"collection":"x","id":"a","metadata":{}}""",
        "remember" -> """{"collection":"x","content":"c","vector":[1,0]}""",
        "forget" -> """{"collection":"x","memory_id":"m"}""",
        "memory_consolidate" -> """{"collection":"x"}""")) {
      val res = call(m, t._1, t._2)
      assert(res.get("isError").asBoolean(), s"${t._1}: $res")
      assert(res.get("content").get(0).get("text").asText()
        .contains("read-only"), s"${t._1}: $res")
    }
    // reads still work
    assert(payload(call(m, "list_collections", "{}"))
      .get("collections").size() == 0)
    // unknown tool is isError content, not a protocol error
    val unk = call(m, "frobnicate", "{}")
    assert(unk.get("isError").asBoolean())
  }

  test("stdio transport answers one JSON-RPC message per line") {
    val m = mcp()
    val in = new java.io.ByteArrayInputStream(
      ("""{"jsonrpc":"2.0","id":1,"method":"initialize"}""" + "\n" +
        """{"jsonrpc":"2.0","id":2,"method":"tools/list"}""" + "\n")
        .getBytes("UTF-8"))
    val out = new java.io.ByteArrayOutputStream()
    m.run(in, out)
    val lines = out.toString("UTF-8").trim.split("\n")
    assert(lines.length == 2)
    assert(mapper.readTree(lines(0)).get("result")
      .get("protocolVersion").asText() == "2024-11-05")
    assert(mapper.readTree(lines(1)).get("result")
      .get("tools").size() == referenceTools.size)
  }

  test("http transport serves JSON-RPC at /mcp") {
    val m = mcp()
    val server = m.serve(0)
    try {
      val port = server.getAddress.getPort
      val conn = new java.net.URI(s"http://127.0.0.1:$port/mcp").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.getOutputStream.write(
        """{"jsonrpc":"2.0","id":7,"method":"tools/list"}""".getBytes("UTF-8"))
      val resp = mapper.readTree(new String(
        conn.getInputStream.readAllBytes(), "UTF-8"))
      assert(resp.get("id").asInt() == 7)
      assert(resp.get("result").get("tools").size() == referenceTools.size)
      HttpRoundTrip.assertNoAckStall(port, "/mcp",
        Some("""{"jsonrpc":"2.0","id":8,"method":"tools/list"}"""))
    } finally server.stop(0)
  }
}
