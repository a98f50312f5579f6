package graft.server

import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

import RestApi.pathSegment

/** Model Context Protocol server (reference: src/mcp.rs:1-1793,
  * mcp-registry.json) — exposes the engine to agent frameworks as MCP
  * tools over JSON-RPC 2.0, with the reference's registered tool names
  * and result shapes:
  *
  *   list_collections, create_collection, collection_info,
  *   insert_vectors, search, get_vector, delete_vector,
  *   delete_collection, rename_collection, save_database, batch_delete,
  *   update_metadata, remember, recall, forget, memory_consolidate
  *
  * Spark re-expression: the server is a THIN adapter over the REST
  * contract ([[RestApi.handle]]) — every tool call becomes one (or a
  * bounded few) REST calls, so the MCP surface inherits the REST layer's
  * filtering, TTL, pagination, and DataFrame-backed scale behavior
  * instead of re-implementing storage. Transports: stdio line loop
  * ([[run]], the `needle mcp` shape) and HTTP POST ([[serve]]).
  *
  * `readOnly` mirrors the reference's --read-only flag: mutating tools
  * answer with the reference's "Database is read-only" error text.
  */
class McpServer(api: RestApi, readOnly: Boolean = false) {

  /** Injectable clock (epoch millis) so memory ids are testable. */
  @volatile var nowEpochMs: () => Long = () => System.currentTimeMillis()

  private val mapper = new ObjectMapper()

  private val ProtocolVersion = "2024-11-05"
  private val ServerName = "graft-mcp"
  private val ServerVersion = "0.1.0"

  private case class ToolError(message: String)
    extends RuntimeException(message)

  // ------------------------------------------------------------ JSON-RPC

  /** One JSON-RPC request string → one response string. */
  def handle(requestJson: String): String = {
    val (id, result, error) =
      try {
        val req = mapper.readTree(requestJson)
        val id = Option(req.get("id")).getOrElse(mapper.nullNode())
        val method = Option(req.get("method")).map(_.asText()).getOrElse("")
        val params = Option(req.get("params"))
          .getOrElse(mapper.createObjectNode())
        method match {
          case "initialize" => (id, Some(initializeResult), None)
          case "notifications/initialized" =>
            (id, Some(mapper.createObjectNode(): JsonNode), None)
          case "tools/list" => (id, Some(toolDefinitions), None)
          case "tools/call" => (id, Some(toolsCall(params)), None)
          case other =>
            (id, None, Some((-32601, s"Method not found: $other")))
        }
      } catch {
        case e: com.fasterxml.jackson.core.JacksonException =>
          (mapper.nullNode(): JsonNode, None,
            Some((-32700, s"Parse error: ${e.getMessage}")))
      }
    val resp = mapper.createObjectNode()
    resp.put("jsonrpc", "2.0")
    resp.set[ObjectNode]("id", id)
    result.foreach(resp.set[ObjectNode]("result", _))
    error.foreach { case (code, msg) =>
      val e = resp.putObject("error")
      e.put("code", code).put("message", msg)
    }
    mapper.writeValueAsString(resp)
  }

  private def initializeResult: JsonNode = {
    val r = mapper.createObjectNode()
    r.put("protocolVersion", ProtocolVersion)
    val caps = r.putObject("capabilities")
    caps.putObject("tools"); caps.putObject("resources")
    val info = r.putObject("serverInfo")
    info.put("name", ServerName).put("version", ServerVersion)
    r
  }

  /** tools/call: dispatch, then wrap as MCP content (reference wraps the
    * tool result as pretty JSON text; tool failures are isError content,
    * not JSON-RPC errors — mcp.rs:607-623).
    */
  private def toolsCall(params: JsonNode): JsonNode = {
    val tool = Option(params.get("name")).map(_.asText()).getOrElse("")
    val args = Option(params.get("arguments"))
      .getOrElse(mapper.createObjectNode())
    val out = mapper.createObjectNode()
    val content = out.putArray("content").addObject()
    content.put("type", "text")
    try {
      val result = callTool(tool, args)
      content.put("text",
        mapper.writerWithDefaultPrettyPrinter().writeValueAsString(result))
    } catch {
      case e: ToolError =>
        content.put("text", s"Error: ${e.message}")
        out.put("isError", true)
    }
    out
  }

  // --------------------------------------------------------------- tools

  private def callTool(name: String, args: JsonNode): JsonNode = name match {
    case "list_collections"   => listCollections()
    case "create_collection"  => createCollection(args)
    case "collection_info"    => collectionInfo(args)
    case "insert_vectors"     => insertVectors(args)
    case "search"             => search(args)
    case "get_vector"         => getVector(args)
    case "delete_vector"      => deleteVector(args)
    case "delete_collection"  => deleteCollection(args)
    case "rename_collection"  => renameCollection(args)
    case "save_database"      => saveDatabase()
    case "batch_delete"       => batchDelete(args)
    case "update_metadata"    => updateMetadata(args)
    case "remember"           => remember(args)
    case "recall"             => recall(args)
    case "forget"             => forget(args)
    case "memory_consolidate" => memoryConsolidate(args)
    case other => throw ToolError(s"Unknown tool: $other")
  }

  /** REST round-trip; non-2xx surfaces the REST error message as a tool
    * error (→ isError content).
    */
  private def rest(method: String, path: String, body: String = ""): JsonNode = {
    val (status, resp) = api.handle(method, path, body)
    val node = mapper.readTree(resp)
    if (status >= 400)
      throw ToolError(Option(node.get("error")).map(_.asText())
        .getOrElse(s"HTTP $status"))
    node
  }

  private def restStatus(method: String, path: String,
                         body: String = ""): (Int, JsonNode) = {
    val (status, resp) = api.handle(method, path, body)
    (status, mapper.readTree(resp))
  }

  private def guardWrite(): Unit =
    if (readOnly) throw ToolError("Database is read-only")

  private def str(args: JsonNode, field: String): String =
    Option(args.get(field)).filterNot(_.isNull).map(_.asText())
      .getOrElse(throw ToolError(s"Missing '$field' parameter"))

  private def listCollections(): JsonNode = {
    val page = rest("GET", "/collections?limit=1000")
    val out = mapper.createObjectNode()
    val arr = out.putArray("collections")
    page.get("collections").forEach { c =>
      arr.addObject()
        .put("name", c.get("name").asText())
        .put("dimensions", c.get("dimensions").asInt())
        .put("vector_count", c.get("count").asLong())
    }
    out
  }

  private def createCollection(args: JsonNode): JsonNode = {
    guardWrite()
    val name = str(args, "name")
    val dims = Option(args.get("dimensions")).filterNot(_.isNull)
      .map(_.asInt()).getOrElse(throw ToolError("Missing 'dimensions' parameter"))
    val body = mapper.createObjectNode()
    body.put("name", name).put("dimensions", dims)
    Option(args.get("distance")).filterNot(_.isNull)
      .foreach(d => body.put("distance", d.asText()))
    rest("POST", "/collections", mapper.writeValueAsString(body))
    val out = mapper.createObjectNode()
    out.put("created", true).put("name", name).put("dimensions", dims)
    out
  }

  private def collectionInfo(args: JsonNode): JsonNode = {
    val name = str(args, "name")
    val info = rest("GET", s"/collections/${pathSegment(name)}")
    val dims = info.get("dimensions").asInt()
    val n = info.get("count").asLong()
    val out = mapper.createObjectNode()
    out.put("name", name).put("dimensions", dims).put("vector_count", n)
    val stats = out.putObject("stats")
    stats.put("vector_count", n).put("dimensions", dims)
    // f32 vector payload estimate (the reference reports its in-memory
    // arena size; a DataFrame-backed collection has no single number)
    stats.put("total_memory_bytes", n * dims * 4L)
    out
  }

  private def insertVectors(args: JsonNode): JsonNode = {
    guardWrite()
    val collection = str(args, "collection")
    val vectors = Option(args.get("vectors")).filter(_.isArray)
      .getOrElse(throw ToolError("Missing 'vectors' array"))
    val body = mapper.createObjectNode()
    val out = body.putArray("vectors")
    vectors.forEach { v =>
      val row = out.addObject()
      row.put("id", Option(v.get("id")).filterNot(_.isNull).map(_.asText())
        .getOrElse(throw ToolError("Vector missing 'id'")))
      row.set[ObjectNode]("vector", Option(v.get("values")).filter(_.isArray)
        .getOrElse(throw ToolError("Vector missing 'values'")))
      Option(v.get("metadata")).filterNot(_.isNull)
        .foreach(row.set[ObjectNode]("metadata", _))
    }
    rest("POST", s"/collections/${pathSegment(collection)}/vectors/batch",
      mapper.writeValueAsString(body))
    val res = mapper.createObjectNode()
    res.put("inserted", vectors.size()).put("collection", collection)
    res
  }

  private def search(args: JsonNode): JsonNode = {
    val collection = str(args, "collection")
    val body = mapper.createObjectNode()
    body.set[ObjectNode]("vector", Option(args.get("vector")).filter(_.isArray)
      .getOrElse(throw ToolError("Missing 'vector' parameter")))
    body.put("k", Option(args.get("k")).filterNot(_.isNull)
      .map(_.asInt()).getOrElse(10))
    Option(args.get("filter")).filterNot(_.isNull)
      .foreach(body.set[ObjectNode]("filter", _))
    val resp = rest("POST", s"/collections/${pathSegment(collection)}/search",
      mapper.writeValueAsString(body))
    val out = mapper.createObjectNode()
    val results = out.putArray("results")
    resp.get("results").forEach { r =>
      val e = results.addObject()
      e.put("id", r.get("id").asText())
      e.put("distance", r.get("distance").asDouble())
      e.set[ObjectNode]("metadata", r.get("metadata"))
    }
    out.put("count", results.size())
    out
  }

  private def getVector(args: JsonNode): JsonNode = {
    val collection = str(args, "collection")
    val id = str(args, "id")
    val (status, node) = restStatus("GET",
      s"/collections/${pathSegment(collection)}/vectors/${pathSegment(id)}")
    val out = mapper.createObjectNode()
    if (status == 404 && Option(node.get("error"))
        .exists(_.asText().startsWith("Vector not found"))) {
      out.put("id", id).put("found", false)
    } else if (status >= 400) {
      throw ToolError(Option(node.get("error")).map(_.asText())
        .getOrElse(s"HTTP $status"))
    } else {
      out.put("id", id)
      out.set[ObjectNode]("vector", node.get("vector"))
      out.set[ObjectNode]("metadata", node.get("metadata"))
      out.put("found", true)
    }
    out
  }

  private def deleteVector(args: JsonNode): JsonNode = {
    guardWrite()
    val collection = str(args, "collection")
    val id = str(args, "id")
    val (status, node) = restStatus("DELETE",
      s"/collections/${pathSegment(collection)}/vectors/${pathSegment(id)}")
    if (status >= 400 && !Option(node.get("error"))
        .exists(_.asText().startsWith("Vector not found")))
      throw ToolError(Option(node.get("error")).map(_.asText())
        .getOrElse(s"HTTP $status"))
    val out = mapper.createObjectNode()
    out.put("id", id).put("deleted", status < 400)
    out
  }

  private def deleteCollection(args: JsonNode): JsonNode = {
    guardWrite()
    val name = str(args, "name")
    rest("DELETE", s"/collections/${pathSegment(name)}")
    val out = mapper.createObjectNode()
    out.put("name", name).put("deleted", true)
    out
  }

  private def renameCollection(args: JsonNode): JsonNode = {
    guardWrite()
    val oldName = str(args, "old_name")
    val newName = str(args, "new_name")
    val body = mapper.createObjectNode()
    body.put("new_name", newName)
    rest("POST", s"/collections/${pathSegment(oldName)}/rename",
      mapper.writeValueAsString(body))
    val out = mapper.createObjectNode()
    out.put("old_name", oldName).put("new_name", newName)
      .put("renamed", true)
    out
  }

  private def saveDatabase(): JsonNode = {
    // collections are DataFrame-backed (parquet tables persist on their
    // own); acknowledged like the reference's Arc<Database> path
    val out = mapper.createObjectNode()
    out.put("acknowledged", true)
    out.put("message",
      "Save request acknowledged. Collections persist via their parquet tables.")
    out
  }

  private def batchDelete(args: JsonNode): JsonNode = {
    guardWrite()
    val collection = str(args, "collection")
    val ids = Option(args.get("ids")).filter(_.isArray)
      .getOrElse(throw ToolError("Missing 'ids' array"))
    val body = mapper.createObjectNode()
    body.set[ObjectNode]("ids", ids)
    val resp = rest("POST",
      s"/collections/${pathSegment(collection)}/vectors/delete-batch",
      mapper.writeValueAsString(body))
    val out = mapper.createObjectNode()
    out.put("deleted_count", resp.get("deleted").asLong())
    out.put("collection", collection)
    out
  }

  private def updateMetadata(args: JsonNode): JsonNode = {
    guardWrite()
    val collection = str(args, "collection")
    val id = str(args, "id")
    val newMeta = Option(args.get("metadata"))
      .getOrElse(throw ToolError("Missing 'metadata' parameter"))
    val existing = rest("GET",
      s"/collections/${pathSegment(collection)}/vectors/${pathSegment(id)}")
    // shallow merge: new top-level keys override (mcp.rs:902-913)
    val merged = Option(existing.get("metadata")).filterNot(_.isNull) match {
      case Some(base: ObjectNode) if newMeta.isObject =>
        val m = base.deepCopy[ObjectNode]()
        newMeta.fields().forEachRemaining(e => m.set[ObjectNode](e.getKey, e.getValue))
        m: JsonNode
      case _ => newMeta
    }
    val row = mapper.createObjectNode()
    row.put("id", id)
    row.set[ObjectNode]("vector", existing.get("vector"))
    row.set[ObjectNode]("metadata", merged)
    // the upsert route takes ONE bare vector object (RestApi.scala:117);
    // batches go to /vectors/upsert-batch
    rest("POST", s"/collections/${pathSegment(collection)}/vectors/upsert",
      mapper.writeValueAsString(row))
    val out = mapper.createObjectNode()
    out.put("id", id).put("updated", true)
    out.set[ObjectNode]("metadata", merged)
    out
  }

  // ------------------------------------------------------- memory tools

  private def remember(args: JsonNode): JsonNode = {
    guardWrite()
    val collection = str(args, "collection")
    val content = str(args, "content")
    val vector = Option(args.get("vector")).filter(_.isArray)
      .getOrElse(throw ToolError("Missing 'vector' parameter"))
    val tier = Option(args.get("tier")).filterNot(_.isNull)
      .map(_.asText()).getOrElse("episodic")
    val importance = Option(args.get("importance")).filterNot(_.isNull)
      .map(_.asDouble()).getOrElse(0.5)
    val memoryId = s"mem_${nowEpochMs()}"
    val meta = mapper.createObjectNode()
    meta.put("_memory_content", content)
    meta.put("_memory_tier", tier)
    meta.put("_memory_importance", importance)
    meta.put("_memory_timestamp",
      java.time.Instant.ofEpochMilli(nowEpochMs()).toString)
    Option(args.get("session_id")).filterNot(_.isNull)
      .foreach(s => meta.put("_memory_session", s.asText()))
    val row = mapper.createObjectNode()
    row.put("id", memoryId)
    row.set[ObjectNode]("vector", vector)
    row.set[ObjectNode]("metadata", meta)
    val body = mapper.createObjectNode()
    body.putArray("vectors").add(row)
    rest("POST", s"/collections/${pathSegment(collection)}/vectors/batch",
      mapper.writeValueAsString(body))
    val out = mapper.createObjectNode()
    out.put("stored", true).put("memory_id", memoryId)
    out.put("tier", tier).put("importance", importance)
    out
  }

  private def recall(args: JsonNode): JsonNode = {
    val collection = str(args, "collection")
    val vector = Option(args.get("vector")).filter(_.isArray)
      .getOrElse(throw ToolError("Missing 'vector' parameter"))
    val k = Option(args.get("k")).filterNot(_.isNull)
      .map(_.asInt()).getOrElse(5)
    val conditions = mapper.createArrayNode()
    Option(args.get("tier")).filterNot(_.isNull).foreach { t =>
      conditions.addObject().putObject("_memory_tier")
        .set[ObjectNode]("$eq", t)
    }
    Option(args.get("min_importance")).filterNot(_.isNull).foreach { imp =>
      conditions.addObject().putObject("_memory_importance")
        .set[ObjectNode]("$gte", imp)
    }
    val body = mapper.createObjectNode()
    body.set[ObjectNode]("vector", vector)
    body.put("k", k)
    if (conditions.size() == 1)
      body.set[ObjectNode]("filter", conditions.get(0))
    else if (conditions.size() > 1)
      body.putObject("filter").set[ObjectNode]("$and", conditions)
    val resp = rest("POST", s"/collections/${pathSegment(collection)}/search",
      mapper.writeValueAsString(body))
    val out = mapper.createObjectNode()
    val memories = out.putArray("memories")
    resp.get("results").forEach { r =>
      val d = r.get("distance").asDouble()
      val meta = Option(r.get("metadata")).filterNot(_.isNull)
      val e = memories.addObject()
      e.put("memory_id", r.get("id").asText())
      e.put("distance", d)
      e.put("relevance_score", 1.0 / (1.0 + d))
      def field(f: String): JsonNode = meta.flatMap(m => Option(m.get(f)))
        .getOrElse(mapper.nullNode())
      e.set[ObjectNode]("content", field("_memory_content"))
      e.set[ObjectNode]("tier", field("_memory_tier"))
      e.set[ObjectNode]("importance", field("_memory_importance"))
      e.set[ObjectNode]("timestamp", field("_memory_timestamp"))
    }
    out.put("count", memories.size())
    out
  }

  private def forget(args: JsonNode): JsonNode = {
    guardWrite()
    val collection = str(args, "collection")
    val memoryId = str(args, "memory_id")
    val (status, node) = restStatus("DELETE",
      s"/collections/${pathSegment(collection)}/vectors/" +
        pathSegment(memoryId))
    if (status >= 400 && !Option(node.get("error"))
        .exists(_.asText().startsWith("Vector not found")))
      throw ToolError(Option(node.get("error")).map(_.asText())
        .getOrElse(s"HTTP $status"))
    val out = mapper.createObjectNode()
    out.put("forgotten", status < 400).put("memory_id", memoryId)
    out
  }

  /** Consolidation (mcp.rs:1050-1105): promote episodic memories at or
    * above the promotion threshold to semantic, forget episodic memories
    * below the expiry threshold. The scan is three filtered REST queries
    * (count + the two affected subsets), not an all-ids driver loop — only
    * rows that actually change are touched.
    */
  private def memoryConsolidate(args: JsonNode): JsonNode = {
    guardWrite()
    val collection = str(args, "collection")
    val promotionThreshold = Option(args.get("promotion_threshold"))
      .filterNot(_.isNull).map(_.asDouble()).getOrElse(0.7)
    val expireBelow = Option(args.get("expire_below"))
      .filterNot(_.isNull).map(_.asDouble()).getOrElse(0.1)
    def episodicAnd(extra: (String, String, Double)*): String = {
      val conds = mapper.createArrayNode()
      conds.addObject().putObject("_memory_tier").put("$eq", "episodic")
      extra.foreach { case (f, op, v) =>
        conds.addObject().putObject(f).put(op, v)
      }
      val filter = mapper.createObjectNode()
      filter.set[ObjectNode]("$and", conds)
      mapper.writeValueAsString(filter)
    }
    def pagedIds(filterJson: String): Seq[String] = {
      val ids = Seq.newBuilder[String]
      var after: Option[String] = None
      var more = true
      while (more) {
        val body = mapper.createObjectNode()
        body.set[ObjectNode]("filter", mapper.readTree(filterJson))
        body.put("limit", 1000)
        after.foreach(body.put("after_id", _))
        val page = rest("POST",
          s"/collections/${pathSegment(collection)}/query",
          mapper.writeValueAsString(body))
        page.get("data").forEach(r => ids += r.get("id").asText())
        val p = page.get("pagination")
        more = p.get("has_more").asBoolean()
        after = Option(p.get("next_after_id")).map(_.asText())
      }
      ids.result()
    }
    val scanned = rest("POST", s"/collections/${pathSegment(collection)}/count",
      s"""{"filter": ${episodicAnd()}}""").get("count").asLong()
    var promoted = 0L
    val toPromote = pagedIds(
      episodicAnd(("_memory_importance", "$gte", promotionThreshold)))
    toPromote.foreach { id =>
      val patch = mapper.createObjectNode()
      patch.put("id", id)
      patch.putObject("metadata").put("_memory_tier", "semantic")
      updateMetadata(patch
        .deepCopy[ObjectNode]().put("collection", collection))
      promoted += 1
    }
    val toForget = pagedIds(
      episodicAnd(("_memory_importance", "$lt", expireBelow)))
    var forgotten = 0L
    if (toForget.nonEmpty) {
      val body = mapper.createObjectNode()
      val ids = body.putArray("ids")
      toForget.foreach(ids.add)
      forgotten = rest("POST",
        s"/collections/${pathSegment(collection)}/vectors/delete-batch",
        mapper.writeValueAsString(body)).get("deleted").asLong()
    }
    val out = mapper.createObjectNode()
    out.put("consolidated", true).put("scanned", scanned)
    out.put("promoted", promoted).put("forgotten", forgotten)
    out.put("errors", 0L)
    out
  }

  // ----------------------------------------------------- tool definitions

  /** The reference's registered tool list (mcp.rs:115-460,
    * mcp-registry.json `tools`), name-for-name.
    */
  private[server] def toolDefinitions: JsonNode = {
    val out = mapper.createObjectNode()
    val tools = out.putArray("tools")
    def tool(name: String, description: String,
             required: Seq[String], props: (String, String, String)*): Unit = {
      val t = tools.addObject()
      t.put("name", name).put("description", description)
      val schema = t.putObject("inputSchema")
      schema.put("type", "object")
      val p = schema.putObject("properties")
      props.foreach { case (n, typ, desc) =>
        val prop = p.putObject(n)
        if (typ == "array") {
          prop.put("type", "array")
          prop.putObject("items").put("type", "number")
        } else prop.put("type", typ)
        prop.put("description", desc)
      }
      val req = schema.putArray("required")
      required.foreach(req.add)
    }
    tool("list_collections",
      "List all vector collections in the database, including their dimensions and vector counts.",
      Seq.empty)
    tool("create_collection",
      "Create a new vector collection with specified dimensions and distance function.",
      Seq("name", "dimensions"),
      ("name", "string", "Collection name"),
      ("dimensions", "integer", "Vector dimensionality"),
      ("distance", "string", "Distance function (default: cosine)"))
    tool("collection_info",
      "Get detailed statistics about a collection.",
      Seq("name"), ("name", "string", "Collection name"))
    tool("insert_vectors",
      "Insert one or more vectors with optional JSON metadata.",
      Seq("collection", "vectors"),
      ("collection", "string", "Target collection"),
      ("vectors", "array", "Array of {id, values, metadata} objects"))
    tool("search",
      "Search for similar vectors with optional MongoDB-style metadata filters.",
      Seq("collection", "vector"),
      ("collection", "string", "Collection to search"),
      ("vector", "array", "Query vector"),
      ("k", "integer", "Number of results (default: 10)"),
      ("filter", "object", "Optional metadata filter"))
    tool("get_vector", "Retrieve a specific vector and its metadata by ID.",
      Seq("collection", "id"),
      ("collection", "string", "Collection name"),
      ("id", "string", "Vector id"))
    tool("delete_vector", "Delete a vector by ID.",
      Seq("collection", "id"),
      ("collection", "string", "Collection name"),
      ("id", "string", "Vector id"))
    tool("delete_collection", "Delete an entire collection.",
      Seq("name"), ("name", "string", "Collection name"))
    tool("rename_collection", "Rename a collection.",
      Seq("old_name", "new_name"),
      ("old_name", "string", "Current name"),
      ("new_name", "string", "New name"))
    tool("save_database", "Persist the database to disk.", Seq.empty)
    tool("batch_delete", "Delete multiple vectors by ID.",
      Seq("collection", "ids"),
      ("collection", "string", "Collection name"),
      ("ids", "array", "Vector ids to delete"))
    tool("update_metadata", "Merge new metadata into an existing vector.",
      Seq("collection", "id", "metadata"),
      ("collection", "string", "Collection name"),
      ("id", "string", "Vector id"),
      ("metadata", "object", "Metadata keys to merge"))
    tool("remember",
      "Store a memory for an AI agent with content, tier, and importance.",
      Seq("collection", "content", "vector"),
      ("collection", "string", "Memory collection"),
      ("content", "string", "Memory content to store"),
      ("vector", "array", "Embedding vector for the memory"),
      ("tier", "string", "Memory tier (default: episodic)"),
      ("importance", "number", "Importance score 0.0-1.0 (default: 0.5)"),
      ("session_id", "string", "Optional session scope"))
    tool("recall",
      "Retrieve relevant memories by vector similarity, filtered by tier and importance.",
      Seq("collection", "vector"),
      ("collection", "string", "Memory collection"),
      ("vector", "array", "Query vector"),
      ("k", "integer", "Number of memories (default: 5)"),
      ("tier", "string", "Filter by memory tier"),
      ("min_importance", "number", "Minimum importance threshold"))
    tool("forget", "Delete a specific memory by its ID.",
      Seq("collection", "memory_id"),
      ("collection", "string", "Memory collection"),
      ("memory_id", "string", "Memory id to forget"))
    tool("memory_consolidate",
      "Promote important episodic memories to semantic tier and forget expired low-importance entries.",
      Seq("collection"),
      ("collection", "string", "Memory collection"),
      ("promotion_threshold", "number", "Promotion threshold (default: 0.7)"),
      ("expire_below", "number", "Expiry threshold (default: 0.1)"))
    out
  }

  // ---------------------------------------------------------- transports

  /** stdio transport: one JSON-RPC message per line (the `needle mcp`
    * stdin loop, mcp.rs:494-523).
    */
  def run(in: java.io.InputStream = System.in,
          outStream: java.io.OutputStream = System.out): Unit = {
    val reader = new java.io.BufferedReader(
      new java.io.InputStreamReader(in, StandardCharsets.UTF_8))
    val writer = new java.io.PrintWriter(
      new java.io.OutputStreamWriter(outStream, StandardCharsets.UTF_8), true)
    var line = reader.readLine()
    while (line != null) {
      if (line.trim.nonEmpty) writer.println(handle(line))
      line = reader.readLine()
    }
  }

  /** HTTP transport: JSON-RPC over POST /mcp, hosted on [[Http]]. */
  def serve(port: Int = 0): com.sun.net.httpserver.HttpServer =
    Http.serve(port, "/mcp") { (_, _, _, body) => Http.json(200, handle(body)) }
}
