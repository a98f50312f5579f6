package graft.server

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

import RestApi.pathSegment

/** LLM function-calling tool surface (reference:
  * src/services/ai/llm_tools.rs): the six engine tools as OpenAI-format
  * function schemas, call validation, and execution.
  *
  * The tool NAMES, descriptions, and parameter schemas mirror the
  * reference verbatim — like the MCP registry, they are the contract an
  * LLM discovers and binds to, so behavioral parity requires byte
  * parity (pre-adjudicated in COVERAGE.md's copy-perimeter note).
  * `validateCall` reproduces the reference's exact checks (unknown
  * function, then required-field presence — nothing deeper).
  *
  * One deliberate improvement: the reference's `execute` returns a mock
  * `{"status": "executed"}`; here execution dispatches against a live
  * [[RestApi]] — create/insert/search/delete/list/info round-trip the
  * same Spark-backed JSON surface every other client uses, with text
  * auto-embedded through the engine's deterministic embedder.
  */
final class LlmTools(api: RestApi, embedDims: Int = 64) {
  import LlmTools._

  private val mapper = new ObjectMapper()

  def schemas: Seq[JsonNode] = toolOrder.map(toolSchemas)

  def get(name: String): Option[JsonNode] = toolSchemas.get(name)

  def size: Int = toolSchemas.size

  /** OpenAI `tools` array. */
  def toOpenAiTools: String = {
    val arr = mapper.createArrayNode()
    schemas.foreach(s => arr.add(s))
    mapper.writeValueAsString(arr)
  }

  /** llm_tools.rs:176-195: unknown function, then required-field
    * presence.
    */
  def validateCall(name: String, argumentsJson: String): Either[String, JsonNode] = {
    val schema = toolSchemas.getOrElse(name,
      return Left(s"Unknown function: $name"))
    val args = try mapper.readTree(
        if (argumentsJson == null || argumentsJson.isEmpty) "{}"
        else argumentsJson)
      catch { case e: Exception => return Left(s"Invalid arguments: ${e.getMessage}") }
    val required = schema.path("function").path("parameters").path("required")
    if (required.isArray) {
      val it = required.elements()
      while (it.hasNext) {
        val f = it.next().asText()
        if (args.get(f) == null)
          return Left(s"Missing required field: $f")
      }
    }
    Right(args)
  }

  final case class FunctionResult(name: String, success: Boolean,
                                  result: String, error: Option[String])

  /** Validate + dispatch against the REST surface. */
  def execute(name: String, argumentsJson: String): FunctionResult =
    validateCall(name, argumentsJson) match {
      case Left(err) => FunctionResult(name, success = false, "null", Some(err))
      case Right(args) =>
        try {
          val (status, body) = dispatch(name, args)
          if (status >= 400)
            FunctionResult(name, success = false, "null",
              Some(Option(mapper.readTree(body).get("error"))
                .map(_.asText()).getOrElse(s"HTTP $status")))
          else FunctionResult(name, success = true, body, None)
        } catch {
          case e: Exception =>
            FunctionResult(name, success = false, "null",
              Some(String.valueOf(e.getMessage)))
        }
    }

  private def embed(text: String): ArrayNode = {
    val v = graft.multimodal.Multimodal.mockEmbed(
      text.getBytes(java.nio.charset.StandardCharsets.UTF_8), embedDims)
    val arr = mapper.createArrayNode()
    v.foreach(arr.add)
    arr
  }

  private def dispatch(name: String, args: JsonNode): (Int, String) =
    name match {
      case "needle_create_collection" =>
        val o = mapper.createObjectNode()
        o.put("name", args.get("name").asText())
        // dimensions come from the call, but text tools embed at the
        // registry's embedDims — creating at another size is allowed,
        // matching the reference schema
        o.put("dimensions", args.get("dimensions").asInt())
        api.handle("POST", "/collections", mapper.writeValueAsString(o))
      case "needle_insert" =>
        val c = args.get("collection").asText()
        val o = mapper.createObjectNode()
        o.put("id", args.get("id").asText())
        o.set[JsonNode]("vector", embed(args.get("text").asText()))
        val meta = Option(args.get("metadata")).filter(_.isObject)
          .map(_.asInstanceOf[ObjectNode].deepCopy())
          .getOrElse(mapper.createObjectNode())
        meta.put("_text", args.get("text").asText())
        o.set[JsonNode]("metadata", meta)
        api.handle("POST", s"/collections/${pathSegment(c)}/vectors",
          mapper.writeValueAsString(o))
      case "needle_search" =>
        val c = args.get("collection").asText()
        val o = mapper.createObjectNode()
        o.set[JsonNode]("vector", embed(args.get("query").asText()))
        o.put("k", Option(args.get("k")).map(_.asInt()).getOrElse(5))
        api.handle("POST", s"/collections/${pathSegment(c)}/search",
          mapper.writeValueAsString(o))
      case "needle_delete" =>
        api.handle("DELETE",
          s"/collections/${pathSegment(args.get("collection").asText())}" +
            s"/vectors/${pathSegment(args.get("id").asText())}", "")
      case "needle_list_collections" =>
        api.handle("GET", "/collections", "")
      case "needle_collection_info" =>
        api.handle("GET",
          s"/collections/${pathSegment(args.get("collection").asText())}", "")
      case other =>
        throw new IllegalStateException(s"no dispatch for $other")
    }
}

object LlmTools {

  private val mapper = new ObjectMapper()

  private def schema(name: String, description: String,
                     parameters: String): (String, JsonNode) = {
    val o = mapper.createObjectNode()
    o.put("type", "function")
    val f = o.putObject("function")
    f.put("name", name).put("description", description)
    f.set[JsonNode]("parameters", mapper.readTree(parameters))
    name -> o
  }

  /** Stable tool order for schemas/OpenAI export. */
  private val toolOrder = Seq("needle_create_collection", "needle_insert",
    "needle_search", "needle_delete", "needle_list_collections",
    "needle_collection_info")

  /** The reference tool registry (llm_tools.rs:69-165), byte-parity
    * contract strings.
    */
  private val toolSchemas: Map[String, JsonNode] = Map(
    schema("needle_create_collection",
      "Create a new vector collection in the Needle database",
      """{"type":"object","properties":{
        |"name":{"type":"string","description":"Collection name"},
        |"dimensions":{"type":"integer","description":"Vector dimensions (e.g., 384, 768, 1536)"}},
        |"required":["name","dimensions"]}""".stripMargin),
    schema("needle_insert",
      "Insert a text document into a collection (auto-embeds)",
      """{"type":"object","properties":{
        |"collection":{"type":"string","description":"Target collection"},
        |"id":{"type":"string","description":"Document ID"},
        |"text":{"type":"string","description":"Text content to embed and store"},
        |"metadata":{"type":"object","description":"Optional metadata"}},
        |"required":["collection","id","text"]}""".stripMargin),
    schema("needle_search",
      "Search for similar documents by text query",
      """{"type":"object","properties":{
        |"collection":{"type":"string","description":"Collection to search"},
        |"query":{"type":"string","description":"Search query text"},
        |"k":{"type":"integer","description":"Number of results","default":5}},
        |"required":["collection","query"]}""".stripMargin),
    schema("needle_delete",
      "Delete a document from a collection",
      """{"type":"object","properties":{
        |"collection":{"type":"string","description":"Collection name"},
        |"id":{"type":"string","description":"Document ID to delete"}},
        |"required":["collection","id"]}""".stripMargin),
    schema("needle_list_collections",
      "List all collections in the database",
      """{"type":"object","properties":{}}"""),
    schema("needle_collection_info",
      "Get information about a collection (vector count, dimensions)",
      """{"type":"object","properties":{
        |"collection":{"type":"string","description":"Collection name"}},
        |"required":["collection"]}""".stripMargin))
}
