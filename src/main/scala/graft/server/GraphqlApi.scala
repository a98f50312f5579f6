package graft.server

import scala.collection.mutable

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

import RestApi.pathSegment

/** GraphQL front-end (reference: src/search/graphql_api.rs) — the last
  * host surface of the reference's switching table: queries
  * `collections / collection / vector / search / health`, mutations
  * `createCollection / insertVector / deleteVector / deleteCollection /
  * batchInsert / save`, and the `searchStream` subscription, all
  * resolved through the REST layer exactly as [[WebUi]] is (the
  * resolvers never touch DataFrames directly, so every route shares the
  * REST surface's validation, ANN serving, and filter compiler).
  *
  * Where the reference ships resolver structs plus an SDL string and
  * leaves HTTP integration to an external crate (`async-graphql` behind
  * a feature flag), this analogue is self-contained: [[handle]] accepts
  * a standard GraphQL POST body (`{"query": ..., "variables": ...,
  * "operationName": ...}`), parses the document with a minimal
  * recursive-descent parser (operations, variables with defaults,
  * aliases, field arguments with Int/Float/String/Boolean/null/enum/
  * list/object literals, nested selection sets, named and inline
  * fragments with type conditions, `__typename`, `@skip`/`@include`
  * evaluated against variables, and `__schema` / `__type`
  * introspection built from the SDL's type table; any other directive
  * is rejected with a clear error), executes the resolvers,
  * projects each result through the requested selection set, and
  * returns the spec's `{"data": ..., "errors": [...]}` envelope —
  * resolver failures are per-field GraphQL errors on a 200, only an
  * unparseable document is a 400.
  *
  * The SDL in [[GraphqlApi.sdl]] mirrors graphql_api.rs:424-500
  * verbatim — like the MCP tool schemas and LLM tool descriptions it is
  * client-discoverable contract surface, not implementation.
  *
  * Reference quirks kept: `save` always errors ("Save must be
  * coordinated through the server's write path",
  * graphql_api.rs:383-390); `createCollection` echoes the requested
  * distanceFunction defaulted to "Cosine" without consulting the store
  * (graphql_api.rs:316-331); `batchInsert` exists as a resolver but not
  * in the SDL (their inconsistency, preserved); `health.uptime` is the
  * literal "unknown". One divergence, documented: `searchStream` is a
  * materialized event list (result + sequence + isLast) rather than a
  * live stream — the reference defines only the event TYPE and ships no
  * transport either.
  */
final class GraphqlApi(api: RestApi, version: String = "0.1.0") {
  import GraphqlApi._

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** POST /graphql as a pure function: body → (status, response json).
    */
  def handle(body: String): (Int, String) = {
    val (doc, vars) =
      try {
        val req = mapper.readTree(body)
        val q = Option(req.get("query")).filterNot(_.isNull).map(_.asText())
          .getOrElse(throw GqlParseError("missing \"query\""))
        val vars = Option(req.get("variables")).filterNot(_.isNull)
          .getOrElse(mapper.createObjectNode())
        val opName = Option(req.get("operationName")).filterNot(_.isNull)
          .map(_.asText())
        val d = parse(q, opName)
        validateSubscriptionRoot(d)
        // @skip/@include need the variables — still the request-error
        // phase, so a bad `if` is a 400 like any validation failure
        val d2 = d.copy(selections =
          applyDirectives(d.selections, vars, d.varDefs))
        // §6.4 CreateSourceEventStream runs CollectFields with the
        // REQUEST's variables: a variable-valued @skip that removes the
        // subscription's single root passes the static check above but
        // must still be a request error — re-validate the
        // directive-applied document (its literal pass IS the runtime
        // collection, directives now being evaluated away)
        validateSubscriptionRoot(d2)
        (d2, vars)
      } catch {
        case e: GqlParseError =>
          return (400, mapper.writeValueAsString(errorEnvelope(e.message)))
        case e: Exception =>
          return (400, mapper.writeValueAsString(
            errorEnvelope(s"invalid request: ${e.getMessage}")))
      }
    val rootTpe = GraphqlApi.rootTypes(doc.op)
    val data = mapper.createObjectNode()
    val errors = mutable.Buffer.empty[String]
    flattenTop(doc.selections, rootTpe).foreach { f =>
      try {
        if (f.name == "__typename")
          data.put(f.alias, rootTpe)
        else {
          val resolved = resolve(doc.op, f, vars, doc.varDefs)
          data.set[JsonNode](f.alias, project(resolved, f.sub,
            GraphqlApi.fieldTypes.getOrElse((rootTpe, f.name), "")))
        }
      } catch {
        case e: GqlError =>
          errors += e.message
          data.set[JsonNode](f.alias, mapper.nullNode())
        case e: Exception =>
          errors += String.valueOf(e.getMessage)
          data.set[JsonNode](f.alias, mapper.nullNode())
      }
      ()
    }
    val out = mapper.createObjectNode()
    out.set[JsonNode]("data", data)
    if (errors.nonEmpty) {
      val ea = out.putArray("errors")
      errors.foreach(m => ea.addObject().put("message", m))
    }
    (200, mapper.writeValueAsString(out))
  }

  /** Subscription delivery as server-sent events (the graphql-sse
    * single-connection shape): when the document's operation is a
    * subscription, returns the per-event `next` payloads — each one a
    * spec envelope `{"data": {<alias>: <one event>}}` — in stream
    * order; the caller appends the `complete` frame. None when the
    * operation is not a subscription (fall back to the single-response
    * path). The events still come from one materialized search (the
    * engine's top-k is a single pass by nature); what this adds over
    * [[handle]] is per-event framing: every frame is resolved and
    * serialized before the server writes the first byte, then written
    * and flushed individually, so a consumer processes event k without
    * waiting for the rest of the batch to arrive. Parse errors raise
    * GqlParseError exactly as [[handle]]'s 400 path; resolver errors
    * yield one `{"errors": [...]}` payload.
    */
  def subscriptionSseFrames(body: String): Option[Seq[String]] = {
    val req = mapper.readTree(body)
    val q = Option(req.get("query")).filterNot(_.isNull).map(_.asText())
      .getOrElse(throw GqlParseError("missing \"query\""))
    val vars = Option(req.get("variables")).filterNot(_.isNull)
      .getOrElse(mapper.createObjectNode())
    val opName = Option(req.get("operationName")).filterNot(_.isNull)
      .map(_.asText())
    val doc0 = parse(q, opName)
    if (doc0.op != "subscription") return None
    validateSubscriptionRoot(doc0)
    val doc = doc0.copy(selections =
      applyDirectives(doc0.selections, vars, doc0.varDefs))
    // §6.4: re-validate with the request's variables applied — a
    // variable-valued @skip removing the single root is a request
    // error, not an empty stream (see handle())
    validateSubscriptionRoot(doc)
    // validation guarantees ONE response key; same-key duplicates (a
    // spec-legal fragment-composition shape) collapse to the first
    // occurrence — the minimal executor does not merge selection sets
    val fields = flattenTop(doc.selections, "Subscription")
      .distinctBy(_.alias)
    Some(fields.flatMap { f =>
      try {
        val events = resolve(doc.op, f, vars, doc.varDefs)
        val tpe = GraphqlApi.fieldTypes.getOrElse(("Subscription", f.name), "")
        import scala.jdk.CollectionConverters._
        events.elements().asScala.map { e =>
          val env = mapper.createObjectNode()
          env.putObject("data").set[JsonNode](f.alias, project(e, f.sub, tpe))
          mapper.writeValueAsString(env)
        }.toSeq
      } catch {
        case e: Exception =>
          val env = mapper.createObjectNode()
          env.putArray("errors").addObject()
            .put("message", String.valueOf(e.getMessage))
          Seq(mapper.writeValueAsString(env))
      }
    })
  }

  private def errorEnvelope(message: String): ObjectNode = {
    val out = mapper.createObjectNode()
    out.set[JsonNode]("data", mapper.nullNode())
    out.putArray("errors").addObject().put("message", message)
    out
  }

  // ------------------------------------------------------------ resolvers

  private def resolve(op: String, f: FieldSel, vars: JsonNode,
                      defs: Seq[VarDef]): JsonNode = {
    def arg(name: String): Option[JsonNode] =
      f.args.get(name).map(coerce(_, vars, defs))
    def req(name: String): JsonNode =
      arg(name).getOrElse(
        throw GqlError(s"missing argument '$name' on field '${f.name}'"))
    (op, f.name) match {
      case ("query", "collections")  => qCollections()
      case ("query", "collection")   => qCollection(req("name").asText())
      case ("query", "vector") =>
        qVector(req("collection").asText(), req("id").asText())
      case ("query", "search")       => qSearch(req("input"))._1
      case ("query", "health")       => qHealth()
      case ("query", "__schema")     => GraphqlApi.introspectionSchema
      case ("query", "__type") =>
        GraphqlApi.introspectionType(req("name").asText())
      case ("mutation", "createCollection") => mCreateCollection(req("input"))
      case ("mutation", "insertVector")     => mInsertVector(req("input"))
      case ("mutation", "deleteVector") =>
        mDeleteVector(req("collection").asText(), req("id").asText())
      case ("mutation", "deleteCollection") =>
        mDeleteCollection(req("name").asText())
      case ("mutation", "batchInsert") =>
        mBatchInsert(req("collection").asText(), req("inputs"))
      case ("mutation", "save") =>
        throw GqlError(
          "Save must be coordinated through the server's write path")
      case ("subscription", "searchStream") => sSearchStream(req("input"))
      case _ =>
        throw GqlError(s"unknown $op field '${f.name}'")
    }
  }

  /** WebUi-style REST read: any 4xx/5xx surfaces as a GraphQL error. */
  private def rest(method: String, path: String,
                   body: String = ""): JsonNode = {
    val (status, resp) = api.handle(method, path, body)
    if (status >= 400)
      throw GqlError(Option(mapper.readTree(resp).get("error"))
        .map(_.asText()).getOrElse(s"$method $path failed: $status"))
    mapper.readTree(resp)
  }

  private def collNode(name: String, dims: Int, count: Long): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("name", name).put("dimensions", dims)
    o.put("distanceFunction",
      enumMetric(api.collectionMetric(name).getOrElse("")))
    o.put("vectorCount", count).put("isEmpty", count == 0L)
  }

  /** The store keeps canonical metric names; the reference Debug-formats
    * its DistanceFunction enum into this field (graphql_api.rs:197-218
    * over distance.rs:43-73), so reads render the enum spelling —
    * matching createCollection's "Cosine" echo.
    */
  private val enumNames = Map("cosine" -> "Cosine",
    "cosine_normalized" -> "CosineNormalized", "euclidean" -> "Euclidean",
    "dot" -> "DotProduct", "manhattan" -> "Manhattan",
    "hamming" -> "Hamming", "chebyshev" -> "Chebyshev")

  private def enumMetric(metric: String): String =
    enumNames.getOrElse(metric, metric.capitalize)

  /** The store name of an enum spelling ("DotProduct" → "dot"); other
    * spellings pass through for the store to parse.
    */
  private def storeMetric(spelling: String): String =
    enumNames.collectFirst { case (m, e) if e == spelling => m }
      .getOrElse(spelling)

  private def qCollections(): ArrayNode = {
    import scala.jdk.CollectionConverters._
    val a = mapper.createArrayNode()
    rest("GET", "/collections?limit=1000").get("collections").elements()
      .asScala.foreach { c =>
        a.add(collNode(c.get("name").asText(), c.get("dimensions").asInt(),
          c.get("count").asLong()))
      }
    a
  }

  /** Nullable per the SDL: an unknown name resolves to null, not an
    * error (GraphQL-idiomatic; the reference's Result::Err is the Rust
    * spelling of the same nullable field).
    */
  private def qCollection(name: String): JsonNode =
    try {
      val c = rest("GET", s"/collections/${pathSegment(name)}")
      collNode(name, c.get("dimensions").asInt(), c.get("count").asLong())
    } catch { case _: GqlError => mapper.nullNode() }

  private def qVector(collection: String, id: String): ObjectNode = {
    val v = rest("GET",
      s"/collections/${pathSegment(collection)}/vectors/${pathSegment(id)}")
    val o = mapper.createObjectNode()
    o.put("id", id)
    o.set[JsonNode]("vector", v.get("vector"))
    o.set[JsonNode]("metadata", metaString(v.get("metadata")))
    o.put("collection", collection)
  }

  /** GraphQL metadata is a JSON STRING field (graphql_api.rs GqlVector)
    * while the REST layer returns the parsed object — re-stringify.
    */
  private def metaString(meta: JsonNode): JsonNode =
    if (meta == null || meta.isNull) mapper.nullNode()
    else mapper.getNodeFactory.textNode(mapper.writeValueAsString(meta))

  private def qSearch(input: JsonNode): (ObjectNode, ArrayNode) = {
    val collection = reqField(input, "collection").asText()
    val body = mapper.createObjectNode()
    body.set[JsonNode]("vector", reqField(input, "vector"))
    body.put("k", Option(input.get("k")).filterNot(_.isNull)
      .map(_.asInt()).getOrElse(10))
    Option(input.get("filter")).filterNot(_.isNull).foreach { fs =>
      val parsed =
        try mapper.readTree(fs.asText())
        catch { case e: Exception =>
          throw GqlError(s"Invalid filter JSON: ${e.getMessage}") }
      body.set[JsonNode]("filter", parsed)
      ()
    }
    val t0 = System.nanoTime()
    val resp = rest("POST", s"/collections/${pathSegment(collection)}/search",
      mapper.writeValueAsString(body))
    val queryTimeUs = (System.nanoTime() - t0) / 1000L
    import scala.jdk.CollectionConverters._
    val results = mapper.createArrayNode()
    resp.get("results").elements().asScala.foreach { r =>
      val e = results.addObject()
      e.put("id", r.get("id").asText())
      e.put("distance", r.get("distance").floatValue())
      e.set[JsonNode]("metadata", metaString(r.get("metadata")))
      e.put("collection", collection)
      ()
    }
    val o = mapper.createObjectNode()
    o.set[JsonNode]("results", results)
    o.put("total", results.size())
    o.put("queryTimeUs", queryTimeUs)
    o.put("collection", collection)
    (o, results)
  }

  private def qHealth(): ObjectNode = {
    import scala.jdk.CollectionConverters._
    val colls = rest("GET", "/collections?limit=1000").get("collections")
      .elements().asScala.toSeq
    val o = mapper.createObjectNode()
    o.put("healthy", true).put("version", version)
    o.put("collectionCount", colls.size)
    o.put("totalVectors", colls.map(_.get("count").asLong()).sum)
    o.put("uptime", "unknown") // graphql_api.rs:299
  }

  private def mCreateCollection(input: JsonNode): ObjectNode = {
    val name = reqField(input, "name").asText()
    val dims = reqField(input, "dimensions").asInt()
    val distance = Option(input.get("distanceFunction"))
      .filterNot(_.isNull).map(_.asText())
    val body = mapper.createObjectNode()
    body.put("name", name).put("dimensions", dims)
    distance.foreach(d => body.put("distance", storeMetric(d)))
    rest("POST", "/collections", mapper.writeValueAsString(body))
    // reference echo: requested distance or "Cosine", count 0, empty
    val o = mapper.createObjectNode()
    o.put("name", name).put("dimensions", dims)
    o.put("distanceFunction", distance.getOrElse("Cosine"))
    o.put("vectorCount", 0L).put("isEmpty", true)
  }

  private def mInsertVector(input: JsonNode): ObjectNode = {
    val collection = reqField(input, "collection").asText()
    val id = reqField(input, "id").asText()
    val body = insertBody(input)
    rest("POST", s"/collections/${pathSegment(collection)}/vectors",
      mapper.writeValueAsString(body))
    val o = mapper.createObjectNode()
    o.put("id", id)
    o.set[JsonNode]("vector", input.get("vector"))
    o.set[JsonNode]("metadata",
      Option(input.get("metadata")).getOrElse(mapper.nullNode()))
    o.put("collection", collection)
  }

  /** InsertVectorInput → REST insert body; the metadata STRING must
    * parse as JSON (graphql_api.rs:328-334 validation, same message).
    */
  private def insertBody(input: JsonNode): ObjectNode = {
    val body = mapper.createObjectNode()
    body.put("id", reqField(input, "id").asText())
    body.set[JsonNode]("vector", reqField(input, "vector"))
    Option(input.get("metadata")).filterNot(_.isNull).foreach { ms =>
      val parsed =
        try mapper.readTree(ms.asText())
        catch { case e: Exception =>
          throw GqlError(s"Invalid metadata JSON: ${e.getMessage}") }
      body.set[JsonNode]("metadata", parsed)
      ()
    }
    body
  }

  private def mDeleteVector(collection: String, id: String): JsonNode = {
    rest("DELETE",
      s"/collections/${pathSegment(collection)}/vectors/${pathSegment(id)}")
    mapper.getNodeFactory.booleanNode(true)
  }

  private def mDeleteCollection(name: String): JsonNode = {
    rest("DELETE", s"/collections/${pathSegment(name)}")
    mapper.getNodeFactory.booleanNode(true)
  }

  private def mBatchInsert(collection: String, inputs: JsonNode): JsonNode = {
    import scala.jdk.CollectionConverters._
    val body = mapper.createObjectNode()
    val arr = body.putArray("vectors")
    inputs.elements().asScala.foreach(i => arr.add(insertBody(i)))
    rest("POST", s"/collections/${pathSegment(collection)}/vectors/batch",
      mapper.writeValueAsString(body))
    mapper.getNodeFactory.numberNode(arr.size())
  }

  /** Subscription analogue: the search result set as the ordered event
    * list the reference's SearchStreamEvent type describes
    * (graphql_api.rs:396-405): each event carries the result, its
    * sequence number, and an is-last flag.
    */
  private def sSearchStream(input: JsonNode): ArrayNode = {
    import scala.jdk.CollectionConverters._
    val (_, results) = qSearch(input)
    val events = mapper.createArrayNode()
    val n = results.size()
    results.elements().asScala.zipWithIndex.foreach { case (r, i) =>
      val e = events.addObject()
      e.set[JsonNode]("result", r)
      e.put("sequence", i)
      e.put("isLast", i == n - 1)
      ()
    }
    events
  }

  private def reqField(n: JsonNode, name: String): JsonNode =
    Option(n.get(name)).filterNot(_.isNull)
      .getOrElse(throw GqlError(s"missing input field '$name'"))

  /** Host `POST /graphql` and `GET /graphql/sdl` (schema discovery) on
    * [[Http]]; port 0 picks a free port.
    */
  def serve(port: Int = 0): com.sun.net.httpserver.HttpServer =
    Http.serve(port, "/graphql") { (method, uri, headers, body) =>
      val utf8 = java.nio.charset.StandardCharsets.UTF_8
      // graphql-sse: a subscription POSTed with Accept: text/event-stream
      // streams one `next` frame per event (materialized up front, then
      // written and flushed one at a time) and a terminal `complete` frame
      val wantsSse = method == "POST" &&
        Option(headers.getFirst("Accept"))
          .exists(_.contains("text/event-stream"))
      val sseFrames =
        if (!wantsSse) None
        else try subscriptionSseFrames(body)
        catch { case _: Exception => None } // 400 via the normal path
      sseFrames match {
        case Some(frames) =>
          Http.Chunks(200, "text/event-stream",
            frames.map(f => s"event: next\ndata: $f\n\n".getBytes(utf8)) :+
              "event: complete\ndata:\n\n".getBytes(utf8))
        case None => (method, uri.getPath) match {
          case ("GET", "/graphql/sdl") =>
            Http.text(200, "text/plain", GraphqlApi.sdl)
          case ("POST", _) =>
            val (status, resp) = handle(body)
            Http.json(status, resp)
          case (m, p) =>
            // build with the mapper: p is percent-decoded and must not be
            // interpolated into a JSON literal (WebUi's 404 lesson)
            val o = mapper.createObjectNode()
            o.putArray("errors").addObject()
              .put("message", s"no route for $m $p")
            Http.json(405, mapper.writeValueAsString(o))
        }
      }
    }

  // ------------------------------------------------- argument coercion

  private def coerce(v: GVal, vars: JsonNode, defs: Seq[VarDef]): JsonNode =
    v match {
      case GLit(n)  => n
      case GVar(name) =>
        Option(vars.get(name)).filterNot(_.isNull).orElse(
          defs.find(_.name == name).flatMap(_.default)).getOrElse(
          throw GqlError(s"variable '$$$name' is not provided"))
      case GList(xs) =>
        val a = mapper.createArrayNode()
        xs.foreach(x => a.add(coerce(x, vars, defs)))
        a
      case GObj(fields) =>
        val o = mapper.createObjectNode()
        fields.foreach { case (k, x) =>
          o.set[JsonNode](k, coerce(x, vars, defs)); ()
        }
        o
    }

  // ------------------------------------------------------- projection

  /** Flatten the operation's top-level selections to plain fields:
    * inline fragments (including expanded named fragments) apply when
    * their type condition matches the operation's root type or is
    * absent, and are skipped otherwise.
    */
  private def flattenTop(sels: Seq[Selection],
                         rootTpe: String): Seq[FieldSel] =
    sels.flatMap {
      case f: FieldSel => Seq(f)
      case InlineFrag(onType, sub, _) =>
        if (onType.forall(_ == rootTpe)) flattenTop(sub, rootTpe)
        else Seq.empty
      case FragSpread(n, _) => // parse() inlines every spread
        throw GqlError(s"unexpanded fragment '$n'")
    }

  /** Literal-only directive gate for the static single-root-field rule:
    * the spec runs CollectFields with an EMPTY variableValues set, so a
    * literal `@skip(if: true)` / `@include(if: false)` excludes the
    * selection here, while a variable-valued condition does NOT exclude
    * at this phase (it is evaluated per-request by `applyDirectives`,
    * where a bad value is a 400).
    */
  private def staticallyIncluded(dirs: Seq[Directive]): Boolean =
    dirs.forall { d =>
      d.args.get("if") match {
        case Some(GLit(n)) if n.isBoolean =>
          if (d.name == "skip") !n.asBoolean() else n.asBoolean()
        case _ => true
      }
    }

  /** Spec §5.2.3.1 (single root field): a subscription operation's
    * selection set, collected per the spec's CollectFields with empty
    * variableValues — fragments flattened, literal `@skip`/`@include`
    * honored, fields GROUPED BY RESPONSE KEY (alias) — must hold
    * exactly one entry, and it must not be an introspection/meta field
    * (`__typename`, `__schema`, `__type`): each `next` frame is one
    * stream event, so a synthetic meta-field frame would corrupt
    * graphql-sse clients. Runs on the parsed document, before the
    * per-request directive pass. Queries and mutations are
    * unrestricted.
    */
  private def validateSubscriptionRoot(doc: Document): Unit =
    if (doc.op == "subscription") {
      def collect(sels: Seq[Selection]): Seq[FieldSel] = sels.flatMap {
        case f: FieldSel =>
          if (staticallyIncluded(f.dirs)) Seq(f) else Seq.empty
        case InlineFrag(onType, sub, dirs) =>
          if (staticallyIncluded(dirs) && onType.forall(_ == "Subscription"))
            collect(sub)
          else Seq.empty
        case FragSpread(n, _) => // parse() inlines every spread
          throw GqlParseError(s"unexpanded fragment '$n'")
      }
      val roots = collect(doc.selections)
      val keys = roots.map(_.alias).distinct
      if (keys.size != 1)
        throw GqlParseError(
          s"subscription operations must select exactly one root field " +
            s"(got ${keys.size})")
      roots.find(_.name.startsWith("__")).foreach { f =>
        throw GqlParseError(
          s"subscription root field must not be an introspection field " +
            s"('${f.name}')")
      }
    }

  /** Evaluate `@skip`/`@include` against the request's variables and
    * drop the selections they exclude (spec: excluded when any
    * `@skip(if:)` is true or any `@include(if:)` is false); runs once,
    * before execution, so resolvers and projection never see
    * directives. A missing or non-boolean `if` is a request error.
    */
  private def applyDirectives(sels: Seq[Selection], vars: JsonNode,
                              defs: Seq[VarDef]): Seq[Selection] =
    sels.flatMap { s =>
      val dirs = s match {
        case f: FieldSel   => f.dirs
        case f: InlineFrag => f.dirs
        case f: FragSpread => f.dirs
      }
      val keep = dirs.forall { d =>
        val cond = d.args.get("if").map(coerce(_, vars, defs)).getOrElse(
          throw GqlParseError(s"@${d.name} requires an 'if' argument"))
        if (!cond.isBoolean)
          throw GqlParseError(s"@${d.name}(if:) must be a Boolean")
        if (d.name == "skip") !cond.asBoolean() else cond.asBoolean()
      }
      if (!keep) Seq.empty
      else Seq(s match {
        case f: FieldSel   => f.copy(sub = applyDirectives(f.sub, vars, defs))
        case f: InlineFrag => f.copy(sub = applyDirectives(f.sub, vars, defs))
        case f: FragSpread => f
      })
    }

  /** Apply a selection set to a resolved node: empty set → whole node;
    * arrays project element-wise; unknown fields resolve to null (the
    * minimal executor does not re-validate against the SDL).
    * `tpe` is the SDL object type being projected — it answers
    * `__typename` and gates inline fragments' type conditions; where
    * the executor cannot know the type (fields outside
    * [[GraphqlApi.fieldTypes]]) `__typename` resolves to null,
    * consistent with the no-revalidation stance above.
    */
  private def project(node: JsonNode, sels: Seq[Selection],
                      tpe: String): JsonNode =
    if (sels.isEmpty || node == null || node.isNull) node
    else if (node.isArray) {
      import scala.jdk.CollectionConverters._
      val a = mapper.createArrayNode()
      node.elements().asScala.foreach(e => a.add(project(e, sels, tpe)))
      a
    } else {
      val o = mapper.createObjectNode()
      def emit(ss: Seq[Selection]): Unit = ss.foreach {
        case s: FieldSel if s.name == "__typename" =>
          if (tpe.nonEmpty) o.put(s.alias, tpe)
          else o.set[JsonNode](s.alias, mapper.nullNode())
          ()
        case s: FieldSel =>
          val v = Option(node.get(s.name)).getOrElse(mapper.nullNode())
          o.set[JsonNode](s.alias, project(v, s.sub,
            GraphqlApi.fieldTypes.getOrElse((tpe, s.name), "")))
          ()
        case InlineFrag(onType, sub, _) =>
          if (onType.forall(_ == tpe)) emit(sub)
        case FragSpread(n, _) =>
          throw GqlError(s"unexpanded fragment '$n'")
      }
      emit(sels)
      o
    }
}

object GraphqlApi {

  /** Operation keyword → SDL root object type (`__typename` answer). */
  val rootTypes: Map[String, String] = Map(
    "query" -> "Query", "mutation" -> "Mutation",
    "subscription" -> "Subscription")

  /** (parent SDL type, field) → child SDL object type, for the object-
    * valued fields of [[sdl]]. Scalar fields need no entry (projection
    * never recurses into them); `SearchStreamEvent` is the documented
    * materialized-subscription wrapper, not an SDL type.
    */
  val fieldTypes: Map[(String, String), String] = Map(
    ("Query", "collections") -> "Collection",
    ("Query", "collection") -> "Collection",
    ("Query", "vector") -> "Vector",
    ("Query", "search") -> "SearchResponse",
    ("Query", "health") -> "HealthStatus",
    ("Mutation", "createCollection") -> "Collection",
    ("Mutation", "insertVector") -> "Vector",
    ("Subscription", "searchStream") -> "SearchStreamEvent",
    ("SearchResponse", "results") -> "SearchResult",
    ("SearchStreamEvent", "result") -> "SearchResult",
    // introspection meta-types, so __typename and nested projection
    // type correctly inside __schema / __type results
    ("Query", "__schema") -> "__Schema",
    ("Query", "__type") -> "__Type",
    ("__Schema", "queryType") -> "__Type",
    ("__Schema", "mutationType") -> "__Type",
    ("__Schema", "subscriptionType") -> "__Type",
    ("__Schema", "types") -> "__Type",
    ("__Schema", "directives") -> "__Directive",
    ("__Type", "fields") -> "__Field",
    ("__Type", "inputFields") -> "__InputValue",
    ("__Type", "interfaces") -> "__Type",
    ("__Type", "possibleTypes") -> "__Type",
    ("__Type", "enumValues") -> "__EnumValue",
    ("__Type", "ofType") -> "__Type",
    ("__Field", "args") -> "__InputValue",
    ("__Field", "type") -> "__Type",
    ("__InputValue", "type") -> "__Type",
    ("__Directive", "args") -> "__InputValue")

  final case class GqlError(message: String) extends RuntimeException(message)
  final case class GqlParseError(message: String)
    extends RuntimeException(message)

  // -------------------------------------------------------- introspection

  /** `__schema` / `__type` support, built from the same type table the
    * SDL declares, so stock clients (GraphiQL, Apollo) can load the
    * schema over the wire instead of the out-of-band `/graphql/sdl`
    * endpoint. Standard introspection queries arrive full of named
    * fragments and `__typename` — both handled by the executor above.
    * Minimal by design: the `types` list carries the SDL's types and
    * scalars (not the `__*` meta-types), `directives` advertises the
    * two executable directives the server evaluates (`@skip` /
    * `@include`), and descriptions/deprecations are null — the SDL
    * defines none.
    */
  private val scalarNames = Set("String", "Int", "Float", "Boolean")

  // (type, fields = (name, args = (argName, typeRef), returns typeRef))
  private val objectTypeDefs: Seq[(String, Seq[(String, Seq[(String, String)], String)])] = Seq(
    "Query" -> Seq(
      ("collections", Nil, "[Collection!]!"),
      ("collection", Seq("name" -> "String!"), "Collection"),
      ("vector", Seq("collection" -> "String!", "id" -> "String!"),
        "Vector"),
      ("search", Seq("input" -> "SearchInput!"), "SearchResponse!"),
      ("health", Nil, "HealthStatus!")),
    "Mutation" -> Seq(
      ("createCollection", Seq("input" -> "CreateCollectionInput!"),
        "Collection!"),
      ("insertVector", Seq("input" -> "InsertVectorInput!"), "Vector!"),
      ("deleteVector", Seq("collection" -> "String!", "id" -> "String!"),
        "Boolean!"),
      ("deleteCollection", Seq("name" -> "String!"), "Boolean!"),
      ("save", Nil, "Boolean!")),
    "Subscription" -> Seq(
      ("searchStream", Seq("input" -> "SearchInput!"), "SearchResult!")),
    "Collection" -> Seq(
      ("name", Nil, "String!"), ("dimensions", Nil, "Int!"),
      ("distanceFunction", Nil, "String!"), ("vectorCount", Nil, "Int!"),
      ("isEmpty", Nil, "Boolean!")),
    "Vector" -> Seq(
      ("id", Nil, "String!"), ("vector", Nil, "[Float!]!"),
      ("metadata", Nil, "String"), ("collection", Nil, "String!")),
    "SearchResult" -> Seq(
      ("id", Nil, "String!"), ("distance", Nil, "Float!"),
      ("metadata", Nil, "String"), ("collection", Nil, "String!")),
    "SearchResponse" -> Seq(
      ("results", Nil, "[SearchResult!]!"), ("total", Nil, "Int!"),
      ("queryTimeUs", Nil, "Int!"), ("collection", Nil, "String!")),
    "HealthStatus" -> Seq(
      ("healthy", Nil, "Boolean!"), ("version", Nil, "String!"),
      ("collectionCount", Nil, "Int!"), ("totalVectors", Nil, "Int!"),
      ("uptime", Nil, "String!")))

  private val inputTypeDefs: Seq[(String, Seq[(String, String)])] = Seq(
    "CreateCollectionInput" -> Seq("name" -> "String!",
      "dimensions" -> "Int!", "distanceFunction" -> "String"),
    "InsertVectorInput" -> Seq("collection" -> "String!",
      "id" -> "String!", "vector" -> "[Float!]!", "metadata" -> "String"),
    "SearchInput" -> Seq("collection" -> "String!",
      "vector" -> "[Float!]!", "k" -> "Int", "filter" -> "String",
      "includeMetadata" -> "Boolean", "efSearch" -> "Int"))

  private val introMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** "[Float!]!" → the introspection NON_NULL/LIST/named chain. */
  private def typeRefNode(ref: String): ObjectNode = {
    val o = introMapper.createObjectNode()
    if (ref.endsWith("!")) {
      o.put("kind", "NON_NULL")
      o.set[JsonNode]("name", introMapper.nullNode())
      o.set[JsonNode]("ofType", typeRefNode(ref.dropRight(1)))
    } else if (ref.startsWith("[")) {
      o.put("kind", "LIST")
      o.set[JsonNode]("name", introMapper.nullNode())
      o.set[JsonNode]("ofType", typeRefNode(ref.drop(1).dropRight(1)))
    } else {
      o.put("kind",
        if (scalarNames.contains(ref)) "SCALAR"
        else if (inputTypeDefs.exists(_._1 == ref)) "INPUT_OBJECT"
        else "OBJECT")
      o.put("name", ref)
      o.set[JsonNode]("ofType", introMapper.nullNode())
    }
    o
  }

  private def inputValueNode(name: String, ref: String): ObjectNode = {
    val o = introMapper.createObjectNode()
    o.put("name", name)
    o.set[JsonNode]("description", introMapper.nullNode())
    o.set[JsonNode]("type", typeRefNode(ref))
    o.set[JsonNode]("defaultValue", introMapper.nullNode())
    o
  }

  private def fullTypeNode(name: String): ObjectNode = {
    val o = introMapper.createObjectNode()
    o.put("name", name)
    o.set[JsonNode]("description", introMapper.nullNode())
    Seq("fields", "inputFields", "interfaces", "enumValues",
      "possibleTypes").foreach(k =>
      o.set[JsonNode](k, introMapper.nullNode()))
    if (scalarNames.contains(name)) { o.put("kind", "SCALAR"); return o }
    inputTypeDefs.find(_._1 == name) match {
      case Some((_, fields)) =>
        o.put("kind", "INPUT_OBJECT")
        val ia = introMapper.createArrayNode()
        fields.foreach { case (f, ref) => ia.add(inputValueNode(f, ref)) }
        o.set[JsonNode]("inputFields", ia)
        return o
      case None => ()
    }
    o.put("kind", "OBJECT")
    o.set[JsonNode]("interfaces", introMapper.createArrayNode())
    val fa = introMapper.createArrayNode()
    objectTypeDefs.find(_._1 == name).foreach { case (_, fields) =>
      fields.foreach { case (f, args, ret) =>
        val fo = fa.addObject()
        fo.put("name", f)
        fo.set[JsonNode]("description", introMapper.nullNode())
        val aa = introMapper.createArrayNode()
        args.foreach { case (a, ref) => aa.add(inputValueNode(a, ref)) }
        fo.set[JsonNode]("args", aa)
        fo.set[JsonNode]("type", typeRefNode(ret))
        fo.put("isDeprecated", false)
        fo.set[JsonNode]("deprecationReason", introMapper.nullNode())
        ()
      }
    }
    o.set[JsonNode]("fields", fa)
    o
  }

  /** The `__schema` resolution — built once, projected per request. */
  lazy val introspectionSchema: ObjectNode = {
    val o = introMapper.createObjectNode()
    o.set[JsonNode]("queryType", fullTypeNode("Query"))
    o.set[JsonNode]("mutationType", fullTypeNode("Mutation"))
    o.set[JsonNode]("subscriptionType", fullTypeNode("Subscription"))
    val ta = introMapper.createArrayNode()
    (objectTypeDefs.map(_._1) ++ inputTypeDefs.map(_._1) ++
      scalarNames.toSeq.sorted).foreach(n => ta.add(fullTypeNode(n)))
    o.set[JsonNode]("types", ta)
    val da = introMapper.createArrayNode()
    Seq(
      "skip" -> "Directs the executor to skip this field or fragment when the `if` argument is true.",
      "include" -> "Directs the executor to include this field or fragment only when the `if` argument is true.")
      .foreach { case (n, desc) =>
        val d = da.addObject()
        d.put("name", n)
        d.put("description", desc)
        // the executor enforces non-repeatability (parseDirectives
        // rejects duplicates per location); advertise it to clients
        d.put("isRepeatable", false)
        val locs = d.putArray("locations")
        Seq("FIELD", "FRAGMENT_SPREAD", "INLINE_FRAGMENT")
          .foreach(l => locs.add(l))
        val aa = introMapper.createArrayNode()
        aa.add(inputValueNode("if", "Boolean!"))
        d.set[JsonNode]("args", aa)
        ()
      }
    o.set[JsonNode]("directives", da)
    o
  }

  /** `__type(name:)` — null for unknown names, like any nullable read. */
  def introspectionType(name: String): JsonNode =
    if (scalarNames.contains(name) || inputTypeDefs.exists(_._1 == name) ||
        objectTypeDefs.exists(_._1 == name)) fullTypeNode(name)
    else introMapper.nullNode()

  // ------------------------------------------------------------- document

  sealed trait GVal
  final case class GLit(n: JsonNode) extends GVal
  final case class GVar(name: String) extends GVal
  final case class GList(xs: Seq[GVal]) extends GVal
  final case class GObj(fields: Seq[(String, GVal)]) extends GVal

  final case class VarDef(name: String, tpe: String,
                          default: Option[JsonNode])

  /** A selection-set entry: a field, a named-fragment spread (exists
    * only between parse and expansion — [[parse]] inlines every spread
    * into an [[InlineFrag]] carrying the fragment's type condition), or
    * an inline fragment (`... on Type { ... }` / bare `... { ... }`).
    * Each carries its `@skip`/`@include` directives (the only ones the
    * parser accepts), evaluated against the request's variables before
    * execution.
    */
  sealed trait Selection
  final case class Directive(name: String, args: Map[String, GVal])
  final case class FieldSel(alias: String, name: String,
                            args: Map[String, GVal],
                            sub: Seq[Selection],
                            dirs: Seq[Directive] = Nil) extends Selection
  final case class FragSpread(name: String,
                              dirs: Seq[Directive] = Nil) extends Selection
  final case class InlineFrag(onType: Option[String],
                              sub: Seq[Selection],
                              dirs: Seq[Directive] = Nil) extends Selection
  final case class FragDef(name: String, onType: String,
                           sub: Seq[Selection])
  final case class Document(op: String, varDefs: Seq[VarDef],
                            selections: Seq[Selection])

  // ---------------------------------------------------------------- lexer

  private sealed trait Tok
  private object Tok {
    final case class Punct(c: String) extends Tok
    final case class Name(s: String) extends Tok
    final case class IntVal(v: Long) extends Tok
    final case class FloatVal(v: Double) extends Tok
    final case class StrVal(s: String) extends Tok
    case object End extends Tok
  }

  private final class Lexer(src: String) {
    private var i = 0
    private var ahead: Option[Tok] = None

    def peek(): Tok = {
      if (ahead.isEmpty) ahead = Some(lex())
      ahead.get
    }
    def next(): Tok = { val t = peek(); ahead = None; t }

    private def skip(): Unit = {
      var go = true
      while (go && i < src.length) {
        val c = src.charAt(i)
        if (c.isWhitespace || c == ',') i += 1
        else if (c == '#') { while (i < src.length && src.charAt(i) != '\n') i += 1 }
        else go = false
      }
    }

    private def lex(): Tok = {
      skip()
      if (i >= src.length) return Tok.End
      val c = src.charAt(i)
      if (c == '"') lexString()
      else if (c.isDigit || c == '-') lexNumber()
      else if (c == '_' || c.isLetter) {
        val start = i
        while (i < src.length &&
          (src.charAt(i) == '_' || src.charAt(i).isLetterOrDigit)) i += 1
        Tok.Name(src.substring(start, i))
      } else if ("{}()[]:$=!".indexOf(c) >= 0) {
        i += 1; Tok.Punct(c.toString)
      } else if (c == '.' && src.startsWith("...", i)) {
        i += 3; Tok.Punct("...")
      } else if (c == '@') {
        i += 1; Tok.Punct("@")
      } else throw GqlParseError(s"unexpected character '$c' at $i")
    }

    private def lexString(): Tok = {
      i += 1 // opening quote
      val sb = new StringBuilder
      while (i < src.length && src.charAt(i) != '"') {
        val c = src.charAt(i)
        if (c == '\\' && i + 1 < src.length) {
          i += 1
          src.charAt(i) match {
            case '"'  => sb += '"'
            case '\\' => sb += '\\'
            case '/'  => sb += '/'
            case 'n'  => sb += '\n'
            case 't'  => sb += '\t'
            case 'r'  => sb += '\r'
            case 'b'  => sb += '\b'
            case 'f'  => sb += '\f'
            case 'u' =>
              if (i + 4 >= src.length)
                throw GqlParseError("bad \\u escape")
              sb += Integer.parseInt(src.substring(i + 1, i + 5), 16).toChar
              i += 4
            case other =>
              throw GqlParseError(s"bad escape '\\$other'")
          }
          i += 1
        } else { sb += c; i += 1 }
      }
      if (i >= src.length) throw GqlParseError("unterminated string")
      i += 1 // closing quote
      Tok.StrVal(sb.toString)
    }

    private def lexNumber(): Tok = {
      val start = i
      if (src.charAt(i) == '-') i += 1
      while (i < src.length && src.charAt(i).isDigit) i += 1
      var isFloat = false
      if (i < src.length && src.charAt(i) == '.') {
        isFloat = true; i += 1
        while (i < src.length && src.charAt(i).isDigit) i += 1
      }
      if (i < src.length && (src.charAt(i) == 'e' || src.charAt(i) == 'E')) {
        isFloat = true; i += 1
        if (i < src.length && (src.charAt(i) == '+' || src.charAt(i) == '-'))
          i += 1
        while (i < src.length && src.charAt(i).isDigit) i += 1
      }
      val raw = src.substring(start, i)
      if (isFloat) Tok.FloatVal(raw.toDouble) else Tok.IntVal(raw.toLong)
    }
  }

  // --------------------------------------------------------------- parser

  /** Parse a GraphQL document: one or more operations plus named
    * fragment definitions; `operationName` picks among several
    * operations, otherwise the document must contain exactly one.
    * Shorthand `{ ... }` is an anonymous query. Fragment spreads in the
    * chosen operation are inlined here (undefined name or spread cycle
    * → parse error), so executors only ever see fields and inline
    * fragments.
    */
  def parse(src: String, operationName: Option[String] = None): Document = {
    val lx = new Lexer(src)
    val ops = mutable.Buffer.empty[(Option[String], Document)]
    val frags = mutable.Map.empty[String, FragDef]
    var t = lx.peek()
    while (t != Tok.End) {
      t match {
        case Tok.Name("fragment") =>
          lx.next()
          val name = parseName(lx)
          if (name == "on")
            throw GqlParseError("'on' is not a legal fragment name")
          lx.next() match {
            case Tok.Name("on") => ()
            case other =>
              throw GqlParseError(s"expected 'on' in fragment, got $other")
          }
          val onType = parseTypeCondition(lx)
          frags(name) = FragDef(name, onType, parseSelectionSet(lx))
        case _ => ops += parseOperation(lx)
      }
      t = lx.peek()
    }
    if (ops.isEmpty) throw GqlParseError("empty document")
    val doc = operationName match {
      case Some(n) =>
        ops.find(_._1.contains(n)).map(_._2).getOrElse(
          throw GqlParseError(s"operation '$n' not found"))
      case None =>
        if (ops.size > 1)
          throw GqlParseError(
            "multiple operations require operationName")
        ops.head._2
    }
    doc.copy(selections =
      expandSpreads(doc.selections, frags.toMap, Set.empty))
  }

  /** Inline every named-fragment spread as an [[InlineFrag]] keeping
    * the fragment's type condition; the executor then applies it only
    * when the condition matches the runtime type (same rule as literal
    * inline fragments).
    */
  private def expandSpreads(sels: Seq[Selection],
                            frags: Map[String, FragDef],
                            seen: Set[String]): Seq[Selection] =
    sels.map {
      case f: FieldSel =>
        f.copy(sub = expandSpreads(f.sub, frags, seen))
      case InlineFrag(onType, sub, dirs) =>
        InlineFrag(onType, expandSpreads(sub, frags, seen), dirs)
      case FragSpread(name, dirs) => // the spread's directives ride along
        if (seen.contains(name))
          throw GqlParseError(s"fragment cycle involving '$name'")
        val d = frags.getOrElse(name,
          throw GqlParseError(s"fragment '$name' is not defined"))
        InlineFrag(Some(d.onType),
          expandSpreads(d.sub, frags, seen + name), dirs)
    }

  private def parseOperation(lx: Lexer): (Option[String], Document) = {
    var op = "query"
    var name: Option[String] = None
    var varDefs = Seq.empty[VarDef]
    lx.peek() match {
      case Tok.Name(kw @ ("query" | "mutation" | "subscription")) =>
        lx.next(); op = kw
        lx.peek() match {
          case Tok.Name(n) => lx.next(); name = Some(n)
          case _ =>
        }
        if (lx.peek() == Tok.Punct("(")) varDefs = parseVarDefs(lx)
      case Tok.Name(other) =>
        throw GqlParseError(s"unsupported definition '$other'")
      case _ => // shorthand anonymous query
    }
    (name, Document(op, varDefs, parseSelectionSet(lx)))
  }

  private def parseVarDefs(lx: Lexer): Seq[VarDef] = {
    expect(lx, "(")
    val defs = mutable.Buffer.empty[VarDef]
    while (lx.peek() != Tok.Punct(")")) {
      expect(lx, "$")
      val name = parseName(lx)
      expect(lx, ":")
      val tpe = parseTypeRef(lx)
      val default =
        if (lx.peek() == Tok.Punct("=")) {
          lx.next()
          parseValue(lx) match {
            case GLit(n) => Some(n)
            case _ => throw GqlParseError(
              "variable defaults must be literals")
          }
        } else None
      defs += VarDef(name, tpe, default)
    }
    expect(lx, ")")
    defs.toSeq
  }

  /** Type references are accepted and recorded but not re-validated —
    * `[Float!]!`, `Int`, `SearchInput!` all parse.
    */
  private def parseTypeRef(lx: Lexer): String = {
    val sb = new StringBuilder
    if (lx.peek() == Tok.Punct("[")) {
      lx.next(); sb += '['
      sb ++= parseTypeRef(lx)
      expect(lx, "]"); sb += ']'
    } else sb ++= parseName(lx)
    if (lx.peek() == Tok.Punct("!")) { lx.next(); sb += '!' }
    sb.toString
  }

  private def parseSelectionSet(lx: Lexer): Seq[Selection] = {
    expect(lx, "{")
    val fields = mutable.Buffer.empty[Selection]
    while (lx.peek() != Tok.Punct("}")) {
      lx.peek() match {
        case Tok.Punct("...") =>
          lx.next()
          lx.peek() match {
            case Tok.Name("on") =>
              lx.next()
              val cond = parseTypeCondition(lx)
              val dirs = parseDirectives(lx)
              fields += InlineFrag(Some(cond), parseSelectionSet(lx), dirs)
            case Tok.Punct("{") => // type-condition-less inline fragment
              fields += InlineFrag(None, parseSelectionSet(lx))
            case Tok.Punct("@") => // bare inline fragment with directives
              val dirs = parseDirectives(lx)
              fields += InlineFrag(None, parseSelectionSet(lx), dirs)
            case Tok.Name(n) =>
              lx.next(); fields += FragSpread(n, parseDirectives(lx))
            case other =>
              throw GqlParseError(s"expected a fragment after '...', " +
                s"got $other")
          }
        case _ =>
          val first = parseName(lx)
          val (alias, name) =
            if (lx.peek() == Tok.Punct(":")) {
              lx.next(); (first, parseName(lx))
            } else (first, first)
          val args =
            if (lx.peek() == Tok.Punct("(")) parseArgs(lx)
            else Map.empty[String, GVal]
          val dirs = parseDirectives(lx)
          val sub =
            if (lx.peek() == Tok.Punct("{")) parseSelectionSet(lx)
            else Seq.empty[Selection]
          fields += FieldSel(alias, name, args, sub, dirs)
      }
    }
    expect(lx, "}")
    fields.toSeq
  }

  /** The two spec-required executable directives, in their three legal
    * locations (field, fragment spread, inline fragment). Anything else
    * keeps the pre-directive clear rejection; argument values (incl.
    * `$variables`) are recorded here and evaluated per-request by the
    * executor's [[GraphqlApi]] directive pass.
    */
  private def parseDirectives(lx: Lexer): Seq[Directive] = {
    val out = mutable.Buffer.empty[Directive]
    while (lx.peek() == Tok.Punct("@")) {
      lx.next()
      val name = parseName(lx)
      if (name != "skip" && name != "include")
        throw GqlParseError(
          s"unsupported directive '@$name' (only @skip and @include)")
      // @skip/@include are non-repeatable: a second occurrence at one
      // location is a validation error (spec §5.7.3), not an implicit AND
      if (out.exists(_.name == name))
        throw GqlParseError(
          s"directive '@$name' may appear at most once per location")
      val args =
        if (lx.peek() == Tok.Punct("(")) parseArgs(lx)
        else Map.empty[String, GVal]
      out += Directive(name, args)
    }
    out.toSeq
  }

  /** Fragment type conditions must name a known object type (SDL or
    * introspection meta-type) — GraphQL validation rejects unknown or
    * non-composite condition types rather than silently dropping the
    * fragment's fields.
    */
  private def parseTypeCondition(lx: Lexer): String = {
    val name = parseName(lx)
    if (!typeConditionNames.contains(name))
      throw GqlParseError(
        s"unknown type '$name' in fragment type condition")
    name
  }

  private lazy val typeConditionNames: Set[String] =
    objectTypeDefs.map(_._1).toSet ++ Set("SearchStreamEvent",
      "__Schema", "__Type", "__Field", "__InputValue", "__EnumValue",
      "__Directive")

  private def parseArgs(lx: Lexer): Map[String, GVal] = {
    expect(lx, "(")
    val args = mutable.LinkedHashMap.empty[String, GVal]
    while (lx.peek() != Tok.Punct(")")) {
      val name = parseName(lx)
      expect(lx, ":")
      args(name) = parseValue(lx)
    }
    expect(lx, ")")
    args.toMap
  }

  private def parseValue(lx: Lexer): GVal = {
    val nf = com.fasterxml.jackson.databind.node.JsonNodeFactory.instance
    lx.peek() match {
      case Tok.Punct("$") =>
        lx.next(); GVar(parseName(lx))
      case Tok.Punct("[") =>
        lx.next()
        val xs = mutable.Buffer.empty[GVal]
        while (lx.peek() != Tok.Punct("]")) xs += parseValue(lx)
        lx.next()
        GList(xs.toSeq)
      case Tok.Punct("{") =>
        lx.next()
        val fields = mutable.Buffer.empty[(String, GVal)]
        while (lx.peek() != Tok.Punct("}")) {
          val k = parseName(lx)
          expect(lx, ":")
          fields += (k -> parseValue(lx))
        }
        lx.next()
        GObj(fields.toSeq)
      case Tok.IntVal(v)   => lx.next(); GLit(nf.numberNode(v))
      case Tok.FloatVal(v) => lx.next(); GLit(nf.numberNode(v))
      case Tok.StrVal(s)   => lx.next(); GLit(nf.textNode(s))
      case Tok.Name("true")  => lx.next(); GLit(nf.booleanNode(true))
      case Tok.Name("false") => lx.next(); GLit(nf.booleanNode(false))
      case Tok.Name("null")  => lx.next(); GLit(nf.nullNode())
      case Tok.Name(e)       => lx.next(); GLit(nf.textNode(e)) // enum
      case other =>
        throw GqlParseError(s"unexpected token $other in value position")
    }
  }

  private def parseName(lx: Lexer): String = lx.next() match {
    case Tok.Name(n) => n
    case other => throw GqlParseError(s"expected a name, got $other")
  }

  private def expect(lx: Lexer, punct: String): Unit = lx.next() match {
    case Tok.Punct(`punct`) => ()
    case other => throw GqlParseError(s"expected '$punct', got $other")
  }

  /** The SDL (graphql_api.rs:424-500) — client-discoverable contract
    * surface, reproduced verbatim like the MCP tool schemas.
    */
  val sdl: String = """
type Query {
  collections: [Collection!]!
  collection(name: String!): Collection
  vector(collection: String!, id: String!): Vector
  search(input: SearchInput!): SearchResponse!
  health: HealthStatus!
}

type Mutation {
  createCollection(input: CreateCollectionInput!): Collection!
  insertVector(input: InsertVectorInput!): Vector!
  deleteVector(collection: String!, id: String!): Boolean!
  deleteCollection(name: String!): Boolean!
  save: Boolean!
}

type Subscription {
  searchStream(input: SearchInput!): SearchResult!
}

type Collection {
  name: String!
  dimensions: Int!
  distanceFunction: String!
  vectorCount: Int!
  isEmpty: Boolean!
}

type Vector {
  id: String!
  vector: [Float!]!
  metadata: String
  collection: String!
}

type SearchResult {
  id: String!
  distance: Float!
  metadata: String
  collection: String!
}

type SearchResponse {
  results: [SearchResult!]!
  total: Int!
  queryTimeUs: Int!
  collection: String!
}

type HealthStatus {
  healthy: Boolean!
  version: String!
  collectionCount: Int!
  totalVectors: Int!
  uptime: String!
}

input CreateCollectionInput {
  name: String!
  dimensions: Int!
  distanceFunction: String
}

input InsertVectorInput {
  collection: String!
  id: String!
  vector: [Float!]!
  metadata: String
}

input SearchInput {
  collection: String!
  vector: [Float!]!
  k: Int
  filter: String
  includeMetadata: Boolean
  efSearch: Int
}
"""
}
