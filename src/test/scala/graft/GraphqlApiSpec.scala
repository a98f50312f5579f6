package graft

import com.fasterxml.jackson.databind.ObjectMapper

import graft.server.{GraphqlApi, RestApi}

/** GraphQL front-end vs reference graphql_api.rs: the resolver test
  * trio (schema/health, collection CRUD, vector ops — graphql_api.rs
  * test module), plus the executor this analogue adds: document
  * parsing (variables, aliases, selection-set projection, shorthand
  * queries), the GraphQL error envelope, and the reference's pinned
  * quirks (save always errors; metadata JSON-string validation; SDL
  * contract blocks).
  */
class GraphqlApiSpec extends SparkSpec {

  private val mapper = new ObjectMapper()

  private def gql(): (GraphqlApi, RestApi) = {
    val a = new RestApi(spark)
    a.handle("POST", "/collections", """{"name":"docs","dimensions":4}""")
    a.handle("POST", "/collections/docs/vectors/batch",
      """{"vectors":[
        |{"id":"v1","vector":[1.0,0.0,0.0,0.0],"metadata":{"title":"t1"}},
        |{"id":"v2","vector":[0.0,1.0,0.0,0.0]},
        |{"id":"v3","vector":[0.9,0.1,0.0,0.0],"metadata":{"title":"t3"}}
        |]}""".stripMargin)
    (new GraphqlApi(a, version = "0.1.0"), a)
  }

  private def run(g: GraphqlApi, body: String) = {
    val (status, resp) = g.handle(body)
    (status, mapper.readTree(resp))
  }

  test("health resolves counts (test_schema_build parity) and the " +
      "selection set projects requested fields only") {
    val (g, _) = gql()
    val (st, r) = run(g,
      """{"query": "{ health { healthy collectionCount totalVectors } }"}""")
    assert(st == 200)
    val h = r.get("data").get("health")
    assert(h.get("healthy").asBoolean())
    assert(h.get("collectionCount").asInt() == 1)
    assert(h.get("totalVectors").asLong() == 3L)
    // projection: unrequested fields (version, uptime) are absent
    assert(!h.has("version") && !h.has("uptime"))
    assert(r.get("errors") == null)
  }

  test("collection CRUD through mutations and queries " +
      "(test_collection_crud parity)") {
    val (g, a) = gql()
    // create
    val (_, c) = run(g, """{"query":
      "mutation { createCollection(input: {name: \"test\", dimensions: 128}) { name dimensions distanceFunction vectorCount isEmpty } }"}""")
    val created = c.get("data").get("createCollection")
    assert(created.get("name").asText() == "test")
    assert(created.get("dimensions").asInt() == 128)
    assert(created.get("distanceFunction").asText() == "Cosine") // echo quirk
    assert(created.get("isEmpty").asBoolean())
    // list
    val (_, l) = run(g, """{"query": "{ collections { name vectorCount } }"}""")
    val names = l.get("data").get("collections").elements()
    val set = scala.collection.mutable.Set.empty[String]
    while (names.hasNext) set += names.next().get("name").asText()
    assert(set == Set("docs", "test"))
    // get: present → object with store metric; absent → null, NO error
    val (_, one) = run(g,
      """{"query": "{ collection(name: \"docs\") { name dimensions distanceFunction } }"}""")
    assert(one.get("data").get("collection").get("dimensions").asInt() == 4)
    // reads render the reference's Debug-enum spelling, matching the
    // createCollection echo casing
    assert(one.get("data").get("collection")
      .get("distanceFunction").asText() == "Cosine")
    // an enum spelling creates the store metric and reads back as itself
    val (_, dp) = run(g, """{"query":
      "mutation { createCollection(input: {name: \"dp\", dimensions: 4, distanceFunction: \"DotProduct\"}) { distanceFunction } }"}""")
    assert(dp.get("errors") == null, dp)
    assert(a.collectionMetric("dp").contains("dot"))
    val (_, dpRead) = run(g,
      """{"query": "{ collection(name: \"dp\") { distanceFunction } }"}""")
    assert(dpRead.get("data").get("collection")
      .get("distanceFunction").asText() == "DotProduct")
    assert(a.handle("DELETE", "/collections/dp", "")._1 == 200)
    val (_, none) = run(g,
      """{"query": "{ collection(name: \"ghost\") { name } }"}""")
    assert(none.get("data").get("collection").isNull)
    assert(none.get("errors") == null)
    // delete, then the listing shrinks
    val (_, d) = run(g,
      """{"query": "mutation { deleteCollection(name: \"test\") }"}""")
    assert(d.get("data").get("deleteCollection").asBoolean())
    val (_, l2) = run(g, """{"query": "{ collections { name } }"}""")
    assert(l2.get("data").get("collections").size() == 1)
  }

  test("vector ops: insert, get (metadata as JSON string), search, " +
      "delete (test_vector_operations parity)") {
    val (g, _) = gql()
    val (_, ins) = run(g, """{"query":
      "mutation { insertVector(input: {collection: \"docs\", id: \"v9\", vector: [0.0, 0.0, 0.0, 1.0], metadata: \"{\\\"title\\\": \\\"nine\\\"}\"}) { id collection metadata } }"}""")
    val v = ins.get("data").get("insertVector")
    assert(v.get("id").asText() == "v9")
    assert(v.get("collection").asText() == "docs")
    // get: REST's parsed metadata object re-stringifies to a JSON string
    val (_, got) = run(g, """{"query":
      "{ vector(collection: \"docs\", id: \"v1\") { id vector metadata } }"}""")
    val gv = got.get("data").get("vector")
    assert(gv.get("vector").size() == 4)
    assert(gv.get("metadata").isTextual)
    assert(mapper.readTree(gv.get("metadata").asText())
      .get("title").asText() == "t1")
    // missing metadata → null
    val (_, got2) = run(g, """{"query":
      "{ vector(collection: \"docs\", id: \"v2\") { metadata } }"}""")
    assert(got2.get("data").get("vector").get("metadata").isNull)
    // search: v1 is its own nearest neighbor at distance 0
    val (_, s) = run(g, """{"query":
      "{ search(input: {collection: \"docs\", vector: [1.0, 0.0, 0.0, 0.0], k: 2}) { total collection results { id distance } } }"}""")
    val sr = s.get("data").get("search")
    assert(sr.get("total").asInt() == 2)
    assert(sr.get("collection").asText() == "docs")
    assert(sr.get("results").get(0).get("id").asText() == "v1")
    assert(sr.get("results").get(0).get("distance").asDouble() == 0.0)
    // delete
    val (_, del) = run(g, """{"query":
      "mutation { deleteVector(collection: \"docs\", id: \"v9\") }"}""")
    assert(del.get("data").get("deleteVector").asBoolean())
  }

  test("variables with defaults, operationName selection, aliases, and " +
      "batchInsert") {
    val (g, _) = gql()
    val doc = """query A($n: String! = \"docs\") { c: collection(name: $n) { name } } query B { health { healthy } }"""
    // default kicks in when the variable is absent
    val (_, a) = run(g,
      s"""{"query": "$doc", "operationName": "A"}""")
    assert(a.get("data").get("c").get("name").asText() == "docs")
    // explicit variable overrides the default
    val (_, a2) = run(g,
      s"""{"query": "$doc", "operationName": "A",
         | "variables": {"n": "ghost"}}""".stripMargin)
    assert(a2.get("data").get("c").isNull)
    val (_, b) = run(g, s"""{"query": "$doc", "operationName": "B"}""")
    assert(b.get("data").get("health").get("healthy").asBoolean())
    // batchInsert counts inserted vectors (resolver-only, like the ref)
    val (_, bi) = run(g, """{"query":
      "mutation { batchInsert(collection: \"docs\", inputs: [{collection: \"docs\", id: \"b1\", vector: [0.1, 0.1, 0.1, 0.1]}, {collection: \"docs\", id: \"b2\", vector: [0.2, 0.2, 0.2, 0.2]}]) }"}""")
    assert(bi.get("data").get("batchInsert").asInt() == 2)
  }

  test("searchStream subscription materializes sequenced events with an " +
      "is-last flag") {
    val (g, _) = gql()
    val (_, r) = run(g, """{"query":
      "subscription { searchStream(input: {collection: \"docs\", vector: [1.0, 0.0, 0.0, 0.0], k: 3}) { sequence isLast result { id } } }"}""")
    val evs = r.get("data").get("searchStream")
    assert(evs.size() == 3)
    assert(evs.get(0).get("sequence").asInt() == 0)
    assert(!evs.get(0).get("isLast").asBoolean())
    assert(evs.get(2).get("isLast").asBoolean())
    assert(evs.get(0).get("result").get("id").asText() == "v1")
  }

  test("errors: save quirk, invalid metadata JSON, resolver errors are " +
      "per-field on a 200, parse errors are a 400") {
    val (g, _) = gql()
    // save always errors with the reference's message
    val (st1, s) = run(g, """{"query": "mutation { save }"}""")
    assert(st1 == 200)
    assert(s.get("data").get("save").isNull)
    assert(s.get("errors").get(0).get("message").asText()
      .contains("coordinated through the server's write path"))
    // invalid metadata JSON string → reference's message
    val (_, m) = run(g, """{"query":
      "mutation { insertVector(input: {collection: \"docs\", id: \"x\", vector: [1.0, 0.0, 0.0, 0.0], metadata: \"not json{\"}) { id } }"}""")
    assert(m.get("errors").get(0).get("message").asText()
      .contains("Invalid metadata JSON"))
    // one failing field does not sink its sibling
    val (_, mix) = run(g,
      """{"query": "{ vector(collection: \"docs\", id: \"ghost\") { id } health { healthy } }"}""")
    assert(mix.get("data").get("vector").isNull)
    assert(mix.get("data").get("health").get("healthy").asBoolean())
    assert(mix.get("errors").size() == 1)
    // unparseable document → 400 envelope
    val (st2, p) = run(g, """{"query": "{ unterminated "}""")
    assert(st2 == 400)
    assert(p.get("errors").get(0).get("message").asText().nonEmpty)
    // an undefined fragment spread is a parse error
    val (st3, f) = run(g, """{"query": "{ ...frag }"}""")
    assert(st3 == 400)
    assert(f.get("errors").get(0).get("message").asText()
      .contains("fragment 'frag' is not defined"))
    // as is a fragment cycle
    val (st4, cy) = run(g, """{"query":
      "{ ...a } fragment a on Query { ...b } fragment b on Query { ...a }"}""")
    assert(st4 == 400)
    assert(cy.get("errors").get(0).get("message").asText()
      .contains("cycle"))
  }

  test("standard-client prelude: __typename at every level, named " +
      "fragments, and inline fragments gated on their type condition") {
    val (g, _) = gql()
    // __typename at the root and nested, alongside ordinary fields
    val (st, r) = run(g, """{"query":
      "{ __typename health { __typename healthy } search(input: {collection: \"docs\", vector: [1.0, 0.0, 0.0, 0.0], k: 1}) { __typename results { __typename id } } }"}""")
    assert(st == 200 && r.get("errors") == null)
    assert(r.get("data").get("__typename").asText() == "Query")
    assert(r.get("data").get("health").get("__typename").asText()
      == "HealthStatus")
    assert(r.get("data").get("search").get("__typename").asText()
      == "SearchResponse")
    assert(r.get("data").get("search").get("results").get(0)
      .get("__typename").asText() == "SearchResult")
    assert(r.get("data").get("search").get("results").get(0)
      .get("id").asText() == "v1")
    // named fragment, defined after use, spread inside a field
    val (_, fr) = run(g, """{"query":
      "{ collection(name: \"docs\") { ...collFields } } fragment collFields on Collection { name dimensions }"}""")
    assert(fr.get("errors") == null)
    assert(fr.get("data").get("collection").get("name").asText() == "docs")
    assert(fr.get("data").get("collection").get("dimensions").asInt() == 4)
    // inline fragments: matching type condition applies, mismatched is
    // skipped, condition-less applies
    val (_, inl) = run(g, """{"query":
      "{ health { ... on HealthStatus { healthy } ... on Collection { name } ... { collectionCount } } }"}""")
    assert(inl.get("errors") == null)
    val h = inl.get("data").get("health")
    assert(h.get("healthy").asBoolean())
    assert(!h.has("name")) // Collection condition skipped on HealthStatus
    assert(h.get("collectionCount").asInt() == 1)
    // fragment at the operation root (on Query)
    val (_, rootFr) = run(g, """{"query":
      "query Q { ...top } fragment top on Query { health { healthy } }"}""")
    assert(rootFr.get("errors") == null)
    assert(rootFr.get("data").get("health").get("healthy").asBoolean())
    // mutation root __typename
    val (_, mt) = run(g,
      """{"query": "mutation { __typename deleteCollection(name: \"docs\") }"}""")
    assert(mt.get("data").get("__typename").asText() == "Mutation")
  }

  test("variables referenced inside fragment bodies coerce against the " +
      "operation's definitions; aliases survive fragment expansion") {
    val (g, _) = gql()
    // the fragment uses $n and an alias; expansion must keep both wired
    // to the selecting operation's variable definitions
    val doc = """query Q($n: String! = \"docs\") { ...pick } fragment pick on Query { c: collection(name: $n) { name } }"""
    val (_, a) = run(g, s"""{"query": "$doc"}""")
    assert(a.get("errors") == null)
    assert(a.get("data").get("c").get("name").asText() == "docs")
    val (_, b) = run(g,
      s"""{"query": "$doc", "variables": {"n": "ghost"}}""")
    assert(b.get("data").get("c").isNull)
    // a fragment shared by two operations resolves per-operation vars
    val two = """query A($n: String! = \"docs\") { ...pick } query B($n: String! = \"ghost\") { ...pick } fragment pick on Query { c: collection(name: $n) { name } }"""
    val (_, ra) = run(g, s"""{"query": "$two", "operationName": "A"}""")
    assert(ra.get("data").get("c").get("name").asText() == "docs")
    val (_, rb) = run(g, s"""{"query": "$two", "operationName": "B"}""")
    assert(rb.get("data").get("c").isNull)
  }

  test("introspection: __schema/__type answer the stock-client opening " +
      "query (fragments + deep ofType recursion, the GraphiQL shape)") {
    val (g, _) = gql()
    // the standard introspection prelude: named fragments over __Type
    val doc = ("query IntrospectionQuery { __schema { queryType { name } " +
      "mutationType { name } subscriptionType { name } " +
      "types { ...FullType } directives { name args { ...InputValue } } } } " +
      "fragment FullType on __Type { kind name fields { name " +
      "args { ...InputValue } type { ...TypeRef } isDeprecated } " +
      "inputFields { ...InputValue } } " +
      "fragment InputValue on __InputValue { name type { ...TypeRef } " +
      "defaultValue } " +
      "fragment TypeRef on __Type { kind name ofType { kind name " +
      "ofType { kind name ofType { kind name } } } }")
    val body = mapper.createObjectNode()
    body.put("query", doc).put("operationName", "IntrospectionQuery")
    val (st, r) = run(g, mapper.writeValueAsString(body))
    assert(st == 200 && r.get("errors") == null)
    val sch = r.get("data").get("__schema")
    assert(sch.get("queryType").get("name").asText() == "Query")
    assert(sch.get("mutationType").get("name").asText() == "Mutation")
    assert(sch.get("subscriptionType").get("name").asText() == "Subscription")
    import scala.jdk.CollectionConverters._
    val types = sch.get("types").elements().asScala.toSeq
    val names = types.map(_.get("name").asText())
    // every SDL type + scalar is listed
    Seq("Query", "Mutation", "Subscription", "Collection", "Vector",
      "SearchResult", "SearchResponse", "HealthStatus",
      "CreateCollectionInput", "InsertVectorInput", "SearchInput",
      "String", "Int", "Float", "Boolean").foreach(n =>
      assert(names.contains(n), s"missing type $n"))
    // the NON_NULL(LIST(NON_NULL(Collection))) chain of Query.collections
    val q = types.find(_.get("name").asText() == "Query").get
    val collsField = q.get("fields").elements().asScala
      .find(_.get("name").asText() == "collections").get
    val t1 = collsField.get("type")
    assert(t1.get("kind").asText() == "NON_NULL")
    assert(t1.get("ofType").get("kind").asText() == "LIST")
    assert(t1.get("ofType").get("ofType").get("kind").asText() == "NON_NULL")
    assert(t1.get("ofType").get("ofType").get("ofType").get("name")
      .asText() == "Collection")
    // input type carries inputFields, object types carry null there
    val si = types.find(_.get("name").asText() == "SearchInput").get
    assert(si.get("kind").asText() == "INPUT_OBJECT")
    assert(si.get("inputFields").elements().asScala
      .map(_.get("name").asText()).toSet ==
      Set("collection", "vector", "k", "filter", "includeMetadata",
        "efSearch"))
    assert(q.get("inputFields").isNull)
    // __type by name, with __typename; unknown name → null, no error
    val (_, one) = run(g, """{"query":
      "{ __type(name: \"Vector\") { __typename kind name fields { name } } }"}""")
    val vt = one.get("data").get("__type")
    assert(vt.get("__typename").asText() == "__Type")
    assert(vt.get("kind").asText() == "OBJECT")
    assert(vt.get("fields").elements().asScala
      .map(_.get("name").asText()).toSeq ==
      Seq("id", "vector", "metadata", "collection"))
    val (_, none) = run(g,
      """{"query": "{ __type(name: \"Ghost\") { name } }"}""")
    assert(none.get("data").get("__type").isNull)
    assert(none.get("errors") == null)
  }

  test("serve hosts POST /graphql and GET /graphql/sdl over live HTTP") {
    val (g, _) = gql()
    val server = g.serve(0)
    try {
      val port = server.getAddress.getPort
      def http(method: String, path: String, body: String = "") = {
        val conn = new java.net.URL(s"http://127.0.0.1:$port$path")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        conn.setRequestMethod(method)
        if (body.nonEmpty) {
          conn.setDoOutput(true)
          conn.getOutputStream.write(body.getBytes("UTF-8"))
        }
        val in = if (conn.getResponseCode < 400) conn.getInputStream
                 else conn.getErrorStream
        (conn.getResponseCode, new String(in.readAllBytes(), "UTF-8"))
      }
      val (st, resp) = http("POST", "/graphql",
        """{"query": "{ health { healthy totalVectors } }"}""")
      assert(st == 200)
      val h = mapper.readTree(resp).get("data").get("health")
      assert(h.get("healthy").asBoolean() && h.get("totalVectors").asLong() == 3L)
      val (st2, sdl) = http("GET", "/graphql/sdl")
      assert(st2 == 200 && sdl.contains("type Query"))
      // 405 body stays valid JSON even when the decoded path carries
      // JSON metacharacters
      val (st3, notAllowed) = http("GET", "/graphql/%22")
      assert(st3 == 405)
      assert(mapper.readTree(notAllowed).get("errors").get(0)
        .get("message").asText().contains("no route"))
      HttpRoundTrip.assertNoAckStall(port, "/graphql/sdl")
    } finally server.stop(0)
  }

  test("subscription over SSE: Accept: text/event-stream streams one " +
      "next frame per event plus a complete frame; queries fall through " +
      "to the single JSON response") {
    val (g, _) = gql()
    val sub = """subscription { searchStream(input: {collection: "docs", vector: [1.0, 0.0, 0.0, 0.0], k: 2}) { sequence isLast result { id } } }"""
    val frames = g.subscriptionSseFrames(
      mapper.writeValueAsString(mapper.createObjectNode().put("query", sub)))
    assert(frames.isDefined && frames.get.size == 2)
    val f0 = mapper.readTree(frames.get.head)
    assert(f0.get("data").get("searchStream").get("sequence").asInt() == 0)
    assert(f0.get("data").get("searchStream").get("result")
      .get("id").asText() == "v1")
    val f1 = mapper.readTree(frames.get(1))
    assert(f1.get("data").get("searchStream").get("isLast").asBoolean())
    // a query document is not a subscription: no SSE frames
    assert(g.subscriptionSseFrames(
      """{"query": "{ health { healthy } }"}""").isEmpty)
    // live HTTP: the wire format carries next/complete event frames
    val server = g.serve(0)
    try {
      val conn = new java.net.URL(
        s"http://127.0.0.1:${server.getAddress.getPort}/graphql")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setRequestProperty("Accept", "text/event-stream")
      conn.setDoOutput(true)
      conn.getOutputStream.write(mapper.writeValueAsString(
        mapper.createObjectNode().put("query", sub)).getBytes("UTF-8"))
      assert(conn.getResponseCode == 200)
      assert(conn.getHeaderField("Content-Type")
        .contains("text/event-stream"))
      val text = new String(conn.getInputStream.readAllBytes(), "UTF-8")
      assert(text.split("event: next", -1).length - 1 == 2)
      assert(text.contains("event: complete"))
      // frames are well-formed data lines
      val data0 = text.linesIterator.find(_.startsWith("data: {")).get
      assert(mapper.readTree(data0.drop(6)).get("data")
        .get("searchStream").get("sequence").asInt() == 0)
      // the subscription's exact search runs a Spark job (tens of ms):
      // compare the transport's share, not the whole round trip
      val subBody = mapper.writeValueAsString(
        mapper.createObjectNode().put("query", sub))
      HttpRoundTrip.assertNoAckStall(server.getAddress.getPort, "/graphql",
        Some(subBody), Seq("Accept" -> "text/event-stream"),
        inProcess = Some(() => g.subscriptionSseFrames(subBody)))
    } finally server.stop(0)
  }

  test("@skip/@include: literals and variables (with defaults) gate " +
      "fields, named-fragment spreads, and inline fragments; other " +
      "directives and a bad 'if' stay clear 400s") {
    val (g, _) = gql()
    // literal conditions on fields
    val (_, lit) = run(g, """{"query":
      "{ health { healthy @include(if: true) version @include(if: false) collectionCount @skip(if: true) totalVectors @skip(if: false) } }"}""")
    val h = lit.get("data").get("health")
    assert(h.has("healthy") && !h.has("version"))
    assert(!h.has("collectionCount") && h.get("totalVectors").asLong() == 3L)
    // variable-driven @include on a named-fragment spread
    val doc = """query Q($all: Boolean!) { health { healthy ...extra @include(if: $all) } } fragment extra on HealthStatus { version collectionCount }"""
    val body = mapper.createObjectNode().put("query", doc)
    body.putObject("variables").put("all", true)
    val (_, on) = run(g, mapper.writeValueAsString(body))
    assert(on.get("data").get("health").get("version").asText() == "0.1.0")
    val body2 = mapper.createObjectNode().put("query", doc)
    body2.putObject("variables").put("all", false)
    val (_, off) = run(g, mapper.writeValueAsString(body2))
    assert(off.get("data").get("health").has("healthy"))
    assert(!off.get("data").get("health").has("version"))
    // @skip with a variable DEFAULT on an inline fragment
    val (_, dflt) = run(g, """{"query":
      "query D($q: Boolean! = true) { health { healthy ... on HealthStatus @skip(if: $q) { uptime } } }"}""")
    assert(!dflt.get("data").get("health").has("uptime"))
    // spec rule: @skip(if: true) wins over @include(if: true)
    val (_, both) = run(g, """{"query":
      "{ health { healthy version @include(if: true) @skip(if: true) } }"}""")
    assert(!both.get("data").get("health").has("version"))
    // anything but skip/include keeps the clear rejection
    val (s1, e1) = run(g, """{"query":
      "{ health { healthy @deprecated } }"}""")
    assert(s1 == 400 && e1.get("errors").get(0).get("message").asText()
      .contains("unsupported directive"))
    // missing/unprovided/non-boolean 'if' are request errors
    val (s2, _) = run(g, """{"query": "{ health { healthy @skip } }"}""")
    assert(s2 == 400)
    val (s3, _) = run(g, """{"query":
      "query M($b: Boolean!) { health { healthy @skip(if: $b) } }"}""")
    assert(s3 == 400)
    val (s4, _) = run(g, """{"query":
      "{ health { healthy @include(if: \"yes\") } }"}""")
    assert(s4 == 400)
  }

  test("unknown fragment type condition is a 400, not a silent drop") {
    val (g, _) = gql()
    val (s1, e1) = run(g, """{"query":
      "{ health { healthy ... on Collectionn { name } } }"}""")
    assert(s1 == 400, s"got $e1")
    assert(e1.get("errors").get(0).get("message").asText()
      .contains("unknown type 'Collectionn'"))
    val (s2, e2) = run(g, """{"query":
      "query { ...f } fragment f on Queryy { health { healthy } }"}""")
    assert(s2 == 400)
    assert(e2.get("errors").get(0).get("message").asText()
      .contains("unknown type 'Queryy'"))
    // known conditions still gate: a mismatching KNOWN type just skips
    val (s3, ok) = run(g, """{"query":
      "{ health { healthy ... on Collection { name } } }"}""")
    assert(s3 == 200 && !ok.get("data").get("health").has("name"))
  }

  test("introspection advertises @skip/@include; subscription single-" +
      "root-field rule enforced; @include gates subscription fields") {
    val (g, _) = gql()
    import scala.jdk.CollectionConverters._
    val (_, r) = run(g, """{"query":
      "{ __schema { directives { name isRepeatable locations args { name type { kind ofType { name } } } } } }"}""")
    val ds = r.get("data").get("__schema").get("directives")
      .elements().asScala.toSeq
    assert(ds.map(_.get("name").asText()).toSet == Set("skip", "include"))
    assert(ds.forall(!_.get("isRepeatable").asBoolean()))
    val skip = ds.find(_.get("name").asText() == "skip").get
    assert(skip.get("locations").elements().asScala
      .map(_.asText()).toSet ==
      Set("FIELD", "FRAGMENT_SPREAD", "INLINE_FRAGMENT"))
    val ifArg = skip.get("args").get(0)
    assert(ifArg.get("name").asText() == "if")
    assert(ifArg.get("type").get("kind").asText() == "NON_NULL")
    assert(ifArg.get("type").get("ofType").get("name").asText() == "Boolean")
    // spec §5.2.3.1: a subscription collects to exactly ONE root field,
    // and never an introspection field — each SSE `next` frame is one
    // stream event, so a synthetic meta-field frame would corrupt
    // graphql-sse clients (r13 was lenient here; r14 enforces the rule)
    val multi = """subscription { __typename searchStream(input: {collection: "docs", vector: [1.0, 0.0, 0.0, 0.0], k: 1}) { sequence } }"""
    val (sm, em) = run(g, mapper.writeValueAsString(
      mapper.createObjectNode().put("query", multi)))
    assert(sm == 400 && em.get("errors").get(0).get("message").asText()
      .contains("exactly one root field"))
    intercept[Exception] { // SSE path rejects identically (400 upstream)
      g.subscriptionSseFrames(mapper.writeValueAsString(
        mapper.createObjectNode().put("query", multi)))
    }
    val (st, et) = run(g, """{"query": "subscription { __typename }"}""")
    assert(st == 400 && et.get("errors").get(0).get("message").asText()
      .contains("introspection"))
    // spec-VALID corners stay accepted: CollectFields runs with empty
    // variables, so a literal @skip(if: true) second field collects
    // away, and same-response-key fragment composition merges to one
    val lit = """subscription { old @skip(if: true) searchStream(input: {collection: "docs", vector: [1.0, 0.0, 0.0, 0.0], k: 1}) { sequence } }"""
    val fLit = g.subscriptionSseFrames(mapper.writeValueAsString(
      mapper.createObjectNode().put("query", lit))).get
    assert(fLit.size == 1, fLit.toString)
    val merged = """subscription { ... on Subscription { searchStream(input: {collection: "docs", vector: [1.0, 0.0, 0.0, 0.0], k: 1}) { sequence } } ... on Subscription { searchStream(input: {collection: "docs", vector: [1.0, 0.0, 0.0, 0.0], k: 1}) { sequence } } }"""
    val fM = g.subscriptionSseFrames(mapper.writeValueAsString(
      mapper.createObjectNode().put("query", merged))).get
    assert(fM.size == 1, fM.toString) // one response key -> one stream
    // @include still gates fields WITHIN the single root selection
    val sub = """subscription { searchStream(input: {collection: "docs", vector: [1.0, 0.0, 0.0, 0.0], k: 1}) { sequence isLast @include(if: false) result { id } } }"""
    val frames = g.subscriptionSseFrames(mapper.writeValueAsString(
      mapper.createObjectNode().put("query", sub))).get
    assert(frames.size == 1, frames.toString)
    val ev = mapper.readTree(frames.head).get("data").get("searchStream")
    assert(ev.has("sequence") && ev.has("result") && !ev.has("isLast"))
  }

  test("repeated non-repeatable directives at one location are a 400") {
    val (g, _) = gql()
    val (s1, e1) = run(g, """{"query":
      "{ health { healthy @skip(if: false) @skip(if: false) } }"}""")
    assert(s1 == 400, s"got $e1")
    assert(e1.get("errors").get(0).get("message").asText()
      .contains("at most once"))
    val (s2, _) = run(g, """{"query":
      "{ health { healthy ... on HealthStatus @include(if: true) @include(if: true) { version } } }"}""")
    assert(s2 == 400)
    // one of EACH directive at one location stays legal (distinct names)
    val (s3, ok) = run(g, """{"query":
      "{ health { healthy version @include(if: true) @skip(if: false) } }"}""")
    assert(s3 == 200 && ok.get("data").get("health").has("version"))
  }

  test("a variable-valued @skip that removes the subscription's single " +
      "root at request time is a request error on both paths (spec " +
      "6.4: CollectFields with the REQUEST's variables)") {
    val (g, _) = gql()
    val doc = """subscription ($b: Boolean!) { searchStream(input: {collection: \"docs\", vector: [1.0, 0.0, 0.0, 0.0], k: 1}) @skip(if: $b) { sequence } }"""
    def body(b: Boolean) =
      s"""{"query": "$doc", "variables": {"b": $b}}"""
    // static validation passes (the condition is variable-valued), but
    // with b=true the runtime collection is empty -> 400, never an
    // empty-but-200 response / zero-frame SSE stream
    val (s1, e1) = run(g, body(true))
    assert(s1 == 400, s"got $e1")
    assert(e1.get("errors").get(0).get("message").asText()
      .contains("exactly one root field"))
    intercept[Exception] {
      g.subscriptionSseFrames(body(true))
    }
    // b=false: the root survives and the stream flows normally
    val frames = g.subscriptionSseFrames(body(false)).get
    assert(frames.size == 1, frames.toString)
    assert(mapper.readTree(frames.head).get("data")
      .get("searchStream").has("sequence"))
  }

  test("fuzz contract: hostile/random documents never escape the error " +
      "envelope — every response is valid JSON with status 200 or 400") {
    val (g, _) = gql()
    val rnd = new scala.util.Random(4242)
    // hand-picked hostile docs
    val hostile = Seq(
      "", "{", "}", "{{{{", "query", "query {", "mutation {}",
      "{ search(input: ) }", "{ search(input: {collection: }) }",
      "{ a(b: [1, [2, [3, ]]]) }", "query ($x: ) { health }",
      "{ health } { health }", "subscription { }",
      "{ \u0000\u0001 }", "{ collection(name: \"\\u12\") { n } }",
      "{ x(y: 999999999999999999999999) }",
      "{ vector(collection: \"docs\" id: \"v1\") { id } }",
      "# only a comment", "{ a: }", "$", "...", "@dir { health }")
    // seeded random token soup over the grammar's alphabet
    val atoms = Seq("{", "}", "(", ")", "[", "]", ":", "$", "=", "!",
      "query", "mutation", "subscription", "health", "search", "input",
      "collection", "name", "\"s\"", "1", "2.5", "-3", "true", "false",
      "null", "x", "...", "@", ",", "#c\n",
      // directive-grammar atoms (r13): legal and mangled skip/include
      "@skip", "@include", "@skip(if: true)", "@include(if: $v)",
      "if", "on", "fragment", "@deprecated")
    val random = (1 to 300).map { _ =>
      (1 to (1 + rnd.nextInt(25)))
        .map(_ => atoms(rnd.nextInt(atoms.size))).mkString(" ")
    }
    (hostile ++ random).foreach { doc =>
      val body = mapper.createObjectNode().put("query", doc)
      val (st, resp) = g.handle(mapper.writeValueAsString(body))
      assert(st == 200 || st == 400, s"status $st for doc: $doc")
      val r = mapper.readTree(resp) // must parse
      assert(r.has("data"), s"no data key for doc: $doc")
    }
  }

  test("SDL carries the contract blocks (test_sdl_generation parity)") {
    assert(GraphqlApi.sdl.contains("type Query"))
    assert(GraphqlApi.sdl.contains("type Mutation"))
    assert(GraphqlApi.sdl.contains("type Subscription"))
    assert(GraphqlApi.sdl.contains("input SearchInput"))
    assert(GraphqlApi.sdl.contains("queryTimeUs: Int!"))
  }
}
