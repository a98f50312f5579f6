package graft.server

import java.nio.charset.StandardCharsets

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.filter.{Filter, FilterCompiler}
import graft.functions.Metric
import graft.ops.Search

/** REST contract layer (SURVEY §3.2 scoped it out of core; built as the
  * drop-in surface a reference server user would call — reference:
  * src/server/mod.rs:462-537 route table, src/server/types.rs request/
  * response bodies, src/server/handlers/{collections,vectors,search}.rs).
  *
  * Shape parity kept exactly where the reference defines it:
  *   - error body `{"error": msg, "code": CODE}` (types.rs:12-19)
  *   - `score = 1 / (1 + distance)` (handlers/search.rs:187)
  *   - create → 201 `{"created": name}`; collection info with
  *     `needs_compaction` at the 0.2 ratio (handlers/collections.rs:111,127)
  *   - list pagination `{count, offset, total, has_more}`
  *   - metadata-only `/query` and filtered `/count` (handlers/search.rs:
  *     964-1057), `/recommend` positive/negative ids (:1060-1140)
  *   - search_after cursor `{distance, id}` paging (types.rs:180-243)
  *
  * Execution is the engine's own declarative ops (Search.topK/radius/
  * searchAfter, FilterCompiler, VectorAgg centroids) over a per-collection
  * DataFrame — handlers never loop over rows on the driver, so a
  * collection can be a registered parquet table of any size; only the
  * k-bounded result page is collected. [[handle]] is a pure
  * (method, path, body) → (status, json) function so the whole contract is
  * testable in-process; [[serve]] hosts it on [[Http]], the JDK
  * HttpServer with `TCP_NODELAY` that hosts every served surface (no new
  * dependencies), one Spark job per request like any multi-tenant driver.
  *
  * Cluster caveats (the honest scope of this contract layer):
  *   - writes land in a driver-side delta over one pinned base (see
  *     [[Coll]]); a compaction folds the delta into a new base with one
  *     `localCheckpoint`, whose blocks live on executors — correct for a
  *     single long-lived driver app, but LOSSY under dynamic allocation /
  *     executor loss, and the delta itself lives only in this driver. On
  *     a real cluster, route mutations to a transactional table format
  *     and keep this layer read-mostly over [[register]]ed tables.
  *   - the collection registry is driver-local (single-process); writers
  *     mutate under `synchronized` and readers see fresh state via the
  *     `@volatile` fields, so concurrent in-process callers are safe, but
  *     two driver processes would each have their own registry.
  */
class RestApi(spark: SparkSession) {

  import RestApi._

  /** Mutable collection state, reference Collection ≙ one DataFrame:
    * (id STRING, vector ARRAY<FLOAT>, metadata STRING json, ttl LONG),
    * kept as a base frame plus a driver-side delta (needle's tombstone
    * and later compaction, SURVEY §2). Writes change only the delta: the
    * last written row per id, and the set of changed ids whose base rows
    * are hidden. No write builds a Spark plan. Readers see [[df]], built
    * once per write version as base minus changed ids, union the delta.
    * Once the delta passes [[RestApi.DeltaBound]], one eager
    * `localCheckpoint` of that frame becomes the new base, so the
    * lineage is one base plus one filter and one union however many
    * writes run, and a compaction writes one copy of the collection.
    * The first write on a registered table marks its base for a lazy
    * `localCheckpoint`, so the first Spark read after it pins one copy.
    * `maxPartitions` is max(partitions at creation, defaultParallelism):
    * the frame coalesces back to it, so the partition count (and every
    * scan's task count) stays bounded. `metric` is the canonical
    * `Metric` name, whatever spelling created the collection. The delta
    * is guarded by the registry lock; [[df]], [[deleted]] and [[ann]] are
    * safe to read without it.
    */
  final class Coll(@volatile var name: String, val dims: Int,
                   val metric: String, registered: DataFrame,
                   val maxPartitions: Int, private var baseMarked: Boolean) {
    private var base = registered
    private val delta = new java.util.LinkedHashMap[String, Row]
    private val changed = new java.util.HashSet[String]
    private[RestApi] var version = 0L
    @volatile private var frame: DataFrame = registered
    @volatile var deleted: Long = 0L
    @volatile var ann: AnnState = null

    /** The collection's rows, expired-TTL rows included. */
    def df: DataFrame = {
      val f = frame
      if (f != null) f
      else RestApi.this.synchronized {
        if (frame == null) frame = derive()
        frame
      }
    }

    private def derive(): DataFrame =
      if (changed.isEmpty) base // the delta's ids are all changed ids
      else {
        val kept = base.filter(!col("id").isin(changed.toArray: _*))
        if (delta.isEmpty) kept
        else kept.unionByName(spark.createDataFrame(
          new java.util.ArrayList[Row](delta.values), schema))
          .coalesce(maxPartitions)
      }

    /** Rows of the frame whose id is one of `ids`. The ANN snapshot
      * answers on the driver when it covers the frame; otherwise the
      * delta answers for its ids and one count job over the base for the
      * rest (none when every id is in the delta).
      */
    private[RestApi] def rowsWithIds(ids: Seq[String],
                                     limit1: Boolean = false): Long = {
      val distinct = ids.distinct
      val a = ann
      if (a != null && a.covers)
        distinct.count(a.idToSid.containsKey).toLong
      else {
        val inDelta = distinct.count(delta.containsKey).toLong
        val inBase = distinct.filterNot(changed.contains)
        if (inBase.isEmpty || limit1 && inDelta > 0) inDelta
        else {
          val hits = base.filter(col("id").isin(inBase: _*))
          inDelta + (if (limit1) hits.limit(1) else hits).count()
        }
      }
    }

    /** Each row replaces every earlier row of its id. */
    private[RestApi] def upsert(rows: Seq[Row]): Unit = {
      rows.foreach { r =>
        delta.put(r.getString(0), r); changed.add(r.getString(0))
      }
      wrote()
    }

    private[RestApi] def delete(ids: Seq[String]): Unit = {
      ids.foreach { id => delta.remove(id); changed.add(id) }
      wrote()
    }

    private def wrote(): Unit = {
      version += 1
      if (!baseMarked) {
        base = base.localCheckpoint(false)
        baseMarked = true
      }
      if (delta.size + changed.size > DeltaBound) {
        val sc = spark.sparkContext
        val label = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(s"RestApi compaction of $name")
        try base = derive().localCheckpoint(true)
        finally sc.setJobDescription(label)
        delta.clear(); changed.clear()
        frame = base
      } else frame = null
    }
  }

  /** Driver-resident ANN serving state for one collection: a LocalServe
    * snapshot (the in-process point-query tier — zero Spark jobs per
    * search) plus the surrogate-id ↔ string-id mapping. Mutations keep
    * the snapshot LIVE — inserts append into their nearest cell
    * (copy-on-write, `LocalServe.addBatch`), deletes/replacements
    * tombstone (`LocalServe.remove`), the same serve-under-writes
    * contract as the reference's in-memory segments. Centroids do not
    * move on insert, so after heavy drift `POST /collections/{c}/index`
    * re-balances; rows whose TTL expires after the build are served
    * until the next rebuild.
    *
    * `covers` holds when the snapshot's ids are exactly the frame's ids,
    * one row each: no write landed between the build's snapshot and its
    * publish, the ids are distinct and no expired-TTL row was left out.
    * Writes keep it (they change the snapshot and the frame alike), so
    * delete counts and insert clashes are answered from `idToSid`, and
    * collection counts from `rows`, on the driver. A TTL write or
    * `DELETE /index` drops the snapshot, and with it the coverage.
    */
  final case class AnnState(li: graft.ann.LocalServe.LocalIndex,
                            ids: Array[String], numCells: Int,
                            nprobe: Int, rows: Long,
                            idToSid: java.util.HashMap[String, Integer],
                            covers: Boolean) {
    /** Inserts append, replaced ids tombstone first; returns the next
      * published state (copy-on-write snapshot + updated mappings).
      */
    def withUpserts(rows0: Seq[(String, Array[Float])]): AnnState = {
      val replaced = rows0.flatMap { case (id, _) =>
        Option(idToSid.get(id)).map(_.longValue())
      }
      val li1 = if (replaced.nonEmpty)
        graft.ann.LocalServe.remove(li, replaced) else li
      var next = ids.length
      val newIds = java.util.Arrays.copyOf(ids, ids.length + rows0.size)
      val map = new java.util.HashMap[String, Integer](idToSid)
      val adds = rows0.map { case (id, v) =>
        val sid = next; next += 1
        newIds(sid) = id
        map.put(id, Int.box(sid))
        (sid.toLong, v)
      }
      copy(li = graft.ann.LocalServe.addBatch(li1, adds), ids = newIds,
        rows = rows + rows0.size - replaced.size, idToSid = map)
    }

    /** Tombstones deleted ids, each once; unknown ids are no-ops. */
    def withDeletes(deleted: Seq[String]): AnnState = {
      val gone = deleted.distinct.filter(idToSid.containsKey)
      if (gone.isEmpty) this
      else {
        val map = new java.util.HashMap[String, Integer](idToSid)
        gone.foreach(map.remove(_))
        copy(li = graft.ann.LocalServe.remove(li,
          gone.map(idToSid.get(_).longValue())),
          rows = rows - gone.size, idToSid = map)
      }
    }
  }

  private val collections = mutable.LinkedHashMap.empty[String, Coll]
  private val mapper = new ObjectMapper()

  private val schema = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("vector", ArrayType(FloatType), nullable = false),
    StructField("metadata", StringType, nullable = true),
    StructField("ttl_expires_at", LongType, nullable = true)))

  /** Register an EXISTING DataFrame (e.g. a parquet table) as a
    * collection — the Spark-native superpower the reference's in-process
    * store lacks; the REST surface then serves it unchanged.
    */
  def register(name: String, df: DataFrame, dims: Int,
               metric: String = "cosine"): Unit = synchronized {
    val canonical = Metric.parse(metric).name
    val frame = df.select(
      col("id").cast("string").as("id"),
      col("vector").cast("array<float>").as("vector"),
      (if (df.columns.contains("metadata")) col("metadata").cast("string")
       else lit(null).cast("string")).as("metadata"),
      (if (df.columns.contains("ttl_expires_at")) col("ttl_expires_at").cast("long")
       else lit(null).cast("long")).as("ttl_expires_at"))
    collections(name) = new Coll(name, dims, canonical, frame,
      math.max(frame.rdd.getNumPartitions, spark.sparkContext.defaultParallelism),
      baseMarked = false)
  }

  /** The configured distance metric of a collection, as its canonical
    * `Metric` name (None when absent).
    * The REST CollectionInfo deliberately omits it (reference types.rs
    * parity); front-ends that need it (GraphQL's distanceFunction field)
    * read it here instead of widening the REST contract.
    */
  def collectionMetric(name: String): Option[String] =
    synchronized(collections.get(name).map(_.metric))

  // ------------------------------------------------------------- dispatch

  /** The whole API as a pure function: (method, path, body) → (status,
    * response json). Query params ride on the path (`?offset=..`).
    */
  def handle(method: String, rawPath: String, body: String): (Int, String) = {
    val (path, params) = splitQuery(rawPath)
    // percent-decode AFTER splitting on '/': an id containing an encoded
    // '/' or '&' must stay one segment
    val parts = path.stripPrefix("/").stripSuffix("/").split("/").toList
      .map(urlDecode)
    try {
      (method.toUpperCase(java.util.Locale.ROOT), parts) match {
        case ("GET", List("health")) => ok(obj(_.put("status", "ok")))
        case ("GET", List("collections")) => listCollections(params)
        case ("POST", List("collections")) => createCollection(body)
        case ("GET", List("collections", name)) => getCollection(name)
        case ("DELETE", List("collections", name)) => deleteCollection(name)
        case ("POST", List("collections", name, "rename")) =>
          renameCollection(name, body)
        case ("GET", List("collections", c, "vectors")) =>
          listVectors(c, params)
        case ("GET", List("collections", c, "vectors", id)) => getVector(c, id)
        case ("DELETE", List("collections", c, "vectors", id)) =>
          deleteVectors(c, Seq(id))
        case ("POST", List("collections", c, "vectors")) =>
          insert(c, Seq(mapper.readTree(body)), upsertMode = false)
        case ("POST", List("collections", c, "vectors", "batch")) =>
          insert(c, arr(mapper.readTree(body).get("vectors")), upsertMode = false)
        case ("POST", List("collections", c, "vectors", "upsert")) =>
          insert(c, Seq(mapper.readTree(body)), upsertMode = true)
        case ("POST", List("collections", c, "vectors", "upsert-batch")) =>
          insert(c, arr(mapper.readTree(body).get("vectors")), upsertMode = true)
        case ("POST", List("collections", c, "vectors", "delete-batch")) =>
          deleteVectors(c, arr(mapper.readTree(body).get("ids")).map(_.asText()))
        case ("POST", List("collections", c, "index")) => buildIndex(c, body)
        case ("GET", List("collections", c, "index")) => indexStatus(c)
        case ("DELETE", List("collections", c, "index")) => dropIndex(c)
        case ("POST", List("collections", c, "search")) => search(c, body)
        case ("POST", List("collections", c, "search", "batch")) =>
          batchSearch(c, body)
        case ("POST", List("collections", c, "search", "radius")) =>
          radiusSearch(c, body)
        case ("POST", List("collections", c, "count")) => countFiltered(c, body)
        case ("POST", List("collections", c, "query")) => metadataQuery(c, body)
        case ("POST", List("collections", c, "recommend")) => recommend(c, body)
        case _ => err(404, s"no route for $method $path", "NOT_FOUND")
      }
    } catch {
      case e: ApiException => err(e.status, e.message, e.code)
      case e: com.fasterxml.jackson.core.JacksonException =>
        err(400, s"Invalid JSON: ${e.getMessage}", "INVALID_JSON")
      case e: IllegalArgumentException =>
        err(400, String.valueOf(e.getMessage), "BAD_REQUEST")
    }
  }

  // ---------------------------------------------------------- collections

  private def listCollections(params: Map[String, String]): (Int, String) =
    synchronized {
      val offset = params.get("offset").map(_.toInt).getOrElse(0)
      val limit = params.get("limit").map(_.toInt).getOrElse(100)
      val all = collections.values.toSeq
      val page = all.slice(offset, offset + limit)
      ok(obj { o =>
        val a = o.putArray("collections")
        page.foreach { c =>
          val e = a.addObject()
          e.put("name", c.name).put("dimensions", c.dims)
          e.put("count", count(c)).put("deleted_count", c.deleted)
        }
        val p = o.putObject("pagination")
        p.put("count", page.size).put("offset", offset).put("total", all.size)
        p.put("has_more", offset + page.size < all.size)
      })
    }

  private def createCollection(body: String): (Int, String) = synchronized {
    val req = mapper.readTree(body)
    val name = require(req, "name").asText()
    val dims = require(req, "dimensions").asInt()
    if (name.isEmpty || !name.matches("[A-Za-z0-9_.-]{1,128}"))
      throw ApiException(400, s"Invalid collection name: $name", "INVALID_NAME")
    if (dims < 1 || dims > 16384) // reference MAX_DIMENSIONS guard
      throw ApiException(400, "Dimensions must be between 1 and 16384",
        "INVALID_DIMENSIONS")
    if (collections.contains(name))
      throw ApiException(409, s"Collection already exists: $name",
        "ALREADY_EXISTS")
    val metric = canonicalMetric(
      Option(req.get("distance")).map(_.asText()).getOrElse("cosine"))
    collections(name) = new Coll(name, dims, metric,
      spark.createDataFrame(java.util.Collections.emptyList[Row](), schema),
      spark.sparkContext.defaultParallelism, baseMarked = true)
    (201, mapper.writeValueAsString(obj2(_.put("created", name))))
  }

  /** A collection's current frame (its rows and partition layout). */
  private[graft] def collectionFrame(name: String): DataFrame = coll(name).df

  /** A collection's published ANN state (null when none is built). */
  private[graft] def annState(name: String): AnnState = coll(name).ann

  private def coll(name: String): Coll = synchronized {
    collections.getOrElse(name,
      throw ApiException(404, s"Collection not found: $name", "NOT_FOUND"))
  }

  private def getCollection(name: String): (Int, String) = {
    val c = coll(name)
    val n = count(c)
    ok(obj { o =>
      o.put("name", name).put("dimensions", c.dims).put("count", n)
      o.put("deleted_count", c.deleted)
      // reference needs_compaction(0.2) (handlers/collections.rs:127)
      o.put("needs_compaction", c.deleted.toDouble > 0.2 * math.max(1L, n + c.deleted))
    })
  }

  /** The frame's row count: a covering ANN snapshot holds it on the
    * driver, otherwise one Spark count.
    */
  private def count(c: Coll): Long = {
    val a = c.ann
    if (a != null && a.covers) a.rows else c.df.count()
  }

  private def deleteCollection(name: String): (Int, String) = synchronized {
    coll(name) // 404 when absent
    collections.remove(name)
    ok(obj(_.put("deleted", name)))
  }

  /** Rename (reference: db.rename_collection, exposed through MCP): the
    * registry key moves, the DataFrame is untouched.
    */
  private def renameCollection(name: String, body: String): (Int, String) =
    synchronized {
      val c = coll(name)
      val newName = require(mapper.readTree(body), "new_name").asText()
      if (newName.isEmpty || !newName.matches("[A-Za-z0-9_.-]{1,128}"))
        throw ApiException(400, s"Invalid collection name: $newName",
          "INVALID_NAME")
      if (collections.contains(newName))
        throw ApiException(409, s"Collection already exists: $newName",
          "ALREADY_EXISTS")
      collections.remove(name)
      c.name = newName
      collections(newName) = c
      ok(obj(o => o.put("old_name", name).put("new_name", newName)
        .put("renamed", true)))
    }

  // -------------------------------------------------------------- vectors

  private def insert(name: String, reqs: Seq[JsonNode],
                     upsertMode: Boolean): (Int, String) = {
    val c = coll(name)
    val rows = reqs.map { r =>
      val id = require(r, "id").asText()
      val vec = arr(require(r, "vector")).map(_.floatValue()).toArray
      if (vec.length != c.dims)
        throw ApiException(400,
          s"Vector dimension ${vec.length} != collection dimension ${c.dims}",
          "DIMENSION_MISMATCH")
      val meta = Option(r.get("metadata")).filterNot(_.isNull)
        .map(mapper.writeValueAsString)
      val ttl = Option(r.get("ttl_seconds")).filterNot(_.isNull)
        .map(t => nowEpochS() + t.asLong())
      Row(id, vec.toSeq, meta.orNull, ttl.map(Long.box).orNull)
    }
    val ids = rows.map(_.getString(0))
    // within-batch duplicates: an insert batch must be id-unique (the
    // second insert of an id is a conflict); an upsert batch keeps the
    // LAST occurrence, matching sequential upsert semantics
    val dedupedRows =
      if (upsertMode) rows.groupBy(_.getString(0)).map(_._2.last).toSeq
      else {
        if (ids.distinct.size != ids.size)
          throw ApiException(409, "Duplicate vector id within batch",
            "DUPLICATE_ID")
        rows
      }
    synchronized {
      if (!upsertMode && c.rowsWithIds(ids, limit1 = true) > 0)
        throw ApiException(409, "Vector id already exists", "DUPLICATE_ID")
      c.upsert(dedupedRows)
      // keep the ANN snapshot live: appended rows enter their nearest
      // cell, replaced ids tombstone (LocalServe copy-on-write). Rows
      // carrying a TTL fall back to invalidation — the snapshot has no
      // expiry clock, so serving them past expiry would be wrong.
      if (c.ann != null) {
        if (dedupedRows.exists(_.get(3) != null)) c.ann = null
        else c.ann = c.ann.withUpserts(dedupedRows.map(r =>
          (r.getString(0), r.getSeq[Float](1).toArray)))
      }
    }
    ok(obj(_.put(if (upsertMode) "upserted" else "inserted",
      dedupedRows.size)))
  }

  private def deleteVectors(name: String, ids: Seq[String]): (Int, String) = {
    val c = coll(name)
    synchronized {
      val n = c.rowsWithIds(ids)
      if (n == 0 && ids.size == 1)
        throw ApiException(404, s"Vector not found: ${ids.head}", "NOT_FOUND")
      if (n > 0) c.delete(ids.distinct)
      if (c.ann != null) c.ann = c.ann.withDeletes(ids)
      c.deleted += n
      ok(obj(_.put("deleted", n)))
    }
  }

  /** Keyset-paged vector listing (reference handlers/vector.rs list):
    * `?after_id=&limit=` — each page is `WHERE id > cursor ORDER BY id
    * LIMIT n`, constant cost at any depth, only the page is collected.
    */
  private def listVectors(name: String,
                          params: Map[String, String]): (Int, String) = {
    val c = coll(name)
    val limit = math.min(math.max(
      params.get("limit").map(_.toInt).getOrElse(100), 1), 1000)
    val afterId = params.get("after_id")
    val base = liveRows(c)
    // fetch limit+1: has_more from the presence of the extra row, so an
    // exact-boundary final page does not advertise a phantom next page
    val fetched = afterId.fold(base)(cur => base.filter(col("id") > cur))
      .orderBy(col("id")).limit(limit + 1).collect()
    val page = fetched.take(limit)
    ok(obj { o =>
      val rs = o.putArray("vectors")
      page.foreach { r =>
        val e = rs.addObject()
        e.put("id", r.getString(0))
        val v = e.putArray("vector")
        r.getSeq[Float](1).foreach(v.add(_))
        e.set[ObjectNode]("metadata", metaNode(r.getAs[String]("metadata")))
      }
      val p = o.putObject("pagination")
      p.put("count", page.length).put("has_more", fetched.length > limit)
      if (page.nonEmpty) p.put("next_after_id", page.last.getString(0))
    })
  }

  private def getVector(name: String, id: String): (Int, String) = {
    val c = coll(name)
    val rows = c.df.filter(col("id") === id).limit(1).collect()
    if (rows.isEmpty)
      throw ApiException(404, s"Vector not found: $id", "NOT_FOUND")
    val r = rows.head
    ok(obj { o =>
      o.put("id", id)
      val v = o.putArray("vector")
      r.getSeq[Float](1).foreach(v.add(_))
      o.set[ObjectNode]("metadata", metaNode(r.getAs[String]("metadata")))
    })
  }

  // --------------------------------------------------------------- search

  /** Pre-filter compiled against metadata JSON paths, exactly the
    * reference's filter-during-search contract (types.rs:198-200).
    */
  private def compiledFilter(c: Coll, node: JsonNode): Option[Column] =
    Option(node).filterNot(_.isNull).map { f =>
      val filter = Filter.parse(mapper.writeValueAsString(f))
      FilterCompiler.compile(filter,
        (path: String) => FilterCompiler.schemaResolver(c.df.schema)(
          s"metadata.$path"))
    }

  private def liveRows(c: Coll): DataFrame = live(c.df)

  private def live(frame: DataFrame, now: Long = nowEpochS()): DataFrame =
    frame.filter(col("ttl_expires_at").isNull || col("ttl_expires_at") > now)

  /** Build the driver-resident ANN serving tier over the collection's
    * live rows with one Spark job: a bounded collect of (id, vector, ttl)
    * from the pinned frame, everything else on the driver. Surrogate ids
    * (string ids must become longs for the packed arrays) follow the id
    * order under `UTF8String` comparison, stable over scan order, and
    * `LocalServe.build` takes the rows in that order: it fits the IVF
    * centroids and lays out each cell from the live rows alone, not from
    * the order the collect read them in. After this, `{"mode":"ann"}`
    * searches answer in-process with zero Spark jobs — the reference's
    * in-memory serving model.
    *
    * `maxRows` exists as a parameter (route calls always pass the 2M
    * default) solely so the refusal branch is executable in-suite —
    * RestApiSpec pins that a collection over the bound is refused with
    * its "collection exceeds" message after at most `maxRows + 1` rows
    * reached the driver.
    */
  private[graft] def buildIndex(name: String, body: String,
      maxRows: Long = graft.ann.LocalServe.DefaultMaxRows)
      : (Int, String) = {
    val c = coll(name)
    val req = if (body == null || body.isBlank) mapper.createObjectNode()
              else mapper.readTree(body)
    val numCells = boundedInt(req, "num_cells", default = 16, max = 4096)
    val nprobe = boundedInt(req, "nprobe",
      default = math.max(1, numCells / 4), max = numCells)
    // One pinned frame, one bounded collect: at or under the bound the
    // collected rows are the whole frame, so their number decides below
    // whether the snapshot covers it, and the live ones are kept here
    // with live()'s test. Over it, the live rows alone may still fit,
    // which costs one more bounded collect. Rows written after the pin
    // are not in the index — the documented serve-under-writes behavior.
    val (frame, version) = synchronized((c.df, c.version))
    val now = nowEpochS()
    val cols = frame.select(col("id"), col("vector"), col("ttl_expires_at"))
    val all = collectBounded(cols, maxRows)
    val rows =
      if (all.length <= maxRows)
        all.filter(r => r.isNullAt(2) || r.getLong(2) > now)
      else collectBounded(live(cols, now), maxRows)
    Predef.require(rows.length <= maxRows,
      s"build_index('$name'): collection exceeds the in-process serving " +
        s"bound ($maxRows); use Ivf.batchSearchPacked for collections " +
        "this large")
    val n = rows.length
    val keys = rows.map(r => UTF8String.fromString(r.getString(0)))
    val bySid = Array.range(0, n).sortWith { (x, y) =>
      val (a, b) = (keys(x), keys(y))
      if (a == null) b != null else b != null && a.compareTo(b) < 0
    }
    val ids = bySid.map(rows(_).getString(0))
    val li = graft.ann.LocalServe.build(Array.tabulate(n)(_.toLong),
      bySid.map(r => graft.ann.LocalServe.vectorAt(rows(r), 1)), numCells,
      c.metric)
    synchronized {
      val map = new java.util.HashMap[String, Integer](n * 2)
      ids.zipWithIndex.foreach { case (id, sid) => map.put(id, Int.box(sid)) }
      val covers = c.version == version && all.length == n && map.size == n
      c.ann = AnnState(li, ids, numCells, nprobe, n.toLong, map, covers)
    }
    ok(obj { o =>
      o.put("indexed", n); o.put("num_cells", numCells)
      o.put("nprobe", nprobe)
    })
  }

  /** At most `maxRows + 1` rows of `df` from one Spark job: the driver
    * never holds more than the bound plus one, and more than `maxRows`
    * rows back means the frame is over it. The job's one task reads the
    * partitions in turn and stops at the bound, where a bare `limit`
    * collect schedules a further job each time the partitions read so
    * far fall short of it. The one task also runs the whole upstream
    * plan serially, so this stays on the REST build, whose frame is a
    * collection's rows; `LocalServe.fromIndex`, whose input computes a
    * cell per row, collects in parallel behind a count instead.
    */
  private def collectBounded(df: DataFrame, maxRows: Long): Array[Row] =
    df.coalesce(1).limit(math.min(maxRows, Int.MaxValue - 1L).toInt + 1)
      .collect()

  private def indexStatus(name: String): (Int, String) = {
    val a = coll(name).ann
    ok(obj { o =>
      o.put("built", a != null)
      if (a != null) {
        o.put("rows", a.rows); o.put("num_cells", a.numCells)
        o.put("nprobe", a.nprobe)
      }
    })
  }

  private def dropIndex(name: String): (Int, String) = {
    val c = coll(name)
    synchronized { c.ann = null }
    ok(obj(_.put("dropped", true)))
  }

  /** `{"mode":"ann"}` search: answered from the LocalServe snapshot
    * in-process. Results carry id + distance (fetch metadata via
    * `GET /vectors/{id}` when needed — the snapshot holds vectors, not
    * metadata); filters and cursors stay on the exact path.
    */
  private def annSearch(c: Coll, req: JsonNode): (Int, String) = {
    val ann = c.ann
    if (ann == null)
      throw ApiException(409, "no ANN index for this collection — " +
        "POST /collections/{name}/index (mutations invalidate it)",
        "NO_INDEX")
    val qv = arr(require(req, "vector")).map(_.floatValue()).toArray
    val k = boundedInt(req, "k", default = 10, max = 1000)
    val nprobe = boundedInt(req, "nprobe", default = ann.nprobe,
      max = ann.numCells)
    if (Option(req.get("distance")).filterNot(_.isNull)
        .exists(d => canonicalMetric(d.asText()) != c.metric))
      throw ApiException(400,
        s"ann mode serves the index metric '${c.metric}'",
        "INVALID_DISTANCE")
    if (req.has("filter") && !req.get("filter").isNull)
      throw ApiException(400,
        "ann mode does not support filters; use exact mode", "INVALID_FILTER")
    // {"kernel":"simd"} opts into the f32 SIMD scoring kernel
    // (recall-contracted, not bit-identical — see Ivf.batchSearchPacked);
    // silently scalar when the vector module is absent in this JVM.
    val simd = Option(req.get("kernel")).filterNot(_.isNull)
      .exists(_.asText() == "simd")
    val hits = graft.ann.LocalServe.search(ann.li, qv, k, nprobe, simd = simd)
    ok(obj { o =>
      o.put("mode", "ann"); o.put("nprobe", nprobe)
      val rs = o.putArray("results")
      hits.foreach { case (sid, d) =>
        val r = rs.addObject()
        r.put("id", ann.ids(sid.toInt)); r.put("distance", d)
      }
    })
  }

  private def search(name: String, body: String): (Int, String) = {
    val c = coll(name)
    val req = mapper.readTree(body)
    val mode = Option(req.get("mode")).filterNot(_.isNull).map(_.asText())
      .getOrElse("exact")
    if (mode == "ann") return annSearch(c, req)
    if (mode != "exact")
      throw ApiException(400, s"unknown search mode: $mode", "INVALID_MODE")
    val qv = arr(require(req, "vector")).map(_.floatValue()).toArray
    val k = boundedInt(req, "k", default = 10, max = 1000)
    val metric = Option(req.get("distance")).filterNot(_.isNull)
      .map(_.asText()).getOrElse(c.metric)
    val includeVectors = Option(req.get("include_vectors"))
      .exists(_.asBoolean(false))
    val base0 = liveRows(c)
    val base = compiledFilter(c, req.get("filter"))
      .map(base0.filter).getOrElse(base0)
    val postFilter = Option(req.get("post_filter")).filterNot(_.isNull)
      .map(pf => compiledFilter(c, pf).get)
    val factor = Option(req.get("post_filter_factor"))
      .map(_.asInt()).getOrElse(3)
    val cursor = Option(req.get("search_after")).filterNot(_.isNull)
    val hits = cursor match {
      case Some(cur) =>
        val after = Search.searchAfter(base, col("vector"),
          lit(qv), if (postFilter.isDefined) k * factor else k,
          require(cur, "distance").asDouble(),
          require(cur, "id").asText(), metric)
        // post_filter applies to EVERY page of a cursor walk, same
        // over-fetch-then-filter shape as page 1
        postFilter.map(after.filter(_).limit(k)).getOrElse(after)
      case None =>
        postFilter match {
          case Some(pf) => // over-fetch k·factor, post-filter, cut to k
            Search.topK(base, col("vector"), lit(qv), k * factor, metric)
              .filter(pf).limit(k)
          case None => Search.topK(base, col("vector"), lit(qv), k, metric)
        }
    }
    val page = hits.collect()
    ok(obj { o =>
      val rs = o.putArray("results")
      page.foreach(r => resultNode(rs.addObject(), r, includeVectors))
      o.put("has_more", page.length == k)
      if (page.length == k) {
        val cur = o.putObject("next_cursor")
        cur.put("distance", page.last.getAs[Double]("distance"))
        cur.put("id", page.last.getString(0))
      }
    })
  }

  private def batchSearch(name: String, body: String): (Int, String) = {
    val c = coll(name)
    val req = mapper.readTree(body)
    val k = boundedInt(req, "k", default = 10, max = 1000)
    val base0 = liveRows(c)
    val base = compiledFilter(c, req.get("filter")).map(base0.filter)
      .getOrElse(base0)
    val queries = arr(require(req, "vectors")).zipWithIndex.map {
      case (v, i) => (i, arr(v).map(_.floatValue()).toArray.toSeq)
    }
    val qdf = spark.createDataFrame(
      spark.sparkContext.parallelize(queries.map(q => Row(q._1, q._2)), 1),
      StructType(Seq(StructField("query_id", IntegerType),
        StructField("query_vector", ArrayType(FloatType)))))
    // one scored pass for ALL queries (batchTopKPairs' bounded aggregate
    // needs long ids; REST ids are strings, so use the windowed form)
    val winners = Search.batchTopK(base, qdf, k, metric = c.metric)
      .select(col("query_id"), col("id"), col("distance"))
      .collect().groupBy(_.getAs[Int]("query_id"))
    ok(obj { o =>
      val out = o.putArray("results")
      queries.foreach { case (qid, _) =>
        val batch = out.addArray()
        winners.getOrElse(qid, Array.empty).sortBy(r =>
          (r.getAs[Double]("distance"), r.getAs[String]("id"))).foreach { r =>
          val e = batch.addObject()
          val d = r.getAs[Double]("distance")
          e.put("id", String.valueOf(r.getAs[Any]("id")))
          e.put("distance", d).put("score", 1.0 / (1.0 + d))
        }
      }
    })
  }

  private def radiusSearch(name: String, body: String): (Int, String) = {
    val c = coll(name)
    val req = mapper.readTree(body)
    val qv = arr(require(req, "vector")).map(_.floatValue()).toArray
    val maxDist = require(req, "max_distance").asDouble()
    val limit = boundedInt(req, "limit", default = 1000, max = 10000)
    val includeVectors = Option(req.get("include_vectors"))
      .exists(_.asBoolean(false))
    val base0 = liveRows(c)
    val base = compiledFilter(c, req.get("filter")).map(base0.filter)
      .getOrElse(base0)
    val page = Search.radius(base, col("vector"), lit(qv), maxDist, limit,
      c.metric).collect()
    ok(obj { o =>
      val rs = o.putArray("results")
      page.foreach(r => resultNode(rs.addObject(), r, includeVectors))
      o.put("count", page.length)
    })
  }

  private def countFiltered(name: String, body: String): (Int, String) = {
    val c = coll(name)
    val req = mapper.readTree(if (body.isEmpty) "{}" else body)
    val base = compiledFilter(c, req.get("filter"))
      .map(liveRows(c).filter).getOrElse(liveRows(c))
    ok(obj(_.put("count", base.count())))
  }

  private def metadataQuery(name: String, body: String): (Int, String) = {
    val c = coll(name)
    val req = mapper.readTree(body)
    val limit = boundedInt(req, "limit", default = 100, max = 1000)
    // offset is capped like the radius limit: `limit(offset+limit)` is
    // collected on the driver, so an unbounded offset would materialize
    // the whole collection; `after_id` keyset paging is the scale path —
    // every page is `WHERE id > cursor ORDER BY id LIMIT n`, constant
    // cost at any depth
    val offset = Option(req.get("offset")).map(_.asInt()).getOrElse(0)
    if (offset < 0 || offset > 10000)
      throw ApiException(400, "offset must be between 0 and 10000",
        "INVALID_OFFSET")
    val afterId = Option(req.get("after_id")).filterNot(_.isNull)
      .map(_.asText())
    if (afterId.isDefined && offset != 0)
      throw ApiException(400, "after_id and offset are mutually exclusive",
        "INVALID_CURSOR")
    val filter = compiledFilter(c, req.get("filter")).getOrElse(
      throw ApiException(400, "filter is required", "MISSING_FILTER"))
    val matched = liveRows(c).filter(filter)
    val total = matched.count()
    // keyset page fetches limit+1 rows: has_more comes from the presence
    // of the extra row, never from an exactly-full page
    val fetched = afterId match {
      case Some(cur) => matched.filter(col("id") > cur)
        .orderBy(col("id")).limit(limit + 1).collect()
      case None => matched.orderBy(col("id"))
        .limit(offset + limit).collect().drop(offset)
    }
    val page = if (afterId.isDefined) fetched.take(limit) else fetched
    ok(obj { o =>
      val rs = o.putArray("data")
      page.foreach { r =>
        val e = rs.addObject()
        e.put("id", r.getString(0))
        e.set[ObjectNode]("metadata", metaNode(r.getAs[String]("metadata")))
      }
      val p = o.putObject("pagination")
      p.put("count", page.length).put("offset", offset).put("total", total)
      val more = afterId.isDefined && fetched.length > limit ||
        afterId.isEmpty && total > offset + limit
      p.put("has_more", more)
      if (page.nonEmpty && more) p.put("next_after_id", page.last.getString(0))
    })
  }

  private def recommend(name: String, body: String): (Int, String) = {
    val c = coll(name)
    val req = mapper.readTree(body)
    val pos = arr(require(req, "positive_ids")).map(_.asText())
    if (pos.isEmpty)
      throw ApiException(400, "positive_ids must not be empty",
        "EMPTY_POSITIVE_IDS")
    if (pos.size > 100)
      throw ApiException(400, "positive_ids exceeds maximum of 100",
        "TOO_MANY_POSITIVE_IDS")
    val neg = Option(req.get("negative_ids")).map(arr(_).map(_.asText()))
      .getOrElse(Nil)
    val limit = boundedInt(req, "limit", default = 10, max = 1000)
    val page = Search.recommend(liveRows(c), col("vector"), col("id"),
      pos, neg, limit, c.metric).collect()
    ok(obj { o =>
      val rs = o.putArray("results")
      page.foreach { r =>
        val e = rs.addObject()
        val d = r.getAs[Double]("distance")
        e.put("id", String.valueOf(r.getAs[Any]("id")))
        e.put("distance", d).put("score", 1.0 / (1.0 + d))
      }
    })
  }

  // ---------------------------------------------------------------- host

  /** Host [[handle]] on [[Http]]; returns the started server. */
  def serve(port: Int = 0): com.sun.net.httpserver.HttpServer =
    Http.serve(port) { (method, uri, _, body) =>
      val (status, resp) = handle(method, uri.toString, body)
      Http.json(status, resp)
    }

  // ------------------------------------------------------------- plumbing

  /** Injectable clock for TTL tests. */
  var nowEpochS: () => Long = () => System.currentTimeMillis() / 1000L

  private def resultNode(e: ObjectNode, r: Row,
                         includeVectors: Boolean): Unit = {
    val d = r.getAs[Double]("distance")
    e.put("id", r.getString(0))
    e.put("distance", d)
    e.put("score", 1.0 / (1.0 + d)) // handlers/search.rs:187
    e.set[ObjectNode]("metadata", metaNode(r.getAs[String]("metadata")))
    if (includeVectors) {
      val v = e.putArray("vector")
      r.getSeq[Float](r.fieldIndex("vector")).foreach(v.add(_))
    }
  }

  private def metaNode(metaJson: String): JsonNode =
    if (metaJson == null) mapper.nullNode() else mapper.readTree(metaJson)

  private def obj(f: ObjectNode => Unit): String = {
    val o = mapper.createObjectNode(); f(o); mapper.writeValueAsString(o)
  }
  private def obj2(f: ObjectNode => Unit): ObjectNode = {
    val o = mapper.createObjectNode(); f(o); o
  }
  private def ok(json: String): (Int, String) = (200, json)
  private def err(status: Int, msg: String, code: String): (Int, String) =
    (status, obj { o => o.put("error", msg); o.put("code", code) })

  /** A metric spelling's canonical name (`l2` → `euclidean`); a 400 for
    * a name no metric answers to.
    */
  private def canonicalMetric(spelling: String): String =
    try Metric.parse(spelling).name
    catch {
      case e: IllegalArgumentException =>
        throw ApiException(400, e.getMessage, "INVALID_DISTANCE")
    }

  /** Read an optional positive int, rejecting non-positive values with a
    * 400 (reference guard: k/limit must be >= 1) and capping the top end.
    */
  private def boundedInt(n: JsonNode, field: String, default: Int,
                         max: Int): Int = {
    val v = Option(n.get(field)).filterNot(_.isNull).map(_.asInt())
      .getOrElse(default)
    if (v < 1)
      throw ApiException(400, s"$field must be a positive integer",
        "INVALID_" + field.toUpperCase(java.util.Locale.ROOT))
    math.min(v, max)
  }

  private def require(n: JsonNode, field: String): JsonNode = {
    val v = n.get(field)
    if (v == null || v.isNull)
      throw ApiException(400, s"$field is required",
        "MISSING_" + field.toUpperCase(java.util.Locale.ROOT))
    v
  }

  private def arr(n: JsonNode): Seq[JsonNode] = {
    if (n == null || !n.isArray)
      throw ApiException(400, "expected a JSON array", "INVALID_BODY")
    val it = n.asInstanceOf[ArrayNode].elements()
    val out = Seq.newBuilder[JsonNode]
    while (it.hasNext) out += it.next()
    out.result()
  }

  private def splitQuery(raw: String): (String, Map[String, String]) =
    raw.split("\\?", 2) match {
      case Array(p) => (p, Map.empty)
      case Array(p, q) => (p, q.split("&").filter(_.contains("="))
        .map { kv =>
          val Array(k, v) = kv.split("=", 2)
          urlDecode(k) -> urlDecode(v)
        }.toMap)
    }
}

object RestApi {
  /** Delta rows plus changed ids past which a collection compacts. The
    * frame's plan carries every changed id, so deriving and planning it
    * grows with the delta: 46, 64, 86, 132 and 313 ms at 512, 1024, 2048,
    * 4096 and 8192 entries, while one compaction of a 30 000 × 128
    * collection took 124–171 ms up to 2048 entries (Spark local[2] on a
    * 4-vCPU host). At 1024 a frame plans in about 64 ms at most, and a
    * compaction, one per 64 upserts of 8 rows, costs 2–3 ms per write.
    */
  private[graft] val DeltaBound = 1024

  final case class ApiException(status: Int, message: String, code: String)
    extends RuntimeException(message)

  /** [[RestApi.handle]] splits a path on '/' and '?' and then decodes
    * each segment and query value with this.
    */
  private def urlDecode(s: String): String =
    java.net.URLDecoder.decode(s, java.nio.charset.StandardCharsets.UTF_8)

  /** Percent-encode a path segment or query value bound for
    * [[RestApi.handle]], the inverse of its decode: ids and collection
    * names are arbitrary strings, and a raw '/', '?', '&', '%' or '+'
    * would split the route or mangle the value.
    */
  private[server] def pathSegment(s: String): String =
    java.net.URLEncoder.encode(s, java.nio.charset.StandardCharsets.UTF_8)
      .replace("+", "%20")
}
