package graft.ann

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Driver-local point-query serving — the in-process answer path for the
  * single-query latency row (reference README.md:75-85: its ~300 QPS
  * single-search number is an in-process HNSW probe with no scheduler in
  * the loop; a Spark job pays a ~0.2 s floor per query regardless of scan
  * size, see BaselineBench `single_*`).
  *
  * HONEST CAVEATS, by design:
  *   - The snapshot is a `collect()`ed COPY of the collection, guarded by
  *     `maxRows` — this mode exists for collections that fit on the
  *     driver (the serving-cache tier every vector DB keeps hot). Larger
  *     collections use the distributed paths ([[Ivf.batchSearchPacked]]).
  *   - Writes keep it live without a rebuild: [[addBatch]] appends rows
  *     to their nearest cell and [[remove]] tombstones ids, each
  *     returning a new copy-on-write snapshot. Centroids do not move, so
  *     heavy drift calls for a rebuild.
  *
  * Results are bit-identical to [[Ivf.search]] at the same (k, nprobe):
  * the same cells ([[build]] and [[addBatch]] assign them as
  * [[Ivf.cellOf]] does), the same probe algebra ([[Ivf.probeCells]],
  * which ranks cells under the same metric), the same flat kernels
  * ([[Ivf.flatScoreKernel]]), the same (distance, id) tie order (AnnSpec
  * asserts equality row by row for every metric). With `simd = true` the
  * f32 [[VectorSimd]] kernel scores instead — recall-contracted rather
  * than bit-identical, like [[Ivf.batchSearchPacked]]'s simd mode.
  */
object LocalServe {

  /** Driver-memory ceiling for the in-process serving tier; a REST index
    * build collects at most this bound plus one row.
    */
  val DefaultMaxRows: Long = 2000000L

  /** Per-cell flat arrays, driver-resident. `tombstones` marks
    * logically-deleted ids ([[remove]]); the structure is copy-on-write —
    * [[addBatch]] / [[remove]] return a NEW index sharing every untouched
    * cell array, so an in-flight [[search]] on the old snapshot never
    * races a mutation.
    */
  final class LocalIndex(
      val centroids: Array[Array[Float]],
      val metric: String,
      val dims: Int,
      val cellIds: Array[Array[Long]],      // cell -> ids
      val cellVecs: Array[Array[Float]],    // cell -> row-major flat vectors
      val cellNorms2: Array[Array[Double]], // cell -> per-row ||v||² (cosine)
      val tombstones: java.util.HashSet[java.lang.Long] =
        new java.util.HashSet[java.lang.Long]()) {
    /** Live row count (inserted minus tombstoned). */
    def liveCount: Long =
      cellIds.iterator.map(_.length.toLong).sum - tombstones.size()
  }

  /** Materialize a driver-local snapshot of an IVF index: one parallel
    * collect of (id, cell, vector), each row in the cell Spark assigned
    * it. Refuses collections beyond `maxRows` (the driver-memory
    * guard — this is the small-collection serving tier, not a general
    * path).
    */
  def fromIndex(ix: Ivf.Index, idCol: String = "id",
                vecCol: String = "vector",
                maxRows: Long = DefaultMaxRows): LocalIndex = {
    val n = ix.assigned.count()
    require(n <= maxRows,
      s"LocalServe.fromIndex: $n rows exceeds maxRows=$maxRows — " +
        "driver-local serving is for collections that fit on the driver; " +
        "use Ivf.batchSearchPacked for larger ones")
    val rows = ix.assigned.select(col(idCol).cast("long"),
      col("cell").cast("int"), col(vecCol).cast("array<float>")).collect()
    assemble(ix.centroids, ix.metric, rows.map(_.getLong(0)),
      rows.map(vectorAt(_, 2)), rows.map(_.getInt(1)))
  }

  /** A row's vector column as a primitive array; null is refused. */
  private[graft] def vectorAt(r: Row, i: Int): Array[Float] = {
    require(!r.isNullAt(i), "LocalServe: a row has a null vector")
    r.getSeq[Float](i).toArray
  }

  /** Fit `numCells` centroids on the driver ([[Ivf.localKMeans]], with
    * [[Ivf.build]]'s training defaults) and assemble the snapshot of rows
    * already there, each row in the cell of its nearest centroid as
    * [[Ivf.cellOf]] would assign it. Training, like each cell's row
    * order, follows the input order: all rows when they fit in
    * [[Ivf.MaxTrainRows]], otherwise a seeded sample of them kept in
    * that order. A caller that passes rows in a canonical order (RestApi
    * passes them by surrogate id) gets a snapshot that depends on the
    * rows alone, not on how they were partitioned or read.
    */
  def build(ids: Array[Long], vecs: Array[Array[Float]], numCells: Int,
            metric: String): LocalIndex = {
    require(ids.length == vecs.length,
      "LocalServe.build: ids and vectors differ in length")
    val train =
      if (vecs.length <= Ivf.MaxTrainRows) vecs
      else {
        // partial Fisher-Yates: the first MaxTrainRows slots end up a
        // uniform sample of the input positions
        val pos = Array.range(0, vecs.length)
        val rnd = new scala.util.Random(Ivf.TrainSeed)
        var i = 0
        while (i < Ivf.MaxTrainRows) {
          val j = i + rnd.nextInt(pos.length - i)
          val t = pos(i); pos(i) = pos(j); pos(j) = t
          i += 1
        }
        pos.take(Ivf.MaxTrainRows).sorted.map(vecs)
      }
    val centroids =
      Ivf.localKMeans(train, numCells, Ivf.TrainIters, Ivf.TrainSeed)
    val nearest = nearestCell(centroids, metric)
    val cosine = metric == "cosine"
    val cells = new Array[Int](vecs.length)
    java.util.stream.IntStream.range(0, vecs.length).parallel().forEach { r =>
      cells(r) = nearest(vecs(r), if (cosine) Ivf.norm2(vecs(r)) else 0.0)
    }
    assemble(centroids, metric, ids, vecs, cells)
  }

  /** The cell of a vector's nearest centroid, given the vector and its
    * squared norm (read by cosine only), under the metric's flat kernel:
    * the lowest cell among equal distances and NaN last, the choice
    * [[Ivf.cellOf]]'s `array_min` over (distance, cell) makes.
    */
  private def nearestCell(centroids: Array[Array[Float]],
                          metric: String): (Array[Float], Double) => Int = {
    val score = Ivf.flatScoreKernel(metric)
    val norms2 = centroids.map(Ivf.norm2)
    (v, vn2) => {
      var best = 0
      var bestD = score(v, 0, v.length, centroids(0), vn2, norms2(0))
      var c = 1
      while (c < centroids.length) {
        val d = score(v, 0, v.length, centroids(c), vn2, norms2(c))
        if (d < bestD || bestD.isNaN && !d.isNaN) { best = c; bestD = d }
        c += 1
      }
      best
    }
  }

  /** Pack rows into per-cell flat arrays, `cells(r)` naming row r's cell;
    * each cell keeps its rows in input order.
    */
  private def assemble(centroids: Array[Array[Float]], metric: String,
                       ids: Array[Long], vecs: Array[Array[Float]],
                       cells: Array[Int]): LocalIndex = {
    val dims = centroids.headOption.map(_.length).getOrElse(0)
    val numCells = centroids.length
    val n = ids.length
    require(vecs.forall(_.length == dims),
      s"LocalServe: vector dims must equal centroid dims $dims")
    val cosine = metric == "cosine"
    val counts = new Array[Int](numCells)
    cells.foreach(c => counts(c) += 1)
    val cellIds = Array.tabulate(numCells)(c => new Array[Long](counts(c)))
    val cellVecs = Array.tabulate(numCells)(c => new Array[Float](counts(c) * dims))
    val cellNorms2 = Array.tabulate(numCells)(c =>
      if (cosine) new Array[Double](counts(c)) else Array.emptyDoubleArray)
    val fill = new Array[Int](numCells)
    var r = 0
    while (r < n) {
      val c = cells(r)
      val i = fill(c); fill(c) = i + 1
      cellIds(c)(i) = ids(r)
      System.arraycopy(vecs(r), 0, cellVecs(c), i * dims, dims)
      if (cosine) cellNorms2(c)(i) = Ivf.norm2(vecs(r))
      r += 1
    }
    new LocalIndex(centroids, metric, dims, cellIds, cellVecs, cellNorms2)
  }

  /** Incremental insert — the serve-under-writes path (the reference's
    * in-memory index takes inserts without a rebuild; this is the same
    * contract for the snapshot tier). Each vector lands in its nearest
    * centroid's cell, chosen as [[build]] chooses it (the cell
    * [[Ivf.probeCells]] ranks first for that vector); every touched
    * cell's arrays are copied ONCE per batch (grouped), untouched cells
    * are shared, so the returned index
    * is safe to publish while searches run against the old one. This
    * appends blindly, exactly like the engine's insert (dedup is the
    * caller's policy); replacing a live id = [[remove]] the old id +
    * append under a FRESH surrogate (re-using a tombstoned id is
    * rejected — see the require below).
    *
    * Centroids do NOT move (same as the reference's segment inserts):
    * after heavy drift a rebuild re-balances; `liveCount` vs build size
    * tells the caller when.
    */
  def addBatch(li: LocalIndex,
               rows: Seq[(Long, Array[Float])]): LocalIndex = {
    require(rows.forall(_._2.length == li.dims),
      s"addBatch: vector dims must equal index dims ${li.dims}")
    // clearing a tombstone would resurrect the OLD physical copy along
    // with the new one (an id-level tombstone cannot tell them apart).
    // Replace = tombstone the old id + append under a FRESH surrogate
    // (exactly what RestApi.AnnState.withUpserts does).
    require(rows.forall(r => !li.tombstones.contains(Long.box(r._1))),
      "addBatch: id is tombstoned — rebuild the snapshot, or append " +
        "under a fresh surrogate id (the replace model RestApi uses)")
    val nearest = nearestCell(li.centroids, li.metric)
    val byCell = rows.groupBy { case (_, v) =>
      nearest(v, if (li.metric == "cosine") Ivf.norm2(v) else 0.0)
    }
    val ids = li.cellIds.clone()
    val vecs = li.cellVecs.clone()
    val norms2 = li.cellNorms2.clone()
    byCell.foreach { case (c, add) =>
      val n0 = ids(c).length
      val n1 = n0 + add.size
      ids(c) = java.util.Arrays.copyOf(ids(c), n1)
      vecs(c) = java.util.Arrays.copyOf(vecs(c), n1 * li.dims)
      if (li.metric == "cosine")
        norms2(c) = java.util.Arrays.copyOf(norms2(c), n1)
      add.zipWithIndex.foreach { case ((id, v), k) =>
        val i = n0 + k
        ids(c)(i) = id
        System.arraycopy(v, 0, vecs(c), i * li.dims, li.dims)
        if (li.metric == "cosine") norms2(c)(i) = Ivf.norm2(v)
      }
    }
    new LocalIndex(li.centroids, li.metric, li.dims, ids, vecs, norms2,
      li.tombstones)
  }

  /** Logical delete: tombstone ids (cheap, no array surgery); searches
    * skip them. Copy-on-write like [[addBatch]].
    */
  def remove(li: LocalIndex, ids: Seq[Long]): LocalIndex = {
    val tomb = new java.util.HashSet[java.lang.Long](li.tombstones)
    ids.foreach(id => tomb.add(Long.box(id)))
    new LocalIndex(li.centroids, li.metric, li.dims, li.cellIds,
      li.cellVecs, li.cellNorms2, tomb)
  }

  /** In-process ANN top-k: probe nprobe cells, exact top-k within —
    * [[Ivf.search]]'s semantics with zero Spark jobs. Returns (id,
    * distance) sorted by (distance, id) ascending.
    *
    * The probed scan is chunked and run on the common fork-join pool:
    * clustered corpora make the probed cells exactly the DENSE ones, so a
    * sequential scan serializes on the skew. Per-chunk [[Ivf.TopBuf]]s
    * merge deterministically (k-smallest with (score, id) ties is
    * insertion-order-insensitive).
    */
  def search(li: LocalIndex, query: Array[Float], k: Int,
             nprobe: Int, simd: Boolean = false): Array[(Long, Double)] = {
    val cells = Ivf.probeCells(li.centroids, li.metric, query, nprobe)
    val score = Ivf.pickFlatKernel(li.metric, simd)
    val needsNorm = li.metric == "cosine"
    val qn2 = if (needsNorm) Ivf.norm2(query) else 0.0
    val chunk = 4096
    val tasks = cells.flatMap { c =>
      val n = li.cellIds(c).length
      (0 until n by chunk).map(from => (c, from, math.min(from + chunk, n)))
    }.toArray
    // tombstone check only when deletions exist — the common no-delete
    // scan stays branch-free
    val tomb =
      if (li.tombstones.isEmpty) null else li.tombstones
    val bufs = new Array[Ivf.TopBuf](tasks.length)
    java.util.stream.IntStream.range(0, tasks.length).parallel().forEach { t =>
      val (c, from, until) = tasks(t)
      val ids = li.cellIds(c)
      val vecs = li.cellVecs(c)
      val norms2 = li.cellNorms2(c)
      val buf = new Ivf.TopBuf(k)
      var i = from
      while (i < until) {
        if (tomb == null || !tomb.contains(ids(i))) {
          val vn2 = if (needsNorm) norms2(i) else 0.0
          buf.insert(score(vecs, i * li.dims, li.dims, query, vn2, qn2), ids(i))
        }
        i += 1
      }
      bufs(t) = buf
    }
    val merged = new Ivf.TopBuf(k)
    bufs.foreach { b =>
      var i = 0
      while (i < b.n) { merged.insert(b.scores(i), b.ids(i)); i += 1 }
    }
    Array.tabulate(merged.n)(i => (merged.ids(i), merged.scores(i)))
  }
}
