package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ann.Ivf
import graft.functions.Distances

/** Semantic deduplication — the SemDeDup recipe (Abbas et al. 2023,
  * public): cluster the embedding space, find semantic-duplicate pairs
  * WITHIN each cluster only, and keep one representative per duplicate
  * group — the member FARTHEST from its cluster centroid (the paper's
  * keep-least-prototypical policy: it preserves the most informative
  * example and discards the redundant core).
  *
  * Scale shape: k-means fit on a bounded sample (driver-side, FAISS
  * recipe), assignment and centroid distance as narrow expressions, the
  * pair search an equi-join on `cell` (never all-pairs), group resolution
  * over the pair list only ([[DedupGroups.components]]), and the
  * representative window runs over group MEMBERS only — the untouched
  * bulk of the corpus joins back with keep=1 and never enters a window.
  */
object SemDedup {

  /** Returns (id, vec, cell, centroid_dist, canonical, keep): `keep` = 1
    * for every non-duplicated row and for each group's representative, 0
    * for discarded semantic duplicates.
    */
  def semDedup(df: DataFrame, idCol: Column, vecCol: Column,
               numCells: Int, maxDistance: Double,
               seed: Long = 42L): DataFrame = {
    val base = df.select(idCol.as("id"), vecCol.as("vec"))
    val ix = Ivf.build(base, col("vec"), numCells, metric = "cosine", seed = seed)
    semDedupWithIndex(ix, maxDistance)
  }

  /** [[semDedup]] over a caller-supplied index (id, vec, cell) — lets a
    * gate pin the centroids so the whole pipeline is oracle-replayable
    * (the `ivf_pruned_fixed` trick; trained k-means is not).
    */
  def semDedupWithIndex(ix: Ivf.Index, maxDistance: Double): DataFrame = {
    // the cell assignment (argmin over numCells distances per row) feeds
    // THREE consumers — the pair search, the members join and the final
    // join-back; a LAZY localCheckpoint computes it once in the caller's
    // first action instead of once per leg (guide §2.4 / the same pin
    // Ivf.save makes durable as cell-partitioned parquet)
    val pinned = ix.copy(assigned = ix.assigned.localCheckpoint(false))
    val centroidsLit = typedLit(ix.centroids.map(_.toSeq).toSeq)
    val assigned = pinned.assigned.withColumn("centroid_dist",
      round(Distances.distance(ix.metric, col("vec"),
        element_at(centroidsLit, col("cell") + 1)), 6)) // element_at is 1-based
    val pairs = Ivf.nearDupBlocked(pinned, "id", "vec", maxDistance)
    val comp = DedupGroups.components(pairs)
    val members = assigned.join(comp, Seq("id")) // duplicate-group rows only
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("canonical"))
      .orderBy(col("centroid_dist").desc, col("id").asc)
    val resolved = members
      .withColumn("__rk", row_number().over(w))
      .select(col("id"), col("canonical"),
        when(col("__rk") === 1, 1L).otherwise(0L).as("keep"))
    assigned.join(resolved, Seq("id"), "left")
      .withColumn("canonical", coalesce(col("canonical"), col("id")))
      .withColumn("keep", coalesce(col("keep"), lit(1L)))
  }
}
