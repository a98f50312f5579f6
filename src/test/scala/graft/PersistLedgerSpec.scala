package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Third executable ledger (after WindowLintSpec and
  * AntiPatternLedgerSpec): every `.persist(`/`.cache(` site in src/main,
  * pinned per file with its release-discipline adjudication. A pinned
  * dataset holds executor memory until released, so each site must be
  * one of:
  *
  *  - released-in-finally: the pin lives inside one call and is
  *    unpersisted on every exit path (FailurePathReleaseSpec asserts
  *    this class empirically for its hardest shapes);
  *  - explicit-release API: the pin is a long-lived index structure
  *    whose owner exposes/calls unpersist (Bm25.Index, Ivf blocks,
  *    IndexCache-evicted entries, the returned CF Model's factors);
  *  - plan-carried: the returned lazy frame references the pin, so it
  *    cannot be released eagerly — Spark's ContextCleaner reclaims it
  *    when the result becomes unreachable (Dedup/Contamination
  *    signature tables);
  *  - process-lifetime: bench/CLI mains whose state dies with the JVM.
  *
  * Growth fails until the new site is adjudicated here; shrinkage fails
  * until the stale entry is retired. Counting rules shared with the
  * other ledgers: comment lines excluded, patterns matched on the
  * joined non-comment text (`.persist(` does not match `.unpersist(` —
  * the dot must immediately precede `persist`).
  */
class PersistLedgerSpec extends AnyFunSuite {

  private val ledger: Map[String, Int] = Map(
    // process-lifetime: measurement/CLI mains
    "BaselineBench.scala" -> 5,
    "Cli.scala" -> 1,
    // released-in-finally (FailurePathReleaseSpec covers analyze)
    "ann/CompressionAdvisor.scala" -> 1,
    // explicit-release API: pack()'s blocks expose unpersist(); callers /
    // IndexCache own the lifecycle (the delta, compaction and loadPacked
    // pins went with those paths)
    "ann/Ivf.scala" -> 1,
    // released-in-finally per grid candidate (r14)
    "ann/Tuner.scala" -> 1,
    // 1 aggregate released in finally; 2 are the returned Model's
    // factors — pinned-before-release, caller-owned
    "ops/CollaborativeFiltering.scala" -> 3,
    // released by the returned cleanup thunk; internal counts-failure
    // path unpersists before rethrow (FailurePathReleaseSpec)
    "ops/DistributedRank.scala" -> 1,
    // user-requested CacheStage: the DSL caller owns the lifecycle
    "ops/PipelineDsl.scala" -> 1,
    // plan-carried signature tables (ContextCleaner-reclaimed)
    "pipeline/Contamination.scala" -> 2,
    "pipeline/Dedup.scala" -> 3,
    // released-in-finally (packSequentialScalable)
    "pipeline/Sampling.scala" -> 1,
    // oracle query surfaces: IndexCache-owned derived index state
    "queries/AdvancedQueries.scala" -> 2,
    "queries/AnnQueries.scala" -> 6,
    "queries/SamplingQueries.scala" -> 1,
    // explicit-release API: Index.persisted()/unpersist() pairs, evicted
    // by the NeedleQL compiler's bm25Cache
    "text/Bm25.scala" -> 4)

  private val root = Paths.get("src/main/scala/graft")

  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("*") || t.startsWith("//") || t.startsWith("/*")
  }

  private val sitePattern = """\.persist\s*\(|\.cache\s*\(""".r

  test("every persist/cache site in main is on the ledger with its " +
      "exact count") {
    assert(Files.isDirectory(root), s"lint root missing: $root")
    val walk = Files.walk(root)
    val found: Map[String, Int] =
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && Files.isRegularFile(p))
        .map { p: Path =>
          val rel = root.relativize(p).toString.replace('\\', '/')
          val text = Files.readAllLines(p).asScala
            .filterNot(isComment).mkString("\n")
          rel -> sitePattern.findAllIn(text).size
        }
        .filter(_._2 > 0).toMap
      finally walk.close()
    val newSites = found.filter { case (f, n) => n > ledger.getOrElse(f, 0) }
    assert(newSites.isEmpty,
      s"NEW persist/cache site(s) — adjudicate the release discipline " +
        s"in PersistLedgerSpec: $newSites (allowed: $ledger)")
    val stale = ledger.filter { case (f, n) => found.getOrElse(f, 0) < n }
    assert(stale.isEmpty,
      s"stale ledger entries (site removed or file renamed — retire " +
        s"them): $stale (found: ${found.filter(kv => ledger.contains(kv._1))})")
  }
}
