package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Executable form of the verdict's per-round anti-pattern sweep: every
  * `.collect()` and `crossJoin(` occurrence in src/main was individually
  * adjudicated across r7-r13 as one of (a) a k-/registry-bounded driver
  * read on a contract surface (REST/CLI/MCP responses, oracle queries'
  * bounded result sets), (b) a deliberately driver-resident serving or
  * measurement tier (LocalServe snapshots, the bench mains), or (c) a
  * broadcast-sized side input folded into literals (per-query stats,
  * partition prefix counts). A NEW occurrence is not automatically
  * wrong — but it must be adjudicated, not slip in unnoticed. This spec
  * pins the per-file counts exactly, in both directions, mirroring
  * WindowLintSpec: growth fails until the new site is reviewed and the
  * ledger updated; shrinkage fails until the stale entry is retired.
  *
  * Counting rules (shared with WindowLintSpec): comment lines are
  * excluded; patterns match on the joined non-comment text.
  */
class AntiPatternLedgerSpec extends AnyFunSuite {

  private val collectLedger: Map[String, Int] = Map(
    // measurement/CLI mains and the explorer TUI: driver-resident by
    // design — they print results (BaselineBench −2: the packed-layout
    // persistence and delta-segment sections are gone)
    "BaselineBench.scala" -> 19,
    "Bench.scala" -> 3,
    "Cli.scala" -> 4,
    // measurement main: warm-up + timed drain of each censused query plan
    "JobCensus.scala" -> 2,
    "Explorer.scala" -> 9,
    // ANN tiers: k-bounded result reads, centroid tables (numCells
    // rows), and the deliberately driver-resident LocalServe snapshot
    "ann/CompressionAdvisor.scala" -> 1,
    "ann/DataProfiler.scala" -> 1,
    // +2 r14: findOptimalComponents' bounded-sample probe (same recipe
    // as the fitPca site) and NeighborEmbedding.fitTransformDf's
    // require-bounded driver read (O(n²) viz utility by contract)
    "ann/DimReduce.scala" -> 3,
    // +1 r20: boundedSample's single probing job — limit(maxRows+1)
    // collect, bounded by the training-row cap by construction (replaces
    // the count()-then-collect pair; the count site remains for the
    // over-bound fallback); −1: loadPacked's centroid read went with the
    // packed parquet layout
    "ann/Ivf.scala" -> 6,
    "ann/LocalServe.scala" -> 1,
    "ann/Matryoshka.scala" -> 1,
    "ann/Quantization.scala" -> 4,
    "ann/Tuner.scala" -> 4,
    "needleql/Compiler.scala" -> 1,
    "needleql/QueryBuilder.scala" -> 1,
    // operators: broadcast-sized stats folded to literals, k-bounded
    // tops, partition prefix counts (DistributedRank: #partitions rows)
    "ops/AdaptiveFusion.scala" -> 1,
    "ops/AdvancedSearch.scala" -> 1,
    "ops/Anomaly.scala" -> 1,
    "ops/Branching.scala" -> 3,
    "ops/CostEstimator.scala" -> 1,
    // DistributedRank 2 = partition prefix counts (#partitions rows) +
    // r20 wave 6: the rankedByRange small path's limit(cap+1) probe —
    // k-bounded by construction; inputs above the cap stay distributed
    "ops/DistributedRank.scala" -> 2,
    "ops/Drift.scala" -> 1,
    "ops/Extras.scala" -> 1,
    "ops/Federated.scala" -> 1,
    "ops/GraphRag.scala" -> 1,
    "ops/Mutations.scala" -> 1,
    "ops/Rag.scala" -> 1,
    "ops/SemanticGraph.scala" -> 3,
    "ops/Transactions.scala" -> 1,
    "ops/VectorAnalytics.scala" -> 2,
    // +1 r20: groups()' small-path probe — limit(threshold+1) collect of
    // (src, dst, sim) pair rows, bounded by the small-graph threshold by
    // construction (extends the components() union-find small path so the
    // group algebra runs driver-side without re-evaluating the candidate
    // pipeline for the sims leg)
    "pipeline/DedupGroups.scala" -> 2,
    "pipeline/Dsir.scala" -> 1,
    "pipeline/Perplexity.scala" -> 2,
    "pipeline/QualityClassifier.scala" -> 1,
    // +1 r20: packSequentialScalable's small-path probe —
    // limit(threshold+1) collect of (id, tok) pairs, bounded by the
    // small-graph threshold by construction (the componentsLocal recipe)
    "pipeline/Sampling.scala" -> 2,
    // oracle query surfaces: bounded ground-truth/query-vector reads
    // +1 r14: namespace_fusion's 1-row query-vector read
    // +1 r19: graphrag_search's entity-centroid query setup (driver-side
    // query-vector bootstrap, bounded by construction)
    // −1 r20: that setup's agg(min).collect + filter.collect pair fused
    // into ONE orderBy(id).limit(1) vector read
    "queries/AdvancedQueries.scala" -> 4,
    // +1 r14: encrypted_search_fixed's 16-row pinned hyperplane read
    // +2 r20: quantized_recall's recall adjudication moved driver-side —
    // the exact top-10 ground truth is collected ONCE (k-bounded) and
    // each scheme's k-bounded top-k is collected in a concurrent future
    // (Ivf.recallAtK re-collected the exact frame per scheme = three
    // identical corpus sorts); both reads are k-row bounded
    "queries/AnnQueries.scala" -> 10,
    "queries/ExtrasQueries.scala" -> 2,
    "queries/FederatedQueries.scala" -> 2,
    "queries/HookQueries.scala" -> 1,
    "queries/LanguageSurfaceQueries.scala" -> 2,
    "queries/MemoryGraphQueries.scala" -> 1,
    // +1 r17: search_after's page-1 cursor — a 1-row bounded read, needed
    // so the gate can call the production Search.searchAfter(cursor…)
    // instead of re-deriving the keyset filter inline (audit finding)
    "queries/MoreSearchQueries.scala" -> 2,
    "queries/MultimodalQueries.scala" -> 1,
    "queries/NeedleQLQueries.scala" -> 1,
    "queries/PipelineQueries.scala" -> 1,
    "queries/TemporalQueries.scala" -> 1,
    "queries/VectorAggQueries.scala" -> 1,
    // host surfaces: k-/page-bounded response materialization
    // buildIndex's one limit(maxRows+1) collect replaced its surrogate-id
    // collect (the training rows came from Ivf.build's collect)
    "server/RestApi.scala" -> 9,
    "server/WebUi.scala" -> 1,
    "streaming/Triggers.scala" -> 1,
    // r20 wave 9: the shared smallProbe for the dedup-family small paths
    // (ngramJaccardSmall + minhashLshSmall) — limit(cap+1), never more
    // than 8193 rows reach the driver (the rankedByRange pattern)
    "pipeline/Dedup.scala" -> 1,
    // 2 sites r20 wave 8: the per-query stats collect (≤ |query terms|
    // rows by the isin filter) and Index.corpusStats (the 1-row corpus
    // aggregate, memoized once per index lifetime — formerly cross-joined
    // into every query's stats job)
    "text/Bm25.scala" -> 2)

  // every crossJoin is a broadcast of a 1-row query vector / tiny stats
  // frame against the corpus (the kNN scoring shape, plan-audited to
  // BroadcastNestedLoopJoin with the 1-row side broadcast) or an
  // oracle-query equivalent
  private val crossJoinLedger: Map[String, Int] = Map(
    "ops/AdvancedSearch.scala" -> 2,
    "ops/CodeSearch.scala" -> 1,
    "ops/CollaborativeFiltering.scala" -> 2,
    "ops/Mutations.scala" -> 1,
    "ops/QueryAnalytics.scala" -> 1,
    "ops/Search.scala" -> 4,
    "ops/VectorAnalytics.scala" -> 4,
    "pipeline/Sampling.scala" -> 1,
    // 4th site r17: matryoshka_corrected — crossJoin(broadcast(qv)) with a
    // single-row query vector, the same bounded broadcast shape as the
    // file's other three
    "queries/AdvancedQueries.scala" -> 4,
    "queries/AnnQueries.scala" -> 2,
    "queries/EnterpriseQueries.scala" -> 3,
    "queries/FilterQueries.scala" -> 1,
    "queries/MoreSearchQueries.scala" -> 4,
    "queries/PipelineQueries.scala" -> 1,
    "queries/SearchPipelineQueries.scala" -> 2,
    "queries/TextQueries.scala" -> 1,
    // r20: vec_cluster's 2 sites retired — the gate became a property
    // row computed by plain aggregation (no broadcast frames needed)
    "queries/VectorQueries.scala" -> 3)
    // r20 wave 8: text/Bm25.scala's crossJoin retired — (N, avgdl) now
    // come from the memoized Index.corpusStats instead of cross-joining
    // the 1-row corpus table into every query's stats job

  // the JDK reads sun.net.httpserver.nodelay once, at the JVM's first
  // HttpServer; server.Http sets it first, so every server and every
  // response write must go through it
  private val httpHostLedger: Map[String, Int] = Map(
    "server/Http.scala" -> 3)

  // the engine's session configuration (shuffle partitions, TopKAgg
  // fallback, cached-plan AQE, GraftExtensions) lives in one factory;
  // a second builder is a second copy that drifts
  private val sessionBuilderLedger: Map[String, Int] = Map(
    "Session.scala" -> 1)

  private val root = Paths.get("src/main/scala/graft")

  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("*") || t.startsWith("//") || t.startsWith("/*")
  }

  private def scan(pattern: scala.util.matching.Regex): Map[String, Int] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && Files.isRegularFile(p))
      .map { p: Path =>
        val rel = root.relativize(p).toString.replace('\\', '/')
        val text = Files.readAllLines(p).asScala
          .filterNot(isComment).mkString("\n")
        rel -> pattern.findAllIn(text).size
      }
      .filter(_._2 > 0).toMap
    finally walk.close()
  }

  private def check(name: String, pattern: scala.util.matching.Regex,
                    ledger: Map[String, Int]): Unit = {
    val found = scan(pattern)
    val newSites = found.filter { case (f, n) => n > ledger.getOrElse(f, 0) }
    assert(newSites.isEmpty,
      s"NEW $name site(s) — adjudicate (bounded? broadcast-sized? " +
        s"contract surface?) and update AntiPatternLedgerSpec: $newSites")
    val stale = ledger.filter { case (f, n) => found.getOrElse(f, 0) < n }
    assert(stale.isEmpty,
      s"stale $name ledger entries (site removed — retire them): $stale")
  }

  test("every .collect() in main is on the adjudicated ledger, exactly") {
    assert(Files.isDirectory(root), s"ledger root missing: $root")
    check("collect", """\.collect\(\)""".r, collectLedger)
  }

  test("every crossJoin in main is on the adjudicated ledger, exactly") {
    check("crossJoin", """crossJoin\(""".r, crossJoinLedger)
  }

  test("HttpServer.create and sendResponseHeaders appear only in server.Http") {
    check("HTTP host", """HttpServer\.create|sendResponseHeaders""".r,
      httpHostLedger)
  }

  test("Spark session builders appear only in graft.Session") {
    check("session builder", """SparkSession\.builder""".r,
      sessionBuilderLedger)
  }
}
