package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ann.{Ivf, Tuner}
import graft.needleql.{CollectionDef, NeedleSession}
import graft.ops.CollectionDiff

/** Command-line entry point (reference README.md:582-608 CLI surface;
  * crates/needle-cli, src/cli/handlers/{collection,search,admin}.rs).
  * The reference ships a `needle` binary; this is the spark-submit-able
  * equivalent over parquet-backed collections:
  *
  * {{{
  * graft.Cli sql --collection docs=path.parquet -e "SELECT ... FROM docs"
  * graft.Cli sql --collection docs=path.parquet -f queries.nql [--json]
  * graft.Cli diff SOURCE.parquet TARGET.parquet [--threshold 0.001] [--summary]
  * graft.Cli merge SOURCE TARGET --out OUT [--base BASE] [--strategy source-wins]
  * graft.Cli evaluate COLLECTION.parquet [--k 10] [--cells 16] [--nprobe 4] [--queries 20]
  * graft.Cli tune COLLECTION.parquet [--k 10] [--min-recall 0.95]
  * }}}
  *
  * Every subcommand compiles to the engine's declarative ops (NeedleSession,
  * CollectionDiff, Ivf, Tuner) — the CLI only parses args and formats
  * output, so anything it does scales exactly as the underlying plan does.
  * Exit codes: 0 ok, 1 usage error, 2 execution error (reference CLI
  * convention). Output is human tables by default, one-JSON-object-per-row
  * with `--json` (for scripting, mirroring `needle sql --format json`).
  */
object Cli {

  final case class ParsedArgs(positional: Seq[String],
                              options: Map[String, Seq[String]])

  /** Flags that never take a space-separated value — without this list a
    * bare flag would swallow the next positional/short option, so
    * `diff --summary SRC TGT` or `sql --json -e QUERY` would misparse.
    */
  private val booleanFlags = Set("json", "summary", "groups", "diff-report")

  /** `--key value` (repeatable), `--key=value`, bare `--flag`, and short
    * `-e value` forms (both spellings land under the bare key name).
    */
  def parseArgs(args: Seq[String]): ParsedArgs = {
    val pos = Seq.newBuilder[String]
    val opts = scala.collection.mutable.LinkedHashMap
      .empty[String, Vector[String]]
    var i = 0
    def add(k: String, v: String): Unit =
      opts(k) = opts.getOrElse(k, Vector.empty) :+ v
    while (i < args.length) {
      val a = args(i)
      if (a.startsWith("-") && a.length > 1 && !a.drop(1).forall(_.isDigit)) {
        val body = a.dropWhile(_ == '-')
        if (body.contains("=")) {
          val Array(k, v) = body.split("=", 2); add(k, v)
        } else if (!booleanFlags.contains(body) &&
            i + 1 < args.length && !args(i + 1).startsWith("--")) {
          add(body, args(i + 1)); i += 1
        } else add(body, "")
      } else pos += a
      i += 1
    }
    ParsedArgs(pos.result(), opts.toMap)
  }

  private def usage: String =
    """usage: graft.Cli <command> [args]
      |  sql      --collection name=path ... (-e QUERY | -f FILE | stdin) [--json]
      |  explore  --collection name=path ... (interactive explorer; stdin commands)
      |  web      --collection name=path ... [--port P] [--api-port P]
      |           [--graphql-port P]
      |           (dashboard + REST + GraphQL; blocks until stdin closes)
      |  diff     SOURCE TARGET [--threshold T] [--summary] [--json]
      |  merge    SOURCE TARGET --out OUT [--base BASE]
      |           [--strategy source-wins|target-wins] [--diff-report]
      |  evaluate COLLECTION [--k K] [--cells N] [--nprobe P] [--queries Q] [--json]
      |  tune     COLLECTION [--k K] [--min-recall R] [--queries Q] [--json]
      |  dedup    COLLECTION [--max-distance D] [--cells N] [--groups] [--json]
      |  export-bundle COLLECTION --out DIR [--name N] [--distance cosine]
      |  import-bundle DIR [--out PARQUET]
      |  estimate COLLECTION [--k K] [--selectivity S] [--json]
      |  recommend-index COLLECTION [--target-recall R] [--memory-gb G]
      |  health   COLLECTION [--k K] [--sample N] [--json]
      |  index-build  COLLECTION --out DIR [--cells N] [--metric cosine]
      |  index-search INDEXDIR (--vector v1,v2,.. | --query-id ID --collection PATH)
      |               [--k K] [--nprobe P] [--json]
      |every subcommand: [--id-col id] [--vector-col vector]
      |""".stripMargin

  private def idCol(a: ParsedArgs): String =
    a.options.get("id-col").map(_.last).getOrElse("id")
  private def vecCol(a: ParsedArgs): String =
    a.options.get("vector-col").map(_.last).getOrElse("vector")

  /** Exposed for CliSpec: run one subcommand against an existing session,
    * returning the process exit code; all output goes through `out`.
    */
  def run(spark: SparkSession, args: Seq[String],
          out: String => Unit = Console.out.println(_),
          in: () => Iterator[String] = () =>
            scala.io.Source.stdin.getLines()): Int = {
    if (args.isEmpty) { out(usage); return 1 }
    val parsed = parseArgs(args.tail)
    try args.head match {
      case "sql"             => sqlCmd(spark, parsed, out, in)
      case "web"             => webCmd(spark, parsed, out, in)
      case "explore"         => exploreCmd(spark, parsed, out, in)
      case "diff"            => diffCmd(spark, parsed, out)
      case "merge"           => mergeCmd(spark, parsed, out)
      case "evaluate"        => evaluateCmd(spark, parsed, out)
      case "tune"            => tuneCmd(spark, parsed, out)
      case "dedup"           => dedupCmd(spark, parsed, out)
      case "export-bundle"   => exportBundleCmd(spark, parsed, out)
      case "import-bundle"   => importBundleCmd(spark, parsed, out)
      case "estimate"        => estimateCmd(spark, parsed, out)
      case "recommend-index" => recommendIndexCmd(spark, parsed, out)
      case "health"          => healthCmd(spark, parsed, out)
      case "index-build"     => indexBuildCmd(spark, parsed, out)
      case "index-search"    => indexSearchCmd(spark, parsed, out)
      case other             => out(s"unknown command: $other"); out(usage); 1
    } catch {
      case e: IllegalArgumentException => out(s"error: ${e.getMessage}"); 1
      case e: graft.needleql.Parser.ParseError =>
        out(s"parse error: ${e.getMessage}"); 2
      case scala.util.control.NonFatal(e) =>
        out(s"error: ${e.getClass.getSimpleName}: ${e.getMessage}"); 2
    }
  }

  // ------------------------------------------------------------------ sql

  /** Interactive explorer (reference tui.rs / visual_explorer.rs): the
    * collection specs parse exactly like `sql`'s, the command loop lives
    * in [[Explorer.repl]].
    */
  private def exploreCmd(spark: SparkSession, a: ParsedArgs,
                         out: String => Unit,
                         in: () => Iterator[String]): Int = {
    val colls = a.options.getOrElse("collection", Nil).map { spec =>
      spec.split("=", 2) match {
        case Array(name, path) => name -> path
        case _ => throw new IllegalArgumentException(
          s"--collection expects name=path, got: $spec")
      }
    }.toMap
    if (colls.isEmpty) { out("explore needs at least one --collection name=path"); 1 }
    else Explorer.repl(spark, colls, out, in)
  }

  /** Serve the web dashboard + REST API over parquet collections: the
    * REST server owns the data (its bounded-read handlers), the
    * dashboard reads through it, and a NeedleSession over the same
    * tables backs the /playground route. Blocks until stdin closes
    * (EOF) so `graft.Cli web ... < /dev/null` exits immediately in
    * scripts while an interactive run stays up.
    */
  private def webCmd(spark: SparkSession, a: ParsedArgs,
                     out: String => Unit, in: () => Iterator[String]): Int = {
    val api = new graft.server.RestApi(spark)
    val ql = new NeedleSession(spark)
    a.options.getOrElse("collection", Nil).foreach { spec =>
      val Array(name, path) = spec.split("=", 2) match {
        case ok @ Array(_, _) => ok
        case _ => throw new IllegalArgumentException(
          s"--collection expects name=path, got: $spec")
      }
      val df = spark.read.parquet(path)
      val dims = df.select(vecCol(a)).head()
        .getSeq[Any](0).length
      api.register(name, df.withColumnRenamed(idCol(a), "id")
        .withColumnRenamed(vecCol(a), "vector"), dims)
      ql.register(name, CollectionDef(df, idCol = idCol(a),
        vectorCol = vecCol(a)))
    }
    val apiPort = a.options.get("api-port").map(_.last.toInt).getOrElse(0)
    val uiPort = a.options.get("port").map(_.last.toInt).getOrElse(0)
    val gqlPort = a.options.get("graphql-port").map(_.last.toInt).getOrElse(0)
    val apiServer = api.serve(apiPort)
    val ui = new graft.server.WebUi(api, ql = Some(ql))
    val uiServer = ui.serve(uiPort)
    val gqlServer = new graft.server.GraphqlApi(api).serve(gqlPort)
    out(s"REST API on http://127.0.0.1:${apiServer.getAddress.getPort}")
    out(s"dashboard on http://127.0.0.1:${uiServer.getAddress.getPort}")
    out(s"GraphQL on http://127.0.0.1:${gqlServer.getAddress.getPort}/graphql")
    in().foreach(_ => ()) // block until EOF
    gqlServer.stop(0); uiServer.stop(0); apiServer.stop(0)
    0
  }

  private def sqlCmd(spark: SparkSession, a: ParsedArgs,
                     out: String => Unit, in: () => Iterator[String]): Int = {
    val session = new NeedleSession(spark)
    a.options.getOrElse("collection", Nil).foreach { spec =>
      val Array(name, path) = spec.split("=", 2) match {
        case ok @ Array(_, _) => ok
        case _ => throw new IllegalArgumentException(
          s"--collection expects name=path, got: $spec")
      }
      session.register(name, CollectionDef(spark.read.parquet(path)))
    }
    val queries: Iterator[String] =
      a.options.get("e").map(_.iterator)
        .orElse(a.options.get("f").map(fs =>
          fs.iterator.flatMap(f =>
            Files.readString(Paths.get(f)).split(";").iterator)))
        .getOrElse(in())
    val json = a.options.contains("json")
    var ran = 0
    queries.map(_.trim).filter(q => q.nonEmpty && !q.startsWith("--"))
      .foreach { q =>
        render(session.sql(q), json, out)
        ran += 1
      }
    if (ran == 0) { out("no queries given (-e, -f, or stdin)"); 1 } else 0
  }

  // ----------------------------------------------------------- diff/merge

  private def diffCmd(spark: SparkSession, a: ParsedArgs,
                      out: String => Unit): Int = {
    val Seq(src, tgt) = positional(a, 2, "diff SOURCE TARGET")
    val threshold = a.options.get("threshold")
      .map(_.last.toDouble).getOrElse(1e-3)
    val source = spark.read.parquet(src)
    val target = spark.read.parquet(tgt)
    val json = a.options.contains("json")
    if (a.options.contains("summary"))
      render(CollectionDiff.diffSummary(source, target, threshold,
        idCol(a), vecCol(a)).orderBy("status"), json, out)
    else
      render(CollectionDiff.diff(source, target, threshold,
        idCol(a), vecCol(a))
        .filter(col("status") =!= "unchanged").orderBy("id"), json, out)
    0
  }

  private def mergeCmd(spark: SparkSession, a: ParsedArgs,
                       out: String => Unit): Int = {
    val Seq(src, tgt) = positional(a, 2, "merge SOURCE TARGET --out OUT")
    val outPath = a.options.getOrElse("out",
      throw new IllegalArgumentException("merge requires --out PATH")).last
    val base = a.options.get("base").map(b => spark.read.parquet(b.last))
    val strategy = a.options.get("strategy").map(_.last).getOrElse("source-wins") match {
      case "source-wins" => CollectionDiff.MergeStrategy.SourceWins
      case "target-wins" | "skip" => CollectionDiff.MergeStrategy.TargetWins
      case other => throw new IllegalArgumentException(
        s"unknown --strategy: $other (source-wins | target-wins)")
    }
    val source = spark.read.parquet(src)
    val target = spark.read.parquet(tgt)
    val merged = CollectionDiff.merge(source, target, base, strategy,
      idCol(a), vecCol(a))
    merged.write.mode("overwrite").parquet(outPath)
    val n = spark.read.parquet(outPath).count()
    out(s"""{"merged": $n, "out": "$outPath"}""")
    if (a.options.contains("diff-report"))
      render(CollectionDiff.diffSummary(target, spark.read.parquet(outPath),
        1e-9, idCol(a), vecCol(a)).orderBy("status"),
        a.options.contains("json"), out)
    0
  }

  // ------------------------------------------------------- evaluate/tune

  /** Search-quality evaluation (reference CLI `evaluate`): recall@k of the
    * IVF-pruned search against the exact scan, per query and mean, plus
    * the scan fraction the pruning bought. Ground truth is the exact
    * engine itself — the only oracle that needs no labels.
    */
  private def evaluateCmd(spark: SparkSession, a: ParsedArgs,
                          out: String => Unit): Int = {
    val Seq(path) = positional(a, 1, "evaluate COLLECTION")
    val k = intOpt(a, "k", 10)
    val cells = intOpt(a, "cells", 16)
    val nprobe = intOpt(a, "nprobe", 4)
    val numQueries = intOpt(a, "queries", 20)
    val metric = a.options.get("metric").map(_.last).getOrElse("cosine")
    val (id, vec) = (idCol(a), vecCol(a))
    val df = spark.read.parquet(path)
    val queries = df.select(col(vec).cast("array<float>"))
      .limit(numQueries).collect().map(_.getSeq[Float](0).toArray)
    require(queries.nonEmpty, s"no vectors in $path")
    val ix = Ivf.build(df, col(vec), cells, metric)
    val assigned = ix.assigned.persist()
    val total = assigned.count().toDouble
    val cellSizes = assigned.groupBy("cell").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val results = queries.zipWithIndex.map { case (q, i) =>
      val exact = df
        .withColumn("__d", graft.functions.Distances.distance(
          metric, col(vec), lit(q)))
        .orderBy(col("__d").asc, col(id).asc).limit(k).select(id)
      val approx = Ivf.search(ix, q, k, nprobe, id, vec)
      val recall = Ivf.recallAtK(exact, approx, id)
      val scanned = Ivf.probeCells(ix, q, nprobe)
        .map(c => cellSizes.getOrElse(c, 0L)).sum / total
      (i, recall, scanned)
    }
    assigned.unpersist()
    val meanRecall = results.map(_._2).sum / results.length
    val meanScan = results.map(_._3).sum / results.length
    if (a.options.contains("json"))
      results.foreach { case (i, r, s) =>
        out(f"""{"query": $i, "recall_at_$k": $r%.4f, "scan_fraction": $s%.4f}""")
      }
    out(f"""{"queries": ${results.length}, "k": $k, "cells": $cells, "nprobe": $nprobe, "mean_recall": $meanRecall%.4f, "mean_scan_fraction": $meanScan%.4f}""")
    0
  }

  private def tuneCmd(spark: SparkSession, a: ParsedArgs,
                      out: String => Unit): Int = {
    val Seq(path) = positional(a, 1, "tune COLLECTION")
    val k = intOpt(a, "k", 10)
    val minRecall = a.options.get("min-recall").map(_.last.toDouble)
      .getOrElse(0.95)
    val numQueries = intOpt(a, "queries", 5)
    val df = spark.read.parquet(path)
    val result = Tuner.tuneIvf(df, idCol(a), vecCol(a), k = k,
      numQueries = numQueries, minRecall = minRecall)
    result.frontier.foreach { m =>
      out(f"""{"cells": ${m.numCells}, "nprobe": ${m.nprobe}, "mean_recall": ${m.meanRecallAtK}%.4f, "scan_fraction": ${m.scanFraction}%.4f}""")
    }
    result.best match {
      case Some(c) =>
        out(s"""{"best": {"cells": ${c.numCells}, "nprobe": ${c.nprobe}}, "min_recall": $minRecall}""")
        0
      case None =>
        out(s"""{"best": null, "min_recall": $minRecall, "note": "no config reached min_recall; see frontier"}""")
        2
    }
  }

  // -------------------------------------------- dedup / bundle / analyze

  /** Near-duplicate report (reference CLI `dedup`): cell-blocked pair
    * join — never all-pairs — optionally resolved to duplicate groups
    * via pointer-jumping connected components.
    */
  private def dedupCmd(spark: SparkSession, a: ParsedArgs,
                       out: String => Unit): Int = {
    val Seq(path) = positional(a, 1, "dedup COLLECTION")
    val maxDist = a.options.get("max-distance").map(_.last.toDouble)
      .getOrElse(0.1)
    val cells = intOpt(a, "cells", 16)
    val df = spark.read.parquet(path)
      .select(col(idCol(a)).as("id"), col(vecCol(a)).as("vector"))
    val ix = Ivf.build(df, col("vector"), cells)
    val pairs = Ivf.nearDupBlocked(ix, "id", "vector", maxDist)
    val json = a.options.contains("json")
    if (a.options.contains("groups")) {
      val groups = graft.pipeline.DedupGroups.components(
        pairs.select(col("id_a"), col("id_b")))
      render(groups.groupBy("canonical")
        .agg(count(lit(1)).as("n_members"))
        .orderBy(col("n_members").desc, col("canonical")), json, out)
    } else render(pairs.orderBy("id_a", "id_b"), json, out)
    0
  }

  private def exportBundleCmd(spark: SparkSession, a: ParsedArgs,
                              out: String => Unit): Int = {
    val Seq(path) = positional(a, 1, "export-bundle COLLECTION --out DIR")
    val outDir = a.options.getOrElse("out", throw new IllegalArgumentException(
      "export-bundle requires --out DIR")).last
    val df = spark.read.parquet(path)
      .select(col(idCol(a)).as("id"), col(vecCol(a)).as("vector"))
    val dims = df.select(size(col("vector"))).head().getInt(0)
    val name = a.options.get("name").map(_.last)
      .getOrElse(new java.io.File(path).getName.stripSuffix(".parquet"))
    val distance = a.options.get("distance").map(_.last).getOrElse("cosine")
    graft.sources.Interchange.exportBundle(df, outDir, name, dims, distance)
    out(s"""{"exported": "$name", "dimensions": $dims, "dir": "$outDir"}""")
    0
  }

  private def importBundleCmd(spark: SparkSession, a: ParsedArgs,
                              out: String => Unit): Int = {
    val Seq(dir) = positional(a, 1, "import-bundle DIR [--out PARQUET]")
    val (df, cfg) = graft.sources.Interchange.importBundle(spark, dir)
    a.options.get("out").map(_.last).foreach(p =>
      df.write.mode("overwrite").parquet(p))
    out(s"""{"name": "${cfg.name}", "dimensions": ${cfg.dimensions}, "distance": "${cfg.distance}", "count": ${cfg.count}, "rows": ${df.count()}}""")
    0
  }

  /** Query cost estimation (reference CLI `estimate`): the reference's
    * closed-form strategy comparison over this collection's statistics.
    */
  private def estimateCmd(spark: SparkSession, a: ParsedArgs,
                          out: String => Unit): Int = {
    import graft.ops.CostEstimator
    val Seq(path) = positional(a, 1, "estimate COLLECTION")
    val k = intOpt(a, "k", 10)
    val sel = a.options.get("selectivity").map(_.last.toDouble)
    val df = spark.read.parquet(path)
    val stats = CostEstimator.CollectionStatistics(
      totalVectors = df.count(),
      dimensions = df.select(size(col(vecCol(a)))).head().getInt(0))
    render(CostEstimator.estimate(spark, stats, k, sel),
      a.options.contains("json"), out)
    0
  }

  private def recommendIndexCmd(spark: SparkSession, a: ParsedArgs,
                                out: String => Unit): Int = {
    val Seq(path) = positional(a, 1, "recommend-index COLLECTION")
    val df = spark.read.parquet(path)
    val n = df.count()
    val dims = df.select(size(col(vecCol(a)))).head().getInt(0)
    val targetRecall = a.options.get("target-recall").map(_.last.toDouble)
      .getOrElse(0.95)
    val budget = a.options.get("memory-gb").map(_.last.toDouble)
      .map(g => (g * 1024 * 1024 * 1024).toLong)
    val (mode, reasons) = Tuner.recommendIndex(n, dims, targetRecall, budget)
    out(s"""{"recommended": "$mode"}""")
    reasons.foreach(r => out(s"# $r"))
    0
  }

  /** Collection health (reference CLI `health`): count/dims/null rate +
    * LOF outliers over a bounded sample (the anomaly surface).
    */
  private def healthCmd(spark: SparkSession, a: ParsedArgs,
                        out: String => Unit): Int = {
    val Seq(path) = positional(a, 1, "health COLLECTION")
    val k = intOpt(a, "k", 5)
    val sample = intOpt(a, "sample", 2000)
    val df = spark.read.parquet(path)
    val n = df.count()
    val vc = col(vecCol(a))
    val dims = df.select(size(vc)).head().getInt(0)
    val nulls = df.filter(vc.isNull).count()
    val sampled = df.filter(vc.isNotNull).limit(sample)
      .select(col(idCol(a)).as("id"), vc.as("vector"))
    val lof = graft.ops.Anomaly.lof(sampled, col("id"), col("vector"), k)
    val outliers = lof.filter(col("lof_score") > 1.5).count()
    out(s"""{"rows": $n, "dimensions": $dims, "null_vectors": $nulls, "sampled": ${math.min(sample, n)}, "lof_outliers_gt_1.5": $outliers}""")
    if (a.options.contains("json"))
      render(lof.orderBy(col("lof_score").desc).limit(10), json = true, out)
    0
  }

  /** Build and persist an IVF index (reference CLI index management,
    * src/cli/handlers/collection.rs): cells written partitionBy(cell) so
    * probe filters prune at the storage layer.
    */
  private def indexBuildCmd(spark: SparkSession, a: ParsedArgs,
                            out: String => Unit): Int = {
    val Seq(path) = positional(a, 1, "index-build COLLECTION --out DIR")
    val dir = a.options.get("out").map(_.last)
      .getOrElse(throw new IllegalArgumentException("--out DIR required"))
    val cells = intOpt(a, "cells", 16)
    val metric = a.options.get("metric").map(_.last).getOrElse("cosine")
    val df = spark.read.parquet(path)
    val ix = Ivf.build(df, col(vecCol(a)), numCells = cells, metric = metric)
    Ivf.writeIndex(ix, dir)
    val n = spark.read.parquet(s"$dir/cells").count()
    out(s"""{"indexed": $n, "cells": ${ix.centroids.length}, "metric": "$metric", "path": "$dir"}""")
    0
  }

  /** Search a persisted IVF index. The probe filter on the partitioned
    * cells directory reads only nprobe/numCells of the files.
    */
  private def indexSearchCmd(spark: SparkSession, a: ParsedArgs,
                             out: String => Unit): Int = {
    val Seq(dir) = positional(a, 1, "index-search INDEXDIR")
    val ix = Ivf.loadIndex(spark, dir)
    val k = intOpt(a, "k", 10)
    val nprobe = intOpt(a, "nprobe", math.max(1, ix.centroids.length / 4))
    val query: Array[Float] = a.options.get("vector").map(_.last) match {
      case Some(csv) => csv.split(",").map(_.trim.toFloat)
      case None =>
        val coll = a.options.get("collection").map(_.last).getOrElse(
          throw new IllegalArgumentException(
            "--vector or (--query-id + --collection) required"))
        val qid = a.options.get("query-id").map(_.last).getOrElse(
          throw new IllegalArgumentException("--query-id required"))
        spark.read.parquet(coll).filter(col(idCol(a)) === qid)
          .select(col(vecCol(a))).head().getSeq[Float](0).toArray
    }
    val res = Ivf.search(ix, query, k, nprobe, idCol(a), vecCol(a),
      roundTo = Some(6)).drop(vecCol(a))
    render(res, a.options.contains("json"), out)
    0
  }

  // ------------------------------------------------------------ plumbing

  private def positional(a: ParsedArgs, n: Int, what: String): Seq[String] = {
    require(a.positional.length == n,
      s"expected $n positional arg(s): $what")
    a.positional
  }

  private def intOpt(a: ParsedArgs, key: String, default: Int): Int =
    a.options.get(key).map(_.last.toInt).getOrElse(default)

  private def render(df: DataFrame, json: Boolean,
                     out: String => Unit): Unit =
    if (json) df.toJSON.collect().foreach(out)
    else {
      val rows = df.collect()
      out(df.columns.mkString("\t"))
      rows.foreach(r => out((0 until r.length).map(i =>
        String.valueOf(r.get(i))).mkString("\t")))
      out(s"(${rows.length} rows)")
    }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Session.local(cpus)
    val code = run(spark, args.toSeq)
    spark.stop()
    if (code != 0) sys.exit(code)
  }
}
