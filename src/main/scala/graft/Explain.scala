package graft

/** Plan-quality inspector: prints the formatted physical plan of each named
  * query (or all) so pushed filters, broadcast joins, partial aggregates and
  * TakeOrderedAndProject spans can be audited. The plans are those of the
  * engine's own session (`Session.local`).
  *
  *   sbt "runMain graft.Explain <sfDir> [queryName ...]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Session.local(cpus)
    names.foreach { name =>
      println(s"\n========== $name ==========")
      try println(SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
