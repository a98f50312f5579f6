package graft

import org.apache.spark.sql.SparkSessionExtensions

/** Spark session extension entry point — installs the engine's SQL surface
  * into a session at builder time. Every engine session gets it from
  * [[Session.local]]; a third-party session installs it with
  *
  * {{{
  *   SparkSession.builder()
  *     .withExtensions(new GraftExtensions)   // or
  *     .config("spark.sql.extensions", "graft.GraftExtensions")
  * }}}
  *
  * Registers one codegen'd `dist_<metric>(a, b)` function per [[graft.functions.Metric]]
  * (SURVEY.md §4.2 — the only custom Catalyst surface the engine needs;
  * everything else is expressible with built-in operators). This is the
  * only registration path for `dist_*`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.functions.Metric.all.foreach { m =>
      ext.injectFunction((
        new org.apache.spark.sql.catalyst.FunctionIdentifier(s"dist_${m.name}"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[graft.functions.VectorDistance].getName, s"dist_${m.name}"),
        (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
          graft.functions.VectorDistance(exprs(0), exprs(1), m)))
    }
  }
}
