package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — Spark
  * startup dominates test time otherwise). It is the engine's own session
  * with a fixed 4 threads, so test partition counts do not follow the host.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  import spark.implicits._

  /** Load a driver testdata table at the smallest scale factor. */
  def sf(name: String): DataFrame =
    spark.read.parquet(s"/root/testdata/sf0.001/$name.parquet")
}

object SparkSpec {
  lazy val session: SparkSession = Session.local(4)
}
