package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

import graft.internal.Bridge

/** The seven distance metrics of the reference engine
  * (reference: src/distance.rs:42-103 `DistanceFunction`), plus the
  * squared-Euclidean fast path it uses internally.
  */
sealed abstract class Metric(val name: String, val kernelMethod: String) {
  def eval(a: ArrayData, b: ArrayData): Double
}

object Metric {
  case object Cosine extends Metric("cosine", "cosine") {
    def eval(a: ArrayData, b: ArrayData): Double = DistanceKernels.cosine(a, b)
  }
  case object CosineNormalized extends Metric("cosine_normalized", "cosineNormalized") {
    def eval(a: ArrayData, b: ArrayData): Double = DistanceKernels.cosineNormalized(a, b)
  }
  case object Euclidean extends Metric("euclidean", "euclidean") {
    def eval(a: ArrayData, b: ArrayData): Double = DistanceKernels.euclidean(a, b)
  }
  case object SqEuclidean extends Metric("sq_euclidean", "sqEuclidean") {
    def eval(a: ArrayData, b: ArrayData): Double = DistanceKernels.sqEuclidean(a, b)
  }
  case object Dot extends Metric("dot", "dot") {
    def eval(a: ArrayData, b: ArrayData): Double = DistanceKernels.dot(a, b)
  }
  case object Manhattan extends Metric("manhattan", "manhattan") {
    def eval(a: ArrayData, b: ArrayData): Double = DistanceKernels.manhattan(a, b)
  }
  case object Hamming extends Metric("hamming", "hamming") {
    def eval(a: ArrayData, b: ArrayData): Double = DistanceKernels.hamming(a, b)
  }
  case object Chebyshev extends Metric("chebyshev", "chebyshev") {
    def eval(a: ArrayData, b: ArrayData): Double = DistanceKernels.chebyshev(a, b)
  }

  val all: Seq[Metric] = Seq(Cosine, CosineNormalized, Euclidean, SqEuclidean,
    Dot, Manhattan, Hamming, Chebyshev)

  /** String aliases accepted by the reference (src/distance.rs:132-145). */
  def parse(s: String): Metric = s.toLowerCase(java.util.Locale.ROOT).replace('-', '_') match {
    case "cosine"                                             => Cosine
    case "cosine_normalized" | "cosine_norm"                  => CosineNormalized
    case "euclidean" | "l2"                                   => Euclidean
    case "sq_euclidean" | "euclidean_squared" | "l2_squared"  => SqEuclidean
    case "dot" | "inner" | "dot_product" | "inner_product"    => Dot
    case "manhattan" | "l1" | "taxicab"                       => Manhattan
    case "hamming"                                            => Hamming
    case "chebyshev" | "linf" | "l_inf" | "l_infinity"        => Chebyshev
    case other => throw new IllegalArgumentException(
      s"Unknown distance function: '$other'. Use: cosine, euclidean, dot, manhattan, hamming, chebyshev")
  }
}

/** Codegen'd vector-distance expression: `distance(metric, a, b)` over two
  * ARRAY&lt;FLOAT&gt; columns, returning DOUBLE. Stays inside whole-stage
  * codegen (one static call into [[DistanceKernels]] per row), unlike a Scala
  * UDF (ser/de per row) or higher-order-function composition (interpreted).
  */
case class VectorDistance(left: Expression, right: Expression, metric: Metric)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires ARRAY<FLOAT> inputs, got " +
          s"${l.catalogString} and ${r.catalogString}")
    }
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = s"dist_${metric.name}"

  override def nullSafeEval(a: Any, b: Any): Any =
    metric.eval(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.DistanceKernels.${metric.kernelMethod}($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VectorDistance =
    copy(left = newLeft, right = newRight)
}

/** Column-level API for the distance library (SURVEY.md §1.4). */
object Distances {
  def distance(metric: String, a: Column, b: Column): Column =
    distance(Metric.parse(metric), a, b)
  def distance(metric: Metric, a: Column, b: Column): Column = {
    // Normalize inputs to ARRAY<FLOAT> (the engine's vector element type,
    // reference: src/collection/insert.rs:36); a no-op cast is eliminated
    // by Catalyst's SimplifyCasts.
    val af = a.cast(ArrayType(FloatType))
    val bf = b.cast(ArrayType(FloatType))
    Bridge.col(VectorDistance(Bridge.expr(af), Bridge.expr(bf), metric))
  }

  def cosine(a: Column, b: Column): Column = distance(Metric.Cosine, a, b)
  def cosineNormalized(a: Column, b: Column): Column = distance(Metric.CosineNormalized, a, b)
  def euclidean(a: Column, b: Column): Column = distance(Metric.Euclidean, a, b)
  def sqEuclidean(a: Column, b: Column): Column = distance(Metric.SqEuclidean, a, b)
  def dot(a: Column, b: Column): Column = distance(Metric.Dot, a, b)
  def manhattan(a: Column, b: Column): Column = distance(Metric.Manhattan, a, b)
  def hamming(a: Column, b: Column): Column = distance(Metric.Hamming, a, b)
  def chebyshev(a: Column, b: Column): Column = distance(Metric.Chebyshev, a, b)
}
