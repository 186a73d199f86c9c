package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.trees.QuaternaryLike
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Haversine separation as a single Catalyst `Expression`.
  *
  * [[Astro.sphdist]] already expresses the same formula as a Column
  * composition (ezdata/simpletable.py:1337–1363), which is ideal for
  * computing the separation.  As a *predicate*, though, the composed
  * tree is opaque: `degrees(2*asin(sqrt(...))) <= r` can never reach
  * the parquet scan, so a SQL cone search reads the whole sky.  Folding
  * the formula into one named node gives the optimizer something it can
  * recognize — [[graft.plans.ConeZonePushdown]] pattern-matches
  * `SphDistExpr(...) <= r` and injects sargable declination/RA band
  * predicates ahead of it.  `doGenCode` emits a static call, so the
  * expression stays inside whole-stage codegen.
  */
object SphDist {

  /** Scalar kernel, op-for-op the same arithmetic as [[Astro.sphdist]]
    * (sin²(Δφ/2) + cosφ₁cosφ₂sin²(Δλ/2); inputs/outputs in degrees). */
  def sphdistDeg(ra1: Double, dec1: Double, ra2: Double, dec2: Double): Double = {
    val dLat = math.toRadians(dec2 - dec1)
    val dLon = math.toRadians(ra2 - ra1)
    val sLat = math.sin(dLat / 2)
    val sLon = math.sin(dLon / 2)
    val a = sLat * sLat +
      math.cos(math.toRadians(dec1)) * math.cos(math.toRadians(dec2)) * sLon * sLon
    // near-antipodal points: rounding can push a (hence sqrt a) a ulp
    // past 1, and asin(1 + ulp) is NaN — which Spark orders ABOVE every
    // double, silently failing even a whole-sky `sep <= 180` predicate.
    // Clamp; the exact-1 case is a true 180° separation.
    math.toDegrees(2.0 * math.asin(math.min(1.0, math.sqrt(a))))
  }

  /** Column surface: identical values to [[Astro.sphdist]] but carried
    * as one recognizable node (use when the separation feeds a cone
    * predicate you want [[graft.plans.ConeZonePushdown]] to optimize). */
  def sphdist(ra1: Column, dec1: Column, ra2: Column, dec2: Column): Column =
    GraftBridge.column(SphDistExpr(
      GraftBridge.expression(ra1.cast(DoubleType)),
      GraftBridge.expression(dec1.cast(DoubleType)),
      GraftBridge.expression(ra2.cast(DoubleType)),
      GraftBridge.expression(dec2.cast(DoubleType))))
}

/** Codegen-friendly haversine over four double children (degrees). */
case class SphDistExpr(first: Expression, second: Expression,
                       third: Expression, fourth: Expression)
    extends QuaternaryExpression with QuaternaryLike[Expression] {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "sphdist"

  override def nullSafeEval(ra1: Any, dec1: Any, ra2: Any, dec2: Any): Any =
    SphDist.sphdistDeg(ra1.asInstanceOf[Double], dec1.asInstanceOf[Double],
      ra2.asInstanceOf[Double], dec2.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (ra1, dec1, ra2, dec2) =>
      s"${ev.value} = graft.functions.SphDist.sphdistDeg($ra1, $dec1, $ra2, $dec2);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird, fourth = newFourth)
}
