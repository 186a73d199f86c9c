package graft.functions

import org.apache.spark.sql.{Column, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.types.DoubleType

/** SQL-text registration for the engine's scalars: one definition
  * table feeds BOTH registration paths ([[graft.GraftExtensions]] at
  * session build; [[register]] on a live session), so the SQL surface
  * can never drift from the Column API.
  *
  * `sphdist` and `healpix_ang2pix` build the custom Expressions
  * [[SphDistExpr]] and [[HealpixAng2Pix]].  [[Astro]]'s sexagesimal /
  * frame helpers are Column compositions — pure builtin expression
  * trees, already codegen'd — so their builders materialize the same
  * tree from SQL-parsed children (via [[GraftBridge.catalystExpression]],
  * so the analyzer can finish resolving it).
  */
object SqlScalars {

  private def toCol(e: Expression): Column = GraftBridge.column(e)
  private def toExpr(c: Column): Expression = GraftBridge.catalystExpression(c)

  private def litInt(e: Expression, what: String): Int = {
    require(e.foldable, s"$what must be a literal int")
    e.eval(null) match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(s"$what must be a literal int, got $other")
    }
  }

  /** One SQL function: `className` is the class its ExpressionInfo
    * names; `build` maps SQL-parsed catalyst children to its tree. */
  final case class Scalar(name: String, arity: Int, usage: String, className: String,
                          build: Seq[Expression] => Expression) {
    def builder: Seq[Expression] => Expression = { exprs =>
      require(exprs.length == arity, usage)
      build(exprs)
    }
    // 5-arg (className, db, name, usage, extended): the 3-arg form is
    // (className, db, name) — passing (className, name, usage) there
    // registered the usage string as the function NAME
    def info: ExpressionInfo = new ExpressionInfo(className, null, name, usage, "")
  }

  private val astro = "graft.functions.Astro"

  val all: Seq[Scalar] = Seq(
    Scalar("sphdist", 4, "sphdist(ra1_deg, dec1_deg, ra2_deg, dec2_deg)",
      classOf[SphDistExpr].getName,
      es => SphDistExpr(Cast(es(0), DoubleType), Cast(es(1), DoubleType),
        Cast(es(2), DoubleType), Cast(es(3), DoubleType))),
    Scalar("healpix_ang2pix", 3, "healpix_ang2pix(order, lon_deg, lat_deg)",
      classOf[HealpixAng2Pix].getName,
      es => HealpixAng2Pix(litInt(es.head, "order"),
        Cast(es(1), DoubleType), Cast(es(2), DoubleType))),
    Scalar("hms2deg", 1, "hms2deg('hh:mm:ss.s')", astro,
      es => toExpr(Astro.hms2deg(toCol(es.head)))),
    Scalar("dms2deg", 1, "dms2deg('[+-]dd:mm:ss.s')", astro,
      es => toExpr(Astro.dms2deg(toCol(es.head)))),
    Scalar("deg2hms", 1, "deg2hms(deg)", astro,
      es => toExpr(Astro.deg2hms(toCol(es.head).cast(DoubleType)))),
    Scalar("deg2dms", 1, "deg2dms(deg)", astro,
      es => toExpr(Astro.deg2dms(toCol(es.head).cast(DoubleType)))),
    Scalar("gaia_healpix", 2, "gaia_healpix(source_id, level)", astro,
      es => toExpr(Astro.gaiaHealpix(toCol(es.head), litInt(es(1), "level")))))

  /** Register the whole table on a live session (the config-free twin
    * of the [[graft.GraftExtensions]] path). */
  def register(spark: SparkSession): Unit =
    all.foreach { f =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        f.name, f.builder, "scala_udf")
    }
}
