package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.EzFrame
import graft.sources.{CommentedCsv, Ecsv}

object IoSpec {
  /** Staging dirs `prefix*` in the JVM temp dir, made during `body`. */
  def newStagingDirs(prefix: String)(body: => Unit): Set[String] = {
    def list() = Option(new java.io.File(System.getProperty("java.io.tmpdir"))
      .list()).getOrElse(Array.empty[String]).filter(_.startsWith(prefix)).toSet
    val before = list()
    body
    list() -- before
  }
}

class CommentedCsvSpec extends SparkSpec {
  import spark.implicits._

  private def tmpFile(suffix: String): String =
    tempFile("graft_io", suffix).toString

  test("commented-header round trip: header, units, aliases, names, data") {
    val path = tmpFile(".csv")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      """# NAME	mytable
        |# KEYWORD	some value
        |#
        |## colA	m/s	velocity of A
        |## colB	None	None
        |#
        |# alias	aliasA=colA
        |#
        |# colA colB
        |1.0,2.0
        |3.0,4.0
        |""".stripMargin)
    val ez = CommentedCsv.read(spark, path)
    assert(ez.columns == Seq("colA", "colB"))
    assert(ez.meta.header("NAME") == "mytable")
    assert(ez.meta.units("colA") == "m/s")
    assert(ez.meta.comments("colA") == "velocity of A")
    assert(ez.meta.aliases("aliasA") == "colA")
    assert(ez.count() == 2)
    assert(ez.get("aliasA") != null)
    // unit survives into StructField metadata
    assert(ez.schema("colA").metadata.getString("unit") == "m/s")

    val out = tmpFile(".csv")
    CommentedCsv.write(ez, out)
    val back = CommentedCsv.read(spark, out)
    assert(back.meta.header("NAME") == "mytable")
    assert(back.meta.aliases("aliasA") == "colA")
    assert(back.count() == 2)
    assert(back.where("aliasA > 2").count() == 1)
  }

  test("whitespace-delimited .dat with commented header (np.loadtxt convention)") {
    val path = tmpFile(".dat")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      """# NAME	stars
        |## mass	Msun	None
        |# mass  logT  label
        |1.0   3.80    G2
        |  2.5 4.10    B5
        |10    4.5     O9
        |""".stripMargin)
    val ez = CommentedCsv.readWhitespace(spark, path)
    assert(ez.columns == Seq("mass", "logT", "label"))
    assert(ez.schema("mass").dataType.typeName == "double")
    assert(ez.schema("label").dataType.typeName == "string")
    assert(ez.meta.units("mass") == "Msun")
    assert(ez.count() == 3)
    assert(ez.where("mass > 2").count() == 2)
  }

  test("a failed write throws and removes its staging dir") {
    val ez = EzFrame(Seq((1.0, "x")).toDF("v", "s"))
    val dest = tempDir("graft_io").resolve("missing/out.csv").toString
    val leaked = IoSpec.newStagingDirs("graft_csv") {
      intercept[java.io.IOException](CommentedCsv.write(ez, dest))
    }
    assert(leaked.isEmpty, s"staging dirs left behind: $leaked")
  }

  test("latex emitter produces a tabular") {
    val ez = EzFrame(Seq((1.0, "x")).toDF("v", "s"))
    val tex = CommentedCsv.toLatex(ez)
    assert(tex.contains("\\begin{tabular}{cc}"))
    assert(tex.contains("v & s"))
    assert(tex.contains("1.0 & x"))
  }
}

class EcsvSpec extends SparkSpec {
  import spark.implicits._

  private def tmpFile(suffix: String): String =
    tempFile("graft_io", suffix).toString

  test("read typed header incl. array subtype (masked null elements)") {
    val path = tmpFile(".ecsv")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      """# %ECSV 1.0
        |# ---
        |# datatype:
        |# - {name: a, unit: m / s, datatype: int64, format: '%03d'}
        |# - {name: b, unit: km, datatype: int64, description: This is column b}
        |# - {name: v, datatype: string, subtype: float64[null]}
        |# meta:
        |#   origin: unit test
        |a,b,v
        |1,2,"[1.0, 2.0]"
        |4,3,"[3.0, null]"
        |""".stripMargin)
    val ez = Ecsv.read(spark, path)
    assert(ez.schema("a").dataType == LongType)
    assert(ez.schema("v").dataType == ArrayType(DoubleType))
    assert(ez.meta.units("a") == "m / s")
    assert(ez.meta.comments("b") == "This is column b")
    assert(ez.meta.header("origin") == "unit test")
    val vs = ez.df.orderBy("a").select("v").collect().map(_.getSeq[Any](0))
    assert(vs(0) == Seq(1.0, 2.0))
    assert(vs(1) == Seq(3.0, null)) // null element = reference's masked value
  }

  test("write/read round trip with arrays and metadata") {
    val df = Seq((1L, Seq(1.0, 2.0)), (2L, Seq(3.0, 4.0))).toDF("id", "vec")
    val ez = EzFrame(df).setUnit("vec", "mag").setHeader("origin", "round trip")
    val path = tmpFile(".ecsv")
    Ecsv.write(ez, path)
    val back = Ecsv.read(spark, path)
    assert(back.schema("vec").dataType == ArrayType(DoubleType))
    assert(back.meta.units("vec") == "mag")
    assert(back.meta.header("origin") == "round trip")
    assert(back.df.orderBy("id").select("vec").collect().map(_.getSeq[Double](0)).toSeq ==
      Seq(Seq(1.0, 2.0), Seq(3.0, 4.0)))
  }

  test("a failed write throws and removes its staging dir") {
    val ez = EzFrame(Seq((1L, Seq(1.0))).toDF("id", "vec"))
    val dest = tempDir("graft_io").resolve("missing/out.ecsv").toString
    val leaked = IoSpec.newStagingDirs("graft_ecsv") {
      intercept[java.io.IOException](Ecsv.write(ez, dest))
    }
    assert(leaked.isEmpty, s"staging dirs left behind: $leaked")
  }
}

class ParquetMetaSpec extends SparkSpec {
  import spark.implicits._

  test("parquet round trip preserves header, aliases, units") {
    val dir = tempDir("graft_pq").toString + "/t.parquet"
    val ez = EzFrame(Seq((1.0, 2.0)).toDF("x", "y"))
      .setAlias("ex", "x").setUnit("x", "deg").setComment("y", "ordinate")
      .setHeader("NAME", "ptable")
    EzFrame.writeParquet(ez, dir)
    val back = EzFrame.readParquet(spark, dir)
    assert(back.meta.aliases("ex") == "x")
    assert(back.meta.units("x") == "deg")
    assert(back.meta.comments("y") == "ordinate")
    assert(back.meta.header("NAME") == "ptable")
    assert(back.selectWhere("ex", "ex > 0").count() == 1)
  }
}

/** Extension-based dispatch (the reference's SimpleTable(fname) routing,
  * ezdata/simpletable.py:1500–1560). */
class IoDispatchSpec extends SparkSpec {
  import spark.implicits._
  import graft.sources.Io

  private val df = Seq((1L, 1.5, "a"), (2L, -0.5, "b")).toDF("id", "x", "tag")

  test("dispatch round-trips csv, ecsv, fits, hd5 on extension") {
    for (ext <- Seq("csv", "ecsv", "fits", "hd5")) {
      val p = tempFile("graft_io", s".$ext").toString
      Io.write(EzFrame(df), p)
      val back = Io.read(spark, p).df.orderBy("id").collect()
      // text formats may narrow inferred integer types; values must hold
      assert(back.map(_.getAs[Number](0).longValue()).toSeq == Seq(1L, 2L), ext)
      assert(back.map(_.getAs[Number](1).doubleValue()).toSeq == Seq(1.5, -0.5), ext)
      assert(back.map(_.getString(2)).toSeq == Seq("a", "b"), ext)
    }
  }

  test("unknown extension raises") {
    intercept[IllegalArgumentException] { Io.read(spark, "/tmp/file.nope") }
  }

  test("write(append = true) dispatches to FITS append; rejects other formats") {
    import spark.implicits._
    val p = tempDir("graft_io").resolve("t.fits").toString
    Io.write(EzFrame(Seq((1L, "a")).toDF("id", "s")), p)
    Io.write(EzFrame(Seq((2.5, 3.5)).toDF("x", "y")), p, append = true)
    assert(graft.sources.Fits.read(spark, p, hdu = 2).columns == Seq("x", "y"))
    val err = intercept[IllegalArgumentException] {
      Io.write(EzFrame(Seq((1, 2)).toDF("a", "b")), "/tmp/t.csv", append = true)
    }
    assert(err.getMessage.contains("append"))
  }
}
