package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.EzFrame
import graft.sources.Fits

class FitsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    tempFile("graft_fits", ".fits").toString

  test("binary-table round trip: types, values, units, header") {
    val df = Seq(
      (1L, 1, 1.5, 2.5f, true, "alpha"),
      (2L, -7, -0.25, 0.5f, false, "bet"),
      (3L, 42, 1e300, 3.25f, true, "c"))
      .toDF("id", "n", "x", "f", "flag", "name")
    val ez = EzFrame(df).setUnit("x", "mag").setHeader("OBSERVER", "graft")
    val path = tmp()
    Fits.write(ez, path)
    val back = Fits.read(spark, path)
    assert(back.schema("id").dataType == LongType)
    assert(back.schema("n").dataType == IntegerType)
    assert(back.schema("x").dataType == DoubleType)
    assert(back.schema("f").dataType == FloatType)
    assert(back.schema("flag").dataType == BooleanType)
    assert(back.schema("name").dataType == StringType)
    assert(back.meta.units("x") == "mag")
    assert(back.meta.header.get("OBSERVER").contains("graft"))
    val rows = back.df.orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(rows.map(_.getInt(1)).toSeq == Seq(1, -7, 42))
    assert(rows.map(_.getDouble(2)).toSeq == Seq(1.5, -0.25, 1e300))
    assert(rows.map(_.getFloat(3)).toSeq == Seq(2.5f, 0.5f, 3.25f))
    assert(rows.map(_.getBoolean(4)).toSeq == Seq(true, false, true))
    assert(rows.map(_.getString(5)).toSeq == Seq("alpha", "bet", "c"))
  }

  test("file structure: 2880-byte blocks, primary HDU skipped") {
    val df = Seq((1.0, 2.0)).toDF("a", "b")
    val path = tmp()
    Fits.write(EzFrame(df), path)
    val len = new java.io.File(path).length()
    assert(len % 2880 == 0, s"file length $len not block-aligned")
    val h = Fits.readHeader(path)
    assert(h.nRows == 1 && h.rowBytes == 16)
    assert(h.cols.map(_.name) == Seq("a", "b"))
  }

  test("distributed read over many partitions agrees with sequential") {
    val df = spark.range(10000).select(col("id"),
      (col("id") * 2).cast(DoubleType).as("v"))
    val path = tmp()
    Fits.write(EzFrame(df), path)
    val back = Fits.read(spark, path, partitions = 8)
    assert(back.df.rdd.getNumPartitions == 8)
    assert(back.count() == 10000L)
    val s = back.df.agg(sum("id"), sum("v")).collect().head
    assert(s.getLong(0) == 49995000L && s.getDouble(1) == 99990000.0)
  }

  test("queryable through the frame API with predicate") {
    val df = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "v")
    val path = tmp()
    Fits.write(EzFrame(df).setAlias("val", "v"), path)
    val back = Fits.read(spark, path).setAlias("val", "v")
    assert(back.selectWhere("k", "val > 15").count() == 2)
  }

  test("append adds a second BINTABLE HDU; both readable by hdu index") {
    val path = tmp()
    Fits.write(EzFrame(Seq((1L, "a"), (2L, "b")).toDF("id", "tag")), path)
    Fits.append(EzFrame(Seq((10.0, 0.5f), (20.0, 1.5f), (30.0, 2.5f)).toDF("x", "y")), path)
    assert(new java.io.File(path).length() % 2880 == 0)
    val first = Fits.read(spark, path)
    assert(first.columns == Seq("id", "tag") && first.count() == 2)
    val second = Fits.read(spark, path, hdu = 2)
    assert(second.columns == Seq("x", "y") && second.count() == 3)
    assert(second.df.orderBy("x").collect().map(_.getDouble(0)).toSeq == Seq(10.0, 20.0, 30.0))
    val err = intercept[IllegalArgumentException](Fits.readHeader(path, hdu = 3))
    assert(err.getMessage.contains("no table extension #3"))
  }

  test("append to a missing file creates it (primary + table)") {
    val path = tempDir("graft_fits").resolve("new.fits").toString
    Fits.append(EzFrame(Seq((1L, 2.0)).toDF("a", "b")), path)
    val back = Fits.read(spark, path)
    assert(back.count() == 1 && back.columns == Seq("a", "b"))
  }

  test("ASCII table (XTENSION='TABLE'): hand-built fixture reads typed columns") {
    // hand-built per FITS 4.0 §7.2: empty primary HDU, then an ASCII
    // table with TBCOL/TFORM fixed-width text fields — name A8 at 1,
    // count I6 at 10, flux E12.4 at 17 (with a Fortran D exponent and
    // a blank field -> null)
    def card80(s: String) = s.padTo(80, ' ')
    def block(cards: Seq[String]): Array[Byte] = {
      val text = cards.map(card80).mkString
      val padded = text.padTo(((text.length + 2879) / 2880) * 2880, ' ')
      padded.getBytes("US-ASCII")
    }
    val primary = block(Seq(
      "SIMPLE  =                    T",
      "BITPIX  =                    8",
      "NAXIS   =                    0",
      "EXTEND  =                    T",
      "END"))
    val rows = Seq(
      "alpha       42   1.5000E+00 ",
      "beta       -07   2.5000D+03 ",
      "gamma            3.1250E-01 ") // blank count -> null
    val rowLen = rows.head.length
    assert(rows.forall(_.length == rowLen))
    val tableHdr = block(Seq(
      "XTENSION= 'TABLE   '",
      "BITPIX  =                    8",
      "NAXIS   =                    2",
      f"NAXIS1  = $rowLen%20d",
      "NAXIS2  =                    3",
      "PCOUNT  =                    0",
      "GCOUNT  =                    1",
      "TFIELDS =                    3",
      "TTYPE1  = 'name    '",
      "TFORM1  = 'A8      '",
      "TBCOL1  =                    1",
      "TTYPE2  = 'count   '",
      "TFORM2  = 'I6      '",
      "TBCOL2  =                   10",
      "TTYPE3  = 'flux    '",
      "TFORM3  = 'E12.4   '",
      "TBCOL3  =                   17",
      "TUNIT3  = 'Jy      '",
      "END"))
    val data = rows.mkString.getBytes("US-ASCII")
    val dataPadded = data ++ Array.fill(((data.length + 2879) / 2880) * 2880 - data.length)(' '.toByte)
    val path = tmp()
    val out = new java.io.FileOutputStream(path)
    out.write(primary); out.write(tableHdr); out.write(dataPadded); out.close()

    val back = Fits.read(spark, path)
    assert(back.columns == Seq("name", "count", "flux"))
    assert(back.df.schema.map(_.dataType) == Seq(StringType, LongType, DoubleType))
    val got = back.df.orderBy("name").collect()
    assert(got.map(_.getString(0)).toSeq == Seq("alpha", "beta", "gamma"))
    assert(got(0).getLong(1) == 42L && got(1).getLong(1) == -7L && got(2).isNullAt(1))
    assert(got(0).getDouble(2) == 1.5 && got(1).getDouble(2) == 2500.0
      && got(2).getDouble(2) == 0.3125)
    assert(back.meta.units("flux") == "Jy")
  }

  test("ASCII TFORM parsing: anchored — malformed codes rejected loudly") {
    // valid forms, including fractional widths
    assert(Fits.AsciiCol("c", "A10", None, 1).code == 'A')
    assert(Fits.AsciiCol("c", "F12.4", None, 1) .width == 12)
    assert(Fits.AsciiCol("c", "D25.17", None, 1).code == 'D')
    // malformed TFORMs must NOT silently parse via a valid substring;
    // fractions are legal ONLY on F/E/D (FITS 4.0 §7.2) — 'I8.3' and
    // 'A10.2' are corrupt headers, not integer/char fields
    for (bad <- Seq("XA10", "I", "10A", "A10X", "F12.", "AI10", "I8.3", "A10.2"))
      intercept[IllegalArgumentException] { Fits.AsciiCol("c", bad, None, 1) }
  }
}
