package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.core.EzFrame
import graft.sources.{ArrowIpc, Io}

class ArrowIpcSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(suffix: String = ".arrow"): String =
    tempFile("arrow_spec", suffix).toString

  test("all supported types round-trip, nulls included") {
    val schema = StructType(Seq(
      StructField("b", BooleanType), StructField("i8", ByteType),
      StructField("i16", ShortType), StructField("i32", IntegerType),
      StructField("i64", LongType), StructField("f32", FloatType),
      StructField("f64", DoubleType), StructField("s", StringType),
      StructField("bin", BinaryType), StructField("ts", TimestampType),
      StructField("d", DateType), StructField("arr", ArrayType(DoubleType)),
      StructField("sarr", ArrayType(StringType))))
    val rows = Seq(
      Row(true, 1.toByte, 2.toShort, 3, 4L, 1.5f, 2.5, "héllo",
        Array[Byte](1, 2, 3), java.sql.Timestamp.valueOf("2023-06-01 12:34:56.789"),
        java.sql.Date.valueOf("2023-06-01"), Seq(1.0, 2.0), Seq("a", "bb")),
      Row(null, null, null, null, null, null, null, null,
        null, null, null, null, null),
      Row(false, (-1).toByte, (-2).toShort, -3, -4L, -1.5f, -2.5, "",
        Array[Byte](), java.sql.Timestamp.valueOf("1969-12-31 23:59:59.999999"),
        java.sql.Date.valueOf("1969-12-31"), Seq.empty[Double], Seq.empty[String]))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
    val path = tmp()
    ArrowIpc.write(EzFrame(df), path)
    val back = ArrowIpc.read(spark, path)
    assert(back.df.schema == schema)
    val got = back.df.collect().sortBy(r => Option(r.getString(7)).getOrElse("zz"))
    val want = rows.sortBy(r => Option(r.getString(7)).getOrElse("zz"))
    got.zip(want).foreach { case (g, w) =>
      (0 until schema.length).foreach { c =>
        (g.get(c), w.get(c)) match {
          case (a: Array[Byte], b: Array[Byte]) => assert(a.sameElements(b))
          case (a, b) => assert(a == b, s"col ${schema(c).name}: $a != $b")
        }
      }
    }
  }

  test("multiple record batches: read parallelism = batch count") {
    val df = (0 until 1000).map(i => (i.toLong, s"row$i", i * 0.5)).toDF("id", "name", "v")
    val path = tmp()
    ArrowIpc.write(EzFrame(df), path, batchRows = 100)
    val back = ArrowIpc.read(spark, path)
    assert(back.df.rdd.getNumPartitions == 10) // one task per batch
    assert(back.df.count() == 1000)
    val r = back.df.orderBy("id").collect()
    assert(r(999).getString(1) == "row999" && r(999).getDouble(2) == 499.5)
  }

  test("Io dispatches .arrow / .feather") {
    val df = Seq((1L, "x"), (2L, "y")).toDF("id", "s")
    val path = tmp(".feather")
    Io.write(EzFrame(df), path)
    val back = Io.read(spark, path)
    assert(back.df.orderBy("id").collect().map(_.getString(1)).toSeq == Seq("x", "y"))
  }
}
