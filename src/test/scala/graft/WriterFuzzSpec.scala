package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.core.EzFrame
import graft.sources.{ArrowIpc, Hdf5, Hdf5Write}

/** Seeded randomized round-trips for the round-4 write paths: values
  * the hand-built fixtures don't reach (random lengths, unicode,
  * nulls, chunk-boundary row counts). */
class WriterFuzzSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    tempFile("fuzz", ".bin").toString

  private val rnd = new scala.util.Random(1234)

  private def randString(): String = {
    val alphabets = Seq("abcdefgh ", "αβγδε ", "你好世界 ", "0123!@# ")
    val alpha = alphabets(rnd.nextInt(alphabets.length))
    (0 until rnd.nextInt(40)).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
  }

  test("HDF5 vlen write: 200 random unicode strings x 3 seeds round-trip") {
    (0 until 3).foreach { _ =>
      val data = (0 until 200).map(i => (i.toLong, randString()))
      val path = tmp()
      Hdf5Write.write(EzFrame(data.toDF("id", "s")), path, vlenStrings = true)
      val back = Hdf5.read(spark, path).df.orderBy("id").collect().map(_.getString(1))
      assert(back.toSeq == data.map(_._2))
    }
  }

  test("HDF5 chunked write: row counts around chunk boundaries round-trip") {
    for (n <- Seq(1, 99, 100, 101, 250)) {
      val data = (0 until n).map(i => (i.toLong, rnd.nextDouble(), rnd.nextInt()))
      val path = tmp()
      Hdf5Write.writeChunked(EzFrame(data.toDF("id", "v", "k")), path, chunkRows = 100)
      val back = Hdf5.read(spark, path).df.orderBy("id").collect()
      assert(back.length == n)
      data.foreach { case (id, v, k) =>
        val r = back(id.toInt)
        assert(r.getLong(0) == id && r.getDouble(1) == v && r.getInt(2) == k)
      }
    }
  }

  test("Arrow IPC: random values with random nulls round-trip") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", DoubleType),
      StructField("s", StringType), StructField("arr", ArrayType(LongType))))
    (0 until 3).foreach { _ =>
      val rows = (0 until 300).map { i =>
        Row(i.toLong,
          if (rnd.nextInt(5) == 0) null else rnd.nextDouble(),
          if (rnd.nextInt(5) == 0) null else randString(),
          if (rnd.nextInt(5) == 0) null
          else Seq.fill(rnd.nextInt(4))(rnd.nextLong()))
      }
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
      val path = tmp()
      ArrowIpc.write(EzFrame(df), path, batchRows = 64)
      val back = ArrowIpc.read(spark, path).df.orderBy("id").collect()
      assert(back.length == 300)
      rows.foreach { w =>
        val g = back(w.getLong(0).toInt)
        assert(g.get(1) == w.get(1) && g.get(2) == w.get(2) && g.get(3) == w.get(3),
          s"row ${w.getLong(0)}: $g != $w")
      }
    }
  }
}
