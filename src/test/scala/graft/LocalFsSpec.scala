package graft

import java.io.File
import java.net.URI
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._
import graft.sources.{LocalFs, ManifestStore}

/** [[LocalFs]] sets the modes the stock local fs sets, and every
  * ManifestStore write on a `file:` root goes through it. */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  private def withDir(body: File => Unit): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_localfs").toFile
    try body(tmp)
    finally {
      def rm(f: File): Unit = { Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); () }
      rm(tmp)
    }
  }

  private def localFs(fs: FileSystem, umask: String): FileSystem = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  private def modeOf(f: File): Int =
    java.nio.file.Files.getAttribute(f.toPath, "unix:mode").asInstanceOf[Int] & 0xfff

  private def octal(s: String): Int = Integer.parseInt(s, 8)

  /** Creates file `f`, its `.crc` and dir `d` with `mode` through `fs`;
    * returns their modes. */
  private def created(fs: FileSystem, dir: File, mode: Int): Seq[Int] = {
    val perm = new FsPermission(mode.toShort)
    fs.create(new Path(dir.getPath, "f"), perm, false, 4096, 1.toShort, 1L << 20, null).close()
    assert(fs.mkdirs(new Path(dir.getPath, "d"), perm))
    Seq("f", ".f.crc", "d").map(n => modeOf(new File(dir, n)))
  }

  test("file, .crc and dir modes match the stock local fs for every mode under the conf umask") {
    for (umask <- Seq("022", "077"); mode <- Seq("644", "755", "600", "700", "777").map(octal))
      withDir { tmp =>
        val (mine, stock) = (new File(tmp, "mine"), new File(tmp, "stock"))
        Seq(mine, stock).foreach(_.mkdir())
        val got = created(localFs(new LocalFs, umask), mine, mode)
        val want = created(localFs(new LocalFileSystem, umask), stock, mode)
        assert(got == want, f"mode $mode%o under umask $umask: ${got.map(_.toOctalString)} " +
          s"vs stock ${want.map(_.toOctalString)}")
        assert(want.forall(_ == (mode & ~octal(umask))))
      }
  }

  test("a sticky-bit mode takes the stock path and keeps its bit") {
    // the umask drops the sticky bit on create and mkdirs; only a
    // direct setPermission carries it
    withDir { tmp =>
      val sticky = new FsPermission(octal("1777").toShort)
      for ((fs, name) <- Seq(localFs(new LocalFs, "022") -> "mine", localFs(new LocalFileSystem, "022") -> "stock")) {
        val d = new Path(tmp.getPath, name)
        assert(fs.mkdirs(d, sticky))
        assert(modeOf(new File(tmp, name)) == octal("755"), name)
        fs.setPermission(d, sticky)
        assert(modeOf(new File(tmp, name)) == octal("1777"), name)
      }
    }
  }

  test("a file: root resolves to LocalFs for the driver fs, the writer conf and the copy job's conf") {
    withDir { tmp =>
      val root = tmp.getAbsolutePath
      val driver = ManifestStore.fs(spark, root)
      assert(driver.isInstanceOf[LocalFs])
      assert(ManifestStore.fs(spark, "file:" + root) eq driver, "one driver fs per session")
      val file = URI.create("file:///")
      val writer = spark.sessionState.newHadoopConfWithOptions(ManifestStore.WriteOptions)
      assert(FileSystem.get(file, writer).isInstanceOf[LocalFs])
      assert(FileSystem.get(file, ManifestStore.hadoopConf(spark)).isInstanceOf[LocalFs])
      assert(!FileSystem.get(file, spark.sessionState.newHadoopConf()).isInstanceOf[LocalFs],
        "Spark's reads keep the session's stock fs")
    }
  }

  test("stage, commit and compact (copy and rewrite) through LocalFs: rows, schema, .crc files and modes") {
    @annotation.nowarn("cat=deprecation")
    def written(): Long = FileSystem.getStatistics("file", classOf[LocalFs.Raw]).getBytesWritten
    def batch(lo: Long, n: Long) = spark.range(lo, lo + n)
      .select(col("id"), concat(lit("k"), col("id").cast("string")).as("tag")).repartition(1)
    for ((rows, compactFile) <- Seq(ManifestStore.MinCopyRowsPerGroup * 2 -> "-compact.parquet",
                                    10L -> ".snappy.parquet"))
      withDir { tmp =>
        val root = tmp.getAbsolutePath
        val before = written()
        for (i <- 0 until 3)
          ManifestStore.commitStaged(spark, root, ManifestStore.stageAppend(spark, root, batch(i * rows, rows)))
        val staged = written()
        assert(staged > before, "the stage jobs' tasks must write through LocalFs")
        ManifestStore.compact(spark, root, 1L << 20)
        assert(written() > staged, "the compaction must write through LocalFs")
        val live = ManifestStore.files(spark, root)
        assert(live.size == 1 && live.head.endsWith(compactFile), live)
        val back = ManifestStore.read(spark, root)
        assert(back.schema.map(f => f.name -> f.dataType) == batch(0, 1).schema.map(f => f.name -> f.dataType))
        assert(back.select("id").as[Long].collect().sorted.toSeq == (0L until 3 * rows))
        val dataDirs = new File(tmp, "data").listFiles.toSeq
        assert(dataDirs.size == 4)
        for (d <- dataDirs) {
          assert(modeOf(d) == octal("755"), d)
          val parquet = d.list.filter(_.endsWith(".parquet")).toSeq
          assert(parquet.nonEmpty && d.list.toSet == parquet.flatMap(p => Seq(p, s".$p.crc")).toSet,
            s"${d.getName}: ${d.list.toSeq}")
          parquet.foreach(p => assert(modeOf(new File(d, p)) == octal("644"), p))
        }
      }
  }
}
