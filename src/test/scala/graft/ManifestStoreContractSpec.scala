package graft

import java.net.URI
import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import graft.sources.ManifestStore

/** A FileSystem whose `rename` silently OVERWRITES an existing
  * destination — the bare-object-store shape ManifestStore's publish
  * scaladoc warns about ("NOT atomic on bare S3 — front it with a
  * locking catalog there"): no check-and-rename primitive exists, so
  * the dst-exists precondition cannot be enforced atomically.  Local
  * files underneath; only the rename contract is violated. */
class S3LikeFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "s3mock"
  override def getUri: URI = URI.create("s3mock:///")
  override def rename(src: Path, dst: Path): Boolean = {
    if (super.exists(dst)) delete(dst, true)
    super.rename(src, dst)
  }
  // while set, `exists` misses committed manifests: the check ran
  // before another process's rename of the same version landed — the
  // cross-process check-then-rename race no JVM lock can close,
  // modeled deterministically
  override def exists(f: Path): Boolean =
    !(S3LikeFileSystem.staleChecks && f.getParent != null &&
      f.getParent.getName == "_manifests" && f.getName.matches("v\\d+\\.json")) && super.exists(f)
}

object S3LikeFileSystem {
  @volatile private var staleChecks = false
  /** Runs `body` with every manifest `exists` check answering "absent". */
  def racing[T](body: => T): T = {
    staleChecks = true
    try body finally staleChecks = false
  }
}

/** The local filesystem, counting the calls that start a subprocess
  * when Hadoop runs without native IO: `getFileLinkStatus` (a
  * `readlink`) and `setPermission` (a `chmod`). */
class CountingLocalFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "countfs"
  override def getUri: URI = URI.create("countfs:///")
  override def getFileLinkStatus(f: Path): FileStatus = {
    CountingLocalFileSystem.linkStatus.incrementAndGet()
    super.getFileLinkStatus(f)
  }
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    CountingLocalFileSystem.permissions.incrementAndGet()
    super.setPermission(p, permission)
  }
}

object CountingLocalFileSystem {
  val linkStatus, permissions = new AtomicLong(0L)
}

/** The local filesystem whose next `.tmp-` manifest, once armed,
  * fails its write the way a full disk does: the create succeeds and
  * the bytes do not land. */
class FailingTmpFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "failtmp"
  override def getUri: URI = URI.create("failtmp:///")
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    val out = super.create(f, overwrite, bufferSize, replication, blockSize, progress)
    if (!f.getName.startsWith(".tmp-") || !FailingTmpFileSystem.armed.getAndSet(false)) out
    else new FSDataOutputStream(new java.io.OutputStream {
      override def write(b: Int): Unit = throw new java.io.IOException("No space left on device")
      override def close(): Unit = out.close()
    }, null)
  }
}

object FailingTmpFileSystem {
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
}

/** Exercises ManifestStore against shim filesystems.  On the
  * contract-violating one the documented caveat must be EXACTLY the
  * degradation observed — optimistic concurrency (loser detection)
  * across processes is lost, nothing else.  The complementary fact —
  * that the local fs catches the same race loudly — is pinned by
  * ManifestStoreSpec's "racing committers" test.  On the counting
  * one, a commit's metadata work must start no subprocess beyond its
  * two file creations.  On the failing one, a publish that cannot
  * write its manifest must leave the staged batch committable. */
class ManifestStoreContractSpec extends SparkSpec {
  import spark.implicits._

  /** A fresh store root on the `scheme` filesystem implemented by
    * `impl`, registered for Spark jobs (scans and writes resolve the
    * scheme through the context conf) AND for ManifestStore's cached
    * per-session conf. */
  private def withRoot(scheme: String, impl: Class[_])(body: String => Unit): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory(s"graft_$scheme").toFile
    for (conf <- Seq(spark.sparkContext.hadoopConfiguration, ManifestStore.hadoopConf(spark)))
      conf.set(s"fs.$scheme.impl", impl.getName)
    try body(s"$scheme:" + tmp.getAbsolutePath)
    finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(tmp)
    }
  }

  test("silently-overwriting rename: exactly the documented guarantee degrades, and only that one") {
    withRoot("s3mock", classOf[S3LikeFileSystem]) { root =>
      // the store WORKS on the shim for the single-writer contract:
      // commits, snapshot reads, time travel, maintenance
      ManifestStore.commitAppend(spark, root, Seq(1L, 2L).toDF("x"), "day0")
      ManifestStore.commitAppend(spark, root, Seq(3L).toDF("x"), "day1")
      assert(ManifestStore.read(spark, root).as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
      assert(ManifestStore.read(spark, root, Some(0L)).as[Long].collect().sorted.toSeq == Seq(1L, 2L))
      val v0Files = ManifestStore.files(spark, root, Some(0L))
      val v1Files = ManifestStore.files(spark, root, Some(1L))
      val schema = ManifestStore.schemaOf(spark, root).get

      // THE DEGRADATION: two committers of the same version.  In one
      // process the second publish throws
      // ConcurrentModificationException even here — its exists check
      // runs under the per-root lock (ManifestStoreSpec pins the same
      // on the local fs) — but when the check raced another process's
      // rename, the losing committer SILENTLY WINS: the lost update the
      // scaladoc tells users to prevent with a locking catalog.
      ManifestStore.publish(spark, root, 2L, schema, v1Files) // "winner"
      assertThrows[java.util.ConcurrentModificationException](
        ManifestStore.publish(spark, root, 2L, schema, v0Files))
      assert(ManifestStore.files(spark, root, Some(2L)) == v1Files)
      S3LikeFileSystem.racing(ManifestStore.publish(spark, root, 2L, schema, v0Files)) // silent clobber
      assert(ManifestStore.files(spark, root, Some(2L)) == v0Files,
        "on the bare-S3 shape the last writer wins silently — the documented degradation")

      // ...and NOTHING ELSE degrades: data files are immutable, so the
      // clobbering manifest still describes a complete, consistent
      // snapshot — readers see a valid committed table (the second
      // writer's), never a torn or partially-listed one
      assert(ManifestStore.read(spark, root, Some(2L)).as[Long]
        .collect().sorted.toSeq == Seq(1L, 2L))
      assert(ManifestStore.read(spark, root).as[Long].collect().sorted.toSeq == Seq(1L, 2L))
      // the overwritten winner's data files were never deleted — a
      // locking-catalog recovery could still reconstruct its commit
      assert(v1Files.forall(p => new java.io.File(new java.net.URI("file:" +
        new Path(p).toUri.getPath)).exists()),
        "data files must survive a manifest clobber (immutable-data contract)")

      // exactly-once streaming on the shim, single writer: the replay
      // ledger lives on hints + headers, neither of which needs the
      // refusing rename
      ManifestStore.commitStreamBatch(spark, root, Seq(9L).toDF("x"), 0L)
      assert(ManifestStore.commitStreamBatch(spark, root, Seq(9L).toDF("x"), 0L) ==
        ManifestStore.batchLedger(spark, root)(0L))
      assert(ManifestStore.read(spark, root).as[Long].collect().sorted.toSeq == Seq(1L, 2L, 9L))

      // maintenance still safe: compact + vacuum never mutate data
      // files in place, so they hold on the shim too
      ManifestStore.compact(spark, root, 1L << 20)
      ManifestStore.vacuum(spark, root, keepVersions = 1)
      assert(ManifestStore.read(spark, root).as[Long].collect().sorted.toSeq == Seq(1L, 2L, 9L))
    }
  }

  test("a staged commit publishes without readlink, chmods only its two metadata files, leaves no _SUCCESS") {
    withRoot("countfs", classOf[CountingLocalFileSystem]) { root =>
      ManifestStore.commitAppend(spark, root, Seq(1L, 2L).toDF("x"), "day0")
      for (day <- 1 to 2) {
        val staged = ManifestStore.stageAppend(spark, root, Seq(day + 2L).toDF("x"), s"day$day")
        val (links, perms) = (CountingLocalFileSystem.linkStatus.get, CountingLocalFileSystem.permissions.get)
        ManifestStore.commitStaged(spark, root, staged)
        assert(CountingLocalFileSystem.linkStatus.get - links == 0,
          "publish must not resolve links (FileContext.rename's readlink per path)")
        val chmods = CountingLocalFileSystem.permissions.get - perms
        assert(chmods <= 2, s"one commitStaged set $chmods permissions: only the tmp manifest and _latest may")
      }
      val dataDirs = new java.io.File(new java.net.URI(root).getPath, "data").listFiles.filter(_.isDirectory)
      assert(dataDirs.length == 3 && dataDirs.forall(_.getName.startsWith("v")))
      for (d <- dataDirs) assert(d.list.toSeq.forall(_.endsWith(".parquet")),
        s"${d.getName} holds more than its parquet files: ${d.list.toSeq}")
      ManifestStore.compact(spark, root, 1L << 20)
      assert(ManifestStore.read(spark, root).as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L))
      assert(!new java.io.File(new java.net.URI(root).getPath, "data").listFiles
        .exists(d => new java.io.File(d, "_SUCCESS").exists), "no data dir may hold a _SUCCESS marker")
    }
  }

  test("a publish IO failure leaves the staged handle committable and no .tmp- debris") {
    withRoot("failtmp", classOf[FailingTmpFileSystem]) { root =>
      ManifestStore.commitAppend(spark, root, Seq(1L, 2L).toDF("x"), "day0")
      val staged = ManifestStore.stageAppend(spark, root, Seq(3L, 4L).toDF("x"), "day1")
      FailingTmpFileSystem.armed.set(true)
      val err = intercept[java.io.IOException](ManifestStore.commitStaged(spark, root, staged))
      assert(err.getMessage.contains("No space left"))
      val local = new java.net.URI(root).getPath
      assert(new java.io.File(staged.dir.stripPrefix("failtmp:")).isDirectory,
        "the failed publish must move the data back to its staged- dir")
      assert(!new java.io.File(local, "_manifests").list.exists(_.startsWith(".tmp-")),
        "the failed publish must delete its .tmp- manifest")
      assert(ManifestStore.currentVersion(spark, root).contains(0L))
      assert(ManifestStore.commitStaged(spark, root, staged) == 1L)
      assert(ManifestStore.read(spark, root).as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    }
  }
}
