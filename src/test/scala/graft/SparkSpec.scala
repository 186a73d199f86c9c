package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs (one JVM per test fork). */
object SparkSpec {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** One temp root per test JVM, removed on exit (the
    * `SparkEntry.scratchDir` pattern): files and dirs made through
    * [[SparkSpec.tempFile]]/[[SparkSpec.tempDir]] never outlive the run. */
  lazy val tempRoot: java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory("graft_spec")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      org.apache.commons.io.FileUtils.deleteQuietly(d.toFile): Unit))
    d
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    val s = SparkSpec.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  def sql(q: String): DataFrame = spark.sql(q)

  def tempFile(prefix: String, suffix: String): java.nio.file.Path =
    java.nio.file.Files.createTempFile(SparkSpec.tempRoot, prefix, suffix)
  def tempDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(SparkSpec.tempRoot, prefix)

  /** Run `body` with SQL confs overridden, restoring prior values
    * (shared session — leaks would poison later suites). */
  def withSQLConf[T](pairs: (String, String)*)(body: => T): T = {
    val saved = pairs.map { case (k, _) => k -> scala.util.Try(spark.conf.get(k)).toOption }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
