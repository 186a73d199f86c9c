package graft

import java.util.concurrent.ExecutionException
import org.apache.spark.ListenerDrain
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.ManifestStore

class StageAndCommitSpec extends SparkSpec {
  import spark.implicits._

  private def withRoot(body: String => Unit): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_stage").toFile
    try body(tmp.getAbsolutePath) finally org.apache.commons.io.FileUtils.deleteQuietly(tmp)
  }

  test("stageAndCommit publishes every batch, in the given order") {
    withRoot { root =>
      val vs = ManifestStore.stageAndCommit(spark, root, (0 until 3).map { b =>
        s"b$b" -> (() => Seq(10L * b, 10L * b + 1).toDF("x"))
      })
      assert(vs == Seq(0L, 1L, 2L))
      assert(ManifestStore.read(spark, root).as[Long].collect().sorted.toSeq ==
        Seq(0L, 1L, 10L, 11L, 20L, 21L))
    }
  }

  test("a batch failing at execution rethrows its own cause and leaves no sibling job running") {
    withRoot { root =>
      // one task per sibling, 30 s if never cancelled; with the failing
      // batch that is 3 tasks, within the shared session's 4 cores
      val slow = udf { (x: Long) => Thread.sleep(100); x }
      def sibling(): DataFrame = spark.range(0, 300, 1, 1).select(slow(col("id")).as("x"))
      val failing = () => spark.range(0, 4, 1, 1)
        .selectExpr("CASE WHEN id >= 0 THEN raise_error('boom') ELSE id END AS x")
      val before = spark.sparkContext.statusTracker.getActiveJobIds.toSet
      val t0 = System.nanoTime()
      val e = intercept[Throwable] {
        ManifestStore.stageAndCommit(spark, root,
          Seq("slow0" -> (() => sibling()), "bad" -> failing, "slow1" -> (() => sibling())))
      }
      val sec = (System.nanoTime() - t0) / 1e9
      assert(!e.isInstanceOf[ExecutionException], s"pool wrapper leaked: $e")
      assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage).contains("boom")), s"cause lost: $e")
      ListenerDrain(spark.sparkContext)
      val leaked = spark.sparkContext.statusTracker.getActiveJobIds.toSet -- before
      assert(leaked.isEmpty, s"jobs still running after the call returned: $leaked")
      assert(sec < 20, f"siblings were not cancelled: the call took $sec%.1f s")
      assert(ManifestStore.currentVersion(spark, root).isEmpty, "a failed call must publish nothing")
    }
  }
}
