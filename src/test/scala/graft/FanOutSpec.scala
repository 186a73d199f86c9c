package graft

import org.apache.spark.sql.functions._

/** `SparkEntry.tfan` over a temp corpus dir: a table at most
  * `FanMaxBytes` on disk gets ONE deterministic hash repartition to
  * defaultParallelism; a bigger one passes through untouched; a table
  * that cannot be sized fails loudly, naming its path. */
class FanOutSpec extends SparkSpec {

  private lazy val corpus: String = {
    val dir = tempDir("fanout_spec").toString
    spark.range(0, 1000).select(col("id").as("doc_id"), (col("id") * 2).as("v"))
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    dir
  }

  private def placement(df: org.apache.spark.sql.DataFrame): Map[Long, Int] =
    df.withColumn("p", spark_partition_id()).select("doc_id", "p").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap

  test("below the size threshold: repartitions to defaultParallelism, rows unchanged") {
    val out = SparkEntry.tfan(spark, corpus, "documents").df
    assert(out.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    assert(out.count() == 1000L)
    // pure exchange, and the row->partition map is deterministic (hash
    // on the key): two independent invocations place every row the
    // same way — the task-retry safety the round-robin form lacks
    assert(placement(out) == placement(SparkEntry.tfan(spark, corpus, "documents").df),
      "hash fan-out must be deterministic under re-execution")
  }

  test("at the bound the frame fans out, above it the frame passes through untouched") {
    val df = spark.read.parquet(s"$corpus/documents.parquet")
    val keys = Seq(df("doc_id"))
    assert(SparkEntry.fanOut(df, keys, SparkEntry.FanMaxBytes)
      .rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    val out = SparkEntry.fanOut(df, keys, SparkEntry.FanMaxBytes + 1)
    assert(out.queryExecution.logical eq df.queryExecution.logical,
      "above the bound the frame must pass through untouched")
  }

  test("a table that cannot be sized throws and names its path") {
    val missing = s"$corpus/nowhere.parquet"
    val e = intercept[java.io.IOException](SparkEntry.onDiskBytes(spark, missing))
    assert(e.getMessage.contains(missing), e.getMessage)
  }
}
