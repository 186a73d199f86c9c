package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one session every `SparkEntry.queries`-driving main runs in —
  * Bench, Verify, and the tools PlanDump, OverheadProbe, ABProbe and
  * StreamProbe — plus the helpers they share.  Tuned for the local
  * harness: `local[$SPARK_GRAFT_CPUS]` (default 32), shuffle
  * partitions = cores, AQE with partition coalescing, UTC, no UI, the
  * graft extensions; warmed with a trivial action so the first query
  * doesn't absorb JVM/session startup.  A plan dumped or a probe timed
  * here is therefore the plan the bench runs. */
object BenchSession {

  /** Directory of the corpus tables the mains read. */
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  def create(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()
    spark
  }

  /** Drop everything the previous query left in the block manager:
    * Dataset caches AND directly-persisted RDDs (operators checkpoint /
    * persist internally; anything still registered is leaked state that
    * would pressure the next query's execution memory). */
  def cleanBlocks(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** The slots (the [[graft.slots]] table, through
    * `SparkEntry.queries`) whose name contains any of `parts` (every
    * slot when `parts` is empty), in name order. */
  def select(parts: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] =
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => parts.isEmpty || parts.exists(name.contains) }
}
