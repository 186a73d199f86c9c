package perfbench

import graft.sources.ManifestStore
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession, functions}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable
import scala.util.control.NonFatal

/** `ingest`: lineitem-shaped batches of seeded sizes, staged in set-up as
  * cached frames, committed one by one into a fresh `ManifestStore` per
  * round through `stageAppend` + `commitStaged`.  After each commit a
  * snapshot read aggregates the store; every `TravelEvery` commits a pinned
  * older version is read back; every `MaintainEvery` commits `compact` and
  * then `vacuum` run.  One unit operation is one commit (stage + publish);
  * reads, time travel and maintenance count as operations too.  Each
  * operation is keyed by its kind and the batch it follows, so every round
  * runs the same keys.
  *
  * Every read is checked against the row count and sums worked out from the
  * generator's formula for the version it reads. */
final class Ingest(spark: SparkSession, tracer: Tracer, seed: Long, out: String)
    extends Workload {
  val Batches = 8
  val TravelEvery = 2
  val MaintainEvery = 4
  val KeepVersions = 3
  val RowsPerRound = 64000

  /** (rows, sum of l_quantity, sum of l_extendedprice in cents) */
  type Totals = (Long, Long, Long)
  private def plus(a: Totals, b: Totals): Totals = (a._1 + b._1, a._2 + b._2, a._3 + b._3)

  /** Batch sizes: a seeded split of a fixed `RowsPerRound` into `Batches`
    * parts of at least 1000 rows, so every seed commits the same rows. */
  private val sizes: IndexedSeq[Int] = {
    val rng = new java.util.SplittableRandom(seed)
    val cuts = (IndexedSeq.fill(Batches - 1)(rng.nextInt(RowsPerRound - 1000 * Batches)) :+ 0 :+
      (RowsPerRound - 1000 * Batches)).sorted
    cuts.sliding(2).map { case Seq(a, b) => 1000 + b - a }.toIndexedSeq
  }
  private def mix(x: Long): Long = { // splitmix64 finalizer
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private val schema = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))
  private val Day0 = java.time.LocalDate.of(1995, 1, 2).toEpochDay * 86400L

  /** Row `i` of batch `b`, a pure function of (seed, b, i). */
  private def quantity(h: Long): Long = 1 + java.lang.Long.remainderUnsigned(h >>> 8, 50)
  private def cents(h: Long): Long = 90000 + java.lang.Long.remainderUnsigned(h >>> 16, 10410000)
  private def row(b: Int, i: Int): Row = {
    val h = mix(seed ^ (b.toLong << 32 | i))
    def pick(shift: Int, n: Int) = java.lang.Long.remainderUnsigned(h >>> shift, n).toInt
    Row(b * 100000L + i / 4, pick(3, 20000).toLong, pick(21, 1000).toLong, i % 7 + 1,
      quantity(h).toDouble, cents(h) / 100.0, pick(26, 11) / 100.0, pick(30, 9) / 100.0,
      "ANR".substring(pick(34, 3), pick(34, 3) + 1), "FO".substring(pick(37, 2), pick(37, 2) + 1),
      new java.sql.Timestamp((Day0 + pick(40, 2498) * 86400L) * 1000L))
  }
  private def batchTotals(b: Int): Totals = (0 until sizes(b)).foldLeft((0L, 0L, 0L)) { (t, i) =>
    val h = mix(seed ^ (b.toLong << 32 | i))
    (t._1 + 1, t._2 + quantity(h), t._3 + cents(h))
  }
  private val expected: IndexedSeq[Totals] = sizes.indices.map(batchTotals)
  private var batches: IndexedSeq[DataFrame] = IndexedSeq.empty

  private def fs: FileSystem = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def bytesUnder(dir: String): Long = {
    val p = new Path(dir)
    if (!fs.exists(p)) 0L else fs.getContentSummary(p).getLength
  }
  private def filesUnder(dir: String, suffix: String): Long = {
    val it = fs.listFiles(new Path(dir), true)
    var n = 0L
    while (it.hasNext) if (it.next().getPath.getName.endsWith(suffix)) n += 1
    n
  }

  /** Bytes under the store's data dir; read only when traced, to count
    * bytes written, and outside every operation's timer. */
  private def dataBytes(root: String): Long = if (tracer.on) bytesUnder(s"$root/data") else 0L

  private val storeBytes = mutable.ArrayBuffer.empty[Double]
  /** Each round's store root with the totals of every version it committed. */
  private val stores = mutable.ArrayBuffer.empty[(String, mutable.Map[Long, Totals])]
  private var userBytes, writtenBytes = 0L

  private def aggregate(df: DataFrame): DataFrame =
    df.agg(count(lit(1)), sum(col("l_quantity")).cast(LongType),
      sum(functions.round(col("l_extendedprice") * 100).cast(LongType)))

  /** Snapshot read of `version` (default: current), traced as resolve / plan / exec. */
  private def read(root: String, version: Option[Long]): Totals = {
    val df = tracer.span("store.resolve")(aggregate(ManifestStore.read(spark, root, version)))
    tracer.span("plan")(df.queryExecution.executedPlan)
    val r = tracer.span("read.exec")(df.collect().head)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  /** Runs and times one operation; a thrown error or a wrong answer counts
    * it failed. */
  private def op(key: String)(body: => Option[String]): Unit = {
    attempted += 1
    timed(key, (v: Option[String]) => v.isEmpty) {
      try body catch { case NonFatal(e) => Some(s"$key: ${e.getMessage}") }
    }.foreach(fail)
  }

  private def readCheck(what: String, got: Totals, want: Totals): Option[String] =
    if (got == want) None else Some(s"$what: read $got, want $want")

  /** One series of commits into a fresh store at `root`. */
  private def series(root: String, nBatches: Int): Unit = {
    val versions = mutable.Map.empty[Long, Totals]
    stores += root -> versions
    var cum: Totals = (0L, 0L, 0L)
    for (b <- 0 until nBatches) {
      var v = -1L
      val before = dataBytes(root)
      op(s"commit.$b") {
        tracer.span("commit") {
          val staged = tracer.span("store.stage")(
            ManifestStore.stageAppend(spark, root, batches(b), s"b$b"))
          v = tracer.span("store.publish")(ManifestStore.commitStaged(spark, root, staged))
        }
        cum = plus(cum, expected(b))
        versions(v) = cum
        items += expected(b)._1
        None
      }
      val committed = dataBytes(root) - before
      userBytes += committed
      writtenBytes += committed
      op(s"read.$b") {
        readCheck(s"read after commit $b", tracer.span("read")(read(root, None)), cum)
      }
      if ((b + 1) % TravelEvery == 0 && v >= 2) op(s"travel.$b") {
        val target = v - 2
        readCheck(s"time travel to v$target", tracer.span("travel")(read(root, Some(target))),
          versions.getOrElse(target, (-1L, -1L, -1L)))
      }
      if ((b + 1) % MaintainEvery == 0) {
        val before = dataBytes(root)
        op(s"compact.$b") {
          val vc = tracer.span("store.compact")(ManifestStore.compact(spark, root))
          versions(vc) = cum
          None
        }
        writtenBytes += dataBytes(root) - before
        op(s"vacuum.$b") { tracer.span("store.vacuum")(ManifestStore.vacuum(spark, root, KeepVersions)); None }
      }
    }
  }

  def setup(): Unit = {
    batches = sizes.indices.map { b =>
      val df = spark.createDataFrame(java.util.Arrays.asList((0 until sizes(b)).map(row(b, _)): _*), schema)
        .cache()
      df.count()
      df
    }
    Main.log("batches staged")
    series(s"$out/ingest/warmup", Batches)
  }

  /** The median commit. */
  def unitOpS(fastest: collection.Map[String, Double]): Double =
    Stats.median(fastest.filter(_._1.startsWith("commit.")).values.toSeq)

  override def startTimed(): Unit = {
    super.startTimed()
    userBytes = 0L
    writtenBytes = 0L
  }

  def round(r: Int): Unit = {
    val root = s"$out/ingest/round-$r"
    series(root, Batches)
    storeBytes += bytesUnder(root).toDouble
  }

  /** Rejections of a store: a retained version with a lost file, or whose
    * rows differ from the generator's totals. */
  private def verifyStore(root: String, versions: collection.Map[Long, Totals]): Seq[String] = {
    val dir = new Path(root, "_manifests")
    val retained = fs.listStatus(dir).map(_.getPath.getName)
      .filter(n => n.matches("v\\d+\\.json")).map(_.drop(1).stripSuffix(".json").toLong).sorted
    retained.toSeq.flatMap { v =>
      val lost = ManifestStore.files(spark, root, Some(v)).filterNot(p => fs.exists(new Path(p)))
      if (lost.nonEmpty) Some(s"$root v$v: ${lost.size} referenced files lost")
      else readCheck(s"$root v$v", read(root, Some(v)), versions.getOrElse(v, (-1L, -1L, -1L)))
    }
  }

  def check(): Seq[String] = {
    val errors = stores.toSeq.flatMap { case (root, versions) => verifyStore(root, versions) }
    // self-test: the store checker must notice one committed file gone
    val (root, versions) = stores.last
    val victim = new Path(ManifestStore.files(spark, root).head)
    val aside = new Path(victim.getParent, "." + victim.getName + ".aside")
    fs.rename(victim, aside)
    val caught = try verifyStore(root, versions).nonEmpty finally fs.rename(aside, victim)
    if (caught) errors else errors :+ "self-test: the store checker accepted a lost committed file"
  }

  override def figures: Map[String, Any] = Map(
    "batch_rows" -> sizes,
    "read_p50_s" -> Stats.median(samples.filter(_._1.startsWith("read.")).values.map(_.map(_.ownS).min).toSeq),
    "store_mb" -> Stats.median(storeBytes.toSeq) / 1e6)

  override def layerFigures(t: Tracer): Map[String, Double] = {
    val (root, _) = stores.last
    val spans = Seq("store.stage", "store.publish", "store.compact", "store.vacuum",
      "store.resolve", "read.exec").map(n => s"${n}_s" -> t.wall(n)).toMap
    spans ++ Map(
      "store.live_files" -> ManifestStore.files(spark, root).size.toDouble,
      "store.files_on_disk" -> filesUnder(s"$root/data", ".parquet").toDouble,
      "store.manifest_kb" -> bytesUnder(s"$root/_manifests") / 1e3,
      "store.bytes_written_mb" -> writtenBytes / 1e6,
      "store.write_amp" -> writtenBytes.toDouble / math.max(userBytes, 1L))
  }
}
