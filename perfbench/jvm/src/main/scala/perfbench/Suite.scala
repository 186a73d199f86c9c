package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal

/** `suite`: the pinned `SparkEntry.queries` slots over the sf0.1-shaped
  * tables, each round running every pinned slot once in an order drawn from
  * the seed.  One operation is one slot: build (the slot function returning
  * its DataFrame), plan (forcing the executed plan) and exec (one action
  * that reads every output column and returns an order-independent
  * checksum of the rows).
  *
  * Set-up writes every slot's rows to `RUN_DIR/dumps/<slot>`, for the
  * DuckDB comparison the Python side makes with the slots' oracle SQL (in
  * `oracle_sql.json`), and keeps the checksum of the written rows.  Every
  * timed execution of a slot must reproduce it. */
final class Suite(spark: SparkSession, tracer: Tracer, dataDir: String, slotsPath: String,
                  seed: Long, out: String) extends Workload {

  /** (slot, family) from the pinned list: one `slot<TAB>family` per line. */
  private val pinned: Seq[(String, String)] =
    scala.io.Source.fromFile(slotsPath).getLines().map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t") match { case Array(s, f) => s -> f }).toSeq
  private val family = pinned.toMap
  private val registry = graft.SparkEntry.queries
  private val reference = mutable.LinkedHashMap.empty[String, Seq[Long]]
  private val broken = mutable.LinkedHashMap.empty[String, String]
  private val rng = new scala.util.Random(seed)

  /** (row count, sum of the low 32 bits of each row's hash, xor of the
    * hashes): equal row multisets give equal checksums in any row order. */
  private def checksumOf(df: DataFrame): DataFrame = {
    val names = df.columns.indices.map(i => s"c$i")
    val h = xxhash64(names.map(col): _*)
    df.toDF(names: _*).select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(0xffffffffL)), bit_xor(col("h")))
  }
  private def collectChecksum(df: DataFrame): Seq[Long] = {
    val r = df.collect().head
    Seq(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  /** One slot execution, traced as build / plan / exec. */
  private def execute(name: String): Seq[Long] = tracer.span(s"slot:$name") {
    val fn = registry(name)
    val df = tracer.span("build")(checksumOf(fn(spark, dataDir)))
    tracer.span("plan")(df.queryExecution.executedPlan)
    tracer.span("exec")(collectChecksum(df))
  }

  private def op(name: String): Unit = {
    attempted += 1
    if (broken.contains(name)) { fail(s"$name: ${broken(name)}"); return }
    Main.cleanBlocks(spark)
    val sum = timed(name, (s: Either[String, Seq[Long]]) => s.toOption == reference.get(name)) {
      try Right(execute(name)) catch { case NonFatal(e) => Left(String.valueOf(e.getMessage)) }
    }
    if (sum.isLeft) fail(s"$name: ${sum.left.getOrElse("").take(300)}")
    else if (sum.toOption != reference.get(name)) fail(s"$name: rows differ from the set-up run's rows")
    else items += 1
  }

  /** Writes every slot's rows and keeps their checksum.  Writing is the
    * slot's warm-up execution; the timed plan's own code is compiled in the
    * first timed round, whose slower runs the fastest-run figures pass over. */
  def setup(): Unit = {
    pinned.foreach { case (name, _) =>
      if (!registry.contains(name)) broken(name) = "not in SparkEntry.queries"
      else {
        Main.cleanBlocks(spark)
        val path = Paths.get(out, "dumps", name).toString
        try {
          registry(name)(spark, dataDir).write.mode("overwrite").parquet(path)
          reference(name) = collectChecksum(checksumOf(spark.read.parquet(path)))
        } catch { case NonFatal(e) => broken(name) = String.valueOf(e.getMessage).take(300) }
      }
    }
  }

  def round(r: Int): Unit = rng.shuffle(pinned.map(_._1)).foreach(op)

  /** The median slot. */
  def unitOpS(fastest: collection.Map[String, Double]): Double = Stats.median(fastest.values.toSeq)

  def check(): Seq[String] = {
    val errors = mutable.ArrayBuffer.empty[String]
    val oracle = graft.SparkEntry.oracleSql
    Files.writeString(Paths.get(out, "oracle_sql.json"),
      Json(reference.keys.flatMap(n => oracle.get(n).map(n -> _)).toMap))
    // self-test: the checksum must reject a slot's rows with one row dropped
    reference.find(_._2.head > 1).foreach { case (name, sum) =>
      Main.cleanBlocks(spark)
      val rows = registry(name)(spark, dataDir)
      if (collectChecksum(checksumOf(rows.limit(sum.head.toInt - 1))) == sum)
        errors += s"self-test: the checksum accepted $name with a dropped row"
    }
    errors.toSeq
  }

  override def figures: Map[String, Any] = Map(
    "broken" -> broken,
    "slot_runs" -> samples.map { case (k, v) => k -> v.size })

  override def layerFigures(t: Tracer): Map[String, Double] =
    t.wallOfOps(n => family.get(n.stripPrefix("slot:"))).map { case (f, s) => s"family.${f}_s" -> s }
}
