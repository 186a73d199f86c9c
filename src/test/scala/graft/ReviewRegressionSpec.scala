package graft

import org.apache.spark.sql.functions._
import graft.core.EzFrame
import graft.sources.{CommentedCsv, Fits}

/** Regressions for the round-1 code-review findings. */
class ReviewRegressionSpec extends SparkSpec {
  import spark.implicits._

  test("parquet meta round-trips header values containing spaces") {
    val dir = tempDir("rr_pq").toString + "/t.parquet"
    val ez = EzFrame(Seq((1.0, 2.0)).toDF("x", "y"))
      .setHeader("TITLE", "My Grand Survey").setAlias("ex", "x")
    EzFrame.writeParquet(ez, dir)
    val back = EzFrame.readParquet(spark, dir)
    assert(back.meta.header("TITLE") == "My Grand Survey")
    assert(back.meta.aliases == Map("ex" -> "x"))
  }

  test("FITS quoted values containing '/' survive (units like km/s)") {
    val path = tempFile("rr_fits", ".fits").toString
    val ez = EzFrame(Seq((1.0, 2.0)).toDF("v", "w")).setUnit("v", "km/s")
    Fits.write(ez, path)
    val back = Fits.read(spark, path)
    assert(back.meta.units("v") == "km/s")
  }

  test("TSV write -> readTsv keeps column names") {
    val path = tempFile("rr_tsv", ".tsv").toString
    val ez = EzFrame(Seq((1.0, 2.0, 3.0)).toDF("alpha", "beta", "gamma"))
    CommentedCsv.write(ez, path, delimiter = "\t")
    val back = CommentedCsv.readTsv(spark, path)
    assert(back.columns == Seq("alpha", "beta", "gamma"))
    assert(back.meta.header.isEmpty) // name line must NOT be misread as a header pair
  }

  test("columns named e/pi shadow math constants; exprvars shadow columns") {
    val ez = EzFrame(Seq((0.05, 1.0), (10.0, 2.0)).toDF("e", "pi"))
    assert(ez.where("e > 0.1").count() == 1)               // column, not 2.718...
    assert(ez.where("pi == 2").count() == 1)               // column, not 3.14...
    val withVar = ez.df.select(ez.evalexpr("e * scale", Map("scale" -> 10.0)).as("r"))
      .collect().map(_.getDouble(0)).sorted
    assert(withVar.toSeq == Seq(0.5, 100.0))
    // constants still reachable when no column collides
    val c = EzFrame(Seq(1.0.->(2.0)).toDF("a", "b"))
    assert(math.abs(c.df.select(c.evalexpr("pi").cast("double")).head().getDouble(0) - math.Pi) < 1e-15)
  }

  test("gaiaHealpix is exact above 2^53") {
    val id = 34359738368L * 100000000L - 1L // rounds wrong under double division
    val df = Seq(id).toDF("source_id")
    val cell = df.select(graft.functions.Astro.gaiaHealpix(col("source_id"), 12).as("c"))
      .head().getLong(0)
    assert(cell == 99999999L)
  }

  test("cosine of a zero vector is NaN, not a job-killing ANSI error") {
    val vecs = Seq((0L, Array(0.0f, 0.0f)), (1L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val r = vecs.select(graft.operators.Similarity.cosine(
      col("embedding").cast("array<double>"), col("embedding").cast("array<double>")).as("c"))
      .collect().map(_.getDouble(0))
    assert(r(0).isNaN && r(1) == 1.0)
  }

  test("expression join keys work when both sides share the key column name") {
    val l = EzFrame(Seq((10L, 1.0), (21L, 2.0)).toDF("id", "x"))
    val r = EzFrame(Seq((110L, 5.0), (221L, 6.0)).toDF("id", "y"))
    // join on id % 100 — 'id' exists on BOTH sides
    val j = l.join(r, leftOn = "id % 100", rightOn = "id % 100", how = "inner")
    assert(j.count() == 2) // 10<->110 (both %100 = 10) and 21<->221 (both 21)
    // both id columns survive with suffixes
    assert(j.columns.count(_.startsWith("id")) == 2)
  }

  test("quality signals survive empty text under ANSI mode") {
    val df = Seq("", "two words").toDF("text")
    val sig = graft.operators.TextAnalysis.qualitySignals(col("text"))
    val rows = df.select(sig.map { case (n, c) => c.as(n) }: _*).collect()
    assert(rows(0).getAs[Double]("avg_token_len") == 0.0)
    assert(rows(1).getAs[Long]("n_tokens") == 2L)
  }

  test("weightedMean tolerates null inputs (post-nanToNull frames)") {
    val df = Seq((Some(1.0), Some(1.0)), (None, Some(5.0)), (Some(3.0), Some(3.0)))
      .toDF("x", "w")
    val r = df.agg(graft.functions.Aggregators.weightedMean(col("x"), col("w"))).head().getDouble(0)
    assert(math.abs(r - 2.5) < 1e-12)
  }

  test("stats runs as a single aggregation job (one scan)") {
    val ez = EzFrame(Seq((1.0, 10.0, 100.0), (2.0, 20.0, 200.0)).toDF("a", "b", "c"))
    val st = ez.stats()
    // still correct
    val m = st.collect().map(r => r.getAs[String]("column") -> r.getAs[Double]("mean")).toMap
    assert(m == Map("a" -> 1.5, "b" -> 15.0, "c" -> 150.0))
    // exactly one Aggregate subtree pair (partial+final), not one per column
    val plan = st.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Union"), s"stats still unions per-column scans:\n$plan")
  }
}
