package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  *   Verify <sfDir> <outDir> [name-part ...]
  *
  * Trailing args select slots the way Bench and PlanDump do
  * ([[BenchSession.select]]); with none, every slot runs. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Seq(sfDir, outDir) = args.toSeq.take(2)
    val spark = BenchSession.create()
    new java.io.File(outDir).mkdirs()
    BenchSession.select(args.toSeq.drop(2)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // same hygiene as Bench: queries that persist internally (q110b's
      // kNN frames, q76/q97's DSIR counts) must not leak cached blocks
      // into the remaining ~125 queries' memory
      BenchSession.cleanBlocks(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
