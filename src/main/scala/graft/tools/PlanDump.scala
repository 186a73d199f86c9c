package graft.tools

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

/** Measurement tool (optimization rounds): dump `.explain("formatted")`
  * for declared queries to `plans/<tag>/<query>_<suffix>.txt` so plan
  * claims in OPTIMIZATION notes are checkable against committed files.
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <suffix> [namePart...]
  * e.g.   runMain graft.tools.PlanDump plans/r21 before q79 q88
  * No args after suffix = every query.  Runs in Bench's session
  * ([[graft.BenchSession]]), so the captured plan is the one the bench
  * runs.  NOTE: building a side-effecting slot's
  * DataFrame (streaming sinks, manifest commits) performs its setup
  * work; the dumped plan is the returned frame's.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <outDir> <suffix> [namePart...]")
    val outDir = Paths.get(args(0))
    val suffix = args(1)
    val parts = args.drop(2)
    Files.createDirectories(outDir)
    val sfDir = graft.BenchSession.sfDir
    val spark = graft.BenchSession.create()
    val sel = graft.BenchSession.select(parts.toSeq)
    sel.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.write(outDir.resolve(s"${name}_$suffix.txt"),
          txt.getBytes(StandardCharsets.UTF_8))
        println(s"PLAN $name -> ${outDir.resolve(s"${name}_$suffix.txt")}")
      } catch {
        case e: Throwable => println(s"PLAN-ERR $name: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
