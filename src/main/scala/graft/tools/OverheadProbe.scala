package graft.tools

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Where does the suite's per-query FIXED cost go?  (r21 verdict #1:
  * ~25 s of the 111 s driver total is ~0.15–0.25 s × 134 slots of
  * non-compute latency.)  For every query this tool times, separately:
  *
  *   - build:  `fn(spark, sfDir)` — DataFrame construction, including
  *             parquet footer/schema reads and file listing;
  *   - plan:   forcing `queryExecution.executedPlan` — analysis,
  *             optimization, physical planning (pre-AQE);
  *   - exec:   the noop-sink write — actual jobs, AQE re-planning,
  *             task scheduling.
  *
  * Same session as Bench ([[graft.BenchSession]]) plus optional
  * overrides from $SPARK_GRAFT_CONF
  * ("k=v;k=v" — session-settable confs only) so coalescing/
  * parallelism hypotheses can be A/B'd without touching Bench.
  * One pass, no min-of-2: this is a breakdown probe, not a record.
  */
object OverheadProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = graft.BenchSession.sfDir
    val spark = graft.BenchSession.create()
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").filter(_.contains("=")).foreach { kv =>
      val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v)
    })
    val jobCount = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobCount.incrementAndGet(); () }
    })
    val selected = graft.BenchSession.select(args.toSeq)
    var tb = 0.0; var tp = 0.0; var te = 0.0
    selected.foreach { case (name, fn) =>
      graft.BenchSession.cleanBlocks(spark)
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan // force analysis+optimization+planning
      val t2 = System.nanoTime()
      val j0 = jobCount.get
      df.write.format("noop").mode("overwrite").save()
      val t3 = System.nanoTime()
      val (build, plan, exec) = ((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
      tb += build; tp += plan; te += exec
      println(f"""{"q":"$name","build":$build%.3f,"plan":$plan%.3f,"exec":$exec%.3f,"jobs":${jobCount.get - j0}}""")
    }
    println(f"""{"metric":"overhead_totals","n":${selected.size},"build":$tb%.2f,"plan":$tp%.2f,"exec":$te%.2f}""")
    spark.stop()
  }
}
