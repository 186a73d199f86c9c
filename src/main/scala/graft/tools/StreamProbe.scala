package graft.tools

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Micro-batch cost breakdown for the streaming slots (q59, q121):
  * attaches a StreamingQueryListener and prints each batch's durationMs
  * map (triggerExecution, queryPlanning, getBatch, addBatch,
  * walCommit, commitOffsets) plus state-operator commit times, so the
  * "~4 s micro-batch floor" (r21 verdict #4) is decomposed into the
  * machinery pieces that make it up.  Same session as Bench;
  * optional $SPARK_GRAFT_CONF overrides for A/B runs. */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = graft.BenchSession.sfDir
    val spark = graft.BenchSession.create()
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").filter(_.contains("=")).foreach { kv =>
      val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v)
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        println(s"STREAM START ${e.name} at ${System.nanoTime() / 1e9}")
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val dm = p.durationMs
        val state = Option(p.stateOperators).toSeq.flatten.map(s =>
          s"commit=${s.commitTimeMs}ms rows=${s.numRowsTotal}").mkString(";")
        println(s"BATCH ${p.batchId} rows=${p.numInputRows} " +
          s"trigger=${dm.get("triggerExecution")} plan=${dm.get("queryPlanning")} " +
          s"getBatch=${dm.get("getBatch")} latestOffset=${dm.get("latestOffset")} " +
          s"addBatch=${dm.get("addBatch")} walCommit=${dm.get("walCommit")} " +
          s"commitOffsets=${dm.get("commitOffsets")} state[$state]")
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        println(s"STREAM END at ${System.nanoTime() / 1e9}")
    })
    graft.BenchSession.select(if (args.isEmpty) Seq("q59") else args.toSeq)
      .foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t2 = System.nanoTime()
        println(f"$name build=${(t1 - t0) / 1e9}%.3f exec=${(t2 - t1) / 1e9}%.3f")
      }
    spark.stop()
  }
}
