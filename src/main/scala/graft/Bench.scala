package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

/** Driver-run benchmark: every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, one JSON line out, in the [[BenchSession]]
  * session (shuffle.partitions = cores, AQE on, warmed).
  *
  * A failing query is RECORDED (negative time + an "errors" map entry)
  * and fails the run with a nonzero exit — a crash must never read as
  * a fast success.  Optional args are query-name substrings to run a
  * subset while iterating locally.
  *
  * Timing hygiene (the round-6 record was noise-dominated): every
  * query runs against a CLEAN block manager — caches and any leaked
  * persistent RDDs from the previous query are dropped first, so one
  * query's leftover blocks can never evict or spill the next — and
  * each query runs TWICE with the MIN recorded, so a transient
  * environment stall (GC pause, noisy neighbor) on one run cannot
  * cost the round.  Min-of-2 is the right statistic for "what does
  * this plan cost": both runs execute the identical plan, so the min
  * is the least-interfered measurement, not a best-case cherry-pick.
  *
  * DECORRELATED min-of-2 (round 13): the two samples used to run
  * back-to-back, so a host-contention burst lasting a few seconds
  * inflated BOTH samples of whichever query it landed on (round-12
  * record: five low-job scan queries at 2.9–15× their honest floors).
  * Now the suite runs as two FULL passes — pass A over every query,
  * then pass B over every query — and the per-query min is taken
  * ACROSS passes.  Same total work, but a query's two samples are
  * separated by roughly half the suite (~30–60 s), longer than any
  * observed burst, so one burst can no longer taint both.
  *
  * LAYERS: each kept run's profile splits `sec` into `build_s` (the
  * slot's builder), `plan_s` (the noop write's optimization and
  * physical planning) and `exec_s` (the rest: analysis, jobs, AQE
  * re-planning), and counts the `build_jobs` that started before the
  * builder returned.  The big line also records the host around each
  * pass: the session's cores, /proc/loadavg and the steal seconds.
  */
object Bench {

  /** One timed execution of a slot: wall seconds, the jobs and stages
    * it ran, and its layers (see the object doc).  `planS` is −1 when
    * the write's planning report did not arrive within the drain
    * bound; `execS` then holds plan and exec together. */
  private[graft] final case class Run(sec: Double, jobs: Int, stages: Int,
                                      buildS: Double, planS: Double, buildJobs: Int) {
    def execS: Double = sec - buildS - math.max(planS, 0.0)
    def json: String =
      s"""{"sec":$sec,"jobs":$jobs,"stages":$stages,"build_s":$buildS,"plan_s":$planS,""" +
        s""""exec_s":$execS,"build_jobs":$buildJobs}"""
  }

  /** Times slots in `spark` through a noop-sink write, listening for
    * the jobs, stages and write planning each run causes.  `close`
    * removes the job listener. */
  private[graft] final class Runner(spark: SparkSession, sfDir: String) extends AutoCloseable {
    // job/stage tally: every cross-round perf dispute so far reduced to
    // "how many sequential jobs did this query run" (sequential job
    // count is what a loaded driver machine amplifies) — record it per
    // query so a verdict can separate contention from regression.
    // Job START TIMES, not a thread-local property, attribute a job to
    // build or exec: stream and pool threads launch build jobs too.
    private val jobStarts = new ConcurrentLinkedQueue[java.lang.Long]()
    private val stageCount = new AtomicInteger(0)
    private val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobStarts.add(e.time); () }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = { stageCount.incrementAndGet(); () }
    }
    // `save()` runs the write through an inner QueryExecution with its
    // own planning tracker, so `df.queryExecution.tracker` never sees
    // the write's planning; that inner execution is reported here as
    // "overwrite"
    private val writes = new AtomicInteger(0)
    @volatile private var writePlanS = -1.0
    private val writeListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "overwrite") {
          val phases = qe.tracker.phases
          writePlanS = Seq("optimization", "planning").flatMap(phases.get).map(_.durationMs).sum / 1e3
          writes.incrementAndGet(); ()
        }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.sparkContext.addSparkListener(jobListener)

    // the listener bus is async: poll until the counters hold still and
    // `settled` holds, so a snapshot never misses events still in
    // flight (bounded wait)
    private def drain(settled: => Boolean): Unit = {
      def snap = (jobStarts.size, stageCount.get, writes.get)
      var last = (-1, -1, -1)
      var spins = 0
      while (spins < 50 && (last != snap || !settled)) {
        last = snap
        Thread.sleep(20)
        spins += 1
      }
    }

    /** One run of `fn`: the timed region is the builder plus the
      * noop-sink write; the listener drains bracket it. */
    def runOnce(fn: (SparkSession, String) => DataFrame): Either[String, Run] = {
      BenchSession.cleanBlocks(spark)
      drain(true)
      jobStarts.clear()
      val (s0, w0) = (stageCount.get, writes.get)
      val t0 = System.nanoTime()
      // noop-sink write: materializes every output column (a bare count()
      // lets Catalyst prune projection-only queries down to a row-count scan)
      try {
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        val builtMs = System.currentTimeMillis()
        // the write reports to the listeners of ITS session, and a slot
        // may return a frame of a child session (the events reader)
        val listeners = df.sparkSession.listenerManager
        listeners.register(writeListener)
        try {
          df.write.format("noop").mode("overwrite").save()
          val sec = (System.nanoTime() - t0) / 1e9
          drain(writes.get > w0)
          val starts = jobStarts.toArray(Array.empty[java.lang.Long])
          Right(Run(sec, starts.length, stageCount.get - s0, (t1 - t0) / 1e9,
            if (writes.get > w0) writePlanS else -1.0, starts.count(_ <= builtMs)))
        } finally listeners.unregister(writeListener)
      } catch {
        case e: Throwable =>
          // strip quotes/backslashes AND the whole control range — a
          // message quoting binary data or ANSI escapes must not make
          // the one-line JSON unparseable
          Left(Option(e.getMessage).getOrElse(e.getClass.getName)
            .replaceAll("[\"\\\\\\x00-\\x1f]", " ").take(200))
      }
    }

    def close(): Unit = spark.sparkContext.removeSparkListener(jobListener)
  }

  /** (/proc/loadavg's three averages, cumulative steal seconds) now —
    * the quiet-host check around a pass; empty and 0 off Linux. */
  private def hostSample(): (String, Double) = {
    def read(f: String) = scala.util.Try(
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)))).getOrElse("")
    val load = read("/proc/loadavg").trim.split("\\s+").take(3).filter(_.nonEmpty)
    // steal is the 8th value of /proc/stat's "cpu" line, in USER_HZ (100/s)
    val steal = read("/proc/stat").linesIterator.find(_.startsWith("cpu "))
      .flatMap(_.trim.split("\\s+").lift(8)).map(_.toLong / 100.0).getOrElse(0.0)
    (load.mkString("[", ",", "]"), steal)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = BenchSession.sfDir
    val spark = BenchSession.create()
    val runner = new Runner(spark, sfDir)
    val selected = BenchSession.select(args.toSeq)
    // two full passes: every query sampled once per pass, min across
    // passes — the samples of one query are decorrelated by the rest of
    // the suite running between them.  A query that succeeds in either
    // pass is a success (a transient failure in the other pass keeps the
    // good measurement and does not fail the run).
    // progress line per query per pass: early stdout (cut by the
    // driver's tail capture — that's fine), but a hung or crashed run
    // leaves the last attempted query on record
    def runPass(pass: String): (Map[String, Either[String, Run]], String) = {
      val (load0, steal0) = hostSample()
      val runs = selected.map { case (name, fn) =>
        val r = runner.runOnce(fn)
        println(s"""{"pass":"$pass","q":"$name","sec":${r.fold(_ => -1.0, _.sec)}}""")
        name -> r
      }.toMap
      val (load1, steal1) = hostSample()
      (runs, s""""$pass":{"loadavg_before":$load0,"loadavg_after":$load1,"steal_s":${steal1 - steal0}}""")
    }
    val (passA, hostA) = runPass("A")
    val (passB, hostB) = runPass("B")
    // failed both passes: pass B's error stands
    val results = selected.map { case (name, _) =>
      name -> ((passA(name), passB(name)) match {
        case (Right(a), Right(b)) => Right(if (b.sec < a.sec) b else a)
        case (a @ Right(_), _)    => a
        case (_, b)               => b
      })
    }
    val failed = Run(-1.0, 0, 0, 0.0, 0.0, 0)
    val kept = results.map { case (k, r) => (k, r.getOrElse(failed)) }
    val qs = kept.map { case (k, r) => "\"" + k + "\":" + r.sec }
      .mkString("{", ",", "}")
    // per-query job/stage/layer profile of the kept (min) run, alongside
    // the plain numeric "queries" map so existing consumers keep parsing
    val profiles = kept.map { case (k, r) => "\"" + k + "\":" + r.json }
      .mkString("{", ",", "}")
    val errors = results.collect { case (k, Left(msg)) => (k, msg) }
    val errJson = errors.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val host = s"""{"cpus":${spark.sparkContext.defaultParallelism},$hostA,$hostB}"""
    val total = kept.collect { case (_, r) if r.sec >= 0 => r.sec }.sum
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"profiles":$profiles,"errors":$errJson,"host":$host,"sf":"$sfDir"}""")
    // tail-safe lines (see tailLines): jobs (sacrificial, cut first),
    // then the COMPLETE compact seconds map, then the totals-only line
    Bench.tailLines(kept.map { case (k, r) => (k, r.sec, r.jobs) },
      errors.size, sfDir).foreach(println)
    runner.close()
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }

  /** The three TAIL-BUDGETED output lines, in print order: the driver
    * archives only the LAST ~2 KB of stdout, so everything a verdict
    * needs must fit there, complete, from the bottom up:
    *
    *  3. totals-only line LAST — always survives (BENCH_r04 lost the
    *     recorded total when the big line's head was cut);
    *  2. COMPACT full per-query seconds map second-to-last — names
    *     shortened to their unique qNN prefix; r21 carried the jobs
    *     map inside this line, which pushed it past the tail budget
    *     and cost it its head ("metric" and part of jobs were cut at
    *     134 slots).  Now seconds-ONLY, with ADAPTIVE precision: the
    *     most decimals (3, then 2, 1, 0) at which the line fits the
    *     budget — a complete coarser map beats a decapitated precise
    *     one (r21 verdict #2; BenchTailBudgetSpec pins the 150-slot
    *     fit).  If even whole seconds overflow, it throws, naming the
    *     budget, rather than print a map the tail would cut;
    *  1. per-query jobs for slow rows (sec >= 1) on their OWN line,
    *     printed FIRST so a tail cut truncates jobs, never seconds —
    *     sequential-job count is what separates a shared-machine burst
    *     from a real regression (a 9 s row with 3 jobs is a burst;
    *     with 30 jobs it is structure).  The big line's profiles map
    *     remains the full-fidelity record when it survives. */
  private[graft] def tailLines(rows: Seq[(String, Double, Int)],
                               nErrors: Int, sfDir: String): Seq[String] = {
    val prefixCount = rows.groupBy(_._1.split("_")(0)).map { case (p, g) => p -> g.size }
    def key(k: String): String = {
      val p = k.split("_")(0); if (prefixCount(p) == 1) p else k
    }
    val total = rows.collect { case (_, v, _) if v >= 0 => v }.sum
    val slowJobs = rows.collect { case (k, sec, jobs) if sec >= 1.0 =>
      "\"" + key(k) + "\":" + jobs
    }.mkString("{", ",", "}")
    val jobsLine = s"""{"metric":"per_query_jobs","jobs":$slowJobs}"""
    def compactAt(decimals: Int): String = {
      val scale = math.pow(10, decimals)
      def value(sec: Double): String =
        if (decimals == 0) math.rint(sec).toLong.toString else (math.rint(sec * scale) / scale).toString
      val entries = rows.map { case (k, sec, _) =>
        "\"" + key(k) + "\":" + value(sec)
      }.mkString("{", ",", "}")
      s"""{"metric":"per_query","unit":"sec","queries":$entries}"""
    }
    val totalLine = s"""{"metric":"total","value":${math.rint(total * 1000) / 1000},""" +
      s""""unit":"sec","n_queries":${rows.size},"n_errors":$nErrors,"sf":"$sfDir"}"""
    // budget: 2048 bytes of tail, minus the totals line, the runner's
    // trailing "[success] ..." line (~90 B), and per-line "[info] "
    // prefixes (+8 B each incl. newline) — the compact line must fit
    // WHOLE in what remains
    val budget = 2048 - (totalLine.length + 8) - 90 - 8
    val compact = (3 to 0 by -1).iterator.map(compactAt).find(_.length <= budget)
      .getOrElse(throw new IllegalStateException(
        s"per-query seconds line for ${rows.size} slots exceeds its $budget-byte share " +
          "of the 2048-byte stdout tail even at whole seconds"))
    Seq(jobsLine, compact, totalLine)
  }
}
