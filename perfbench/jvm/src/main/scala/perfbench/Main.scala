package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}

/** One timed run of an operation: wall seconds, process CPU seconds, and
  * the share of the CPU time the VM's busy CPUs wanted that they got (the
  * rest the hypervisor gave to other guests: steal). */
final case class OpRun(wallS: Double, cpuS: Double, share: Double) {
  /** The wall time without the stolen share. */
  def ownS: Double = wallS * share
}

/** One workload's fixed operation set, run in whole rounds by [[Main]]. */
trait Workload {
  /** Makes the inputs and runs one warm-up execution of every operation type. */
  def setup(): Unit
  /** Runs the workload's fixed operation set once; `r` numbers the rounds. */
  def round(r: Int): Unit
  /** Operations attempted and failed, work items done (slots, documents,
    * rows) and each keyed operation's timed runs, all since the last
    * `startTimed`.  Every round runs the same keyed operations. */
  var attempted = 0L
  var failed = 0L
  var items = 0L
  val samples = scala.collection.mutable.LinkedHashMap.empty[String, scala.collection.mutable.ArrayBuffer[OpRun]]
  /** Runs `body` as one run of the operation `key` and keeps the run if
    * `keep` accepts its result. */
  def timed[T](key: String, keep: T => Boolean = (_: T) => true)(body: => T): T = {
    val (w0, c0, t0) = (System.nanoTime(), Host.processCpuS, Host.cpuTicks)
    val result = body
    val (w1, c1, t1) = (System.nanoTime(), Host.processCpuS, Host.cpuTicks)
    if (keep(result))
      samples.getOrElseUpdate(key, scala.collection.mutable.ArrayBuffer.empty) +=
        OpRun((w1 - w0) / 1e9, c1 - c0, Host.runShare(t0, t1))
    result
  }
  /** The workload's unit-operation latency (a slot, a pass, a commit) from
    * each keyed operation's fastest time. */
  def unitOpS(fastest: collection.Map[String, Double]): Double
  /** The first distinct reasons operations failed. */
  val failures = scala.collection.mutable.ArrayBuffer.empty[String]
  def fail(reason: String): Unit = {
    failed += 1
    if (failures.size < 20 && !failures.contains(reason)) failures += reason
  }
  def startTimed(): Unit = {
    attempted = 0; failed = 0; items = 0; samples.clear(); failures.clear()
  }
  /** Checks what the timed operations' own checks cannot see (written
    * outputs, stores after maintenance), and that every checker rejects a
    * perturbed output.  Returns the errors. */
  def check(): Seq[String]
  /** Workload-specific figures for the run record. */
  def figures: Map[String, Any] = Map.empty
  /** Workload-specific per-layer figures of a traced run. */
  def layerFigures(t: Tracer): Map[String, Double] = Map.empty
}

/** The benchmark's JVM side: one workload, one seed, one fresh session.
  *
  * {{{
  * perfbench.Main --workload suite|corpus|ingest --seed N --seconds S --trace 0|1
  *                --out RUN_DIR --cores K [--data TABLES_DIR --slots SLOTS_TSV]
  * perfbench.Main --list-slots OUT_FILE
  * }}}
  *
  * Set-up runs from `main` to the first timed operation.  The timed phase
  * runs whole rounds until `--seconds` have passed, then the outputs are
  * checked and `RUN_DIR/record.json` is written (and `trace.json` when
  * traced). */
object Main {
  private val started = System.nanoTime()
  /** A progress line on stderr, with seconds since `main` started. */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${(System.nanoTime() - started) / 1e9}%7.2f s] $msg")

  def session(cores: Int, out: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drops every cached frame and persisted RDD, so one operation's leftover
    * blocks never press on the next one's memory. */
  def cleanBlocks(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  private def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap

  def main(args: Array[String]): Unit = {
    val opt = parse(args)
    opt.get("list-slots") match {
      case Some(path) => listSlots(path); return
      case None =>
    }
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val out = opt("out")
    val cores = opt("cores").toInt
    Files.createDirectories(Paths.get(out))

    val spark = session(cores, out)
    log("session up")
    val tracer = new Tracer(spark, traced)
    val wl: Workload = workload match {
      case "suite" =>
        new Suite(spark, tracer, opt("data"), opt("slots"), seed, out)
      case "corpus" => new Corpus(spark, tracer, seed, out)
      case "ingest" => new Ingest(spark, tracer, seed, out)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    wl.setup()
    log("set-up done")
    wl.startTimed()
    tracer.timedFrom = tracer.spans.size
    val setupS = (System.nanoTime() - started) / 1e9

    val load0 = Host.loadavg
    val (idle0, steal0, total0) = Host.cpuTicks
    val cpu0 = Host.processCpuS
    val start = System.nanoTime()
    // per round: wall seconds and process CPU seconds
    val roundS, roundCpuS = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (roundS.size < 2 || System.nanoTime() - start < seconds * 1e9) {
      val (r0, cpuR0) = (System.nanoTime(), Host.processCpuS)
      wl.round(roundS.size)
      roundS += (System.nanoTime() - r0) / 1e9
      roundCpuS += Host.processCpuS - cpuR0
    }
    val rounds = roundS.size
    val wallS = (System.nanoTime() - start) / 1e9
    val cpuS = Host.processCpuS - cpu0
    val (idle1, steal1, total1) = Host.cpuTicks
    val load1 = Host.loadavg
    val hz = 100.0 // USER_HZ on Linux

    log(s"timed phase done: $rounds rounds")
    val errors = wl.check()
    log("checks done")
    // Each operation's fastest run over the timed rounds, with the time
    // the hypervisor stole from the VM taken out of every run.  Steal,
    // neighbours on the host and the JIT still warming only ever add time,
    // so an operation's fastest run is its least disturbed one; a slower
    // program slows every run.  A round's time is the sum of its
    // operations' fastest runs, and its CPU the sum of their least CPU.
    val fastest = wl.samples.map { case (k, v) => k -> v.map(_.ownS).min }
    val roundEstS = fastest.values.sum
    val metrics = Map(
      "setup_s" -> setupS,
      "peak_rss_mb" -> Host.peakRssMb,
      "cpu_s" -> wl.samples.values.map(_.map(_.cpuS).min).sum,
      "work_per_s" -> wl.items / rounds.toDouble / roundEstS,
      "op_p50_s" -> wl.unitOpS(fastest))
    val layers =
      if (traced) tracer.layers(cpuS, wallS, cores) ++ wl.layerFigures(tracer) else Map.empty
    val record = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "cores" -> cores, "rounds" -> rounds, "round_s" -> roundS, "round_cpu_s" -> roundCpuS,
      "round_fastest_ops_s" -> roundEstS, "timed_wall_s" -> wallS, "process_cpu_s" -> cpuS,
      "attempted" -> wl.attempted, "failed" -> wl.failed, "failures" -> wl.failures,
      "items" -> wl.items,
      "errors" -> errors, "metrics" -> metrics,
      "op_samples" -> wl.samples.map { case (k, v) => k -> v.map(r => Seq(r.wallS, r.cpuS, r.share)) },
      "op_fastest_s" -> fastest,
      "host" -> Map("loadavg_start" -> load0, "loadavg_end" -> load1,
        "steal_s" -> (steal1 - steal0) / hz, "idle_s" -> (idle1 - idle0) / hz,
        "all_cpu_s" -> (total1 - total0) / hz, "nproc" -> Runtime.getRuntime.availableProcessors,
        "heap_peak_mb" -> Host.peakHeapMb),
      "figures" -> wl.figures, "layers" -> layers)
    Files.writeString(Paths.get(out, "record.json"), Json(record))
    if (traced) Files.writeString(Paths.get(out, "trace.json"), Json(Map("spans" -> tracer.dump)))
    spark.stop()
  }

  /** Writes every `SparkEntry.queries` slot name, tab, 1 if it has an oracle SQL. */
  private def listSlots(path: String): Unit = {
    val oracle = graft.SparkEntry.oracleSql.keySet
    val lines = graft.SparkEntry.queries.keys.toSeq.sorted
      .map(n => s"$n\t${if (oracle(n)) 1 else 0}")
    Files.writeString(Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}
