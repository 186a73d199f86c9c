package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler._

import scala.collection.mutable

/** In-memory spans around the benchmark's calls into each layer.
  *
  * A span has a name, a start, an end and the span that caused it.  While a
  * span is open, its id is the thread's Spark job group, so a listener can
  * attribute jobs, stages and task metrics to the innermost open span.  With
  * tracing off, `span` only evaluates its body: no listener is registered and
  * no job group is set. */
final class Tracer(spark: SparkSession, val on: Boolean) {
  final case class Span(id: Int, name: String, parent: Int, start: Long, var end: Long = 0L)

  final class Counters {
    var jobs, stages, tasks = 0L
    var shuffleWriteBytes, spillBytes, cpuNs, gcMs = 0L
  }

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private val counters = mutable.HashMap.empty[Int, Counters] // listener thread only
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val GroupPrefix = "perfbench-"
  private val sc = spark.sparkContext

  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(GroupPrefix)).map(_.stripPrefix(GroupPrefix).toInt)

  private def counter(id: Int): Counters = counters.getOrElseUpdate(id, new Counters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOf(e.properties).foreach { id =>
        counter(id).jobs += 1
        e.stageIds.foreach(s => stageSpan(s) = id)
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSpan.get(e.stageInfo.stageId).foreach(id => counter(id).stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageSpan.get(e.stageId).foreach { id =>
        val c = counter(id)
        c.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.diskBytesSpilled
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
        }
      }
  }
  if (on) sc.addSparkListener(listener)

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, name, stack.headOption.getOrElse(-1), System.nanoTime())
      spans += s
      stack = s.id :: stack
      sc.setJobGroup(GroupPrefix + s.id, name)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(GroupPrefix + p, spans(p).name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Marks where the timed phase starts: spans opened before it (set-up,
    * warm-up) are left out of the layer figures. */
  var timedFrom = 0

  def drain(): Unit = if (on) org.apache.spark.PerfbenchBus.drain(sc)

  private def dur(s: Span): Double = (s.end - s.start) / 1e9
  private def timed: Seq[Span] = spans.toSeq.drop(timedFrom)

  /** The generic layer a span belongs to. */
  private def layerOf(name: String): String = name match {
    case "build" | "store.resolve" => "build"
    case "plan" => "plan"
    case "exec" | "read.exec" | "store.stage" | "store.compact" => "exec"
    case _ => "other"
  }

  /** Wall seconds of the timed spans with a given name, summed. */
  def wall(name: String): Double = timed.filter(_.name == name).map(dur).sum

  /** Wall seconds of the timed top-level spans whose name is keyed by `key`. */
  def wallOfOps(key: String => Option[String]): Map[String, Double] =
    timed.filter(_.parent < 0).flatMap(s => key(s.name).map(_ -> dur(s)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }

  /** Smallest share of a top-level op's wall time that its child spans
    * cover (1.0 when every op is fully covered). */
  def coverage: Double = {
    val kids = timed.groupBy(_.parent)
    val shares = timed.filter(s => s.parent < 0 && kids.contains(s.id)).map { op =>
      kids(op.id).map(dur).sum / math.max(dur(op), 1e-9)
    }
    if (shares.isEmpty) 1.0 else shares.min
  }

  /** The generic per-layer figures over the timed phase. */
  def layers(processCpuS: Double, wallS: Double, cores: Int): Map[String, Double] = {
    drain()
    val t = timed
    def sumC(ss: Seq[Span])(f: Counters => Long): Long =
      ss.flatMap(s => counters.get(s.id)).map(f).sum
    val buildSpans = t.filter(s => layerOf(s.name) == "build")
    val execSpans = t.filterNot(s => layerOf(s.name) == "build")
    Map(
      "build.wall_s" -> buildSpans.map(dur).sum,
      "build.jobs" -> sumC(buildSpans)(_.jobs).toDouble,
      "plan.wall_s" -> t.filter(s => layerOf(s.name) == "plan").map(dur).sum,
      "exec.wall_s" -> t.filter(s => layerOf(s.name) == "exec").map(dur).sum,
      "exec.jobs" -> sumC(execSpans)(_.jobs).toDouble,
      "exec.stages" -> sumC(execSpans)(_.stages).toDouble,
      "exec.tasks" -> sumC(execSpans)(_.tasks).toDouble,
      "exec.shuffle_write_mb" -> sumC(t)(_.shuffleWriteBytes) / 1e6,
      "exec.spill_mb" -> sumC(t)(_.spillBytes) / 1e6,
      "exec.task_cpu_s" -> sumC(t)(_.cpuNs) / 1e9,
      "exec.gc_s" -> sumC(t)(_.gcMs) / 1e3,
      "host.cpu_util" -> processCpuS / math.max(wallS * cores, 1e-9),
      "trace.coverage" -> coverage)
  }

  /** Every span with its counters, for the trace file. */
  def dump: Seq[Map[String, Any]] = {
    drain()
    spans.toSeq.map { s =>
      val c = counters.getOrElse(s.id, new Counters)
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ns" -> s.start, "end_ns" -> s.end, "jobs" -> c.jobs, "stages" -> c.stages,
        "tasks" -> c.tasks, "shuffle_write_bytes" -> c.shuffleWriteBytes,
        "spill_bytes" -> c.spillBytes, "task_cpu_ns" -> c.cpuNs, "gc_ms" -> c.gcMs)
    }
  }
}

/** Process and host readings from /proc. */
object Host {
  private def read(path: String): String =
    try new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
    catch { case _: java.io.IOException => "" }

  /** User+sys CPU seconds of this process. */
  def processCpuS: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
      case _ => Double.NaN
    }

  /** Peak resident set (VmHWM) of this process, in MB. */
  def peakRssMb: Double =
    read("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  /** Sum of the heap pools' peak usage since start, in MB: the heap the
    * program touched, which VmHWM also holds with native and off-heap use. */
  def peakHeapMb: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed.toDouble).sum / (1024.0 * 1024.0)
  }

  def loadavg: String = read("/proc/loadavg").trim

  /** busy / (busy + steal) between two `cpuTicks` readings: the share of
    * the CPU time the VM's busy CPUs wanted that they got. */
  def runShare(t0: (Long, Long, Long), t1: (Long, Long, Long)): Double = {
    val steal = t1._2 - t0._2
    val busy = (t1._3 - t0._3) - (t1._1 - t0._1) - steal
    if (busy + steal <= 0) 1.0 else busy.toDouble / (busy + steal)
  }

  /** (idle, steal, total) jiffies of the whole host, from the first line of /proc/stat. */
  def cpuTicks: (Long, Long, Long) = {
    val f = read("/proc/stat").linesIterator.find(_.startsWith("cpu ")).map(
      _.trim.split("\\s+").drop(1).map(_.toLong)).getOrElse(Array.fill(8)(0L))
    def at(i: Int) = if (i < f.length) f(i) else 0L
    (at(3) + at(4), at(7), f.take(8).sum)
  }
}

/** Order statistics of timing samples. */
object Stats {
  /** The middle sample, or the mean of the two middle samples. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** Minimal JSON encoder for the run record. */
object Json {
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1)
        .map { case (k, x) => quote(k) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
}
