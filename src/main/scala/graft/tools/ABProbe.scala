package graft.tools

/** Within-JVM A/B isolation probe (r21 verdict #3: "re-measure the
  * q112/q121 fan-outs in isolation; revert if flat or worse").  Runs
  * ONE query many times, alternating a conf value between rounds
  * (A, B, A, B, …) in the same warmed session, and reports per-variant
  * mins/medians.  Alternation makes the comparison JIT- and
  * contention-fair: both variants sample the same session state, and a
  * host burst lands on both.  The conf is set on the SESSION, so slots
  * that build throwaway child sessions (newSession starts from the
  * context conf, not the parent's runtime sets) need a code-level
  * toggle instead.
  *
  * Usage: runMain graft.tools.ABProbe <querySubstr> <confKey> <valA> <valB> [rounds]
  */
object ABProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4, "args: <querySubstr> <confKey> <valA> <valB> [rounds]")
    val Array(qsub, key, valA, valB) = args.take(4)
    val rounds = if (args.length > 4) args(4).toInt else 8
    val sfDir = graft.BenchSession.sfDir
    val spark = graft.BenchSession.create()
    val (name, fn) = graft.BenchSession.select(Seq(qsub)).headOption
      .getOrElse(sys.error(s"no query matches '$qsub'"))
    def once(v: String): Double = {
      graft.BenchSession.cleanBlocks(spark)
      spark.conf.set(key, v)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val as = scala.collection.mutable.ArrayBuffer.empty[Double]
    val bs = scala.collection.mutable.ArrayBuffer.empty[Double]
    // one unrecorded warm round per variant
    once(valA); once(valB)
    (1 to rounds).foreach { r =>
      as += once(valA); bs += once(valB)
      println(f"round $r: A=${as.last}%.3f B=${bs.last}%.3f")
    }
    def stats(xs: Seq[Double]) = {
      val s = xs.sorted; (s.head, s(s.size / 2))
    }
    val (minA, medA) = stats(as.toSeq); val (minB, medB) = stats(bs.toSeq)
    println(f"""{"q":"$name","conf":"$key","A":"$valA","B":"$valB","minA":$minA%.3f,"medA":$medA%.3f,"minB":$minB%.3f,"medB":$medB%.3f}""")
    spark.stop()
  }
}
