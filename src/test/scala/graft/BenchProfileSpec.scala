package graft

import org.apache.spark.sql.functions._

/** Bench's per-slot layers: a kept run's `sec` splits into build (the
  * builder, including its eager jobs), plan (the noop write's
  * optimization and physical planning) and exec, and the jobs that
  * started while the builder ran are counted as build jobs. */
class BenchProfileSpec extends SparkSpec {

  test("a run splits into build, plan and exec that sum to its seconds, with its eager job as build") {
    val runner = new Bench.Runner(spark, "unused")
    try {
      val run = runner.runOnce { (s, _) =>
        s.sparkContext.parallelize(1 to 1000, 2).count()
        // enough operators that optimizing and planning take whole ms
        val base = s.range(0, 20000, 1, 4)
          .select((0 until 24).map(i => (col("id") * (i + 1)).as(s"c$i")): _*)
        base.join(base.select(col("c0").as("k"), col("c1").as("v")), col("c0") === col("k"))
          .groupBy(col("c0") % 7).agg(sum(col("v")), max(col("c23")), count(lit(1)))
      }.fold(e => fail(e), identity)
      assert(run.buildJobs == 1, s"build jobs: $run")
      assert(run.jobs > run.buildJobs, s"the write runs its own jobs: $run")
      assert(run.planS > 0 && run.execS > 0, s"layers: $run")
      assert(math.abs(run.buildS + run.planS + run.execS - run.sec) <= 1e-3, s"layers: $run")
      assert(run.json.contains("\"build_jobs\":1"), run.json)
    } finally runner.close()
  }
}
