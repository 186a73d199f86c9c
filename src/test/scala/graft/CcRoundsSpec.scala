package graft

import graft.operators.Dedup
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** connectedComponents reports its rounds through job descriptions:
  * every distributed round's jobs run under
  * `connectedComponents round <i>`, and the driver tier runs none. */
class CcRoundsSpec extends SparkSpec {

  test("distributed rounds name their jobs 1..n; the driver tier names none") {
    import spark.implicits._
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(seen.add)
    }
    spark.sparkContext.addSparkListener(listener)
    val n = 40
    val nodes = (0 until n).map(_.toLong).toDF("nid")
    val chain = (0 until n - 1).map(i => (i.toLong, (i + 1).toLong)).toDF("id_a", "id_b")
    def rounds(driverPairLimit: Int): Seq[Int] = {
      seen.clear()
      val callers = spark.sparkContext.getLocalProperty("spark.job.description")
      val comps = Dedup.connectedComponents(nodes, "nid", chain, driverPairLimit = driverPairLimit)
        .collect()
      assert(comps.length == n && comps.forall(_.getLong(1) == 0L))
      assert(spark.sparkContext.getLocalProperty("spark.job.description") == callers,
        "the caller's job description is restored")
      // the listener bus is async: wait until the description set holds still
      var last = -1
      while (last != seen.size) { last = seen.size; Thread.sleep(100) }
      import scala.jdk.CollectionConverters._
      seen.asScala.toSeq.collect {
        case d if d.startsWith("connectedComponents round ") =>
          d.stripPrefix("connectedComponents round ").toInt
      }.sorted
    }
    try {
      val distributed = rounds(0)
      assert(distributed.nonEmpty && distributed == (1 to distributed.max), distributed)
      assert(rounds(2000000).isEmpty)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
