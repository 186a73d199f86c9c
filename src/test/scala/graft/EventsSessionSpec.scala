package graft

import org.apache.spark.sql.functions.{col, max, min}
import org.apache.spark.sql.types.TimestampType

/** `SparkEntry.events` reads through an isolated child session that
  * holds the legacy-nanos flag and the UTC pin.  There is one child
  * per caller session, not one per read. */
class EventsSessionSpec extends SparkSpec {

  private val dir = BenchSession.sfDir

  private def tsRange(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    val r = df.agg(min(col("ts")).cast("string"), max(col("ts")).cast("string")).head()
    Seq(r.getString(0), r.getString(1))
  }

  test("events reads on one session share one reader session; another session gets its own") {
    val a = SparkEntry.events(spark, dir)
    val b = SparkEntry.events(spark, dir)
    assert(a.sparkSession eq b.sparkSession, "two reads on one session built two reader sessions")
    assert(!(a.sparkSession eq spark), "events must not read through the caller's session")
    assert(a.schema("ts").dataType == TimestampType)
    assert(a.sparkSession.conf.get("spark.sql.session.timeZone") == "UTC")

    val other = spark.newSession()
    other.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    val c = SparkEntry.events(other, dir)
    assert(!(c.sparkSession eq a.sparkSession), "a second session must get its own reader session")
    assert(c.sparkSession eq SparkEntry.events(other, dir).sparkSession)
    assert(c.sparkSession.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(tsRange(c) == tsRange(a), "the caller's time zone leaked into the events read")
  }
}
