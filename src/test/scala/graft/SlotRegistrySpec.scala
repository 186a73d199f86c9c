package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.slots.Slot

/** The slot table: each slot is one record holding its builder and its
  * oracle, so the two cannot name different slots.  What is left to
  * guard is a repeated name, the one oracle-free slot, and the names
  * the `suite` benchmark pins. */
class SlotRegistrySpec extends AnyFunSuite {

  test("the slot index rejects a repeated name and names it") {
    val build: (SparkSession, String) => DataFrame = (s, _) => s.emptyDataFrame
    val e = intercept[IllegalArgumentException] {
      Slot.index(Seq(
        Slot("q_a", "SELECT 1")(build),
        Slot("q_b", None)(build),
        Slot("q_a", "SELECT 2")(build)))
    }
    assert(e.getMessage.contains("'q_a'"), e.getMessage)
  }

  test("every slot has an oracle except the pinned snapshot slot") {
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet == Set("q95d_jpeg_neardup"))
  }

  test("every slot perfbench/suite_slots.tsv pins is in SparkEntry.queries") {
    val src = scala.io.Source.fromFile("perfbench/suite_slots.tsv", "UTF-8")
    val pinned = try src.getLines().map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")(0)).toList
    finally src.close()
    assert(pinned.nonEmpty, "no slot read from perfbench/suite_slots.tsv")
    assert(pinned.filterNot(SparkEntry.queries.contains).isEmpty)
  }
}
