package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SparkEntry.queries` and `SparkEntry.oracleSql` are parallel
  * name-keyed maps: a renamed or deleted slot must not leave an orphan
  * oracle, and a new slot must not ship without one. */
class SlotRegistrySpec extends AnyFunSuite {
  private val slots = SparkEntry.queries.keySet
  private val oracles = SparkEntry.oracleSql.keySet

  test("every oracle names a slot") {
    assert((oracles -- slots).isEmpty)
  }

  test("every slot has an oracle except the pinned snapshot slot") {
    assert(slots -- oracles == Set("q95d_jpeg_neardup"))
  }
}
