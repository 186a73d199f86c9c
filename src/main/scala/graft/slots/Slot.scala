package graft.slots

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One slot of the query surface: its name, the DuckDB SQL its rows
  * are checked against (`None` for a slot pinned only by a golden
  * snapshot), and the Spark builder that makes its frame from a session
  * and a corpus directory. */
final case class Slot(name: String, oracle: Option[String])(
    val build: (SparkSession, String) => DataFrame)

object Slot {

  def apply(name: String, oracle: String)(build: (SparkSession, String) => DataFrame): Slot =
    Slot(name, Some(oracle))(build)

  /** Name → slot.  Fails on a repeated name and names it: a `Map` built
    * from pairs would keep the last of the two without a word. */
  def index(slots: Seq[Slot]): Map[String, Slot] =
    slots.foldLeft(Map.empty[String, Slot]) { (byName, slot) =>
      require(!byName.contains(slot.name), s"slot '${slot.name}' is declared twice")
      byName.updated(slot.name, slot)
    }
}
