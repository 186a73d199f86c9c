package graft.core

import org.apache.spark.sql.SparkSession

object Jobs {

  /** Runs `body` with its jobs described as `what`, restoring the
    * caller's description after.  A phase named this way can be
    * counted from `SparkListenerJobStart` properties without a rerun. */
  def describing[T](spark: SparkSession, what: String)(body: => T): T = {
    val sc = spark.sparkContext
    val saved = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(what)
    try body finally sc.setJobDescription(saved)
  }
}
