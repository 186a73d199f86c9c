package graft
package slots

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Binned
import graft.SparkEntry.{t, dec2}

/** Plotting reductions: dense 1-D and 2-D histograms, binned statistics,
  * the datashader raster, first/last and mode reductions, and violin
  * densities (SURVEY §2.4, §2.11).
  * `perfbench/suite_slots.tsv` tags this family `plot`. */
object PlotSlots {

  def slots: Seq[Slot] = Seq(

    // §2.4 dense 1-D histogram (empty bins kept, bin centers labeled)
    Slot("q11_histogram",
      """WITH h AS (SELECT CASE WHEN l_extendedprice = 100000 THEN 19
        |ELSE CAST(floor(l_extendedprice / 5000.0) AS BIGINT) END AS bin, count(*) AS cnt
        |FROM lineitem WHERE l_extendedprice >= 0 AND l_extendedprice <= 100000 GROUP BY 1),
        |g AS (SELECT range AS bin FROM range(0, 20))
        |SELECT g.bin AS bin, COALESCE(h.cnt, 0) AS cnt, 0.0 + (g.bin + 0.5) * 5000.0 AS center
        |FROM g LEFT JOIN h ON g.bin = h.bin""".stripMargin.replace("\n", " "))((s, dir) => {
      val li = t(s, dir, "lineitem").df
      Binned.histogram(li, col("l_extendedprice"), 0.0, 100000.0, 20)
        .select(col("x_bin").as("bin"), col("value").as("cnt"), col("x_center").as("center"))
    }),

    // §2.4 dense 2-D weighted histogram cube
    Slot("q12_hist2d",
      """WITH h AS (SELECT
        |CASE WHEN l_quantity = 50 THEN 9 ELSE CAST(floor(l_quantity / 5.0) AS BIGINT) END AS xb,
        |CASE WHEN l_discount = 0.12 THEN 5 ELSE CAST(floor(l_discount / 0.02) AS BIGINT) END AS yb,
        |count(*) AS cnt, CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS wsum
        |FROM lineitem WHERE l_quantity >= 0 AND l_quantity <= 50
        |AND l_discount >= 0 AND l_discount <= 0.12 GROUP BY 1, 2),
        |g AS (SELECT a.range AS xb, b.range AS yb FROM range(0, 10) a, range(0, 6) b)
        |SELECT g.xb AS x_bin, g.yb AS y_bin, COALESCE(h.cnt, 0) AS cnt, h.wsum AS wsum
        |FROM g LEFT JOIN h ON g.xb = h.xb AND g.yb = h.yb""".stripMargin.replace("\n", " "))((s, dir) => {
      val li = t(s, dir, "lineitem").df
      Binned.denseCube(li,
        Seq(Binned.Axis("x", col("l_quantity"), 0.0, 50.0, 10),
            Binned.Axis("y", col("l_discount"), 0.0, 0.12, 6)),
        Seq(count(lit(1)).as("cnt"), sum(dec2(col("l_extendedprice"))).cast(DoubleType).as("wsum")),
        fill = Map("cnt" -> 0L))
        .select(col("x_bin"), col("y_bin"), col("cnt"), col("wsum"))
    }),

    // §2.4 binned statistic (per-bin mean) with dense axis
    Slot("q13_binned_stat",
      """WITH h AS (SELECT
        |CASE WHEN l_quantity = 50 THEN 9 ELSE CAST(floor(l_quantity / 5.0) AS BIGINT) END AS qb,
        |round(avg(l_extendedprice), 6) AS mean_price
        |FROM lineitem WHERE l_quantity >= 0 AND l_quantity <= 50 GROUP BY 1),
        |g AS (SELECT range AS qb FROM range(0, 10))
        |SELECT g.qb AS q_bin, h.mean_price AS mean_price, 0.0 + (g.qb + 0.5) * 5.0 AS q_center
        |FROM g LEFT JOIN h ON g.qb = h.qb""".stripMargin.replace("\n", " "))((s, dir) => {
      val li = t(s, dir, "lineitem").df
      Binned.denseCube(li,
        Seq(Binned.Axis("q", col("l_quantity"), 0.0, 50.0, 10)),
        Seq(round(avg(col("l_extendedprice")), 6).as("mean_price")))
        .select(col("q_bin"), col("mean_price"), col("q_center"))
    }),

    // §2.4 datashader-style raster aggregation (viewport + pixel grid)
    Slot("q37_raster",
      """SELECT CAST(floor(CAST(l_orderkey % 360 AS DOUBLE) / 45.0) AS BIGINT) AS px_bin,
        |CASE WHEN (l_partkey % 181) - 90 = 90 THEN 3
        |ELSE CAST(floor((CAST((l_partkey % 181) - 90 AS DOUBLE) + 90.0) / 45.0) AS BIGINT) END AS py_bin,
        |round(avg(l_extendedprice), 6) AS value
        |FROM lineitem GROUP BY 1, 2""".stripMargin.replace("\n", " "))((s, dir) => {
      val li = t(s, dir, "lineitem").df
        .withColumn("ra", (col("l_orderkey") % 360).cast(DoubleType))
        .withColumn("dec", ((col("l_partkey") % 181) - 90).cast(DoubleType))
      Binned.raster(li, col("ra"), col("dec"), 0.0, 360.0, -90.0, 90.0, 8, 4,
          "round(avg(l_extendedprice), 6)")
        .select(col("px_bin"), col("py_bin"), col("value"))
    }),

    // §2.4 datashader first/last reductions, deterministic via min_by/max_by.
    // r21 optimization note: min_by/max_by hold the STRING status in
    // their aggregation buffer, which is not hash-aggregable, so this
    // plans as SortAggregate.  A fence-lookup rewrite (hash-aggregate
    // min/max(seq) + join back) was BUILT AND REVERTED: seq is NOT
    // unique in this corpus (45,832 distinct over 60,000 rows at
    // sf0.01), so min_by's tie-broken value is not reproducible by a
    // seq-equality join (measured: 6 rows vs the oracle's 3).  The
    // sort-based aggregate over tied orderings is the semantics here.
    Slot("q38_first_last",
      """SELECT l_returnflag, count(*) AS n,
        |min_by(l_linestatus, l_orderkey * 10 + l_linenumber) AS first_status,
        |max_by(l_linestatus, l_orderkey * 10 + l_linenumber) AS last_status
        |FROM lineitem GROUP BY l_returnflag""".stripMargin.replace("\n", " "))((s, dir) => {
      val li = t(s, dir, "lineitem").df
        .withColumn("seq", col("l_orderkey") * 10 + col("l_linenumber"))
      li.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          min_by(col("l_linestatus"), col("seq")).as("first_status"),
          max_by(col("l_linestatus"), col("seq")).as("last_status"))
    }),

    // §2.4 per-variable weighted histograms over one shared grid
    // (ezdata/xarray.py:99–165 xr_histogram_df)
    Slot("q42_weighted_hist",
      """WITH h AS (SELECT CASE WHEN l_extendedprice = 100000 THEN 19
        |ELSE CAST(floor(l_extendedprice / 5000.0) AS BIGINT) END AS bin,
        |count(*) AS cnt,
        |CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS w_quantity,
        |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS w_price
        |FROM lineitem WHERE l_extendedprice >= 0 AND l_extendedprice <= 100000 GROUP BY 1),
        |g AS (SELECT range AS bin FROM range(0, 20))
        |SELECT g.bin AS bin, COALESCE(h.cnt, 0) AS cnt, h.w_quantity AS w_quantity, h.w_price AS w_price
        |FROM g LEFT JOIN h ON g.bin = h.bin""".stripMargin.replace("\n", " "))((s, dir) => {
      val li = t(s, dir, "lineitem").df
      Binned.denseCube(li,
        Seq(Binned.Axis("x", col("l_extendedprice"), 0.0, 100000.0, 20)),
        Seq(count(lit(1)).as("cnt"),
          sum(dec2(col("l_quantity"))).cast(DoubleType).as("w_quantity"),
          sum(dec2(col("l_extendedprice"))).cast(DoubleType).as("w_price")),
        fill = Map("cnt" -> 0L))
        .select(col("x_bin").as("bin"), col("cnt"), col("w_quantity"), col("w_price"))
    }),

    // §2.4 datashader `mode` reduction
    Slot("q44_mode",
      "SELECT l_returnflag, mode(l_linestatus) AS mode_status, count(*) AS n FROM lineitem GROUP BY l_returnflag")((s, dir) => {
      val li = t(s, dir, "lineitem").df
      li.groupBy(col("l_returnflag"))
        .agg(expr("mode(l_linestatus)").as("mode_status"), count(lit(1)).as("n"))
    }),

    // §2.11 violin density aggregation (plotter.py:943–955): binned
    // counts normalized to a probability density — the in-cluster curve
    // behind Plotter.violin (only `bins` points reach the driver)
    Slot("q57_violin_density",
      """WITH h AS (SELECT CASE WHEN l_quantity = 60 THEN 11
        |ELSE CAST(floor(l_quantity / 5.0) AS BIGINT) END AS bin, count(*) AS cnt
        |FROM lineitem WHERE l_quantity >= 0 AND l_quantity <= 60 GROUP BY 1),
        |g AS (SELECT range AS bin FROM range(0, 12)),
        |t AS (SELECT SUM(cnt) AS total FROM h)
        |SELECT g.bin AS bin, round(COALESCE(h.cnt, 0) / (t.total * 5.0), 6) AS density
        |FROM g LEFT JOIN h ON g.bin = h.bin CROSS JOIN t""".stripMargin.replace("\n", " "))((s, dir) => {
      val li = t(s, dir, "lineitem").df
      val h = Binned.histogram(li, dec2(col("l_quantity")).cast(DoubleType), 0.0, 60.0, 12)
      // grand total via a broadcast 1-row aggregate, NOT a
      // partitionBy(lit) window: Catalyst folds the literal key away
      // and plans a single-partition global window (WindowExec warns)
      val total = h.agg(sum(col("value")).as("_total"))
      h.crossJoin(broadcast(total)).select(col("x_bin").as("bin"),
        round(col("value").cast(DoubleType) / (col("_total") * 5.0), 6).as("density"))
    }),
  )
}
