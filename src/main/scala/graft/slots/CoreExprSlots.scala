package graft
package slots

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.EzFrame
import graft.SparkEntry.{t, tfan, events, dec2, dec4}

/** Relational and expression slots: NumPy-expression selection, grouped
  * and extended aggregation, joins (star, semi/anti, as-of, range, salted,
  * Bloom-pruned, broadcast dimension), set operations, windows, grouping
  * sets and JSON scalars (SURVEY §2.2–§2.8, §2.10).
  * `perfbench/suite_slots.tsv` tags this family `core_expr`. */
object CoreExprSlots {

  private def statsOracleFor(cols: Seq[String]): String =
    cols.map { c =>
      s"""SELECT '$c' AS col_name, round(avg($c), 6) AS mean,
         |round(stddev_samp($c), 6) AS std, min($c) AS min, max($c) AS max,
         |max(CASE WHEN isnan($c) OR $c IS NULL THEN 1 ELSE 0 END) AS has_nan
         |FROM lineitem""".stripMargin.replace("\n", " ")
    }.mkString(" UNION ALL ")

  def slots: Seq[Slot] = Seq(

    // §2.2 selectWhere: NumPy-expression predicate + projection
    Slot("q01_selectwhere",
      """SELECT l_orderkey, l_quantity, l_extendedprice, l_discount FROM lineitem
        |WHERE l_discount > 0.05 AND l_quantity * l_extendedprice > 1000""".stripMargin.replace("\n", " "))((s, dir) => {
      t(s, dir, "lineitem").selectWhere(
        "l_orderkey l_quantity l_extendedprice l_discount",
        "(l_discount > 0.05) & (l_quantity * l_extendedprice > 1000)").df
    }),

    // §2.4 grouped aggregation (TPC-H Q1 flavor) through the frame API
    Slot("q02_agg_pricing",
      """SELECT l_returnflag, l_linestatus,
        |CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |round(avg(l_quantity), 6) AS avg_qty,
        |round(avg(l_discount), 6) AS avg_disc,
        |count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin.replace("\n", " "))((s, dir) => {
      val li = tfan(s, dir, "lineitem")
      // Sums stay exact in decimal; the final cast to double is the
      // canonical cross-engine rendering (driver hashes rendered cells, and
      // DuckDB's client converts DECIMAL to float64 — Decimal vs float repr
      // of the same value hash-differ on trailing zeros).
      li.aggregate("l_returnflag l_linestatus",
        sum(dec2(li.get("l_quantity"))).cast(DoubleType).as("sum_qty"),
        sum(dec2(li.get("l_extendedprice"))).cast(DoubleType).as("sum_base_price"),
        sum(dec4(li.get("l_extendedprice") * (lit(1) - li.get("l_discount")))).cast(DoubleType).as("sum_disc_price"),
        round(avg(li.get("l_quantity")), 6).as("avg_qty"),
        round(avg(li.get("l_discount")), 6).as("avg_disc"),
        count(lit(1)).as("count_order")).df
    }),

    // §2.3 star-schema equi joins; dims broadcast
    Slot("q03_join_star",
      """SELECT n_name, c_mktsegment, count(*) AS n_items,
        |CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name, c_mktsegment""".stripMargin.replace("\n", " "))((s, dir) => {
      val li = t(s, dir, "lineitem").df
      val o = t(s, dir, "orders").df
      val c = t(s, dir, "customer").df
      val n = t(s, dir, "nation").df
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(n("n_name"), c("c_mktsegment"))
        .agg(count(lit(1)).as("n_items"),
          sum(dec4(li("l_extendedprice") * (lit(1) - li("l_discount")))).cast(DoubleType).as("revenue"))
    }),

    // §2.6 sort + limit (TakeOrderedAndProject)
    Slot("q04_sort_topk",
      "SELECT o_orderkey, o_totalprice, o_orderdate FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10")((s, dir) => {
      val o = t(s, dir, "orders").df
      o.orderBy(o("o_totalprice").desc, o("o_orderkey").asc)
        .select(o("o_orderkey"), o("o_totalprice"), o("o_orderdate"))
        .limit(10)
    }),

    // §2.7 stack / unionByName with defaults fill
    Slot("q05_union_stack",
      """SELECT c_custkey AS id, c_name AS name, c_acctbal AS acctbal,
        |c_nationkey AS nationkey, c_mktsegment AS mktsegment, 'customer' AS kind FROM customer
        |UNION ALL
        |SELECT s_suppkey, s_name, s_acctbal, s_nationkey, 'NONE', 'supplier' FROM supplier""".stripMargin.replace("\n", " "))((s, dir) => {
      val c = t(s, dir, "customer")
        .select("c_custkey c_name c_acctbal c_nationkey c_mktsegment")
        .rename("c_custkey" -> "id", "c_name" -> "name",
          "c_acctbal" -> "acctbal", "c_nationkey" -> "nationkey",
          "c_mktsegment" -> "mktsegment")
        .addColumn("kind", lit("customer"))
      val sup = t(s, dir, "supplier")
        .select("s_suppkey s_name s_acctbal s_nationkey")
        .rename("s_suppkey" -> "id", "s_name" -> "name",
          "s_acctbal" -> "acctbal", "s_nationkey" -> "nationkey")
        .addColumn("kind", lit("supplier"))
      c.stack(sup, defaults = Map("mktsegment" -> "NONE")).df
    }),

    // §2.4 nan-aware per-column stats, unpivoted
    Slot("q06_stats",
      statsOracleFor(Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")))((s, dir) => {
      val st = t(s, dir, "lineitem").stats("l_quantity l_extendedprice l_discount l_tax")
      st.select(col("column").as("col_name"),
        round(col("mean"), 6).as("mean"), round(col("std"), 6).as("std"),
        col("min"), col("max"), col("has_nan").cast(IntegerType).as("has_nan"))
    }),

    // §2.3 match: key-pair inner equi-join
    Slot("q07_match_pairs",
      "SELECT s_suppkey, c_custkey FROM supplier JOIN customer ON s_nationkey = c_nationkey")((s, dir) => {
      val sup = t(s, dir, "supplier").df
      val c = t(s, dir, "customer").df
      sup.join(c, sup("s_nationkey") === c("c_nationkey"), "inner")
        .select(sup("s_suppkey"), c("c_custkey"))
    }),

    // §2.4 groupBy on a computed NumPy expression
    Slot("q08_groupby_expr",
      """SELECT CAST(floor(l_quantity / 10) AS BIGINT) AS qty_bucket, count(*) AS n,
        |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem GROUP BY 1""".stripMargin.replace("\n", " "))((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.df.groupBy(li.evalexpr("floor(l_quantity / 10)").cast(LongType).as("qty_bucket"))
        .agg(count(lit(1)).as("n"), sum(dec2(li.get("l_extendedprice"))).cast(DoubleType).as("sum_price"))
    }),

    // §2.5 window lag (the reference's lagplot)
    Slot("q09_window_lag",
      """SELECT event_id, user_id, value,
        |lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
        |FROM events""".stripMargin.replace("\n", " "))((s, dir) => {
      val ev = events(s, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      ev.select(col("event_id"), col("user_id"), col("value"),
        lag(col("value"), 1).over(w).as("prev_value"))
    }),

    // §2.8 JSON scalar functions (events.props)
    Slot("q10_json_extract",
      "SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val FROM events")((s, dir) => {
      events(s, dir).select(col("event_id"),
        get_json_object(col("props"), "$.k").cast(LongType).as("k_val"))
    }),

    // §2.7 set ops: intersect
    Slot("q24_setops",
      "SELECT c_nationkey AS nationkey FROM customer INTERSECT SELECT s_nationkey FROM supplier")((s, dir) => {
      val c = t(s, dir, "customer").df.select(col("c_nationkey").cast(IntegerType).as("nationkey"))
      val sup = t(s, dir, "supplier").df.select(col("s_nationkey").cast(IntegerType).as("nationkey"))
      c.intersect(sup)
    }),

    // §2.5 window ranking (top-3 orders per customer)
    Slot("q25_window_rank",
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |SELECT o_custkey, o_orderkey, o_totalprice,
        |row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |FROM orders) WHERE rn <= 3""".stripMargin.replace("\n", " "))((s, dir) => {
      val o = t(s, dir, "orders").df
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey")).orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      o.select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(w).cast(LongType).as("rn"))
        .filter(col("rn") <= 3)
    }),

    // §2.3 semi/anti joins (EXISTS / NOT EXISTS)
    Slot("q29_semi_anti",
      """SELECT 'with_orders' AS kind, count(*) AS n FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders)
        |UNION ALL
        |SELECT 'without_orders' AS kind, count(*) AS n FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)""".stripMargin.replace("\n", " "))((s, dir) => {
      val c = t(s, dir, "customer").df
      val o = t(s, dir, "orders").df.select(col("o_custkey"))
      val withO = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .agg(count(lit(1)).as("n")).withColumn("kind", lit("with_orders"))
      val withoutO = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .agg(count(lit(1)).as("n")).withColumn("kind", lit("without_orders"))
      withO.unionByName(withoutO).select(col("kind"), col("n"))
    }),

    // §2.7 except (set difference)
    Slot("q30_except",
      "SELECT DISTINCT c_nationkey AS nationkey FROM customer EXCEPT SELECT s_nationkey FROM supplier")((s, dir) => {
      val c = t(s, dir, "customer").df.select(col("c_nationkey").cast(IntegerType).as("nationkey"))
      val sup = t(s, dir, "supplier").df.select(col("s_nationkey").cast(IntegerType).as("nationkey"))
      c.except(sup)
    }),

    // §2.4 extended stats: exact interpolated percentiles + variance
    Slot("q31_stats_extended",
      """SELECT round(var_samp(l_extendedprice), 6) AS variance,
        |round(quantile_cont(l_extendedprice, 0.16), 6) AS p16,
        |round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
        |round(quantile_cont(l_extendedprice, 0.84), 6) AS p84
        |FROM lineitem""".stripMargin.replace("\n", " "))((s, dir) => {
      val li = t(s, dir, "lineitem").df
      val c = col("l_extendedprice")
      // exact percentiles via distributed sort + rank selection
      // (Quantiles.exact): the built-in exact `percentile` aggregate
      // merges a value->count map of the WHOLE column into one buffer —
      // a single-task memory cliff on mostly-distinct doubles at scale
      // (and ~2 s of merge time here); results are bit-for-bit equal
      val qs = graft.operators.Quantiles.exact(li, c, Seq(0.16, 0.5, 0.84))
      li.agg(round(var_samp(c), 6).as("variance"))
        .select(col("variance"),
          round(lit(qs(0)), 6).as("p16"),
          round(lit(qs(1)), 6).as("p50"),
          round(lit(qs(2)), 6).as("p84"))
    }),

    // §2.4 multigroupby: nested grouping flattened to key columns
    Slot("q39_multigroupby",
      """SELECT l_returnflag, l_linestatus, CAST(year(l_shipdate) AS INT) AS ship_year,
        |count(*) AS n, CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem GROUP BY 1, 2, 3""".stripMargin.replace("\n", " "))((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.df.groupBy(col("l_returnflag"), col("l_linestatus"), year(col("l_shipdate")).as("ship_year"))
        .agg(count(lit(1)).as("n"), sum(dec2(col("l_extendedprice"))).cast(DoubleType).as("sum_price"))
    }),

    // §2.10 custom Aggregator (weighted mean UDAF) in a grouped query
    Slot("q43_weighted_mean",
      """SELECT l_returnflag,
        |round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 3) AS wm_price
        |FROM lineitem GROUP BY l_returnflag""".stripMargin.replace("\n", " "))((s, dir) => {
      val li = t(s, dir, "lineitem").df
      li.groupBy(col("l_returnflag"))
        .agg(round(graft.functions.Aggregators.weightedMean(
          col("l_extendedprice"), col("l_quantity")), 3).as("wm_price"))
    }),

    // §2.4 rollup (hierarchical grouping-sets extension)
    Slot("q45_rollup",
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin.replace("\n", " "))((s, dir) => {
      val li = tfan(s, dir, "lineitem").df
      li.rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sum(dec2(col("l_extendedprice"))).cast(DoubleType).as("sum_price"))
    }),

    // §2.4 full CUBE over two keys (grouping-sets family)
    Slot("q50_cube",
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin.replace("\n", " "))((s, dir) => {
      val li = tfan(s, dir, "lineitem").df
      li.cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sum(dec2(col("l_quantity"))).cast(DoubleType).as("sum_qty"))
    }),

    // §2.10 arbitrary per-group function via flatMapGroups (rows-only:
    // the per-group range computation is the typed escape hatch)
    Slot("q51_group_function",
      """SELECT l_returnflag, count(*) AS n,
        |max(l_extendedprice) - min(l_extendedprice) AS price_span
        |FROM lineitem GROUP BY l_returnflag""".stripMargin.replace("\n", " "))((s, dir) => {
      import org.apache.spark.sql.Row
      val li = t(s, dir, "lineitem")
        .select("l_returnflag l_quantity l_extendedprice")
      li.flatMapGroups("l_returnflag", StructType(Seq(
        StructField("l_returnflag", StringType),
        StructField("n", LongType),
        StructField("price_span", DoubleType)))) { (key, rows) =>
        var n = 0L; var lo = Double.MaxValue; var hi = Double.MinValue
        rows.foreach { r =>
          n += 1
          val p = r.getDouble(2)
          if (p < lo) lo = p
          if (p > hi) hi = p
        }
        Iterator(Row(key.head.asInstanceOf[String], n, hi - lo))
      }
    }),

    // as-of join: each error event picks the latest prior purchase
    // value of the same user (union + carry-forward window; one
    // shuffle, not a theta join)
    Slot("q52_asof_join",
      """SELECT e.event_id, e.user_id, p.value AS prior_purchase
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') e
        |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
        |ON e.user_id = p.user_id AND e.ts >= p.ts""".stripMargin.replace("\n", " "))((s, dir) => {
      val ev = events(s, dir)
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
      operators.Relational.asofJoin(errors, purchases, Seq("user_id"),
          "ts", "ts", Map("value" -> "prior_purchase"))
        .select(col("event_id"), col("user_id"), col("prior_purchase"))
    }),

    // range join: error events with purchases of the same user within
    // 10 minutes (bucketed equi-join, no nested loop)
    Slot("q53_range_join",
      """SELECT e.event_id, e.user_id, p.event_id AS purchase_event_id
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') e
        |JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
        |ON e.user_id = p.user_id
        |AND abs(epoch_us(e.ts) - epoch_us(p.ts)) <= 600000000""".stripMargin.replace("\n", " "))((s, dir) => {
      val ev = events(s, dir)
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
      operators.Relational.rangeJoin(errors, purchases, Seq("user_id"),
          "ts", "ts", windowSec = 600L, Map("event_id" -> "purchase_event_id"))
        .select(col("event_id"), col("user_id"), col("purchase_event_id"))
    }),

    // §2.3 the EzFrame.join surface itself (left outer, suffix handling)
    // through the gate: customers with their order counts
    Slot("q55_ezframe_join",
      """SELECT c_mktsegment, count(o_orderkey) AS n_orders,
        |count(DISTINCT c_custkey) AS n_cust
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_mktsegment""".stripMargin.replace("\n", " "))((s, dir) => {
      val c = t(s, dir, "customer").select("c_custkey c_mktsegment")
      val o = t(s, dir, "orders").select("o_orderkey o_custkey")
      c.join(o, leftOn = "c_custkey", rightOn = "o_custkey", how = "left_outer")
        .aggregate("c_mktsegment",
          count(col("o_orderkey")).as("n_orders"),
          count_distinct(col("c_custkey")).as("n_cust")).df
    }),

    // custom physical operator: per-key top-k (partial bounded buffers
    // below the shuffle, final phase above — 2.4x the window plan);
    // ordered by the unique orderkey so results are tie-free
    Slot("q56_topk_per_key",
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |SELECT o_custkey, o_orderkey, o_totalprice,
        |row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey DESC) AS rn
        |FROM orders) WHERE rn <= 3""".stripMargin.replace("\n", " "))((s, dir) => {
      val o = t(s, dir, "orders").df
      graft.plans.TopK.perKey(o, Seq("o_custkey"), "o_orderkey", k = 3, descending = true)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
    }),

    // §2.4 distinct aggregation (exact; HLL approx_count_distinct is the
    // scale-out variant, not oracle-comparable across engines)
    Slot("q54_distinct_agg",
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        |count(DISTINCT l_suppkey) AS n_supps, count(*) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin.replace("\n", " "))((s, dir) => {
      val li = t(s, dir, "lineitem").df
      li.groupBy(col("l_returnflag"))
        .agg(count_distinct(col("l_partkey")).as("n_parts"),
          count_distinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n"))
    }),

    // Skew-hardened salted join: semantics-preserving by construction,
    // so the oracle is the PLAIN join — the salt must never leak into
    // results.  Probe orders x build customer on custkey (the
    // skew-prone key of the rehearsal corpus), salts=8, spread by the
    // probe's orderkey (varies within a customer).
    Slot("q101_salted_join",
      // salted-join mirror: the plain equi-join — salting is an internal
      // partitioning trick and must be invisible in the results
      """SELECT c_mktsegment, count(*)::BIGINT AS n_orders,
        |CAST(sum(o_totalprice::DECIMAL(20,2)) AS DOUBLE) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin.replace("\n", " "))((s, dir) => {
      val o = t(s, dir, "orders").df
      val c = t(s, dir, "customer").df
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      // exact decimal sum, rendered as double (the q02 convention)
      operators.Relational.saltedJoin(o, c, Seq("o_custkey"), col("o_orderkey"), salts = 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(20, 2))).cast(DoubleType).as("sum_price"))
    }),

    // §2.3 fact⋈dimension broadcast join — the one corpus table no
    // other slot reads (part): TPC-H Q14/Q19-flavored revenue rollup.
    // part is a bounded dimension at ANY scale factor (catalog-sized),
    // so the explicit broadcast() keeps the 100 TB fact side
    // shuffle-free — the join is a map-side hash probe in the scan
    // stage, and the groupBy's map-side combine collapses to
    // (25 brands × 6 types) rows per partition before the exchange.
    Slot("q124_part_dim_join",
      """SELECT p_brand, p_type, count(*) AS n_items,
        |CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size <= 20 GROUP BY p_brand, p_type""".stripMargin.replace("\n", " "))((s, dir) => {
      val li = t(s, dir, "lineitem").df
      val part = t(s, dir, "part").df.filter(col("p_size") <= 20)
      li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"))
        .agg(count(lit(1)).as("n_items"),
          sum(dec2(col("l_quantity"))).cast(DoubleType).as("sum_qty"),
          sum(dec4(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .cast(DoubleType).as("revenue"))
    }),

    // Bloom-pruned shuffle join (small-side key filter rides the big
    // side's scan stage, shrinking its exchange; exact by construction
    // — the join re-verifies, so the oracle is the PLAIN join)
    Slot("q105_bloom_join",
      // bloom-join mirror: the PLAIN join — pruning must be invisible
      """SELECT l_returnflag, count(*) AS n_items,
        |CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin.replace("\n", " "))((s, dir) => {
      val li = t(s, dir, "lineitem").df
      val urgent = t(s, dir, "orders").df
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey").as("l_orderkey"), col("o_custkey"))
      operators.Relational.bloomPrunedJoin(li, urgent, Seq("l_orderkey"), fpp = 0.01)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
          sum(dec4(col("l_extendedprice") * (lit(1) - col("l_discount")))).cast(DoubleType).as("revenue"))
        .orderBy(col("l_returnflag"))
    }),
  )
}
