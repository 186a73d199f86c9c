package graft
package slots

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkEntry.{t, events, scratchDir}

/** Memory-bounded sketch slots: exact quantile gates, GK quantiles,
  * SpaceSaving heavy hitters, HLL distinct counts, and the persisted-
  * sketch accounting trio.
  * `perfbench/suite_slots.tsv` tags this family `sketch`. */
object SketchSlots {

  def slots: Seq[Slot] = Seq(

    // M6 corpus-relative length gate: keep docs inside the exact
    // [p10, p90] n_chars band (data-derived thresholds, scan-stage
    // predicate; exact quantiles via sort + rank selection)
    Slot("q78_quantile_gate",
      // mirrors Quantiles.exact's Percentile.getPercentile arithmetic —
      // the weighted-average form ((hi-pos)*vlo + (pos-flo)*vhi), NOT
      // quantile_cont's lo + frac*(hi-lo): they differ in the last ulp,
      // and a threshold over integer n_chars flips row membership on it
      // quantile positions in DOUBLE, as Quantiles.exact (Spark's
      // Percentile) computes them: DuckDB types [0.1, 0.9] as DECIMAL(2,1),
      // and the exact-decimal pos interpolates two equal neighbours one ulp
      // high (89.00000000000001), dropping every row AT the threshold
      """WITH ordv AS (SELECT CAST(n_chars AS DOUBLE) AS v,
        |row_number() OVER (ORDER BY n_chars) - 1 AS rk FROM documents),
        |cnt AS (SELECT count(*) AS n FROM documents),
        |pp AS (SELECT unnest([0.1, 0.9]::DOUBLE[]) AS p, unnest([0.1, 0.9]::DOUBLE[]) * (n - 1) AS pos FROM cnt),
        |th AS (SELECT p, CASE WHEN flo = chi THEN vlo
        |ELSE (chi - pos) * vlo + (pos - flo) * vhi END AS t
        |FROM (SELECT p, pos, floor(pos)::BIGINT AS flo, ceil(pos)::BIGINT AS chi,
        |(SELECT v FROM ordv WHERE rk = floor(pos)::BIGINT) AS vlo,
        |(SELECT v FROM ordv WHERE rk = ceil(pos)::BIGINT) AS vhi FROM pp))
        |SELECT doc_id, n_chars FROM documents
        |WHERE n_chars >= (SELECT t FROM th WHERE p = 0.1)
        |AND n_chars <= (SELECT t FROM th WHERE p = 0.9)""".stripMargin.replace("\n", " "))((s, dir) => {
      val d = t(s, dir, "documents").df
      graft.operators.Quantiles.filterByQuantile(d, col("n_chars"), 0.1, 0.9)
        .select(col("doc_id"), col("n_chars"))
    }),

    // M6 per-language tail trim: keep each lang's own [p10, p90]
    // percent_rank band of n_chars (rank-based, no float hazard)
    Slot("q82_quantile_gate_grouped",
      """WITH r AS (SELECT doc_id, lang, n_chars,
        |percent_rank() OVER (PARTITION BY lang ORDER BY n_chars) AS pr FROM documents)
        |SELECT doc_id, lang, n_chars FROM r
        |WHERE pr >= 0.1 AND pr <= 0.9""".stripMargin.replace("\n", " "))((s, dir) => {
      val d = t(s, dir, "documents").df
      graft.operators.Quantiles.filterByQuantilePerGroup(
          d, col("lang"), col("n_chars"), 0.1, 0.9)
        .select(col("doc_id"), col("lang"), col("n_chars"))
    }),

    // M6 curriculum buckets: n_chars decile within each language
    // (deterministic ntile — doc_id tiebreak), the difficulty-binning
    // step of staged training
    Slot("q84_quality_buckets",
      """SELECT doc_id, lang, n_chars,
        |CAST(ntile(10) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS BIGINT) AS bucket
        |FROM documents""".stripMargin.replace("\n", " "))((s, dir) => {
      val d = t(s, dir, "documents").df
      graft.operators.Quantiles.ntileBuckets(
          d, col("lang"), col("n_chars"), col("doc_id"), n = 10)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("bucket").cast(LongType).as("bucket"))
    }),

    // Memory-bounded heavy hitters (SpaceSaving per partition, merged
    // with exact error intervals).  Gated in the provably-exact regime
    // (per-partition distinct <= capacity -> no eviction -> n_lower ==
    // n_upper == the true count), so the oracle is a plain grouped
    // count; the approximate regime's bounds are spec-pinned.
    Slot("q102_heavy_hitters",
      // heavy-hitters mirror: exact-regime SpaceSaving degenerates to the
      // plain grouped count with collapsed bounds
      """WITH k AS (SELECT lang || ':' || (n_chars % 10) AS item
        |FROM documents WHERE lang IS NOT NULL)
        |SELECT item, count(*)::BIGINT AS n_lower, count(*)::BIGINT AS n_upper
        |FROM k GROUP BY item ORDER BY n_upper DESC, item LIMIT 10""".stripMargin.replace("\n", " "))((s, dir) => {
      val d = t(s, dir, "documents").df
      val key = concat(col("lang"), lit(":"), pmod(col("n_chars"), lit(10)))
      operators.HeavyHitters.topK(d, key, k = 10, capacity = 64)
    }),

    // Per-GROUP heavy hitters (mergeable SpaceSaving as a typed
    // Aggregator under groupBy — summaries move, the key stream never
    // shuffles raw).  Exact regime: capacity 64 >= distinct keys per
    // source, so intervals collapse and the oracle is the grouped
    // count + per-group window top-k with the same (upper desc, item)
    // tie order.
    Slot("q117_group_heavy_hitters",
      // group-heavy-hitters mirror: exact regime collapses the intervals
      // to the grouped count; per-group window top-3 with the same
      // (upper desc, item) tie order
      """WITH k AS (SELECT source, lang || ':' || (n_chars % 10) AS item
        |FROM documents WHERE lang IS NOT NULL),
        |c AS (SELECT source, item, count(*)::BIGINT AS n FROM k GROUP BY 1, 2),
        |r AS (SELECT source, item, n,
        |row_number() OVER (PARTITION BY source ORDER BY n DESC, item) AS rn FROM c)
        |SELECT source, item, n AS n_lower, n AS n_upper FROM r WHERE rn <= 3""".stripMargin.replace("\n", " "))((s, dir) => {
      val d = t(s, dir, "documents").df
      val key = concat(col("lang"), lit(":"), pmod(col("n_chars"), lit(10)))
      operators.HeavyHitters.groupTopK(d, Seq(col("source")), key, k = 3, capacity = 64)
        .orderBy(col("source"), col("n_upper").desc, col("item"))
    }),

    // Memory-bounded quantiles (mergeable GK-style rank summary; exact
    // regime: distinct <= capacity collapses every interval to the true
    // cumulative count, independent of partitioning and merge order)
    Slot("q103_quantile_sketch",
      // quantile-sketch mirror: exact-regime summary = discrete lower
      // quantile off explicit cumulative counts, collapsed rank bounds
      """WITH vals AS (SELECT (n_chars % 512)::DOUBLE AS v FROM documents),
        |cnt AS (SELECT v, count(*) AS k FROM vals GROUP BY v),
        |cc AS (SELECT v, sum(k) OVER (ORDER BY v) AS cum FROM cnt),
        |nn AS (SELECT count(*)::BIGINT AS n FROM vals),
        |ps AS (SELECT unnest([0.16, 0.5, 0.84]) AS p),
        |tg AS (SELECT p, greatest(1, cast(ceil(p * nn.n) AS BIGINT)) AS target FROM ps, nn),
        |sel AS (SELECT tg.p, tg.target, min(cc.v) AS value FROM tg JOIN cc ON cc.cum >= tg.target GROUP BY tg.p, tg.target)
        |SELECT sel.p AS p, sel.value AS value, cc.cum::BIGINT AS rank_lo,
        |cc.cum::BIGINT AS rank_hi, sel.target AS target_rank
        |FROM sel JOIN cc ON cc.v = sel.value ORDER BY p""".stripMargin.replace("\n", " "))((s, dir) => {
      val d = t(s, dir, "documents").df
      operators.QuantileSketch.quantiles(
        d, pmod(col("n_chars"), lit(512)).cast("double"),
        ps = Seq(0.16, 0.5, 0.84), capacity = 1024)
    }),

    // Per-group memory-bounded quantiles (same mergeable summary behind
    // the typed Aggregator surface — the exchange moves one bounded
    // summary per (group, mapper), never the values)
    Slot("q106_group_quantile",
      // group-quantile mirror: exact-regime per-group summary = discrete
      // lower median off per-group cumulative counts, collapsed bounds
      """WITH vals AS (SELECT lang, (n_chars % 512)::DOUBLE AS v FROM documents),
        |cnt AS (SELECT lang, v, count(*) AS k FROM vals GROUP BY lang, v),
        |cc AS (SELECT lang, v, sum(k) OVER (PARTITION BY lang ORDER BY v) AS cum FROM cnt),
        |nn AS (SELECT lang, count(*)::BIGINT AS n FROM vals GROUP BY lang),
        |tg AS (SELECT lang, greatest(1, cast(ceil(0.5 * n) AS BIGINT)) AS target FROM nn),
        |sel AS (SELECT tg.lang, tg.target, min(cc.v) AS value FROM tg
        |JOIN cc ON cc.lang = tg.lang AND cc.cum >= tg.target GROUP BY tg.lang, tg.target)
        |SELECT sel.lang AS lang, sel.value AS value, cc.cum::BIGINT AS rank_lo,
        |cc.cum::BIGINT AS rank_hi, true AS exact
        |FROM sel JOIN cc ON cc.lang = sel.lang AND cc.v = sel.value ORDER BY lang""".stripMargin.replace("\n", " "))((s, dir) => {
      val d = t(s, dir, "documents").df
      d.groupBy(col("lang"))
        .agg(operators.QuantileSketch.groupQuantile(
          pmod(col("n_chars"), lit(512)).cast("double"), p = 0.5, capacity = 1024).as("q"))
        .select(col("lang"), col("q.value").as("value"),
          col("q.rank_lo").as("rank_lo"), col("q.rank_hi").as("rank_hi"),
          col("q.exact").as("exact"))
        .orderBy(col("lang"))
    }),

    // Persistable SpaceSaving sketches — the heavy-hitter member of
    // the incremental trio (q118 HLL, q119 GK): per-source summaries
    // stored as binary, merged from the stored table alone into the
    // global top-10.  Exact regime (distinct keys < capacity in every
    // source AND globally), so the oracle is the grouped count.
    Slot("q120_ss_accounting",
      // ss-accounting mirror: q102's grouped-count SQL — the stored
      // per-source sketches' merge must collapse to exact counts
      """WITH k AS (SELECT lang || ':' || (n_chars % 10) AS item
        |FROM documents WHERE lang IS NOT NULL)
        |SELECT item, count(*)::BIGINT AS n_lower, count(*)::BIGINT AS n_upper
        |FROM k GROUP BY item ORDER BY n_upper DESC, item LIMIT 10""".stripMargin.replace("\n", " "))((s, dir) => {
      val d = t(s, dir, "documents").df
      val key = concat(col("lang"), lit(":"), pmod(col("n_chars"), lit(10)))
      val perSource = d.groupBy(col("source"))
        .agg(operators.HeavyHitters.ssSketch(key, capacity = 64).as("sketch"))
      val sketchDir = s"${scratchDir("q120_sketches")}/by_source"
      perSource.write.mode("overwrite").parquet(sketchDir)
      s.read.parquet(sketchDir)
        .agg(operators.HeavyHitters.ssMerge(col("sketch"), capacity = 64).as("total"))
        .select(explode(operators.HeavyHitters.ssTopK(col("total"), 10)).as("h"))
        .select(col("h.item"), col("h.n_lower"), col("h.n_upper"))
        .orderBy(col("n_upper").desc, col("item"))
    }),

    // Persistable GK sketches (the quantile twin of q118's story):
    // per-source rank summaries stored as binary, merged from the
    // stored table alone into global quantiles.  Exact regime (512
    // distinct values < capacity 1024), so the merged result equals
    // the discrete lower quantiles off explicit cumulative counts —
    // the same oracle shape as q103.
    Slot("q119_gk_accounting",
      // gk-accounting mirror: q103's discrete-lower-quantile SQL — the
      // stored-sketch round trip must be invisible in the exact regime
      """WITH vals AS (SELECT (n_chars % 512)::DOUBLE AS v FROM documents),
        |cnt AS (SELECT v, count(*) AS k FROM vals GROUP BY v),
        |cc AS (SELECT v, sum(k) OVER (ORDER BY v) AS cum FROM cnt),
        |nn AS (SELECT count(*)::BIGINT AS n FROM vals),
        |ps AS (SELECT unnest([0.16, 0.5, 0.84]) AS p),
        |tg AS (SELECT p, greatest(1, cast(ceil(p * nn.n) AS BIGINT)) AS target FROM ps, nn),
        |sel AS (SELECT tg.p, min(cc.v) AS value FROM tg JOIN cc ON cc.cum >= tg.target GROUP BY tg.p)
        |SELECT sel.p AS p, sel.value AS value, cc.cum::BIGINT AS rank_lo,
        |cc.cum::BIGINT AS rank_hi, true AS exact
        |FROM sel JOIN cc ON cc.v = sel.value ORDER BY p""".stripMargin.replace("\n", " "))((s, dir) => {
      val d = t(s, dir, "documents").df
      val daily = d.groupBy(col("source"))
        .agg(operators.QuantileSketch.gkSketch(
          pmod(col("n_chars"), lit(512)).cast(DoubleType)).as("sketch"))
      val sketchDir = s"${scratchDir("q119_sketches")}/by_source"
      daily.write.mode("overwrite").parquet(sketchDir)
      // ONE merge pass feeds all three probabilities (a per-p unionAll
      // would re-run the stored-table aggregate — the expensive phase-2
      // step at scale — once per branch), then stack to rows
      val ps = Seq(0.16, 0.5, 0.84)
      val merged = s.read.parquet(sketchDir)
        .agg(operators.QuantileSketch.gkMerge(col("sketch")).as("total"))
        .select(ps.zipWithIndex.map { case (p, i) =>
          operators.QuantileSketch.gkQuantile(col("total"), p).as(s"q$i")
        }: _*)
      merged.select(expr(
          s"stack(${ps.length}, " +
            ps.zipWithIndex.map { case (p, i) => s"CAST($p AS DOUBLE), q$i" }.mkString(", ") +
            ") AS (p, q)"))
        .select(col("p"), col("q.value").as("value"),
          col("q.rank_lo").as("rank_lo"), col("q.rank_hi").as("rank_hi"),
          col("q.exact").as("exact"))
        .orderBy(col("p"))
    }),

    // Persistable-sketch incremental accounting: per-day HLL sketches
    // of the user population are computed ONCE and STORED as binary
    // columns; the total is a merge of the stored sketches — the raw
    // events are never re-read (phase 2 reads only the sketch table).
    // Exact regime (distinct users < sparseCap), so the oracle is the
    // plain count(DISTINCT) with exact=true.
    Slot("q118_sketch_accounting",
      // sketch-accounting mirror: the exact regime collapses the stored
      // daily sketches' merge to the plain global distinct count
      "SELECT count(DISTINCT user_id)::BIGINT AS n_distinct, true AS exact FROM events")((s, dir) => {
      val ev = events(s, dir)
      val daily = ev.groupBy(to_date(col("ts")).as("day"))
        .agg(operators.DistinctSketch.hllSketch(col("user_id")).as("sketch"))
      val sketchDir = s"${scratchDir("q118_sketches")}/daily"
      daily.write.mode("overwrite").parquet(sketchDir)
      s.read.parquet(sketchDir)
        .agg(operators.DistinctSketch.hllMerge(col("sketch")).as("total"))
        .select(operators.DistinctSketch.hllEstimate(col("total")).as("e"))
        .select(col("e.n_distinct").as("n_distinct"), col("e.exact").as("exact"))
    }),

    // Memory-bounded distinct counts (sparse-exact-then-dense HLL; the
    // shuffle moves sketches, never keys — exact regime: union fits the
    // sparse value set, so the count is count(DISTINCT ...) bit-for-bit)
    Slot("q104_distinct_sketch",
      // distinct-sketch mirror: exact-regime sparse sketch = plain
      // count(DISTINCT), with the exactness flag asserted true
      """SELECT lang, count(DISTINCT (n_chars % 1000))::BIGINT AS n_distinct,
        |true AS exact FROM documents GROUP BY lang ORDER BY lang""".stripMargin.replace("\n", " "))((s, dir) => {
      val d = t(s, dir, "documents").df
      operators.DistinctSketch.perGroup(
        d, Seq(col("lang")), pmod(col("n_chars"), lit(1000)),
        p = 12, sparseCap = 2048)
        .orderBy(col("lang"))
    }),
  )
}
