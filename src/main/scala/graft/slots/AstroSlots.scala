package graft
package slots

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.Astro
import graft.operators.Binned
import graft.SparkEntry.{t, tfan, events}

/** Astronomy slots: cone, zone and HEALPix searches, sexagesimal
  * conversions, frame transforms and the Aitoff projection (SURVEY §2.3,
  * §2.4, §2.8).
  * `perfbench/suite_slots.tsv` tags this family `functions_astro`. */
object AstroSlots {

  private val sphdistSql =
    "degrees(2*asin(sqrt(pow(sin(radians(0.0 - dec)/2),2) + cos(radians(dec))*cos(radians(0.0))*pow(sin(radians(180.0 - ra)/2),2))))"

  /** q107's haversine, center (ra0, dec0) = (10, 20). */
  private val sphdist107Sql =
    "degrees(2*asin(sqrt(pow(sin(radians(20.0 - dec)/2),2) + cos(radians(dec))*cos(radians(20.0))*pow(sin(radians(10.0 - ra)/2),2))))"

  /** q109's haversine, center (ra0, dec0) = (120, -30). */
  private val sphdist109Sql =
    "degrees(2*asin(sqrt(pow(sin(radians(-30.0 - dec)/2),2) + cos(radians(dec))*cos(radians(-30.0))*pow(sin(radians(120.0 - ra)/2),2))))"

  def slots: Seq[Slot] = Seq(

    // §2.3 cone search: haversine predicate + separation column
    Slot("q14_cone_search",
      s"""WITH c AS (SELECT l_orderkey, l_partkey,
         |CAST(l_orderkey % 360 AS DOUBLE) AS ra,
         |CAST((l_partkey % 181) - 90 AS DOUBLE) AS dec FROM lineitem)
         |SELECT l_orderkey, l_partkey, ra, dec, round($sphdistSql, 6) AS sep
         |FROM c WHERE $sphdistSql <= 57.3""".stripMargin.replace("\n", " "))((s, dir) => {
      val li = t(s, dir, "lineitem").df
        .withColumn("ra", (col("l_orderkey") % 360).cast(DoubleType))
        .withColumn("dec", ((col("l_partkey") % 181) - 90).cast(DoubleType))
      li.filter(Astro.coneSearch(col("ra"), col("dec"), 180.0, 0.0, 57.3))
        .select(col("l_orderkey"), col("l_partkey"), col("ra"), col("dec"),
          round(Astro.sphdist(col("ra"), col("dec"), lit(180.0), lit(0.0)), 6).as("sep"))
    }),

    // §2.3 zone (box) search: conjunctive range predicate
    Slot("q15_zone_search",
      """WITH c AS (SELECT l_orderkey, l_partkey,
        |CAST(l_orderkey % 360 AS DOUBLE) AS ra,
        |CAST((l_partkey % 181) - 90 AS DOUBLE) AS dec FROM lineitem)
        |SELECT l_orderkey, l_partkey, ra, dec FROM c
        |WHERE ra >= 100 AND ra <= 200 AND dec >= -30 AND dec <= 30""".stripMargin.replace("\n", " "))((s, dir) => {
      val li = t(s, dir, "lineitem").df
        .withColumn("ra", (col("l_orderkey") % 360).cast(DoubleType))
        .withColumn("dec", ((col("l_partkey") % 181) - 90).cast(DoubleType))
      li.filter(Astro.zoneSearch(col("ra"), col("dec"), 100.0, 200.0, -30.0, 30.0))
        .select(col("l_orderkey"), col("l_partkey"), col("ra"), col("dec"))
    }),

    // §2.8 sexagesimal string → degrees
    Slot("q16_sexagesimal",
      """SELECT l_orderkey, l_linenumber,
        |lpad(CAST(l_orderkey % 24 AS VARCHAR), 2, '0') || ':' ||
        |lpad(CAST(l_partkey % 60 AS VARCHAR), 2, '0') || ':' ||
        |lpad(CAST(l_suppkey % 60 AS VARCHAR), 2, '0') AS hms_str,
        |round((CAST(l_orderkey % 24 AS DOUBLE) + CAST(l_partkey % 60 AS DOUBLE) / 60.0
        |+ CAST(l_suppkey % 60 AS DOUBLE) / 3600.0) * 15.0, 6) AS ra_deg
        |FROM lineitem""".stripMargin.replace("\n", " "))((s, dir) => {
      val li = tfan(s, dir, "lineitem").df
      val hms = concat(
        lpad((col("l_orderkey") % 24).cast(StringType), 2, "0"), lit(":"),
        lpad((col("l_partkey") % 60).cast(StringType), 2, "0"), lit(":"),
        lpad((col("l_suppkey") % 60).cast(StringType), 2, "0"))
      li.select(col("l_orderkey"), col("l_linenumber"), hms.as("hms_str"),
        round(Astro.hms2deg(hms), 6).as("ra_deg"))
    }),

    // §2.8 gaia healpix level rescale (integer cell arithmetic)
    Slot("q17_gaia_healpix",
      """SELECT CAST(floor((event_id * 34359738368 + user_id) / 549755813888.0) AS BIGINT) AS cell,
        |count(*) AS n FROM events GROUP BY 1""".stripMargin.replace("\n", " "))((s, dir) => {
      val ev = events(s, dir)
        .withColumn("source_id", col("event_id") * lit(34359738368L) + col("user_id"))
      ev.groupBy(Astro.gaiaHealpix(col("source_id"), 10).as("cell"))
        .agg(count(lit(1)).as("n"))
    }),

    // §2.4 healpix-cell aggregation via the custom Catalyst Expression
    // (rows-only: nested-scheme bit math is not DuckDB-expressible)
    Slot("q32_healpix_agg",
      // Nested-healpix ang2pix mirrored arithmetic step by step
      // (functions/Healpix.scala ang2pixNestZPhi at order 2, nside 4):
      // every float op copies Java's exact fold — dec/180.0*pi() is
      // Math.toRadians' order (NOT DuckDB's radians()), trunc() is
      // .toLong's toward-zero, and the 2-bit interleave is unrolled.
      // sin/sqrt agree to the ulp on this integral-degree domain
      // (verified over all 360x181 inputs at sf0.1).
      """WITH base AS (SELECT sin((((l_partkey % 181) - 90)::DOUBLE) / 180.0 * pi()) AS z,
        |((l_orderkey % 360)::DOUBLE) / 180.0 * pi() AS phi FROM lineitem),
        |t1 AS (SELECT z, abs(z) AS za,
        |(CASE WHEN phi % (2.0*pi()) < 0 THEN phi % (2.0*pi()) + 2.0*pi()
        |ELSE phi % (2.0*pi()) END) / (0.5*pi()) AS tt FROM base),
        |eq AS (SELECT z, za, tt,
        |4*(0.5 + tt) AS temp1, 4*(z*0.75) AS temp2 FROM t1),
        |jj AS (SELECT z, za, tt,
        |CAST(trunc(temp1 - temp2) AS BIGINT) AS jp,
        |CAST(trunc(temp1 + temp2) AS BIGINT) AS jm FROM eq),
        |eqpix AS (SELECT z, za, tt, jp, jm, (jp >> 2) AS ifp, (jm >> 2) AS ifm,
        |(jm & 3) AS ix, (3 - (jp & 3)) AS iy FROM jj),
        |eqface AS (SELECT z, za, tt, ix, iy,
        |CASE WHEN ifp = ifm THEN (ifp & 3) + 4
        |WHEN ifp < ifm THEN (ifp & 3) ELSE (ifm & 3) + 8 END AS face FROM eqpix),
        |pol AS (SELECT z, za, tt,
        |CASE WHEN CAST(trunc(tt) AS BIGINT) >= 4 THEN 3
        |ELSE CAST(trunc(tt) AS BIGINT) END AS ntt,
        |4*sqrt(3.0*(1.0 - za)) AS tmp FROM t1),
        |pj AS (SELECT z, ntt,
        |least(CAST(trunc((tt - ntt)*tmp) AS BIGINT), 3) AS jp,
        |least(CAST(trunc((1.0 - (tt - ntt))*tmp) AS BIGINT), 3) AS jm FROM pol),
        |polpix AS (SELECT CASE WHEN z >= 0 THEN 3 - jm ELSE jp END AS ix,
        |CASE WHEN z >= 0 THEN 3 - jp ELSE jm END AS iy,
        |CASE WHEN z >= 0 THEN ntt ELSE ntt + 8 END AS face, z FROM pj),
        |allpix AS (
        |SELECT face*16 + ((ix & 1) + 4*((ix >> 1) & 1))
        |+ 2*((iy & 1) + 4*((iy >> 1) & 1)) AS healpix
        |FROM eqface WHERE za <= 2.0/3.0
        |UNION ALL
        |SELECT face*16 + ((ix & 1) + 4*((ix >> 1) & 1))
        |+ 2*((iy & 1) + 4*((iy >> 1) & 1)) AS healpix
        |FROM polpix WHERE NOT (abs(z) <= 2.0/3.0)),
        |sparse AS (SELECT healpix, count(*) AS value FROM allpix GROUP BY healpix),
        |grid AS (SELECT unnest(range(0, 192)) AS healpix)
        |SELECT g.healpix, s.value FROM grid g
        |LEFT JOIN sparse s ON s.healpix = g.healpix""".stripMargin.replace("\n", " "))((s, dir) => {
      val li = t(s, dir, "lineitem").df
        .withColumn("ra", (col("l_orderkey") % 360).cast(DoubleType))
        .withColumn("dec", ((col("l_partkey") % 181) - 90).cast(DoubleType))
      Binned.healpixAgg(li, graft.functions.Healpix.ang2pix(2, col("ra"), col("dec")), 2)
    }),

    // §2.8 euler frame transform (celestial -> galactic, J2000)
    Slot("q35_euler_galactic", {
      // mirror Astro.euler J2000 select=1 constants and operation order
      val psi = "0.574770433"; val st = "0.88998808748"; val ct = "0.45598377618"
      val phi = "4.9368292465"; val twopi = "6.283185307179586"
      s"""WITH c AS (SELECT l_orderkey, l_partkey,
         |CAST(l_orderkey % 360 AS DOUBLE) AS ra,
         |CAST((l_partkey % 181) - 90 AS DOUBLE) AS dec FROM lineitem),
         |m AS (SELECT l_orderkey, l_partkey, ra, dec,
         |radians(ra) - $phi AS a, radians(dec) AS b FROM c),
         |n AS (SELECT *, cos(b) * sin(a) AS cbsa, sin(b) AS sb, cos(b) AS cb FROM m),
         |o AS (SELECT *,
         |asin(least(-($st) * cbsa + $ct * sb, 1.0)) AS bo,
         |atan2($ct * cbsa + $st * sb, cb * cos(a)) + $psi + $twopi AS aorad FROM n)
         |SELECT l_orderkey, l_partkey, ra, dec,
         |round(degrees(aorad - floor(aorad / $twopi) * $twopi), 6) AS gal_l,
         |round(degrees(bo), 6) AS gal_b FROM o""".stripMargin.replace("\n", " ")
    })((s, dir) => {
      val li = tfan(s, dir, "lineitem").df
        .withColumn("ra", (col("l_orderkey") % 360).cast(DoubleType))
        .withColumn("dec", ((col("l_partkey") % 181) - 90).cast(DoubleType))
      val (l, b) = Astro.euler(col("ra"), col("dec"), select = 1)
      li.select(col("l_orderkey"), col("l_partkey"), col("ra"), col("dec"),
        round(l, 6).as("gal_l"), round(b, 6).as("gal_b"))
    }),

    // §2.8 Aitoff projection
    Slot("q36_aitoff",
      """WITH c AS (SELECT l_orderkey, l_partkey,
        |CAST(l_orderkey % 360 AS DOUBLE) AS lon,
        |CAST((l_partkey % 181) - 90 AS DOUBLE) AS lat FROM lineitem),
        |m AS (SELECT l_orderkey, l_partkey,
        |radians((((lon + 180.0) - floor((lon + 180.0) / 360.0) * 360.0) - 180.0) / 2) AS alpha2,
        |radians(lat) AS delta FROM c),
        |n AS (SELECT *, sqrt(1.0 + cos(delta) * cos(alpha2)) AS denom,
        |2.0 * sqrt(2.0) / pi() AS f FROM m)
        |SELECT l_orderkey, l_partkey,
        |round(degrees(cos(delta) * sin(alpha2) * 2.0 * sqrt(2.0) / denom / f), 6) + 0.0 AS aitoff_x,
        |round(degrees(sin(delta) * sqrt(2.0) / denom / f), 6) + 0.0 AS aitoff_y
        |FROM n""".stripMargin.replace("\n", " "))((s, dir) => {
      val li = tfan(s, dir, "lineitem").df
        .withColumn("lon", (col("l_orderkey") % 360).cast(DoubleType))
        .withColumn("lat", ((col("l_partkey") % 181) - 90).cast(DoubleType))
      val (x, y) = Astro.projectAitoff(col("lon"), col("lat"))
      li.select(col("l_orderkey"), col("l_partkey"),
        round(x, 6).as("aitoff_x"), round(y, 6).as("aitoff_y"))
    }),

    // §2.8 degrees -> sexagesimal string (inverse of q16)
    Slot("q41_deg2hms",
      // mirror of the rounded-TOTAL-seconds decomposition (flooring the
      // minutes before rounding the remainder could render ":60.00")
      """WITH c AS (SELECT l_orderkey, l_linenumber,
        |(CAST(l_orderkey % 24 AS DOUBLE) + CAST(l_partkey % 60 AS DOUBLE) / 60.0
        |+ CAST(l_suppkey % 60 AS DOUBLE) / 3600.0) * 15.0 AS deg FROM lineitem),
        |m AS (SELECT l_orderkey, l_linenumber, deg, round(abs(deg) * 240.0, 2) AS ts FROM c),
        |n AS (SELECT *, floor(ts / 3600.0) AS h FROM m),
        |o AS (SELECT *, floor((ts - h * 3600.0) / 60.0) AS mi FROM n)
        |SELECT l_orderkey, l_linenumber, round(deg, 6) AS deg,
        |CASE WHEN deg < 0 THEN '-' ELSE '' END ||
        |lpad(CAST(CAST(h AS INT) AS VARCHAR), 2, '0') || ':' ||
        |lpad(CAST(CAST(mi AS INT) AS VARCHAR), 2, '0') || ':' ||
        |lpad(printf('%.2f', ts - h * 3600.0 - mi * 60.0), 5, '0') AS hms
        |FROM o""".stripMargin.replace("\n", " "))((s, dir) => {
      val li = t(s, dir, "lineitem").df
      val deg = ((col("l_orderkey") % 24).cast(DoubleType)
        + (col("l_partkey") % 60).cast(DoubleType) / 60.0
        + (col("l_suppkey") % 60).cast(DoubleType) / 3600.0) * 15.0
      li.select(col("l_orderkey"), col("l_linenumber"),
        round(deg, 6).as("deg"), Astro.deg2hms(deg).as("hms"))
    }),

    // §2.8 euler frame transform, FK4/B1950 equinox (the reference's
    // b1950 flag, simpletable.py:1291-1300)
    Slot("q68_euler_b1950", {
      // mirror Astro.euler FK4/B1950 select=1 constants and operation order
      val psi = "0.57595865315"; val st = "0.88781538514"; val ct = "0.46019978478"
      val phi = "4.9261918136"; val twopi = "6.283185307179586"
      s"""WITH c AS (SELECT l_orderkey, l_partkey,
         |CAST(l_orderkey % 360 AS DOUBLE) AS ra,
         |CAST((l_partkey % 181) - 90 AS DOUBLE) AS dec FROM lineitem),
         |m AS (SELECT l_orderkey, l_partkey, ra, dec,
         |radians(ra) - $phi AS a, radians(dec) AS b FROM c),
         |n AS (SELECT *, cos(b) * sin(a) AS cbsa, sin(b) AS sb, cos(b) AS cb FROM m),
         |o AS (SELECT *,
         |asin(least(-($st) * cbsa + $ct * sb, 1.0)) AS bo,
         |atan2($ct * cbsa + $st * sb, cb * cos(a)) + $psi + $twopi AS aorad FROM n)
         |SELECT l_orderkey, l_partkey, ra, dec,
         |round(degrees(aorad - floor(aorad / $twopi) * $twopi), 6) AS gal_l,
         |round(degrees(bo), 6) AS gal_b FROM o""".stripMargin.replace("\n", " ")
    })((s, dir) => {
      val li = t(s, dir, "lineitem").df
        .withColumn("ra", (col("l_orderkey") % 360).cast(DoubleType))
        .withColumn("dec", ((col("l_partkey") % 181) - 90).cast(DoubleType))
      val (l, b) = Astro.euler(col("ra"), col("dec"), select = 1, b1950 = true)
      li.select(col("l_orderkey"), col("l_partkey"), col("ra"), col("dec"),
        round(l, 6).as("gal_l"), round(b, 6).as("gal_b"))
    }),

    // Cone search through RAW SQL text: the sphdist Catalyst scalar +
    // the ConeZonePushdown optimizer rule.  The rule injects the
    // declination band and the mod-360 RA guard (this center/radius
    // wraps the RA origin, exercising the convention-free pmod path)
    // ahead of the haversine residual — the oracle sees only the plain
    // haversine, so any unsoundness in the derived bands (a shaved
    // boundary row) is a hash mismatch.
    Slot("q107_cone_sql",
      // cone-rule mirror: the PLAIN haversine filter — the injected
      // zone bands must be invisible in the result
      s"""WITH c AS (SELECT l_orderkey, l_partkey,
         |CAST(l_orderkey % 360 AS DOUBLE) AS ra,
         |CAST((l_partkey % 181) - 90 AS DOUBLE) AS dec FROM lineitem)
         |SELECT l_orderkey, l_partkey, ra, dec, round($sphdist107Sql, 6) AS sep
         |FROM c WHERE $sphdist107Sql <= 33.7""".stripMargin.replace("\n", " "))((s, dir) => {
      graft.functions.SqlScalars.register(s)
      graft.plans.ConeZonePushdown.install(s)
      t(s, dir, "lineitem").df
        .withColumn("ra", (col("l_orderkey") % 360).cast(DoubleType))
        .withColumn("dec", ((col("l_partkey") % 181) - 90).cast(DoubleType))
        .createOrReplaceTempView("q107_sky")
      s.sql("""SELECT l_orderkey, l_partkey, ra, dec,
                      round(sphdist(ra, dec, 10.0, 20.0), 6) AS sep
               FROM q107_sky WHERE sphdist(ra, dec, 10.0, 20.0) <= 33.7""")
    }),

    // Cone search through a HEALPix cell cover (the Q3C/LSST sky-
    // partition pattern): guaranteed-superset IN-set of coarse cells +
    // the exact haversine residual.  The oracle is the PLAIN haversine
    // — an unsound cover (a missed boundary cell) drops rows and
    // hash-mismatches.
    Slot("q109_healpix_cone",
      // healpix-cone mirror: the PLAIN haversine — the cell cover must
      // be invisible in the result
      s"""WITH c AS (SELECT l_orderkey, l_partkey,
         |CAST(l_orderkey % 360 AS DOUBLE) AS ra,
         |CAST((l_partkey % 181) - 90 AS DOUBLE) AS dec FROM lineitem)
         |SELECT l_orderkey, l_partkey, ra, dec, round($sphdist109Sql, 6) AS sep
         |FROM c WHERE $sphdist109Sql <= 25.0""".stripMargin.replace("\n", " "))((s, dir) => {
      val li = t(s, dir, "lineitem").df
        .withColumn("ra", (col("l_orderkey") % 360).cast(DoubleType))
        .withColumn("dec", ((col("l_partkey") % 181) - 90).cast(DoubleType))
      li.filter(Astro.healpixConeSearch(col("ra"), col("dec"), order = 2, 120.0, -30.0, 25.0))
        .select(col("l_orderkey"), col("l_partkey"), col("ra"), col("dec"),
          round(Astro.sphdist(col("ra"), col("dec"), lit(120.0), lit(-30.0)), 6).as("sep"))
    }),
  )
}
