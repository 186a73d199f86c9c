package graft

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSessionExtensions}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import graft.functions.{Astro, SphDist}
import graft.plans.ConeZonePushdown

/** Cone-search sargability: the sphdist Catalyst scalar and the
  * ConeZonePushdown optimizer rule.  The invariant under test is that
  * the injected zone bands are a strict superset pre-filter — results
  * bit-identical with the rule on or off — while the declination band
  * (and, under the asserted-convention flag, the RA band) reaches the
  * parquet scan as a PushedFilter. */
class ConeRuleSpec extends SparkSpec {

  override def beforeAll(): Unit = {
    super.beforeAll()
    ConeZonePushdown.install(spark)
  }

  override def afterAll(): Unit = {
    // shared session: leave no optimizer residue for later suites
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ == ConeZonePushdown)
    super.afterAll()
  }

  /** Synthetic sky: integral-degree grid covering both poles and the
    * RA origin, plus nulls. */
  private lazy val sky: DataFrame = spark.range(0, 4000).select(
    (col("id") % 360).cast(DoubleType).as("ra"),
    ((col("id") * 7 % 181) - 90).cast(DoubleType).as("dec"))
    .union(spark.sql("SELECT CAST(NULL AS DOUBLE) ra, CAST(NULL AS DOUBLE) dec"))

  private def coneCount(ra0: Double, dec0: Double, r: Double): (Long, Long) = {
    val ruled = sky.filter(SphDist.sphdist(col("ra"), col("dec"), lit(ra0), lit(dec0)) <= lit(r))
    val brute = sky.filter(Astro.sphdist(col("ra"), col("dec"), lit(ra0), lit(dec0)) <= lit(r))
    (ruled.count(), brute.count())
  }

  test("sphdist expression matches the Column composition everywhere") {
    val both = sky.na.drop().select(
      SphDist.sphdist(col("ra"), col("dec"), lit(123.4), lit(-45.6)).as("a"),
      Astro.sphdist(col("ra"), col("dec"), lit(123.4), lit(-45.6)).as("b"))
    val worst = both.select(max(abs(col("a") - col("b")))).collect().head.getDouble(0)
    assert(worst <= 1e-9, s"kernel drifts from Column composition by $worst deg")
  }

  test("rule injects dec band + mod-360 RA guard; results identical") {
    val q = sky.filter(SphDist.sphdist(col("ra"), col("dec"), lit(180.0), lit(20.0)) <= lit(15.0))
    val opt = q.queryExecution.optimizedPlan.toString
    assert(opt.contains("pmod"), s"RA guard missing:\n$opt")
    assert(opt.contains(">= 4.99") || opt.contains(">= 5.0"), s"dec lower band missing:\n$opt")
    val (ruled, brute) = coneCount(180.0, 20.0, 15.0)
    assert(ruled == brute && ruled > 0, s"rule changed results: $ruled vs $brute")
  }

  test("RA-origin wrap: parity holds through the pmod guard") {
    val (ruled, brute) = coneCount(10.0, 20.0, 33.7)
    assert(ruled == brute && ruled > 0)
  }

  test("cap containing a pole: RA guard suppressed, dec band kept, parity holds") {
    val q = sky.filter(SphDist.sphdist(col("ra"), col("dec"), lit(45.0), lit(80.0)) <= lit(25.0))
    val opt = q.queryExecution.optimizedPlan.toString
    assert(!opt.contains("pmod"), s"unsound RA guard on polar cap:\n$opt")
    val (ruled, brute) = coneCount(45.0, 80.0, 25.0)
    assert(ruled == brute && ruled > 0)
  }

  test("constant center in the first argument pair also triggers") {
    val q = sky.filter(SphDist.sphdist(lit(180.0), lit(20.0), col("ra"), col("dec")) <= lit(15.0))
    assert(q.queryExecution.optimizedPlan.toString.contains("pmod"))
    val brute = sky.filter(Astro.sphdist(lit(180.0), lit(20.0), col("ra"), col("dec")) <= lit(15.0))
    assert(q.count() == brute.count() && q.count() > 0)
  }

  test("flipped and strict comparisons trigger; flipped parity holds") {
    val flipped = sky.filter(lit(15.0) > SphDist.sphdist(col("ra"), col("dec"), lit(180.0), lit(20.0)))
    assert(flipped.queryExecution.optimizedPlan.toString.contains("pmod"))
    val brute = sky.filter(Astro.sphdist(col("ra"), col("dec"), lit(180.0), lit(20.0)) < lit(15.0))
    assert(flipped.count() == brute.count() && flipped.count() > 0)
  }

  test("non-canonical dec (|dec| > 90): band escape keeps rule-on == rule-off") {
    // sep >= |Δdec| fails outside [-90, 90], so without the escape the
    // injected band can DROP rows the raw predicate keeps; the rule
    // must be a no-op for such rows rather than trust the convention
    val junk = spark.range(0, 2000).select(
      (col("id") % 360).cast(DoubleType).as("ra"),
      ((col("id") * 13 % 361) - 180).cast(DoubleType).as("dec")) // dec in [-180, 180]
    for ((ra0, dec0, r) <- Seq((10.0, 20.0, 35.0), (350.0, -80.0, 15.0), (180.0, 85.0, 20.0))) {
      val ruled = junk.filter(
        SphDist.sphdist(col("ra"), col("dec"), lit(ra0), lit(dec0)) <= lit(r))
        .collect().map(r => (r.getDouble(0), r.getDouble(1))).toSet
      val brute = junk.filter(
        Astro.sphdist(col("ra"), col("dec"), lit(ra0), lit(dec0)) <= lit(r))
        .collect().map(r => (r.getDouble(0), r.getDouble(1))).toSet
      assert(ruled == brute,
        s"cone ($ra0, $dec0, $r): band dropped ${(brute -- ruled).take(5)} / kept extra ${(ruled -- brute).take(5)}")
    }
  }

  test("non-canonical CENTER (|dec0| > 90): no bands emitted, parity holds") {
    // dec0=100 makes sep >= |Δdec| fail even for canonical rows (the
    // antipodal-ish row (ra0+180, 80) is at separation ~0); the rule
    // must emit nothing rather than band canonical rows out
    import spark.implicits._
    // (190, 78) sits at separation 2.0° from the non-canonical center
    // (10, 100) — the haversine's negative cos(dec0) term wraps it over
    // the pole — yet any [dec0−r, dec0+r] band excludes dec=78
    val pt = Seq((190.0, 78.0), (10.0, 85.0), (10.0, -80.0)).toDF("ra", "dec")
    val ruled = pt.filter(SphDist.sphdist(col("ra"), col("dec"), lit(10.0), lit(100.0)) <= lit(5.0))
      .collect().map(r => (r.getDouble(0), r.getDouble(1))).toSet
    val brute = pt.filter(Astro.sphdist(col("ra"), col("dec"), lit(10.0), lit(100.0)) <= lit(5.0))
      .collect().map(r => (r.getDouble(0), r.getDouble(1))).toSet
    assert(ruled == brute, s"ruled=$ruled brute=$brute")
    assert(brute.contains((190.0, 78.0)), "sanity: the antipodal-wrap row matches the raw predicate")
  }

  test("rule is idempotent (fixed-point safe)") {
    val q = sky.filter(SphDist.sphdist(col("ra"), col("dec"), lit(180.0), lit(20.0)) <= lit(15.0))
    val once = ConeZonePushdown(q.queryExecution.analyzed)
    val twice = ConeZonePushdown(once)
    assert(once == twice, "second application changed the plan")
  }

  test("dec band (and sargable RA band under the flag) reach the parquet scan") {
    val dir = java.nio.file.Files.createTempDirectory("cone_sky").toString
    try {
      sky.write.mode("overwrite").parquet(dir)
      val pq = spark.read.parquet(dir)
      // the rendered PushedFilters string truncates — read the scan
      // node's dataFilters (what FileSourceStrategy actually pushed)
      def scanFilters(q: DataFrame): Seq[org.apache.spark.sql.catalyst.expressions.Expression] =
        q.queryExecution.executedPlan.collectLeaves().collectFirst {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f.dataFilters
        }.getOrElse(Nil)
      def onCol(e: org.apache.spark.sql.catalyst.expressions.Expression, name: String): Boolean =
        e.references.map(_.name).toSeq == Seq(name)
      withSQLConf("spark.graft.cone.sargableRaBand" -> "true") {
        val q = pq.filter(SphDist.sphdist(col("ra"), col("dec"), lit(180.0), lit(20.0)) <= lit(15.0))
        val fs = scanFilters(q)
        import org.apache.spark.sql.catalyst.expressions.{GreaterThanOrEqual => GE, LessThanOrEqual => LE}
        assert(fs.exists { case GE(a, _) => onCol(a, "dec"); case _ => false } &&
               fs.exists { case LE(a, _) => onCol(a, "dec"); case _ => false },
          s"dec band not pushed: $fs")
        assert(fs.exists { case GE(a, _) => onCol(a, "ra"); case _ => false } &&
               fs.exists { case LE(a, _) => onCol(a, "ra"); case _ => false },
          s"sargable RA band not pushed: $fs")
        val brute = pq.filter(Astro.sphdist(col("ra"), col("dec"), lit(180.0), lit(20.0)) <= lit(15.0))
        assert(q.count() == brute.count() && q.count() > 0)
      }
      // wrap case under the flag: an Or of two sargable ranges
      withSQLConf("spark.graft.cone.sargableRaBand" -> "true") {
        val q = pq.filter(SphDist.sphdist(col("ra"), col("dec"), lit(10.0), lit(20.0)) <= lit(33.7))
        val fs = scanFilters(q)
        assert(fs.exists { case org.apache.spark.sql.catalyst.expressions.Or(a, b) =>
          onCol(a, "ra") && onCol(b, "ra"); case _ => false },
          s"wrap Or-band not pushed: $fs")
        val brute = pq.filter(Astro.sphdist(col("ra"), col("dec"), lit(10.0), lit(20.0)) <= lit(33.7))
        assert(q.count() == brute.count() && q.count() > 0)
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("raw SQL text through the registered function gets the rewrite") {
    graft.functions.SqlScalars.register(spark)
    sky.createOrReplaceTempView("cone_rule_sky")
    val q = sql("""SELECT ra, dec FROM cone_rule_sky
                   WHERE sphdist(ra, dec, 180.0, 20.0) <= 15.0""")
    assert(q.queryExecution.optimizedPlan.toString.contains("pmod"),
      "rule did not fire on SQL-text haversine")
    val brute = sky.filter(Astro.sphdist(col("ra"), col("dec"), lit(180.0), lit(20.0)) <= lit(15.0))
    assert(q.count() == brute.count() && q.count() > 0)
    val v = sql("SELECT sphdist(0.0, 0.0, 90.0, 0.0) AS s").collect().head.getDouble(0)
    assert(math.abs(v - 90.0) < 1e-9)
  }

  test("near-antipodal points: ~180 deg, never NaN; whole-sky predicate keeps every row") {
    // this exact pair pushed the haversine term a ulp past 1 before the
    // clamp, making asin return NaN (review finding, verified)
    val d = SphDist.sphdistDeg(85.85154731378853, 60.95418174294707,
      265.85154730884375, -60.954181734055645)
    assert(!d.isNaN && math.abs(d - 180.0) < 1e-6, s"antipodal distance: $d")
    val row = spark.sql(
      """SELECT 85.85154731378853 ra1, 60.95418174294707 dec1,
                265.85154730884375 ra2, -60.954181734055645 dec2""")
    val viaCol = row.select(Astro.sphdist(col("ra1"), col("dec1"), col("ra2"), col("dec2")))
      .collect().head.getDouble(0)
    assert(!viaCol.isNaN && math.abs(viaCol - 180.0) < 1e-6)
    // a whole-sky cone must keep every (non-null) row
    val nonNull = sky.na.drop().count()
    val kept = sky.filter(
      SphDist.sphdist(col("ra"), col("dec"), lit(123.0), lit(45.0)) <= lit(180.0)).count()
    assert(kept == nonNull, s"whole-sky cone dropped rows: $kept of $nonNull")
  }

  test("random cones: parity rule-on vs brute in both RA-guard modes") {
    val rnd = new scala.util.Random(19)
    (1 to 25).foreach { i =>
      val ra0 = rnd.nextDouble() * 360
      val dec0 = rnd.nextDouble() * 180 - 90
      val r = 0.5 + rnd.nextDouble() * 80
      val sargable = i % 2 == 0 // data IS [0, 360), so the flag is sound here
      withSQLConf("spark.graft.cone.sargableRaBand" -> sargable.toString) {
        val ruled = sky.filter(
          SphDist.sphdist(col("ra"), col("dec"), lit(ra0), lit(dec0)) <= lit(r)).count()
        val brute = sky.filter(
          Astro.sphdist(col("ra"), col("dec"), lit(ra0), lit(dec0)) <= lit(r)).count()
        assert(ruled == brute,
          s"cone ($ra0, $dec0, $r) sargable=$sargable: $ruled vs $brute")
      }
    }
  }

  test("GraftExtensions bundle registers the rule") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    assert(GraftBridge.installedOptimizerRules(ext, spark).exists(_ eq ConeZonePushdown))
  }

  test("injected SqlScalars carry the function NAME in ExpressionInfo.name (not usage)") {
    // regression: the 3-arg ExpressionInfo ctor is (className, db, name)
    // — passing (className, name, usage) registered the usage string as
    // the function name and the name as the db, corrupting DESCRIBE
    // FUNCTION output for every injected scalar
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val reg = new org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry
    org.apache.spark.sql.GraftBridge.registerInjectedFunctions(ext, reg)
    for (name <- Seq("hms2deg", "deg2hms", "gaia_healpix", "sphdist", "healpix_ang2pix")) {
      val info = reg.lookupFunction(new org.apache.spark.sql.catalyst.FunctionIdentifier(name))
        .getOrElse(fail(s"$name not registered"))
      assert(info.getName == name, s"name slot holds '${info.getName}'")
      assert(info.getDb == null || info.getDb.isEmpty, s"db slot holds '${info.getDb}'")
      assert(info.getUsage.contains(s"$name("), s"usage slot holds '${info.getUsage}'")
    }
    def className(name: String) = reg.lookupFunction(
      new org.apache.spark.sql.catalyst.FunctionIdentifier(name)).get.getClassName
    assert(className("sphdist") == classOf[graft.functions.SphDistExpr].getName)
    assert(className("healpix_ang2pix") == classOf[graft.functions.HealpixAng2Pix].getName)
  }

  test("SQL-text scalars match the Column API value for value") {
    graft.functions.SqlScalars.register(spark)
    val df = spark.range(1, 50).select(
      ((col("id") * 7.31) % 360 - 90).as("deg"),
      (col("id") * 34359738368L * 16).as("source_id"))
    df.createOrReplaceTempView("sql_scalar_probe")
    val viaSql = sql("""SELECT deg2hms(deg) AS h, deg2dms(deg) AS d,
                        hms2deg(deg2hms(deg)) AS hh, dms2deg(deg2dms(deg)) AS dd,
                        gaia_healpix(source_id, 5) AS g
                        FROM sql_scalar_probe""").collect()
    val viaCol = df.select(
      Astro.deg2hms(col("deg")).as("h"), Astro.deg2dms(col("deg")).as("d"),
      Astro.hms2deg(Astro.deg2hms(col("deg"))).as("hh"),
      Astro.dms2deg(Astro.deg2dms(col("deg"))).as("dd"),
      Astro.gaiaHealpix(col("source_id"), 5).as("g")).collect()
    viaSql.zip(viaCol).foreach { case (a, b) =>
      assert(a.getString(0) == b.getString(0) && a.getString(1) == b.getString(1))
      assert(math.abs(a.getDouble(2) - b.getDouble(2)) < 1e-9)
      assert(math.abs(a.getDouble(3) - b.getDouble(3)) < 1e-9)
      assert(a.getLong(4) == b.getLong(4))
    }
    // non-literal level is a clear error, not silent misbehavior
    val err = intercept[Exception](sql(
      "SELECT gaia_healpix(source_id, CAST(deg AS INT)) FROM sql_scalar_probe").collect())
    assert(err.getMessage.toLowerCase.contains("literal"))
  }
}
