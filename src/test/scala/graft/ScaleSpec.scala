package graft

import org.apache.spark.sql.functions._
import graft.operators.Scale

class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("salted aggregation matches plain aggregation on a skewed key") {
    // one hot key with 90% of rows
    val df = spark.range(10000)
      .select(when(col("id") % 10 === 0, col("id") % 7).otherwise(lit(999L)).as("k"),
        (col("id") % 100).cast("double").as("v"))
    val salted = Scale.saltedCountSum(df, col("k"), col("v"), salt = 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val plain = df.groupBy(col("k")).agg(count(lit(1)), sum(col("v")))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(salted == plain)
    assert(salted(999L)._1 == 9000L)
  }

  test("salting works on frames with map columns and spreads via saltSource") {
    // map columns are unhashable by xxhash64 — the salt must derive
    // from the remaining columns, not fail analysis
    val withMap = spark.range(1000)
      .select(lit(1L).as("k"), (col("id") % 100).cast("double").as("v"),
        map(lit("a"), col("id")).as("m"))
    val agg = Scale.saltedAggregate(withMap, Seq(col("k")), salt = 4,
      partials = Seq(count(lit(1)).as("_n"), sum(col("v")).as("_s")),
      merges = Seq(sum(col("_n")).as("n"), sum(col("_s")).as("s")))
      .collect().head
    assert(agg.getLong(1) == 1000L && agg.getDouble(2) == withMap.agg(sum("v")).head.getDouble(0))
    // fully IDENTICAL duplicate rows (no distinguishing column at all)
    // share one content salt — the documented contract — so phase 1
    // collapses to ONE (key, salt) cell; an explicit saltSource spreads
    // them across the salt space.  The merge counts phase-1 PARTIAL
    // rows, pinning the cell count itself.
    val dupes = spark.range(1000).select(lit(7L).as("k"), lit(1.0).as("v"))
    def cells(saltSource: Option[org.apache.spark.sql.Column]): (Long, Long) = {
      val r = Scale.saltedAggregate(dupes, Seq(col("k")), salt = 4,
        partials = Seq(count(lit(1)).as("_n")),
        merges = Seq(sum(col("_n")).as("n"), count(lit(1)).as("n_cells")),
        saltSource = saltSource).collect().head
      (r.getLong(1), r.getLong(2))
    }
    val (nPlain, cellsPlain) = cells(None)
    assert(nPlain == 1000L && cellsPlain == 1L,
      s"identical rows must share one content salt, got $cellsPlain cells")
    // spread via an explicit stable per-row source column (the shape a
    // real caller uses for byte-identical hot rows: a surrogate key)
    val withId = spark.range(1000).select(lit(7L).as("k"), lit(1.0).as("v"), col("id"))
    val spread = Scale.saltedAggregate(withId, Seq(col("k")), salt = 4,
      partials = Seq(count(lit(1)).as("_n")),
      merges = Seq(sum(col("_n")).as("n"), count(lit(1)).as("n_cells")),
      saltSource = Some(col("id"))).collect().head
    assert(spread.getLong(1) == 1000L && spread.getLong(2) == 4L,
      s"saltSource must spread over the salt space, got ${spread.getLong(2)} cells")
    // all-map frame: loud requirement, not a silent misplan
    val onlyMap = spark.range(10).select(map(lit("a"), col("id")).as("m"))
    intercept[IllegalArgumentException] {
      Scale.saltedAggregate(onlyMap, Seq(lit(1).as("k")), salt = 4,
        partials = Seq(count(lit(1)).as("_n")), merges = Seq(sum(col("_n")).as("n")))
    }
  }

  test("bucketedLag equals plain per-key lag; no per-key-only window in the plan") {
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    import org.apache.spark.sql.expressions.Window
    val plain = ev.select(col("event_id"),
      lag(col("value"), 1).over(
        Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))).as("prev"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    val bucketed = Scale.bucketedLag(ev, Seq("user_id"), Seq(col("ts"), col("event_id")),
        col("value"), date_trunc("hour", col("ts")), "prev")
      .select(col("event_id"), col("prev"))
    val got = bucketed.collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(got.size == plain.size)
    val diff = plain.collect { case (k, v) if got(k) != v => (k, v, got(k)) }.take(5)
    assert(diff.isEmpty, s"bucketedLag diverges from plain lag: $diff")
    // the point of the operator: the EVENT-LEVEL window must carry the
    // bucket in its partition key (a bare-key event window serializes a
    // hot key on one task); a bare-key window is only allowed on the
    // compact boundary frame, identified by computing _blag_prev
    val wins = bucketed.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(wins.nonEmpty)
    val (withBkt, bareKey) =
      wins.partition(_.partitionSpec.map(_.sql).exists(_.contains("_blag_bkt")))
    assert(withBkt.nonEmpty, "event-level window lost the bucket from its partition key")
    bareKey.foreach { w =>
      val exprs = w.windowExpression.map(_.sql).mkString(";")
      assert(exprs.contains("_blag_prev") || exprs.contains("_blag_last"),
        s"bare-key window over the EVENT frame: " +
          s"partition=${w.partitionSpec.map(_.sql)} exprs=$exprs")
    }
    // degenerate inputs: one row per bucket, and a bucket gap
    import spark.implicits._
    val sparse = Seq((1L, 1L, 10.0), (1L, 5L, 20.0), (1L, 900L, 30.0), (2L, 2L, 5.0))
      .toDF("user_id", "ts_n", "value")
    val sp = Scale.bucketedLag(sparse, Seq("user_id"), Seq(col("ts_n")),
        col("value"), floor(col("ts_n") / 10), "prev")
      .collect().map(r => (r.getLong(0), r.getLong(1), Option(r.get(3)))).toSet
    assert(sp == Set((1L, 1L, None), (1L, 5L, Some(10.0)), (1L, 900L, Some(20.0)),
      (2L, 2L, None)), s"sparse-bucket hand-off wrong: $sp")
    // a .desc order column would silently corrupt the boundary pick
    intercept[IllegalArgumentException] {
      Scale.bucketedLag(sparse, Seq("user_id"), Seq(col("ts_n").desc),
        col("value"), floor(col("ts_n") / 10), "prev")
    }
  }

  test("bucketedSessions equals one-phase session_window; chains merge across buckets") {
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val plain = ev.groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), max(col("ts")).as("last_ts"))
      .select(col("user_id"), col("w.start").as("session_start"), col("n_events"), col("last_ts"))
      .collect().map(r => (r.getLong(0), r.get(1).toString, r.getLong(2), r.get(3).toString)).toSet
    val bucketed = Scale.bucketedSessions(ev, Seq("user_id"), col("ts"),
        gapSeconds = 1800L, date_trunc("hour", col("ts")))
      .select(col("user_id"), col("session_start"), col("n_events"), col("last_ts"))
    val got = bucketed.collect()
      .map(r => (r.getLong(0), r.get(1).toString, r.getLong(2), r.get(3).toString)).toSet
    assert(got == plain,
      s"sessions diverge: missing=${(plain -- got).take(3)} extra=${(got -- plain).take(3)}")
    // event-level windows must all carry the bucket; a bare-key window
    // is only allowed on the compact FRAGMENT frame (identified by the
    // island-merge expressions it computes)
    val wins = bucketed.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    val (withBkt, bareKey) =
      wins.partition(_.partitionSpec.map(_.sql).exists(_.contains("_bs_bkt")))
    assert(withBkt.nonEmpty, s"no bucketed event window: ${wins.map(_.partitionSpec.map(_.sql))}")
    bareKey.foreach { w =>
      val exprs = w.windowExpression.map(_.sql).mkString(";")
      assert(exprs.contains("_bs_pmax") || exprs.contains("_bs_isl") || exprs.contains("_bs_newisl"),
        s"bare-key window over the EVENT frame: " +
          s"partition=${w.partitionSpec.map(_.sql)} exprs=$exprs")
    }
    // synthetic: one activity chain spanning 4 hour-buckets (events
    // every 20 min for 4 h) must come back as ONE session, while a
    // >30 min gap inside a single bucket still splits
    import spark.implicits._
    import java.sql.Timestamp
    val base = Timestamp.valueOf("2024-06-01 10:00:00").getTime
    val chain = (0 until 13).map(i => (1L, new Timestamp(base + i * 20L * 60000)))  // 10:00..14:00
    val split = Seq((2L, new Timestamp(base)), (2L, new Timestamp(base + 50L * 60000)))
    val sdf = (chain ++ split).toDF("user_id", "ts")
    val out = Scale.bucketedSessions(sdf, Seq("user_id"), col("ts"),
        gapSeconds = 1800L, date_trunc("hour", col("ts")))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toList.sorted
    assert(out == List((1L, 13L), (2L, 1L), (2L, 1L)), s"got $out")
  }

  test("bucketedSessions exact-gap boundary merges, matching session_window's closed boundary") {
    // Spark's session merge coalesces windows with next.start <=
    // current.end, so an event at EXACTLY start+gap stays in the same
    // session (the window's exclusive end does not split the pair —
    // verified against session_window itself below, not assumed).  The
    // two-phase decomposition must agree at the boundary in BOTH
    // phases: within a bucket, and at an island merge across buckets
    import spark.implicits._
    import java.sql.Timestamp
    val base = Timestamp.valueOf("2024-06-01 10:00:00").getTime
    val rows = Seq(
      1L -> 0L, 1L -> 1800L,            // exact gap INSIDE the 10:00 bucket: merges
      2L -> 1500L, 2L -> 3300L,         // exact gap straddling the hour boundary: merges
      3L -> 0L, 3L -> 1801L,            // one second over: must split
      4L -> 1500L, 4L -> 3301L          // over-gap straddling buckets: splits
    ).map { case (u, s) => (u, new Timestamp(base + s * 1000)) }
    val sdf = rows.toDF("user_id", "ts")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("user_id"), col("session_start"), col("n_events"), col("last_ts"))
      .collect().map(r => (r.getLong(0), r.get(1).toString, r.getLong(2), r.get(3).toString)).toSet
    val plain = canon(sdf
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), max(col("ts")).as("last_ts"))
      .select(col("user_id"), col("w.start").as("session_start"), col("n_events"), col("last_ts")))
    val got = canon(Scale.bucketedSessions(sdf, Seq("user_id"), col("ts"),
      gapSeconds = 1800L, date_trunc("hour", col("ts"))))
    assert(got == plain, s"exact-gap boundary diverged: missing=${plain -- got} extra=${got -- plain}")
    // and the shape is what the closed-boundary contract says: users 1
    // and 2 (exact gap) stay in one session, users 3 and 4 split
    val nSessions = got.toSeq.groupBy(_._1).view.mapValues(_.size).toMap
    assert(nSessions == Map(1L -> 1, 2L -> 1, 3L -> 2, 4L -> 2), s"got $nSessions")
    // null timestamps: session_window drops them; parity must hold —
    // unfiltered they each became their own (null, null) session
    val withNulls = sdf.unionByName(Seq((1L, null.asInstanceOf[Timestamp]),
      (9L, null.asInstanceOf[Timestamp])).toDF("user_id", "ts"))
    val gotN = canon(Scale.bucketedSessions(withNulls, Seq("user_id"), col("ts"),
      gapSeconds = 1800L, date_trunc("hour", col("ts"))))
    assert(gotN == plain, s"null-ts rows leaked into sessions: extra=${gotN -- plain}")
  }

  test("bucketed window property: random corpora and spans match the one-phase plans") {
    // parity must hold for ANY data shape: random keys, clustered and
    // sparse timestamps, random bucket spans (always >= nothing — the
    // contract only needs monotonicity, which floor-division gives)
    val rnd = new scala.util.Random(77)
    import org.apache.spark.sql.expressions.Window
    for (trial <- 1 to 5) {
      val n = 200 + rnd.nextInt(400)
      val span = Seq(7L, 10L, 50L, 1000L)(rnd.nextInt(4))
      val gap = 1L + rnd.nextInt(30)
      val rows = (0 until n).map { i =>
        // clustered bursts + uniform tail → sessions of varied shapes
        val t = if (rnd.nextBoolean()) rnd.nextInt(500).toLong
                else 500L + rnd.nextInt(100000)
        (rnd.nextInt(5).toLong, t, i.toLong, rnd.nextDouble())
      }
      val df = rows.toDF("k", "ts_n", "uid", "v")
      // lag parity (ts_n ties broken by uid — unique order per key)
      val plainLag = df.select(col("uid"),
          lag(col("v"), 1).over(Window.partitionBy(col("k")).orderBy(col("ts_n"), col("uid"))).as("p"))
        .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
      val bLag = Scale.bucketedLag(df, Seq("k"), Seq(col("ts_n"), col("uid")),
          col("v"), floor(col("ts_n") / span), "p")
        .select(col("uid"), col("p"))
        .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
      assert(bLag == plainLag, s"trial $trial span $span: lag diverged")
      // sessions parity vs the event-level island SQL (same rule the
      // q116 oracle uses: new session only when diff > gap — the
      // CLOSED boundary session_window itself exhibits; random integer
      // timestamps DO produce exactly-gap-spaced pairs here, so this
      // property run covers the boundary continuously)
      val sFlag = df.select(col("k"), col("ts_n"), col("uid"),
          lag(col("ts_n"), 1).over(Window.partitionBy(col("k")).orderBy(col("ts_n"), col("uid"))).as("p"))
        .withColumn("ns", when(col("p").isNull || col("ts_n") - col("p") > gap, 1L).otherwise(0L))
        .withColumn("sid", sum(col("ns")).over(
          Window.partitionBy(col("k")).orderBy(col("ts_n"), col("uid"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("k"), col("sid"))
        .agg(min(col("ts_n")).as("s"), count(lit(1)).as("n"), max(col("ts_n")).as("e"))
        .select(col("k"), col("s"), col("n"), col("e"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val bSess = Scale.bucketedSessions(
          df.withColumn("t", timestamp_seconds(col("ts_n"))), Seq("k"), col("t"),
          gapSeconds = gap, floor(col("ts_n") / span))
        .select(col("k"), unix_timestamp(col("session_start")).as("s"), col("n_events"),
          unix_timestamp(col("last_ts")).as("e"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(bSess == sFlag,
        s"trial $trial span $span gap $gap: sessions diverged " +
          s"missing=${(sFlag -- bSess).take(3)} extra=${(bSess -- sFlag).take(3)}")
    }
  }

  test("bucketed tables join without a shuffle exchange") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast
    try {
      val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .select("l_orderkey", "l_quantity")
      val o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .select("o_orderkey", "o_totalprice")
      Scale.writeBucketed(li, "li_b", Seq("l_orderkey"), 4)
      Scale.writeBucketed(o, "o_b", Seq("o_orderkey"), 4)
      val joined = spark.table("li_b")
        .join(spark.table("o_b"), col("l_orderkey") === col("o_orderkey"))
        .groupBy().count()
      assert(Scale.isExchangeFree(
        spark.table("li_b").join(spark.table("o_b"), col("l_orderkey") === col("o_orderkey"))),
        "bucketed join still shuffles")
      assert(joined.collect().head.getLong(0) == 6000L)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS o_b")
    }
  }

  test("salted join equals plain join on a skewed fact table") {
    val facts = spark.range(5000)
      .select(when(col("id") % 10 === 0, col("id") % 3).otherwise(lit(1L)).as("k"),
        col("id").as("fact_id"))
    val dims = Seq((0L, "zero"), (1L, "one"), (2L, "two")).toDF("k", "label")
    val salted = Scale.saltedJoin(facts, dims, "k", salt = 8)
      .groupBy("label").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val plain = facts.join(dims, Seq("k")).groupBy("label").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == plain)
    assert(salted("one") > 4000L) // the hot key really is hot
  }

  test("hash sampling: stable, rate-accurate, monotone under corpus growth") {
    val small = spark.range(0, 2000).toDF("id")
    val s300 = Scale.sampleByHash(small, col("id"), 300)
      .collect().map(_.getLong(0)).toSet
    // stability: identical on a second run and per-row independent of
    // partitioning
    val again = Scale.sampleByHash(small.repartition(7), col("id"), 300)
      .collect().map(_.getLong(0)).toSet
    assert(s300 == again)
    // rate within binomial noise (p=0.3, n=2000 -> sd ~20)
    assert(math.abs(s300.size - 600) < 80, s"rate off: ${s300.size}/2000")
    // growing the corpus never flips an existing row's membership
    val grown = Scale.sampleByHash(spark.range(0, 4000).toDF("id"), col("id"), 300)
      .collect().map(_.getLong(0)).toSet
    assert(grown.filter(_ < 2000) == s300)
    // nested rates: a 100-permille sample is a subset of the 300 one
    val s100 = Scale.sampleByHash(small, col("id"), 100)
      .collect().map(_.getLong(0)).toSet
    assert(s100.subsetOf(s300))
    assert(Scale.sampleByHash(small, col("id"), 0).count() == 0L)
    assert(Scale.sampleByHash(small, col("id"), 1000).count() == 2000L)
  }

  test("stratified sampling applies per-stratum rates, default keeps whole") {
    val df = spark.range(0, 3000)
      .withColumn("lang", when(col("id") % 3 === 0, "en")
        .when(col("id") % 3 === 1, "de").otherwise("fr"))
    val kept = Scale.sampleStratified(df, col("id"), col("lang"),
        Map("en" -> 200, "de" -> 500))
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(kept("en") - 200) < 60, s"en rate off: ${kept("en")}/1000")
    assert(math.abs(kept("de") - 500) < 60, s"de rate off: ${kept("de")}/1000")
    assert(kept("fr") == 1000L, "default stratum must be kept whole")
    // consistent with the unstratified sampler at the same rate
    val viaPlain = Scale.sampleByHash(df.filter(col("lang") === "en"), col("id"), 200)
      .collect().map(_.getLong(0)).toSet
    val viaStrat = Scale.sampleStratified(df, col("id"), col("lang"), Map("en" -> 200, "de" -> 0, "fr" -> 0))
      .collect().map(_.getLong(0)).toSet
    assert(viaStrat == viaPlain)
  }

  test("sampleByWeight: constant weight equals sampleByHash, clamped, monotone") {
    val df = spark.range(0, 2000).toDF("id")
    // constant p = 0.3 must select exactly the permille-300 sample
    val w = Scale.sampleByWeight(df, col("id"), lit(0.3))
      .collect().map(_.getLong(0)).toSet
    val h = Scale.sampleByHash(df, col("id"), 300)
      .collect().map(_.getLong(0)).toSet
    assert(w == h)
    // clamping: p > 1 keeps everything, p < 0 keeps nothing
    assert(Scale.sampleByWeight(df, col("id"), lit(7.5)).count() == 2000L)
    assert(Scale.sampleByWeight(df, col("id"), lit(-1.0)).count() == 0L)
    // monotone: a row kept at p is kept at any p' >= p
    val lo = Scale.sampleByWeight(df, col("id"), lit(0.2)).collect().map(_.getLong(0)).toSet
    assert(lo.subsetOf(w))
  }

  test("capPerKey equals the window formulation and binds the cap") {
    val df = spark.range(0, 500).toDF("id")
      .withColumn("grp", (col("id") % 7).cast("string"))
    val capped = Scale.capPerKey(df, "grp", col("id"), 10)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // ground truth: row_number window over the same deterministic order
    val ord = conv(substring(md5(col("id").cast("string")), 1, 12), 16, 10).cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(ord.asc, col("id").asc)
    val expected = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10).drop("rn")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(capped == expected)
    assert(capped.groupBy(_._2).forall(_._2.size == 10), "every group capped at 10")
    // n above the group size keeps everything
    assert(Scale.capPerKey(df, "grp", col("id"), 1000).count() == 500L)
  }

  test("mixtureWeights: temperature flattening matches a Scala reference") {
    val df = (Seq.fill(80)("en") ++ Seq.fill(16)("de") ++ Seq.fill(4)("fr"))
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "src")
    val got = Scale.mixtureWeights(df, col("src"), alpha = 0.5)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val counts = Map("en" -> 80L, "de" -> 16L, "fr" -> 4L)
    val ptot = counts.values.map(n => math.pow(n.toDouble, 0.5)).sum
    counts.foreach { case (s, n) =>
      assert(got(s)._1 == n)
      assert(math.abs(got(s)._2 - math.pow(n.toDouble, 0.5) / ptot) < 1e-6, s"$s: ${got(s)}")
    }
    // alpha = 1 reproduces natural proportions exactly
    val nat = Scale.mixtureWeights(df, col("src"), alpha = 1.0)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(math.abs(nat("en") - 0.8) < 1e-6 && math.abs(nat("fr") - 0.04) < 1e-6)
    // weights always renormalize to 1
    assert(math.abs(got.values.map(_._2).sum - 1.0) < 1e-5)
    intercept[IllegalArgumentException] { Scale.mixtureWeights(df, col("src"), 0.0) }
  }

  test("multi-file glob scan unions transparently") {
    val dir = tempDir("graft_glob").toString
    spark.range(10).write.parquet(s"$dir/part1.parquet")
    spark.range(5).write.parquet(s"$dir/part2.parquet")
    val n = spark.read.parquet(s"$dir/part*.parquet").count()
    assert(n == 15L)
  }
  test("leakageSafeSplit: no pair straddles a split; singletons match the per-id split") {
    val docs = spark.range(0, 500).select(col("id"))
    // chain clusters {0..4},{10..14},... plus a long chain 100-199
    val pairs = spark.range(0, 500).filter(col("id") % 10 < 4 || (col("id") >= 100 && col("id") < 199))
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val split = Scale.leakageSafeSplit(docs, "id", pairs)
    val m = split.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m.size == 500)
    // leakage property: every edge's endpoints share a split
    pairs.collect().foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      assert(m(a) == m(b), s"pair ($a,$b) straddles splits ${m(a)}/${m(b)}")
    }
    assert(m.values.toSet == Set("train", "val", "test"))
    // a singleton component (no incident pair) splits exactly like the
    // plain per-id hash split — the cluster key degrades to the id
    val singleton = (0L until 500L).filterNot(i =>
      pairs.collect().exists(r => r.getLong(0) == i || r.getLong(1) == i)).head
    val perId = docs.filter(col("id") === singleton)
      .withColumn("split",
        when(conv(substring(md5(col("id").cast("string")), 1, 6), 16, 10).cast("long") % 100 < 80, "train")
          .when(conv(substring(md5(col("id").cast("string")), 1, 6), 16, 10).cast("long") % 100 < 90, "val")
          .otherwise("test"))
      .collect().head.getString(1)
    assert(m(singleton) == perId)
    // determinism: a second evaluation assigns identically
    val again = Scale.leakageSafeSplit(docs, "id", pairs)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(again == m)
  }

  test("mixSample: budget shares land, caps at the source mass, stable membership") {
    val df = (Seq.fill(900)("en") ++ Seq.fill(90)("de") ++ Seq.fill(10)("fr"))
      .zipWithIndex.map { case (s, i) => (i.toLong, s, 100L) }.toDF("id", "src", "tok")
    // masses: en 90k, de 9k, fr 1k; alpha .5 -> p 300/94.87/31.62, ptot 426.5
    val out = Scale.mixSample(df, col("id"), col("src"), col("tok"), 0.5, budgetTokens = 20000L)
    val got = out.groupBy("src").agg(sum("tok").as("tok")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // expected kept mass per source = min(mass, budget * share)
    val mass = Map("en" -> 90000.0, "de" -> 9000.0, "fr" -> 1000.0)
    val ptot = mass.values.map(math.sqrt).sum
    mass.foreach { case (s, m) =>
      val target = math.min(m, 20000.0 * math.sqrt(m) / ptot)
      val tol = math.max(1200.0, target * 0.35) // binomial noise at 100-token grain
      assert(math.abs(got.getOrElse(s, 0L).toDouble - target) < tol,
        s"$s: kept ${got.getOrElse(s, 0L)} vs target $target")
    }
    // fr's share (20000*31.62/426.5 ~ 1483) exceeds its 1000 mass -> kept whole
    assert(got("fr") == 1000L, s"capped source must be kept whole: ${got("fr")}")
    // deterministic: same rows on re-evaluation, and membership uses the
    // engine-wide md5 contract (a permille-p sample of a uniform source
    // equals sampleByHash at that permille)
    // a null source is a group like any other: its rows must survive
    // the keep-probability join (a plain === join silently dropped
    // them while their mass still diluted every real source's share)
    val withNull = df.withColumn("src",
      when(col("id") % 10 === 0, lit(null).cast("string")).otherwise(col("src")))
    val nullKept = Scale.mixSample(withNull, col("id"), col("src"), col("tok"), 0.5, 20000L)
      .filter(col("src").isNull).count()
    assert(nullKept > 0L, "null-source rows must spend their own budget share, not vanish")
    val again = Scale.mixSample(df, col("id"), col("src"), col("tok"), 0.5, 20000L)
      .collect().map(_.getLong(0)).toSet
    assert(again == out.collect().map(_.getLong(0)).toSet)
    intercept[IllegalArgumentException](
      Scale.mixSample(df, col("id"), col("src"), col("tok"), 0.0, 100L))
    intercept[IllegalArgumentException](
      Scale.mixSample(df, col("id"), col("src"), col("tok"), 0.5, 0L))
  }

  test("review fixes: unscored rows drop, zero-mass sources keep nothing, outer salted join refused") {
    // sampleByWeight: null/NaN score = quality unknown = certain-drop
    val scored = spark.range(0, 100).select(col("id"),
      when(col("id") < 50, lit(1.0)).otherwise(lit(null).cast("double")).as("p"))
    val kept = Scale.sampleByWeight(scored, col("id"), col("p"))
      .collect().map(_.getLong(0))
    assert(kept.length == 50 && kept.forall(_ < 50), "null scores must drop, not keep")
    val nanScored = scored.withColumn("p", when(col("id") < 50, lit(1.0))
      .otherwise(lit(Double.NaN)))
    assert(Scale.sampleByWeight(nanScored, col("id"), col("p")).count() == 50)
    // mixSample: a zero-token source contributes nothing (0/0 must not
    // become keep-everything)
    val mix = Seq((1L, "a", 100L), (2L, "a", 100L), (3L, "z", 0L), (4L, "z", 0L))
      .toDF("id", "src", "tok")
    val sampled = Scale.mixSample(mix, col("id"), col("src"), col("tok"), 0.5, 100L)
      .collect().map(r => r.getString(1))
    assert(!sampled.contains("z"), "zero-mass source leaked through the budget")
    // salted join: dim replication breaks right/full outer — refuse
    val dims = Seq((1L, "x")).toDF("k", "label")
    val facts = Seq((1L, 10L)).toDF("k", "v")
    intercept[IllegalArgumentException](Scale.saltedJoin(facts, dims, "k", 4, how = "full"))
    intercept[IllegalArgumentException](Scale.saltedJoin(facts, dims, "k", 4, how = "right"))
    // caseless scratch guards
    intercept[IllegalArgumentException](
      Scale.deterministicShuffle(facts.withColumn("Shard", lit(1L)), col("k"), 4))
    intercept[IllegalArgumentException](
      Scale.capPerKey(facts.withColumn("_CAP_ORD", lit(1L)), "k", col("v"), 1))
  }

  test("curriculumOrder routes NaN/null scores to the last shard, ranked last") {
    val df = spark.range(0, 100).select(col("id"),
      when(col("id") < 90, col("id").cast("double"))
        .when(col("id") < 95, lit(Double.NaN)).otherwise(lit(null).cast("double")).as("score"))
    val out = Scale.curriculumOrder(df, col("id"), col("score"), shards = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    val unscored = out.filter(_._1 >= 90)
    assert(unscored.forall(_._2 == 3L), s"unscored rows must land in the last shard: ${unscored.toSeq}")
    // and rank AFTER every real score in that shard
    val lastShard = out.filter(_._2 == 3L).sortBy(_._3)
    val (scoredPart, unscoredPart) = lastShard.partition(_._1 < 90)
    assert(scoredPart.forall(s => unscoredPart.forall(u => s._3 < u._3)),
      "unscored rows must rank after scored ones")
  }

  test("curriculumOrder: descending shards, dense ranks, ties stay together, stable") {
    val df = spark.range(0, 1000).select(col("id"), (col("id") % 97).cast("long").as("score"))
    val out = Scale.curriculumOrder(df, col("id"), col("score"), shards = 4)
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == 1000)
    val byShard = rows.groupBy(_._3)
    assert(byShard.keySet == Set(0L, 1L, 2L, 3L), s"shards: ${byShard.keySet}")
    // curriculum direction: every score in shard s >= every score in shard s+1
    (0 to 2).foreach { s =>
      val lo = byShard(s.toLong).map(_._2).min
      val hi = byShard(s + 1L).map(_._2).max
      assert(lo >= hi, s"shard $s min $lo < shard ${s + 1} max $hi")
    }
    // tied scores never straddle shards
    rows.groupBy(_._2).values.foreach { g =>
      assert(g.map(_._3).distinct.length == 1, s"tie split across shards: $g")
    }
    // dense 1..count ranks per shard
    byShard.values.foreach { g =>
      assert(g.map(_._4).sorted.toSeq == (1 to g.length).map(_.toLong))
    }
    // deterministic under physical layout
    val again = Scale.curriculumOrder(df.repartition(13), col("id"), col("score"), 4)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(rows.map(r => r._1 -> r._4).toMap == again)
    intercept[IllegalArgumentException](Scale.curriculumOrder(df, col("id"), col("score"), 0))
    intercept[IllegalArgumentException](
      Scale.curriculumOrder(df.withColumn("shard", lit(1L)), col("id"), col("score"), 4))
    // fully distinct scores -> EXACTLY equal populations (the fence
    // value completes the lower shard's quota; `v >= fence` was the
    // off-by-one that gave 3,2,2,2,1 over 10 distinct scores)
    val distinct10 = spark.range(0, 10).select(col("id"), (col("id") + 1).cast("long").as("score"))
    val pops = Scale.curriculumOrder(distinct10, col("id"), col("score"), shards = 5)
      .groupBy("shard").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pops == (0L to 4L).map(_ -> 2L).toMap, s"unequal shard populations: $pops")
  }

  test("leakageSafeSplit: validates cut fences") {
    val docs = spark.range(0, 10).select(col("id"))
    val none = docs.limit(0).select(col("id").as("id_a"), col("id").as("id_b"))
    intercept[IllegalArgumentException](
      Scale.leakageSafeSplit(docs, "id", none, cuts = Seq("train" -> 80)))
    intercept[IllegalArgumentException](
      Scale.leakageSafeSplit(docs, "id", none, cuts = Seq("a" -> 90, "b" -> 80, "c" -> 100)))
    // refuses to clobber an existing split column
    intercept[IllegalArgumentException](
      Scale.leakageSafeSplit(docs.withColumn("split", lit("x")), "id", none))
  }
}

/** Approximate-sketch scale variants of the exact gate queries: HLL++
  * distinct counts (q54's scale-out form) and quantile sketches (q31's)
  * run in constant memory per group where the exact forms buffer or
  * shuffle the column.  Cross-engine oracle comparison is impossible
  * (sketch internals differ), so these pin ERROR BOUNDS instead. */
class SketchSpec extends SparkSpec {
  import spark.implicits._

  private lazy val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")

  test("approx_count_distinct tracks exact within the configured rsd") {
    val r = li.agg(
      count_distinct(col("l_partkey")).as("exact"),
      approx_count_distinct(col("l_partkey"), rsd = 0.02).as("approx")).head()
    val (exact, approx) = (r.getLong(0), r.getLong(1))
    assert(math.abs(approx - exact).toDouble / exact < 0.06,
      s"approx $approx vs exact $exact")  // 3x rsd margin
  }

  test("approx_percentile lands within accuracy-bound rank distance of the exact quantile") {
    val ps = Seq(0.16, 0.5, 0.84)
    val exact = graft.operators.Quantiles.exact(li, col("l_extendedprice"), ps)
    val acc = 1000 // rank error <= n/acc
    val approx = li.agg(percentile_approx(col("l_extendedprice"),
      array(ps.map(lit(_)): _*), lit(acc))).head().getSeq[Double](0)
    val n = li.count()
    val sorted = li.select(col("l_extendedprice").cast("double")).orderBy("l_extendedprice")
      .collect().map(_.getDouble(0))
    ps.indices.foreach { i =>
      // translate the sketch's rank guarantee into a value bound:
      // the approx value must lie between the exact values at
      // rank +/- 2*n/acc (slack for interpolation at the edges)
      val rank = (ps(i) * (n - 1)).toLong
      val slack = math.max(2 * n / acc, 2L)
      val lo = sorted(math.max(0, rank - slack).toInt)
      val hi = sorted(math.min(n - 1, rank + slack).toInt)
      assert(approx(i) >= lo && approx(i) <= hi,
        s"p=${ps(i)}: approx ${approx(i)} outside [$lo, $hi] (exact ${exact(i)})")
    }
  }

  test("deterministicShuffle: dense per-shard ranks, stable under repartition, no RNG") {
    val df = spark.range(500).select(col("id").as("doc_id"))
    val out = Scale.deterministicShuffle(df, col("doc_id"), shards = 8)
      .select("doc_id", "shard", "pos")
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 500, "every row keeps exactly one slot")
    // positions within each shard are dense 1..n_shard
    rows.groupBy(_._2).foreach { case (sh, g) =>
      assert(g.map(_._3).sorted.toSeq == (1 to g.size).map(_.toLong),
        s"shard $sh ranks not dense")
    }
    // shards are balanced by the uniform md5 key (500/8 = 62.5 +/- slack)
    val sizes = rows.groupBy(_._2).values.map(_.size)
    assert(sizes.min > 30 && sizes.max < 95, s"shard sizes skewed: $sizes")
    // deterministic: identical assignment regardless of input partitioning
    val again = Scale.deterministicShuffle(df.repartition(13), col("doc_id"), shards = 8)
      .select("doc_id", "shard", "pos")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.sorted.toSeq == again.sorted.toSeq)
  }

  test("deterministicShuffle: refuses to clobber shard/pos, dodges scratch-name collisions") {
    val base = spark.range(20).select(col("id").as("doc_id"))
    // output columns already present → loud failure, not silent overwrite
    for (c <- Seq("shard", "pos")) {
      val clash = base.withColumn(c, lit(7))
      val err = intercept[IllegalArgumentException](
        Scale.deterministicShuffle(clash, col("doc_id"), shards = 4))
      assert(err.getMessage.contains(c))
    }
    // a pre-existing _shuf_key is caller DATA: it must survive untouched
    val carrying = base.withColumn("_shuf_key", lit("keep-me"))
    val out = Scale.deterministicShuffle(carrying, col("doc_id"), shards = 4)
    assert(out.columns.count(_ == "_shuf_key") == 1)
    assert(out.select("_shuf_key").distinct().collect().map(_.getString(0)).toSeq == Seq("keep-me"))
    // and the shuffle result is unchanged by the bystander column
    val plain = Scale.deterministicShuffle(base, col("doc_id"), shards = 4)
      .select("doc_id", "shard", "pos").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val kept = out.select("doc_id", "shard", "pos")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(plain.sorted.toSeq == kept.sorted.toSeq)
  }

  test("Dsir.scores: bounds the driver bucket arrays at 2^16") {
    val docs = Seq((1L, "a b c"), (2L, "b c d")).toDF("doc_id", "text")
    val err = intercept[IllegalArgumentException](
      graft.operators.Dsir.scores(docs, col("doc_id"), col("text"),
        docs, col("text"), buckets = (1 << 16) + 1))
    assert(err.getMessage.contains("buckets"))
  }

}
