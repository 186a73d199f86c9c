package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.EventStreams

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("watermarked tumbling window aggregation over a real stream") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val agg = EventStreams.tumbling(
      input.toDF.toDF("ts", "event_type", "value"),
      ts = "ts", watermark = "10 minutes", width = "15 minutes",
      keys = Seq(col("event_type")),
      aggs = Seq(count(lit(1)).as("n"), sum(col("value")).as("sv")))
    val q = agg.writeStream.format("memory").queryName("tumbling_test")
      .outputMode("update").start()
    try {
      input.addData((ts(1), "a", 1.0), (ts(5), "a", 2.0), (ts(16), "b", 5.0))
      q.processAllAvailable()
      val rows = spark.table("tumbling_test")
        .select(col("window.start"), col("event_type"), col("n"), col("sv")).collect()
      val byKey = rows.map(r => (r.getTimestamp(0).toString, r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
      assert(byKey(("2024-01-01 10:00:00.0", "a")) == (2L, 3.0))
      assert(byKey(("2024-01-01 10:15:00.0", "b")) == (1L, 5.0))
    } finally q.stop()
  }

  test("HLL sketch aggregator runs unchanged in a streaming window (batch parity)") {
    // the sketch family's streaming twin: windowed distinct users via
    // the same typed Aggregator the batch surface uses — state per
    // (window, group) is one bounded sketch, never the key set
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val agg = input.toDF.toDF("ts", "user_id")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "15 minutes"))
      .agg(graft.operators.DistinctSketch.countDistinctSketch(col("user_id")).as("d"))
      .select(col("window.start").as("ws"), col("d.n_distinct"), col("d.exact"))
    val q = agg.writeStream.format("memory").queryName("hll_stream_test")
      .outputMode("update").start()
    try {
      // window 10:00: users 1,2,1,3 → 3 distinct; window 10:15: 2,2 → 1
      input.addData((ts(1), 1L), (ts(3), 2L), (ts(5), 1L), (ts(9), 3L),
        (ts(16), 2L), (ts(18), 2L))
      q.processAllAvailable()
      val rows = spark.table("hll_stream_test").collect()
        .map(r => r.getTimestamp(0).toString -> (r.getLong(1), r.getBoolean(2))).toMap
      assert(rows("2024-01-01 10:00:00.0") == ((3L, true)), s"$rows")
      assert(rows("2024-01-01 10:15:00.0") == ((1L, true)), s"$rows")
    } finally q.stop()
  }

  test("fused TokenStats kernel runs unchanged on a stream (batch parity)") {
    // repetitionSignals/tokenEntropy are pure scan-stage projections
    // (custom codegen'd expression, zero shuffle), so they compose
    // into a streaming query with NO state — verify stream results
    // equal the batch operator bit-for-bit
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val streamed = input.toDF.toDF("doc_id", "text")
    val docs = Seq((1L, "a a b c"), (2L, "x x x x"), (3L, "solo"))
    val qRep = graft.operators.TextAnalysis.repetitionSignals(
        streamed, col("doc_id"), col("text"))
      .writeStream.format("memory").queryName("rep_stream")
      .outputMode("append").start()
    val qEnt = graft.operators.TextAnalysis.tokenEntropy(
        streamed, col("doc_id"), col("text"))
      .writeStream.format("memory").queryName("ent_stream")
      .outputMode("append").start()
    try {
      input.addData(docs: _*)
      qRep.processAllAvailable(); qEnt.processAllAvailable()
      val gotRep = spark.table("rep_stream").collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
      val batchRep = graft.operators.TextAnalysis.repetitionSignals(
          docs.toDF("doc_id", "text"), col("doc_id"), col("text"))
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
      assert(gotRep == batchRep && gotRep.size == 3)
      val gotEnt = spark.table("ent_stream").collect()
        .map(r => r.getLong(0) -> r.getDouble(2)).toMap
      val batchEnt = graft.operators.TextAnalysis.tokenEntropy(
          docs.toDF("doc_id", "text"), col("doc_id"), col("text"))
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      assert(gotEnt == batchEnt && gotEnt.size == 3)
    } finally { qRep.stop(); qEnt.stop() }
  }

  test("session windows close after the gap") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val agg = EventStreams.sessions(
      input.toDF.toDF("ts", "user_id"),
      ts = "ts", watermark = "30 minutes", gap = "5 minutes",
      keys = Seq(col("user_id")),
      aggs = Seq(count(lit(1)).as("n")))
    val q = agg.writeStream.format("memory").queryName("session_test")
      .outputMode("complete").start()
    try {
      // user 7: events at 10:01, 10:03 (one session), 10:30 (a second session)
      input.addData((ts(1), 7L), (ts(3), 7L), (ts(30), 7L))
      q.processAllAvailable()
      val n = spark.table("session_test").filter(col("user_id") === 7L).count()
      assert(n == 2)
    } finally q.stop()
  }

  test("dedup within watermark removes stream duplicates") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val dd = EventStreams.dedupWithinWatermark(
      input.toDF.toDF("ts", "event_id"), "ts", "10 minutes", Seq("event_id"))
    val q = dd.writeStream.format("memory").queryName("dedup_test")
      .outputMode("append").start()
    try {
      input.addData((ts(1), 100L), (ts(2), 100L), (ts(3), 101L))
      q.processAllAvailable()
      assert(spark.table("dedup_test").count() == 2)
    } finally q.stop()
  }

  test("file-source stream end to end: parquet dir -> windowed agg -> sink") {
    val dir = tempDir("graft_stream").toString
    val batch = Seq((ts(1), "a", 1.0), (ts(5), "a", 2.0), (ts(16), "b", 5.0))
      .toDF("ts", "event_type", "value")
    batch.write.mode("overwrite").parquet(s"$dir/in")
    val stream = spark.readStream.schema(batch.schema).parquet(s"$dir/in")
    val agg = EventStreams.tumbling(stream, "ts", "10 minutes", "15 minutes",
      Seq(col("event_type")), Seq(count(lit(1)).as("n")))
    val q = agg.writeStream.format("memory").queryName("file_stream_test")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination(60000)
      val rows = spark.table("file_stream_test").collect()
      assert(rows.map(_.getAs[Long]("n")).sum == 3L)
    } finally q.stop()
  }

  test("flatMapGroupsWithState keeps running per-key totals across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Double)]
    val q = graft.streaming.EventStreams.runningTotals(input.toDS())
      .toDF("user_id", "n", "total")
      .writeStream.format("memory").queryName("state_test").outputMode("append").start()
    try {
      input.addData((7L, 10.0), (7L, 5.0), (8L, 1.0))
      q.processAllAvailable()
      input.addData((7L, 2.0)) // second batch must see carried state
      q.processAllAvailable()
      val rows = spark.table("state_test").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(rows.contains((7L, 2L, 15.0)))   // after batch 1
      assert(rows.contains((7L, 3L, 17.0)))   // state carried into batch 2
      assert(rows.contains((8L, 1L, 1.0)))
    } finally q.stop()
  }

  test("same builder serves batch backfill (stream/batch unification)") {
    val batch = Seq((ts(1), "a", 1.0), (ts(20), "a", 2.0)).toDF("ts", "event_type", "value")
    val out = EventStreams.tumbling(batch, "ts", "10 minutes", "15 minutes",
      Seq(col("event_type")), Seq(count(lit(1)).as("n")))
    assert(out.count() == 2)
  }

  test("real events.parquet streams through the watermark path (native TIMESTAMP, batch parity)") {
    // Round-11 corpus seam proof: the driver's regenerated events table
    // carries ts as native timestamp[us] (TIMESTAMP_NTZ on read); the
    // streaming file source must window it exactly like the batch twin
    // that the q22 oracle gates — not just MemoryStream-built longs.
    val path = "/root/testdata/sf0.001/events.parquet"
    // FileStreamSource wants a DIRECTORY; stage the real file via symlink
    val dir = java.nio.file.Files.createTempDirectory("graft_real_events")
    java.nio.file.Files.createSymbolicLink(
      dir.resolve("events.parquet"), java.nio.file.Paths.get(path))
    try {
      // probe + stream through the same tolerant child-session path as
      // SparkEntry.events: a corpus regenerated back to TIMESTAMP(NANOS)
      // must normalize here, not throw PARQUET_TYPE_ILLEGAL (the flag is
      // inert for non-NANOS files; UTC keeps the NTZ cast value-exact)
      val iso = spark.newSession()
      iso.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      iso.conf.set("spark.sql.session.timeZone", "UTC")
      val fileSchema = iso.read.parquet(path).schema
      val normalize = (d: org.apache.spark.sql.DataFrame) =>
        fileSchema("ts").dataType match {
          case org.apache.spark.sql.types.LongType =>
            d.withColumn("ts", timestamp_micros(expr("ts div 1000")))
          case _ => d.withColumn("ts", col("ts").cast("timestamp"))
        }
      val stream = normalize(iso.readStream.schema(fileSchema).parquet(dir.toString))
      assert(stream.isStreaming, "file source must be a streaming frame")
      val agg = EventStreams.tumbling(stream, "ts", "1 hour", "6 hours",
        Seq(col("event_type")),
        Seq(count(lit(1)).as("n"), round(sum(col("value")), 6).as("sv")))
      val q = agg.writeStream.format("memory").queryName("real_events_stream")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try {
        q.awaitTermination(120000)
        val streamed = iso.table("real_events_stream")
          .select(col("window.start").cast("string"), col("event_type"), col("n"), col("sv"))
          .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
        val batchTwin = EventStreams.tumbling(
            SparkEntry.events(spark, "/root/testdata/sf0.001"), "ts", "1 hour", "6 hours",
            Seq(col("event_type")),
            Seq(count(lit(1)).as("n"), round(sum(col("value")), 6).as("sv")))
          .select(col("window.start").cast("string"), col("event_type"), col("n"), col("sv"))
          .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
        assert(streamed.nonEmpty, "stream produced no windows")
        assert(streamed == batchTwin,
          s"stream/batch divergence: ${streamed.size} vs ${batchTwin.size} windows")
      } finally q.stop()
    } finally {
      java.nio.file.Files.deleteIfExists(dir.resolve("events.parquet"))
      java.nio.file.Files.deleteIfExists(dir)
    }
  }

  test("sf0.1 events: session windows + watermark lateness through the file source") {
    // The bench scale factor, not just smoke scale: ~10x the rows of the
    // sf0.001 parity test, through the SAME file-source path, with the
    // APPEND-mode watermark contract asserted — only sessions closed
    // before the final watermark (max event time - lateness) may emit,
    // and sessions still inside the lateness horizon must be withheld.
    val sfDir = "/root/testdata/sf0.1"
    val path = s"$sfDir/events.parquet"
    val dir = java.nio.file.Files.createTempDirectory("graft_events_sf01")
    java.nio.file.Files.createSymbolicLink(
      dir.resolve("events.parquet"), java.nio.file.Paths.get(path))
    try {
      val iso = spark.newSession()
      iso.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      iso.conf.set("spark.sql.session.timeZone", "UTC")
      val fileSchema = iso.read.parquet(path).schema
      val normalize = (d: org.apache.spark.sql.DataFrame) =>
        fileSchema("ts").dataType match {
          case org.apache.spark.sql.types.LongType =>
            d.withColumn("ts", timestamp_micros(expr("ts div 1000")))
          case _ => d.withColumn("ts", col("ts").cast("timestamp"))
        }
      val stream = normalize(iso.readStream.schema(fileSchema).parquet(dir.toString))
      val agg = EventStreams.sessions(stream, "ts", "2 hours", "30 minutes",
        Seq(col("user_id")), Seq(count(lit(1)).as("n")))
      val q = agg
        .select(col("session_window.start").cast("string").as("ws"),
          col("session_window.end").as("we"), col("user_id"), col("n"))
        .writeStream.format("memory").queryName("events_sessions_sf01")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try {
        q.awaitTermination(120000)
        // the engine's own final watermark (ms precision, advanced at
        // batch boundaries) is the emission authority — recompute the
        // expected closed set from IT, not from a hand-derived max-2h
        val wmStr = q.recentProgress
          .flatMap(p => Option(p.eventTime.get("watermark"))).lastOption
          .getOrElse(fail("no watermark reported in query progress"))
        val streamed = iso.table("events_sessions_sf01")
          .select(col("ws"), col("user_id"), col("n"))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        val events = SparkEntry.events(spark, sfDir)
        val batchAll = EventStreams.sessions(events, "ts", "2 hours", "30 minutes",
            Seq(col("user_id")), Seq(count(lit(1)).as("n")))
          .select(col("session_window.start").cast("string").as("ws"),
            col("session_window.end").as("we"), col("user_id"), col("n"))
        val wm = java.sql.Timestamp.from(java.time.Instant.parse(wmStr))
        // filter AFTER collecting: a `we < wm` Column filter on top of
        // the session aggregation gets pushed below the merge (window
        // end is a grouping expression), which drops pre-merge event
        // windows past the watermark and fabricates unmerged fragments
        val allRows = batchAll.collect()
          .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2), r.getLong(3)))
        val all = allRows.map { case (ws, _, uid, n) => (ws, uid, n) }.toSet
        val closed = allRows.filter(_._2.before(wm))
          .map { case (ws, _, uid, n) => (ws, uid, n) }.toSet
        assert(streamed.nonEmpty, "stream produced no sessions")
        val extra = streamed -- closed
        val missing = closed -- streamed
        assert(streamed == closed,
          s"append output must be exactly the sessions closed before the final watermark: " +
            s"streamed ${streamed.size} vs closed ${closed.size}; " +
            s"extra=${extra.size} ${extra.take(3)}; missing=${missing.size} ${missing.take(3)}; wm=$wmStr")
        assert(closed.size < all.size,
          "lateness horizon excluded nothing — watermark not exercised")
      } finally q.stop()
    } finally {
      java.nio.file.Files.deleteIfExists(dir.resolve("events.parquet"))
      java.nio.file.Files.deleteIfExists(dir)
    }
  }
}

class HealpixSpec extends SparkSpec {
  import spark.implicits._
  import graft.functions.Healpix

  test("nside=1 maps the 12 base faces") {
    // north polar cap quadrants -> faces 0..3
    assert(Healpix.ang2pixNestLonLat(0, 45.0, 80.0) == 0L)
    assert(Healpix.ang2pixNestLonLat(0, 135.0, 80.0) == 1L)
    assert(Healpix.ang2pixNestLonLat(0, 225.0, 80.0) == 2L)
    assert(Healpix.ang2pixNestLonLat(0, 315.0, 80.0) == 3L)
    // equator -> faces 4..7; south cap -> 8..11
    assert(Healpix.ang2pixNestLonLat(0, 0.0, 0.0) == 4L)
    assert(Healpix.ang2pixNestLonLat(0, 45.0, -80.0) == 8L)
  }

  test("pixel ids stay in range and cover many cells at order 4") {
    val df = spark.range(2000).select(
      (col("id") % 360).cast("double").as("lon"),
      ((col("id") % 161) - 80).cast("double").as("lat"))
    val pix = df.select(Healpix.ang2pix(4, col("lon"), col("lat")).as("p"))
    val npix = 12L * 16 * 16
    assert(pix.filter(col("p") < 0 || col("p") >= npix).count() == 0)
    assert(pix.distinct().count() > 500)
  }

  test("nearby points share pixels at coarse order, split at fine order") {
    val df = Seq((10.0, 10.0), (10.01, 10.01), (100.0, -40.0)).toDF("lon", "lat")
    val p2 = df.select(Healpix.ang2pix(2, col("lon"), col("lat")).as("p")).collect().map(_.getLong(0))
    assert(p2(0) == p2(1) && p2(0) != p2(2))
    val p12 = df.select(Healpix.ang2pix(12, col("lon"), col("lat")).as("p")).collect().map(_.getLong(0))
    assert(p12(0) != p12(2))
  }

  test("SQL registration works") {
    graft.functions.SqlScalars.register(spark)
    val r = spark.sql("SELECT healpix_ang2pix(0, 45.0, 80.0) AS p").collect().head.getLong(0)
    assert(r == 0L)
  }

  test("codegen and interpreted paths agree") {
    val df = spark.range(100).select(
      (col("id") * 3.7 % 360).as("lon"), ((col("id") * 1.3 % 160) - 80).as("lat"))
    val a = df.select(Healpix.ang2pix(6, col("lon"), col("lat")).as("p")).collect().map(_.getLong(0))
    val b = df.collect().map(r => Healpix.ang2pixNestLonLat(6, r.getDouble(0), r.getDouble(1)))
    assert(a.toSeq == b.toSeq)
  }

  test("pix2ang round-trips through ang2pix for every cell at orders 0-5") {
    (0 to 5).foreach { order =>
      val npix = 12L << (2 * order)
      var pix = 0L
      while (pix < npix) {
        val (lon, lat) = Healpix.pix2angNestLonLat(order, pix)
        assert(lon >= 0 && lon < 360 && lat >= -90 && lat <= 90, s"center out of range: $lon $lat")
        assert(Healpix.ang2pixNestLonLat(order, lon, lat) == pix,
          s"round-trip failed at order $order pix $pix center ($lon, $lat)")
        pix += 1
      }
    }
  }

  test("pix2ang round-trips on random cells at fine orders 6-12") {
    val rnd = new scala.util.Random(23)
    (6 to 12).foreach { order =>
      val npix = 12L << (2 * order)
      (1 to 3000).foreach { _ =>
        val pix = (rnd.nextDouble() * npix).toLong.min(npix - 1)
        val (lon, lat) = Healpix.pix2angNestLonLat(order, pix)
        assert(Healpix.ang2pixNestLonLat(order, lon, lat) == pix,
          s"round-trip failed at order $order pix $pix ($lon, $lat)")
      }
    }
  }

  test("maxPixRad bounds the center distance of every point of a cell") {
    val rnd = new scala.util.Random(7)
    (2 to 6).foreach { order =>
      val bound = Healpix.maxPixRadDeg(order)
      (1 to 2000).foreach { _ =>
        val lon = rnd.nextDouble() * 360
        val lat = math.toDegrees(math.asin(rnd.nextDouble() * 2 - 1))
        val pix = Healpix.ang2pixNestLonLat(order, lon, lat)
        val (clon, clat) = Healpix.pix2angNestLonLat(order, pix)
        val d = graft.functions.SphDist.sphdistDeg(lon, lat, clon, clat)
        assert(d <= bound * (1 + 1e-9),
          s"order $order: point ($lon, $lat) is $d deg from its cell center, bound $bound")
      }
    }
  }

  test("coneCells is a guaranteed superset: every in-cap point's cell is covered") {
    val rnd = new scala.util.Random(11)
    (1 to 20).foreach { _ =>
      val order = 1 + rnd.nextInt(5)
      val ra0 = rnd.nextDouble() * 360
      val dec0 = math.toDegrees(math.asin(rnd.nextDouble() * 2 - 1))
      val r = 0.5 + rnd.nextDouble() * 40
      val cover = Healpix.coneCells(order, ra0, dec0, r).toSet
      assert(cover.nonEmpty)
      // sample points inside the cap (rejection from its bounding zone)
      var checked = 0
      var tries = 0
      while (checked < 300 && tries < 50000) {
        tries += 1
        val lat = dec0 + (rnd.nextDouble() * 2 - 1) * r
        val lon = ra0 + (rnd.nextDouble() * 2 - 1) * math.min(180, 2 * r)
        if (lat > -90 && lat < 90) {
          val lonN = ((lon % 360) + 360) % 360
          if (graft.functions.SphDist.sphdistDeg(lonN, lat, ra0, dec0) <= r) {
            checked += 1
            val pix = Healpix.ang2pixNestLonLat(order, lonN, lat)
            assert(cover.contains(pix),
              s"cap ($ra0, $dec0, $r) order $order: in-cap point ($lonN, $lat) in uncovered cell $pix")
          }
        }
      }
      assert(checked > 0, "cap sampling produced no in-cap points")
    }
  }

  test("healpixConeSearch equals the plain cone search") {
    val sky = spark.range(0, 5000).select(
      (col("id") % 360).cast("double").as("ra"),
      ((col("id") * 7 % 181) - 90).cast("double").as("dec"))
    val viaCells = sky.filter(
      graft.functions.Astro.healpixConeSearch(col("ra"), col("dec"), 2, 120.0, -30.0, 25.0))
      .collect().map(r => (r.getDouble(0), r.getDouble(1))).toSet
    val plain = sky.filter(
      graft.functions.Astro.coneSearch(col("ra"), col("dec"), 120.0, -30.0, 25.0))
      .collect().map(r => (r.getDouble(0), r.getDouble(1))).toSet
    assert(viaCells == plain && plain.nonEmpty)
    // and the cover really prunes: it is a small fraction of the sphere
    val cover = Healpix.coneCells(2, 120.0, -30.0, 25.0)
    assert(cover.length < (12L << 4) / 2, s"cover too large: ${cover.length}")
  }
}
