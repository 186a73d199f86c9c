package graft
package slots

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkEntry.{t, events, eventsRaw, eventsSession, normalizeEventsTs, scratchDir, dec2}
import MinHashSql.mhLanesCtes

/** Event-time and streaming slots over events.parquet: tumbling,
  * session and sliding windows, skew-immune lag and sessions, and the
  * two genuine readStream slots (SURVEY §2.9).
  * `perfbench/suite_slots.tsv` tags this family `streaming`. */
object StreamingSlots {

  def slots: Seq[Slot] = Seq(

    // §2.9 event-time tumbling window aggregation (batch-equivalent)
    Slot("q22_events_window",
      """SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
        |CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin.replace("\n", " "))((s, dir) => {
      events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(dec2(col("value"))).cast(DoubleType).as("sum_value"))
    }),

    // §2.9 sessionization (session_window in batch; 30-min gap)
    Slot("q33_events_sessions",
      """WITH flagged AS (SELECT user_id, ts,
        |CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL 30 MINUTE
        |THEN 1 ELSE 0 END AS new_session FROM events),
        |ids AS (SELECT user_id, ts,
        |sum(new_session) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |FROM flagged)
        |SELECT user_id, min(ts) AS session_start, count(*) AS n_events, max(ts) AS last_ts
        |FROM ids GROUP BY user_id, sid""".stripMargin.replace("\n", " "))((s, dir) => {
      events(s, dir)
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), max(col("ts")).as("last_ts"))
        .select(col("user_id"), col("w.start").as("session_start"), col("n_events"), col("last_ts"))
    }),

    // §2.9 sliding windows (batch equivalent; 2h width, 1h slide)
    Slot("q46_events_sliding",
      """SELECT date_trunc('hour', ts) - off * INTERVAL 1 HOUR AS ws, event_type, count(*) AS n
        |FROM events CROSS JOIN (SELECT 0 AS off UNION ALL SELECT 1) offs
        |GROUP BY 1, 2""".stripMargin.replace("\n", " "))((s, dir) => {
      events(s, dir)
        .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("ws"), col("event_type"), col("n"))
    }),

    // M6 streaming MinHash-LSH near-dup under the STRICT oracle (the
    // q121 pattern, r18 verdict #2): a GENUINE readStream file source
    // over three deterministic micro-batch files (doc_id % 3, mtime-
    // ordered, maxFilesPerTrigger=1), the PORTABLE md5+LCG signature
    // family (the q26/q40 lanes DuckDB recomputes arithmetically),
    // and maxPerBucket high enough that FIFO eviction never fires —
    // so the stateful flatMapGroupsWithState core is exactly leader
    // clustering per band bucket in (batch, doc_id) order, replayed
    // in SQL by a recursive CTE carrying each bucket's representative
    // list.  distinct() collapses the documented at-least-once
    // multi-band emissions (same pair in several buckets agrees on
    // est by construction — lane agreement is bucket-independent).
    Slot("q59_stream_neardup",
      // Streaming leader-clustering near-dup, replayed exactly: the
      // portable lanes/bands CTEs, then per band bucket a recursive CTE
      // walks docs in (micro-batch = doc_id % 3, doc_id) order carrying
      // the bucket's representative list — a doc whose best lane
      // agreement against the current reps clears the threshold is a
      // hit (max agree, min rep id tiebreak — the flatMapGroupsWithState
      // core's rule); otherwise it joins the reps.  Pairwise agreement
      // is precomputed per doc as an (agree DESC, id ASC)-sorted
      // candidate LIST (cand) so the recursive term is a plain join +
      // list_filter lambda — the first candidate that is a current rep
      // IS the argmax.  Deliberately NO `LEFT JOIN LATERAL` in the
      // recursive term: DuckDB 1.0 drops recursion rows
      // non-deterministically when the recursive half carries a LATERAL
      // under multi-threaded execution (observed 6/12/22/24 rows across
      // identical runs; threads=1 always 24 — the list_filter form is
      // stable at 24 under full parallelism).
      s"""${mhLanesCtes.replaceFirst("WITH norm", "WITH RECURSIVE norm")}
        |db AS MATERIALIZED (SELECT bk, doc_id,
        |row_number() OVER (PARTITION BY bk ORDER BY doc_id % 3, doc_id) AS ord FROM bands),
        |pag AS MATERIALIZED (SELECT p.ia, p.ib,
        |count(*) FILTER (WHERE la.mh = lb.mh) AS agree
        |FROM (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
        |FROM db a JOIN db b ON a.bk = b.bk AND a.doc_id <> b.doc_id) p
        |JOIN lanes la ON la.doc_id = p.ia
        |JOIN lanes lb ON lb.doc_id = p.ib AND lb.lane = la.lane
        |GROUP BY p.ia, p.ib),
        |cand AS MATERIALIZED (SELECT d.bk, d.doc_id, d.ord,
        |list(struct_pack(ia := e.doc_id, agree := p.agree)
        |ORDER BY p.agree DESC, e.doc_id ASC)
        |FILTER (WHERE e.doc_id IS NOT NULL) AS cands
        |FROM db d
        |LEFT JOIN db e ON e.bk = d.bk AND e.ord < d.ord
        |LEFT JOIN pag p ON p.ib = d.doc_id AND p.ia = e.doc_id
        |GROUP BY d.bk, d.doc_id, d.ord),
        |rec AS (SELECT bk, 0 AS step, CAST([] AS BIGINT[]) AS reps,
        |CAST(NULL AS BIGINT) AS hit_doc, CAST(NULL AS BIGINT) AS hit_rep,
        |CAST(NULL AS DOUBLE) AS hit_est
        |FROM (SELECT DISTINCT bk FROM db)
        |UNION ALL
        |SELECT r.bk, r.step + 1,
        |CASE WHEN list_filter(d.cands, c -> list_contains(r.reps, c.ia))[1].agree / 32.0 >= 0.5
        |THEN r.reps ELSE list_append(r.reps, d.doc_id) END,
        |CASE WHEN list_filter(d.cands, c -> list_contains(r.reps, c.ia))[1].agree / 32.0 >= 0.5
        |THEN d.doc_id END,
        |CASE WHEN list_filter(d.cands, c -> list_contains(r.reps, c.ia))[1].agree / 32.0 >= 0.5
        |THEN list_filter(d.cands, c -> list_contains(r.reps, c.ia))[1].ia END,
        |CASE WHEN list_filter(d.cands, c -> list_contains(r.reps, c.ia))[1].agree / 32.0 >= 0.5
        |THEN round(list_filter(d.cands, c -> list_contains(r.reps, c.ia))[1].agree / 32.0, 6) END
        |FROM rec r JOIN cand d ON d.bk = r.bk AND d.ord = r.step + 1)
        |SELECT DISTINCT hit_doc AS doc_id, hit_rep AS dup_of, hit_est AS est_jaccard
        |FROM rec WHERE hit_doc IS NOT NULL""".stripMargin.replace("\n", " "))((s, dir) => {
      val docs = t(s, dir, "documents").df.select(col("doc_id"), col("text"))
      val streamDir = new java.io.File(
        scratchDir("q59_stream_" + java.lang.Integer.toHexString(dir.hashCode)))
      if (!new java.io.File(streamDir, "batch2.parquet").exists()) {
        val base = 1700000000000L // fixed epoch: mtime order == batch order
        for (b <- 0 until 3) {
          val tmp = java.nio.file.Files.createTempDirectory("q59_batch").toFile
          docs.filter(pmod(col("doc_id"), lit(3)) === b).coalesce(1)
            .write.mode("overwrite").parquet(tmp.getPath)
          val part = tmp.listFiles.find(_.getName.endsWith(".parquet")).get
          val dst = new java.io.File(streamDir, s"batch$b.parquet")
          java.nio.file.Files.move(part.toPath, dst.toPath,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          // the file-source processes in mtime order — a silently
          // failed mtime write would let same-timestamp tie-breaking
          // pick the batch order and the strict oracle would report a
          // genuine-looking operator mismatch for a fixture problem
          require(dst.setLastModified(base + b * 60000L),
            s"could not pin mtime on $dst — micro-batch order would be undefined")
          org.apache.commons.io.FileUtils.deleteQuietly(tmp)
        }
      }
      val stream = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(streamDir.getPath)
      // each trigger reads ONE file = one map task, so the portable
      // md5 signature kernel ran single-threaded per micro-batch; the
      // batch slots' fan-out spreads it (the three files are written
      // above, always under SparkEntry.FanMaxBytes; the stateful
      // core re-shuffles by band bucket either way, and leader
      // clustering sorts by doc_id within the batch, so the
      // partitioning is invisible to the result)
      val fanned = stream.repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      val hits = graft.streaming.StreamingDedup.nearDupHitsPortable(
        fanned, "doc_id", "text", threshold = 0.5)
      val sink = "q59_sink_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = hits.toDF().writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      s.table(sink).distinct()
    }),

    // §2.9 streaming sketch twin, DRIVER-GATED (round-14 verdict #6):
    // a GENUINE readStream micro-batch — file source over the events
    // parquet → watermarked 15-min tumbling window → the SAME HLL
    // Aggregator the batch surface uses (DistinctSketch
    // .countDistinctSketch) → memory sink in complete mode.  One
    // deterministic batch; every window stays in the sparse-exact
    // regime (distinct users per window << sparseCap), so the result
    // equals DuckDB's per-window count(DISTINCT user_id) and the
    // streaming machinery sits under the STRICT oracle, not a
    // rows-only snapshot.
    Slot("q121_stream_sketch",
      // stream-sketch mirror: per-15-min-window exact distinct users —
      // the readStream micro-batch + HLL aggregator must be invisible
      // in the sparse-exact regime.  Epoch arithmetic (not time_bucket)
      // keeps the bucket origin unambiguous across engines; Spark's
      // window() is epoch-aligned and 1970-01-01 is a 15-min boundary.
      """SELECT CAST(to_timestamp(floor(epoch(ts) / 900) * 900) AS TIMESTAMP) AS w_start,
        |count(DISTINCT user_id)::BIGINT AS n_distinct, true AS exact
        |FROM events GROUP BY 1""".stripMargin.replace("\n", " "))((s, dir) => {
      val iso = eventsSession(s)
      val rawSchema = eventsRaw(s, dir).schema
      // the file STREAM source only accepts a directory: testdata ships
      // events.parquet as a single file, so point the source at the
      // table dir and glob-filter to the one file (a directory-shaped
      // table streams directly)
      val evPath = new java.io.File(s"$dir/events.parquet")
      val raw =
        if (evPath.isDirectory) iso.readStream.schema(rawSchema).parquet(evPath.getPath)
        else iso.readStream.schema(rawSchema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
      // fan-out REVERTED (r22, verdict #3): the r21 keep had no
      // substantiating number, and the isolated alternating A/B
      // (ABProbe, 6 rounds, conf propagated into the iso session)
      // reads med 2.46 s WITH the exchange vs 1.78 s without — the
      // HLL partial aggregation over one 100k-row micro-batch is
      // cheaper than the 32-way exchange that would spread it
      val ev = normalizeEventsTs(raw)
      val agg = ev.withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "15 minutes"))
        .agg(operators.DistinctSketch.countDistinctSketch(col("user_id")).as("d"))
        .select(col("window.start").as("w_start"),
          col("d.n_distinct").as("n_distinct"), col("d.exact").as("exact"))
      // unique sink name: Bench/Verify may run the slot several times
      // in one JVM and a memory-sink query name cannot be reused
      val sink = "q121_sink_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = agg.writeStream.format("memory").queryName(sink)
        .outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()
      iso.table(sink)
    }),

    // Skew-immune sessionization (two-phase: fragments within (user,
    // hour bucket), island-merge over the compact fragment frame) —
    // identical semantics to q33's one-phase session_window, and the
    // oracle is the SAME event-level SQL.
    Slot("q116_bucketed_sessions",
      // bucketed-sessions mirror: q33's event-level session SQL — the
      // two-phase decomposition must be invisible in the result
      """WITH flagged AS (SELECT user_id, ts,
        |CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL 30 MINUTE
        |THEN 1 ELSE 0 END AS new_session FROM events),
        |ids AS (SELECT user_id, ts,
        |sum(new_session) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |FROM flagged)
        |SELECT user_id, min(ts) AS session_start, count(*) AS n_events, max(ts) AS last_ts
        |FROM ids GROUP BY user_id, sid""".stripMargin.replace("\n", " "))((s, dir) => {
      val ev = events(s, dir)
      operators.Scale.bucketedSessions(ev, Seq("user_id"), col("ts"),
          gapSeconds = 1800L, date_trunc("hour", col("ts")))
        .select(col("user_id"), col("session_start"), col("n_events"), col("last_ts"))
    }),

    // Skew-immune lag (the round-14 window-rehearsal mitigation made
    // concrete): identical semantics to q09's per-user lag — the
    // oracle IS the plain window — but computed within (user, hour
    // bucket) plus a boundary hand-off, so a hot user spreads over its
    // buckets instead of sorting on one task.  ScaleSpec gates the
    // plan shape (no bare-key window).
    Slot("q115_bucketed_lag",
      // bucketed-lag mirror: the PLAIN per-key window — the bucketed
      // decomposition must be invisible in the result
      """SELECT event_id, user_id, value,
        |lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
        |FROM events""".stripMargin.replace("\n", " "))((s, dir) => {
      val ev = events(s, dir)
      operators.Scale.bucketedLag(ev, Seq("user_id"), Seq(col("ts"), col("event_id")),
          col("value"), date_trunc("hour", col("ts")), "prev_value")
        .select(col("event_id"), col("user_id"), col("value"), col("prev_value"))
    }),
  )
}
