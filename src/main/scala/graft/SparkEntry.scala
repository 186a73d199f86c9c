package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.EzFrame
import graft.functions.Astro
import graft.operators.{Binned, Dedup, Similarity, TextAnalysis}
import org.apache.spark.sql.expressions.Window

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, with a DuckDB-runnable oracle where the semantics are
  * ANSI-SQL-expressible.  Column names are aligned between the Spark
  * result and the oracle SQL (driver compares after sorting columns by
  * name).  Floating aggregates are either decimal-cast (exact) or
  * rounded identically on both sides.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): EzFrame =
    EzFrame.readParquet(s, s"$dir/$name.parquet")

  /** Deterministic fan-out keys per corpus table (primary key — unique,
    * so the hash spread is even; see [[graft.sources.FanOut]]). */
  private val fanKeys: Map[String, Seq[String]] = Map(
    "lineitem" -> Seq("l_orderkey", "l_linenumber"),
    "orders" -> Seq("o_orderkey"),
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  /** [[t]] + scale-adaptive fan-out: the bench corpora are single-file
    * single-row-group parquet, so a bare scan feeds the whole table
    * through ONE task; for queries whose first stage carries real
    * per-row compute (text/astro/vector kernels, partial aggregates)
    * this spreads the rows across the session's cores with one
    * deterministic hash exchange.  No-op above
    * `spark.graft.fanout.maxBytes` — at production scale the files
    * themselves provide the parallelism.  See [[graft.sources.FanOut]]. */
  private def tfan(s: SparkSession, dir: String, name: String): EzFrame = {
    val ez = t(s, dir, name)
    val keys = fanKeys.getOrElse(name, sys.error(
      s"no fan-out keys declared for table '$name' — add it to SparkEntry.fanKeys"))
      .map(ez.df(_))
    new EzFrame(
      graft.sources.FanOut.small(ez.df, s"$dir/$name.parquet", keys), ez.meta)
  }

  /** Write-then-read slots' scratch space: one fresh temp dir per
    * (tag, JVM) — reused across the bench's two passes via overwrite;
    * unique per process, so concurrent harness runs never race on a
    * shared path — removed on exit rather than accumulating copies in
    * /tmp. */
  private val scratchDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def scratchDir(tag: String): String =
    scratchDirs.computeIfAbsent(tag, { _ =>
      val d = java.nio.file.Files.createTempDirectory(s"graft_$tag")
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        org.apache.commons.io.FileUtils.deleteQuietly(d.toFile): Unit))
      d.toString
    })
  private def q114Dir: String = scratchDir("q114_zorder")

  /** q93/q94 preamble: the fixture text carries no punctuation, so
    * sentence structure is synthesized deterministically — a period
    * appended to every 8th token (0-based index lambda; the oracle
    * mirrors it with a 1-based range transform). */
  private def withSentences(d: DataFrame): DataFrame =
    d.withColumn("text",
      array_join(transform(split(col("text"), " "),
        (tok, i) => when((i + 1) % 8 === 0, concat(tok, lit("."))).otherwise(tok)), " "))

  /** events.parquet has shipped with two different `ts` encodings over
    * the corpus's lifetime: TIMESTAMP(NANOS) (readable only as long
    * nanos under the legacy flag) and native timestamp[us] (read as
    * TIMESTAMP_NTZ).  Branch on what the file actually contains and
    * normalize both to session-zoned TIMESTAMP — with the session at
    * UTC the NTZ→LTZ cast is value-preserving and matches DuckDB's
    * naive-timestamp rendering.
    *
    * The legacy flag is a session-wide SQL conf (not a reader option),
    * so the probe read always goes through an ISOLATED child session —
    * same SparkContext, own SQLConf — instead of mutating the caller's
    * session.  The flag is inert for non-NANOS files, so one flagged
    * read serves as both probe and data path. */
  /** The events.parquet ts-encoding contract, ONE definition shared by
    * the batch reader and the q121 readStream source (the corpus has
    * shipped multiple encodings over the project's life; a second copy
    * of this match would silently diverge on the next one). */
  private def normalizeEventsTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case LongType => // legacy corpus: nanos-as-long → truncate to µs
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => raw
      case other => throw new IllegalStateException(
        s"events.parquet: unsupported ts type $other (expected long nanos, timestamp_ntz, or timestamp)")
    }

  /** Isolated child session for reading events.parquet: holds the
    * legacy-nanos flag and the UTC pin (the NTZ→LTZ cast is only
    * value-preserving at UTC) without mutating the caller's session. */
  private def eventsSession(s: SparkSession): SparkSession = {
    val iso = s.newSession()
    iso.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    iso.conf.set("spark.sql.session.timeZone", "UTC")
    // newSession starts from the CONTEXT conf, not the caller's runtime
    // sets — propagate the graft fan-out threshold explicitly so a
    // caller-configured value governs the events path too
    s.conf.getOption(graft.sources.FanOut.MaxBytesConf)
      .foreach(iso.conf.set(graft.sources.FanOut.MaxBytesConf, _))
    iso
  }

  /** events.parquet schema memo, same (path, mtime, len) keying as
    * EzFrame.readParquet's (r22): the isolated session re-inferred the
    * schema per QUERY across the ~10 events slots.  Keyed on the file
    * stat so a regenerated corpus re-infers; the nanosAsLong flag is
    * constant (eventsSession always sets it), so one memo suffices. */
  private val eventsSchemaMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long), StructType]()

  private[graft] def eventsRaw(s: SparkSession, dir: String): DataFrame = {
    val iso = eventsSession(s)
    val path = s"$dir/events.parquet"
    val stat = try {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      val st = fs.getFileStatus(p)
      Some((fs.makeQualified(p).toString, st.getModificationTime, st.getLen))
    } catch { case scala.util.control.NonFatal(_) => None }
    stat match {
      case Some(key) =>
        val cached = eventsSchemaMemo.get(key)
        if (cached != null) iso.read.schema(cached).parquet(path)
        else {
          val fresh = iso.read.parquet(path)
          eventsSchemaMemo.put(key, fresh.schema)
          fresh
        }
      case None => iso.read.parquet(path)
    }
  }

  private[graft] def events(s: SparkSession, dir: String): DataFrame =
    normalizeEventsTs(eventsRaw(s, dir))

  /** BMP pixel-array order (bottom-up rows, BGR) → image-order packed
    * RGB24, so the q95 JPEG members encode the IDENTICAL image the BMP
    * member carries. */
  private def bmpPxToRgb(px: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](64 * 3)
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        val src = ((7 - y) * 8 + x) * 3
        val dst = (y * 8 + x) * 3
        out(dst) = px(src + 2)
        out(dst + 1) = px(src + 1)
        out(dst + 2) = px(src)
        x += 1
      }
      y += 1
    }
    out
  }

  private def dec2(c: Column): Column = c.cast(DecimalType(18, 2))
  private def dec4(c: Column): Column = c.cast(DecimalType(18, 4))

  /** Flagship query on sf=0.001 (star join + aggregate); driver
    * smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q03_join_star")(spark, "/root/testdata/sf0.001")

  // ------------------------------------------------------------------
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // §2.2 selectWhere: NumPy-expression predicate + projection
    "q01_selectwhere" -> ((s, dir) => {
      t(s, dir, "lineitem").selectWhere(
        "l_orderkey l_quantity l_extendedprice l_discount",
        "(l_discount > 0.05) & (l_quantity * l_extendedprice > 1000)").df
    }),

    // §2.4 grouped aggregation (TPC-H Q1 flavor) through the frame API
    "q02_agg_pricing" -> ((s, dir) => {
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
    "q03_join_star" -> ((s, dir) => {
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
    "q04_sort_topk" -> ((s, dir) => {
      val o = t(s, dir, "orders").df
      o.orderBy(o("o_totalprice").desc, o("o_orderkey").asc)
        .select(o("o_orderkey"), o("o_totalprice"), o("o_orderdate"))
        .limit(10)
    }),

    // §2.7 stack / unionByName with defaults fill
    "q05_union_stack" -> ((s, dir) => {
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
    "q06_stats" -> ((s, dir) => {
      val st = t(s, dir, "lineitem").stats("l_quantity l_extendedprice l_discount l_tax")
      st.select(col("column").as("col_name"),
        round(col("mean"), 6).as("mean"), round(col("std"), 6).as("std"),
        col("min"), col("max"), col("has_nan").cast(IntegerType).as("has_nan"))
    }),

    // §2.3 match: key-pair inner equi-join
    "q07_match_pairs" -> ((s, dir) => {
      val sup = t(s, dir, "supplier").df
      val c = t(s, dir, "customer").df
      sup.join(c, sup("s_nationkey") === c("c_nationkey"), "inner")
        .select(sup("s_suppkey"), c("c_custkey"))
    }),

    // §2.4 groupBy on a computed NumPy expression
    "q08_groupby_expr" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.df.groupBy(li.evalexpr("floor(l_quantity / 10)").cast(LongType).as("qty_bucket"))
        .agg(count(lit(1)).as("n"), sum(dec2(li.get("l_extendedprice"))).cast(DoubleType).as("sum_price"))
    }),

    // §2.5 window lag (the reference's lagplot)
    "q09_window_lag" -> ((s, dir) => {
      val ev = events(s, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      ev.select(col("event_id"), col("user_id"), col("value"),
        lag(col("value"), 1).over(w).as("prev_value"))
    }),

    // §2.8 JSON scalar functions (events.props)
    "q10_json_extract" -> ((s, dir) => {
      events(s, dir).select(col("event_id"),
        get_json_object(col("props"), "$.k").cast(LongType).as("k_val"))
    }),

    // §2.4 dense 1-D histogram (empty bins kept, bin centers labeled)
    "q11_histogram" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").df
      Binned.histogram(li, col("l_extendedprice"), 0.0, 100000.0, 20)
        .select(col("x_bin").as("bin"), col("value").as("cnt"), col("x_center").as("center"))
    }),

    // §2.4 dense 2-D weighted histogram cube
    "q12_hist2d" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").df
      Binned.denseCube(li,
        Seq(Binned.Axis("x", col("l_quantity"), 0.0, 50.0, 10),
            Binned.Axis("y", col("l_discount"), 0.0, 0.12, 6)),
        Seq(count(lit(1)).as("cnt"), sum(dec2(col("l_extendedprice"))).cast(DoubleType).as("wsum")),
        fill = Map("cnt" -> 0L))
        .select(col("x_bin"), col("y_bin"), col("cnt"), col("wsum"))
    }),

    // §2.4 binned statistic (per-bin mean) with dense axis
    "q13_binned_stat" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").df
      Binned.denseCube(li,
        Seq(Binned.Axis("q", col("l_quantity"), 0.0, 50.0, 10)),
        Seq(round(avg(col("l_extendedprice")), 6).as("mean_price")))
        .select(col("q_bin"), col("mean_price"), col("q_center"))
    }),

    // §2.3 cone search: haversine predicate + separation column
    "q14_cone_search" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").df
        .withColumn("ra", (col("l_orderkey") % 360).cast(DoubleType))
        .withColumn("dec", ((col("l_partkey") % 181) - 90).cast(DoubleType))
      li.filter(Astro.coneSearch(col("ra"), col("dec"), 180.0, 0.0, 57.3))
        .select(col("l_orderkey"), col("l_partkey"), col("ra"), col("dec"),
          round(Astro.sphdist(col("ra"), col("dec"), lit(180.0), lit(0.0)), 6).as("sep"))
    }),

    // §2.3 zone (box) search: conjunctive range predicate
    "q15_zone_search" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").df
        .withColumn("ra", (col("l_orderkey") % 360).cast(DoubleType))
        .withColumn("dec", ((col("l_partkey") % 181) - 90).cast(DoubleType))
      li.filter(Astro.zoneSearch(col("ra"), col("dec"), 100.0, 200.0, -30.0, 30.0))
        .select(col("l_orderkey"), col("l_partkey"), col("ra"), col("dec"))
    }),

    // §2.8 sexagesimal string → degrees
    "q16_sexagesimal" -> ((s, dir) => {
      val li = tfan(s, dir, "lineitem").df
      val hms = concat(
        lpad((col("l_orderkey") % 24).cast(StringType), 2, "0"), lit(":"),
        lpad((col("l_partkey") % 60).cast(StringType), 2, "0"), lit(":"),
        lpad((col("l_suppkey") % 60).cast(StringType), 2, "0"))
      li.select(col("l_orderkey"), col("l_linenumber"), hms.as("hms_str"),
        round(Astro.hms2deg(hms), 6).as("ra_deg"))
    }),

    // §2.8 gaia healpix level rescale (integer cell arithmetic)
    "q17_gaia_healpix" -> ((s, dir) => {
      val ev = events(s, dir)
        .withColumn("source_id", col("event_id") * lit(34359738368L) + col("user_id"))
      ev.groupBy(Astro.gaiaHealpix(col("source_id"), 10).as("cell"))
        .agg(count(lit(1)).as("n"))
    }),

    // M6 exact dedup by content hash
    "q18_dedup_exact" -> ((s, dir) => {
      val d = t(s, dir, "documents").df
      Dedup.exact(d, col("text"), col("doc_id"))
    }),

    // M6 text quality signals
    "q19_text_quality" -> ((s, dir) => {
      val d = t(s, dir, "documents").df
      val sig = TextAnalysis.qualitySignals(col("text"))
      d.select(col("doc_id") +: sig.map { case (n, c) => c.as(n) }: _*)
    }),

    // M6 language identification (stopword-evidence heuristic)
    "q20_langid" -> ((s, dir) => {
      val d = t(s, dir, "documents").df
      d.select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
    }),

    // M6 document fingerprint (normalized md5)
    "q21_text_fingerprint" -> ((s, dir) => {
      val d = t(s, dir, "documents").df
      d.select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
    }),

    // §2.9 event-time tumbling window aggregation (batch-equivalent)
    "q22_events_window" -> ((s, dir) => {
      events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(dec2(col("value"))).cast(DoubleType).as("sum_value"))
    }),

    // M6 brute-force cosine top-k (ANN correctness baseline)
    "q23_ann_cosine" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").df
      val probes = e.filter(col("vec_id") < 20)
      Similarity.bruteForceTopK(e, probes, "vec_id", "embedding", 5)
        .withColumn("rank", col("rank").cast(LongType))
    }),

    // §2.7 set ops: intersect
    "q24_setops" -> ((s, dir) => {
      val c = t(s, dir, "customer").df.select(col("c_nationkey").cast(IntegerType).as("nationkey"))
      val sup = t(s, dir, "supplier").df.select(col("s_nationkey").cast(IntegerType).as("nationkey"))
      c.intersect(sup)
    }),

    // §2.5 window ranking (top-3 orders per customer)
    "q25_window_rank" -> ((s, dir) => {
      val o = t(s, dir, "orders").df
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey")).orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      o.select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(w).cast(LongType).as("rn"))
        .filter(col("rn") <= 3)
    }),

    // M6 MinHash+LSH near-dup candidates — PORTABLE md5-hex lanes so
    // DuckDB mirrors the minima/banding term-for-term (the xxhash64
    // kernel path stays the library default; this query gates the
    // operator end to end against a real SQL oracle)
    "q26_minhash_lsh" -> ((s, dir) => {
      val d = tfan(s, dir, "documents").df
      Dedup.minhashLsh(d, col("text"), col("doc_id"), portableHash = true)
    }),

    // M6 SimHash fingerprints (rows-only)
    // M6 SimHash fingerprints — PORTABLE 60-bit md5 variant so the
    // fingerprint VALUES themselves oracle-check (the 64-bit xxhash
    // kernel stays the library default)
    "q27_simhash" -> ((s, dir) => {
      val d = tfan(s, dir, "documents").df
      Dedup.simhash(d, col("text"), col("doc_id"), portableHash = true)
    }),

    // M6 LSH-bucketed ANN, the 100 TB scale path (rows-only)
    "q28_ann_lsh" -> ((s, dir) => {
      val e = tfan(s, dir, "embeddings").df
      Similarity.lshTopK(e, "vec_id", "embedding", 5, planes = 6)
    }),

    // §2.3 semi/anti joins (EXISTS / NOT EXISTS)
    "q29_semi_anti" -> ((s, dir) => {
      val c = t(s, dir, "customer").df
      val o = t(s, dir, "orders").df.select(col("o_custkey"))
      val withO = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .agg(count(lit(1)).as("n")).withColumn("kind", lit("with_orders"))
      val withoutO = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .agg(count(lit(1)).as("n")).withColumn("kind", lit("without_orders"))
      withO.unionByName(withoutO).select(col("kind"), col("n"))
    }),

    // §2.7 except (set difference)
    "q30_except" -> ((s, dir) => {
      val c = t(s, dir, "customer").df.select(col("c_nationkey").cast(IntegerType).as("nationkey"))
      val sup = t(s, dir, "supplier").df.select(col("s_nationkey").cast(IntegerType).as("nationkey"))
      c.except(sup)
    }),

    // §2.4 extended stats: exact interpolated percentiles + variance
    "q31_stats_extended" -> ((s, dir) => {
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

    // §2.4 healpix-cell aggregation via the custom Catalyst Expression
    // (rows-only: nested-scheme bit math is not DuckDB-expressible)
    "q32_healpix_agg" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").df
        .withColumn("ra", (col("l_orderkey") % 360).cast(DoubleType))
        .withColumn("dec", ((col("l_partkey") % 181) - 90).cast(DoubleType))
      Binned.healpixAgg(li, graft.functions.Healpix.ang2pix(2, col("ra"), col("dec")), 2)
    }),

    // §2.9 sessionization (session_window in batch; 30-min gap)
    "q33_events_sessions" -> ((s, dir) => {
      events(s, dir)
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), max(col("ts")).as("last_ts"))
        .select(col("user_id"), col("w.start").as("session_start"), col("n_events"), col("last_ts"))
    }),

    // M6 multimodal: arithmetic-synthesized REAL containers (WAV for
    // even ids, BMP for odd — Multimodal.synthMedia) through the
    // production decoders + frame explode.  Every decoded field
    // (dims, sample counts, duration, rms, peak, channel means) is
    // integer/float arithmetic on (doc_id, n_chars), so the oracle
    // mirrors the whole pipeline in SQL — decode included.
    "q34_multimodal" -> ((s, dir) => {
      val d = t(s, dir, "documents").df
      val m = d.select(col("doc_id"), col("n_chars"),
          operators.Multimodal.synthMedia(col("doc_id"), col("n_chars")).as("payload"))
        .withColumn("dec", operators.Multimodal.decodeMedia(col("payload")))
      operators.Multimodal.explodeFrames(m, "payload", maxFrames = 4)
        .groupBy(col("doc_id"), col("dec.mime").as("mime"),
          col("dec.width").as("width"), col("dec.height").as("height"),
          col("dec.sample_rate").as("sample_rate"), col("dec.n_samples").as("n_samples"),
          round(col("dec.duration_s"), 6).as("dur"), round(col("dec.rms"), 6).as("rms"),
          round(col("dec.peak"), 6).as("peak"),
          round(col("dec.mean_r"), 6).as("mean_r"), round(col("dec.mean_g"), 6).as("mean_g"),
          round(col("dec.mean_b"), 6).as("mean_b"),
          col("dec.size_bytes").as("payload_bytes"))
        .agg(count(lit(1)).as("n_frames"), sum(length(col("frame"))).as("total_bytes"))
    }),

    // q34 twin for the FLAC tier, ORACLE-EXACT: the same closed-form
    // PCM16 signal as synthWav's arithmetic, but shipped through a REAL
    // compressed FLAC container (fixed/constant/verbatim subframes,
    // Rice residuals, CRC'd frames).  FLAC is lossless, so decodeMedia
    // must recover the arithmetic EXACTLY — DuckDB recomputes
    // rms/peak/duration from the closed form while Spark runs the full
    // encoder+decoder round trip per row.
    "q34b_flac_meta" -> ((s, dir) => {
      val d = t(s, dir, "documents").df.filter(col("doc_id") < 200)
      val mkFlac = udf((docId: Long, nChars: Long) => {
        val n = (64 + math.floorMod(nChars, 64)).toInt
        val pcm = Array.tabulate(n)(i =>
          (math.floorMod(docId * 131 + i * 17, 65536) - 32768).toShort)
        graft.functions.Flac.encodeFlac(pcm, channels = 1, sampleRate = 8000, blockSize = 64)
      })
      d.select(col("doc_id"),
          operators.Multimodal.decodeMedia(mkFlac(col("doc_id"), col("n_chars"))).as("m"))
        .select(col("doc_id"), col("m.mime").as("mime"),
          col("m.channels").as("channels"), col("m.sample_rate").as("sample_rate"),
          col("m.bits").as("bits"), col("m.n_samples").as("n_samples"),
          round(col("m.duration_s"), 6).as("dur"),
          round(col("m.rms"), 6).as("rms"), round(col("m.peak"), 6).as("peak"))
    }),

    // q34 twin for the ISOBMFF tier, ORACLE-EXACT: the same closed-form
    // PCM16 signal shipped through a REAL MP4 container (ftyp/mdat/moov
    // with full stsd/stsc/stsz/stco chunk maps), alternating the
    // QuickTime sowt (little-endian) and twos (big-endian) sample
    // entries by doc parity so BOTH demux arms sit under the oracle.
    // PCM is lossless, so decodeMedia must recover the arithmetic
    // exactly — DuckDB recomputes rms/peak/duration from the closed
    // form while Spark runs the full mux+demux round trip per row.
    "q34c_mp4_meta" -> ((s, dir) => {
      val d = t(s, dir, "documents").df.filter(col("doc_id") < 200)
      val mkMp4 = udf((docId: Long, nChars: Long) => {
        val n = (64 + math.floorMod(nChars, 64)).toInt
        val pcm = Array.tabulate(n)(i =>
          (math.floorMod(docId * 131 + i * 17, 65536) - 32768).toShort)
        graft.functions.Mp4.encodeMp4Pcm(pcm, channels = 1, sampleRate = 8000,
          bigEndian = docId % 2 == 1)
      })
      d.select(col("doc_id"),
          operators.Multimodal.decodeMedia(mkMp4(col("doc_id"), col("n_chars"))).as("m"))
        .select(col("doc_id"), col("m.mime").as("mime"),
          col("m.channels").as("channels"), col("m.sample_rate").as("sample_rate"),
          col("m.bits").as("bits"), col("m.n_samples").as("n_samples"),
          round(col("m.duration_s"), 6).as("dur"),
          round(col("m.rms"), 6).as("rms"), round(col("m.peak"), 6).as("peak"))
    }),

    // §2.8 euler frame transform (celestial -> galactic, J2000)
    "q35_euler_galactic" -> ((s, dir) => {
      val li = tfan(s, dir, "lineitem").df
        .withColumn("ra", (col("l_orderkey") % 360).cast(DoubleType))
        .withColumn("dec", ((col("l_partkey") % 181) - 90).cast(DoubleType))
      val (l, b) = Astro.euler(col("ra"), col("dec"), select = 1)
      li.select(col("l_orderkey"), col("l_partkey"), col("ra"), col("dec"),
        round(l, 6).as("gal_l"), round(b, 6).as("gal_b"))
    }),

    // §2.8 Aitoff projection
    "q36_aitoff" -> ((s, dir) => {
      val li = tfan(s, dir, "lineitem").df
        .withColumn("lon", (col("l_orderkey") % 360).cast(DoubleType))
        .withColumn("lat", ((col("l_partkey") % 181) - 90).cast(DoubleType))
      val (x, y) = Astro.projectAitoff(col("lon"), col("lat"))
      li.select(col("l_orderkey"), col("l_partkey"),
        round(x, 6).as("aitoff_x"), round(y, 6).as("aitoff_y"))
    }),

    // §2.4 datashader-style raster aggregation (viewport + pixel grid)
    "q37_raster" -> ((s, dir) => {
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
    "q38_first_last" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").df
        .withColumn("seq", col("l_orderkey") * 10 + col("l_linenumber"))
      li.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          min_by(col("l_linestatus"), col("seq")).as("first_status"),
          max_by(col("l_linestatus"), col("seq")).as("last_status"))
    }),

    // §2.4 multigroupby: nested grouping flattened to key columns
    "q39_multigroupby" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.df.groupBy(col("l_returnflag"), col("l_linestatus"), year(col("l_shipdate")).as("ship_year"))
        .agg(count(lit(1)).as("n"), sum(dec2(col("l_extendedprice"))).cast(DoubleType).as("sum_price"))
    }),

    // M6 verified dedup pipeline: LSH candidates -> estimate prune ->
    // exact n-gram Jaccard (rows-only).  The est_jaccard >= 0.5 prune is
    // the load-bearing scale step: banding at (b=8, r=4) has threshold
    // t = (1/b)^(1/r) ~= 0.59, so candidates far below it are collision
    // noise the full-signature estimate (free, already computed) rejects
    // without touching the texts — at sf0.1 this is 237k pairs -> 2.7k,
    // and only the survivors pay the exact shingle-set verification.
    "q40_dedup_verified" -> ((s, dir) => {
      val d = t(s, dir, "documents").df
      Dedup.verifiedPairs(d, col("text"), col("doc_id"), minEst = 0.5,
          portableHash = true)
        .orderBy(col("jaccard").desc, col("id_a"), col("id_b"))
    }),

    // §2.8 degrees -> sexagesimal string (inverse of q16)
    "q41_deg2hms" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").df
      val deg = ((col("l_orderkey") % 24).cast(DoubleType)
        + (col("l_partkey") % 60).cast(DoubleType) / 60.0
        + (col("l_suppkey") % 60).cast(DoubleType) / 3600.0) * 15.0
      li.select(col("l_orderkey"), col("l_linenumber"),
        round(deg, 6).as("deg"), Astro.deg2hms(deg).as("hms"))
    }),

    // §2.4 per-variable weighted histograms over one shared grid
    // (ezdata/xarray.py:99–165 xr_histogram_df)
    "q42_weighted_hist" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").df
      Binned.denseCube(li,
        Seq(Binned.Axis("x", col("l_extendedprice"), 0.0, 100000.0, 20)),
        Seq(count(lit(1)).as("cnt"),
          sum(dec2(col("l_quantity"))).cast(DoubleType).as("w_quantity"),
          sum(dec2(col("l_extendedprice"))).cast(DoubleType).as("w_price")),
        fill = Map("cnt" -> 0L))
        .select(col("x_bin").as("bin"), col("cnt"), col("w_quantity"), col("w_price"))
    }),

    // §2.10 custom Aggregator (weighted mean UDAF) in a grouped query
    "q43_weighted_mean" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").df
      li.groupBy(col("l_returnflag"))
        .agg(round(graft.functions.Aggregators.weightedMean(
          col("l_extendedprice"), col("l_quantity")), 3).as("wm_price"))
    }),

    // §2.4 datashader `mode` reduction
    "q44_mode" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").df
      li.groupBy(col("l_returnflag"))
        .agg(expr("mode(l_linestatus)").as("mode_status"), count(lit(1)).as("n"))
    }),

    // §2.4 rollup (hierarchical grouping-sets extension)
    "q45_rollup" -> ((s, dir) => {
      val li = tfan(s, dir, "lineitem").df
      li.rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sum(dec2(col("l_extendedprice"))).cast(DoubleType).as("sum_price"))
    }),

    // §2.9 sliding windows (batch equivalent; 2h width, 1h slide)
    "q46_events_sliding" -> ((s, dir) => {
      events(s, dir)
        .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("ws"), col("event_type"), col("n"))
    }),

    // M6 IVF coarse quantization: nearest-centroid assignment
    "q47_ann_ivf" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").df
      val cents = e.filter(col("vec_id") < 16)
      Similarity.ivfAssign(e, cents, "vec_id", "embedding")
    }),

    // M6 BPE-ish subword token counting
    "q48_bpe_tokens" -> ((s, dir) => {
      val d = t(s, dir, "documents").df
      d.select(col("doc_id"), TextAnalysis.bpeTokenCount(col("text")).as("n_bpe"))
    }),

    // M6 embedding-cosine near-dup candidate pairs (LSH path; rows-only)
    "q49_embedding_neardup" -> ((s, dir) => {
      val e = tfan(s, dir, "embeddings").df
      Dedup.embeddingNearDup(e, "vec_id", "embedding", threshold = 0.2, planes = 5)
    }),

    // §2.4 full CUBE over two keys (grouping-sets family)
    "q50_cube" -> ((s, dir) => {
      val li = tfan(s, dir, "lineitem").df
      li.cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sum(dec2(col("l_quantity"))).cast(DoubleType).as("sum_qty"))
    }),

    // §2.10 arbitrary per-group function via flatMapGroups (rows-only:
    // the per-group range computation is the typed escape hatch)
    "q51_group_function" -> ((s, dir) => {
      import org.apache.spark.sql.Row
      val li = tfan(s, dir, "lineitem")
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
    "q52_asof_join" -> ((s, dir) => {
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
    "q53_range_join" -> ((s, dir) => {
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
    "q55_ezframe_join" -> ((s, dir) => {
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
    "q56_topk_per_key" -> ((s, dir) => {
      val o = t(s, dir, "orders").df
      graft.plans.TopK.perKey(o, Seq("o_custkey"), "o_orderkey", k = 3, descending = true)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
    }),

    // §2.11 violin density aggregation (plotter.py:943–955): binned
    // counts normalized to a probability density — the in-cluster curve
    // behind Plotter.violin (only `bins` points reach the driver)
    "q57_violin_density" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").df
      val h = Binned.histogram(li, dec2(col("l_quantity")).cast(DoubleType), 0.0, 60.0, 12)
      // grand total via a broadcast 1-row aggregate, NOT a
      // partitionBy(lit) window: Catalyst folds the literal key away
      // and plans a single-partition global window (WindowExec warns)
      val total = h.agg(sum(col("value")).as("_total"))
      h.crossJoin(broadcast(total)).select(col("x_bin").as("bin"),
        round(col("value").cast(DoubleType) / (col("_total") * 5.0), 6).as("density"))
    }),

    // M6 exact near-dup pairs: the brute-force oracle twin of the
    // LSH-bucketed q49 (same semantics, O(n²) — verification scale only)
    "q58_neardup_exact" -> ((s, dir) => {
      val e = tfan(s, dir, "embeddings").df.filter(col("vec_id") < 1000)
      Similarity.exactPairs(e, "vec_id", "embedding", threshold = 0.2)
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
    "q59_stream_neardup" -> ((s, dir) => {
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
      // same scale-adaptive fan-out as the batch slots spreads it (the
      // stateful core re-shuffles by band bucket either way, and
      // leader clustering sorts by doc_id within the batch, so the
      // partitioning is invisible to the result)
      val fanned = graft.sources.FanOut.small(stream, streamDir.getPath,
        Seq(col("doc_id")))
      val hits = graft.streaming.StreamingDedup.nearDupHitsPortable(
        fanned, "doc_id", "text", threshold = 0.5)
      val sink = "q59_sink_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = hits.toDF().writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      s.table(sink).distinct()
    }),

    // §2.4 distinct aggregation (exact; HLL approx_count_distinct is the
    // scale-out variant, not oracle-comparable across engines)
    "q54_distinct_agg" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").df
      li.groupBy(col("l_returnflag"))
        .agg(count_distinct(col("l_partkey")).as("n_parts"),
          count_distinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n"))
    }),

    // M6 sequence packing (concatenate-and-chunk into 512-token training
    // sequences) — distributed prefix sum, no single-partition window
    "q60_pack_bins" -> ((s, dir) => {
      val d = t(s, dir, "documents").df
      graft.operators.Packing.packSummary(d, col("doc_id"),
        TextAnalysis.tokenCount(col("text")), budget = 512L)
    }),

    // M6 TF-IDF top terms per document (rank on the rounded score so
    // the float ordering is oracle-stable; term tiebreak)
    "q61_tfidf_topk" -> ((s, dir) => {
      val d = tfan(s, dir, "documents").df
      val toks = d.select(col("doc_id"),
          explode(split(TextAnalysis.normalize(col("text")), " ")).as("term"))
        .filter(length(col("term")) > 0)
      val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val total = d.agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(dfreq, Seq("term")).crossJoin(broadcast(total))
        .withColumn("tfidf",
          round(col("tf") * log(col("n_docs").cast(DoubleType) / col("df")), 6))
      // top-3 bounded BELOW the shuffle by the partial TopKPerKey
      // operator (the rankPerProbe pattern): the row_number window
      // alone would shuffle and fully sort every (doc, term) score;
      // the rank is recomputed over the ≤ 3·|docs| survivors with the
      // identical ordering/tiebreak, so the rows and ranks are
      // unchanged (r21; plan: full-stream Window → TopKPerKey + small
      // Window)
      val top = graft.plans.TopK.perKeyOrdered(scored, Seq("doc_id"),
        Seq("tfidf" -> true, "term" -> false), 3)
      val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term").asc)
      top.withColumn("rank", row_number().over(w).cast(LongType))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("term"), col("tf"), col("df"), col("tfidf"), col("rank"))
    }),

    // M6 PII scan: deterministic synthetic PII injected per doc id, then
    // regex match counts — gates cross-engine regex semantics end to end
    "q62_pii_scan" -> ((s, dir) => {
      val d = t(s, dir, "documents").df
      val aug = concat(col("text"),
        when(col("doc_id") % 7 === 0,
          concat(lit(" contact support+"), col("doc_id").cast(StringType),
            lit("@example-mail.com now"))).otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          concat(lit(" call 555-01"),
            lpad((col("doc_id") % 100).cast(StringType), 2, "0"),
            lit(" today"))).otherwise(lit("")))
      val sig = TextAnalysis.piiSignals(aug)
      d.select(col("doc_id") +: sig.map { case (n, c) => c.as(n) }: _*)
    }),

    // M6 document chunking (RAG/training windows: 500 chars, stride 400)
    // with per-chunk fingerprints for chunk-level dedup
    "q64_chunking" -> ((s, dir) => {
      val d = t(s, dir, "documents").df
      graft.operators.Chunking.chunkFingerprints(d, col("doc_id"), col("text"),
        width = 500, stride = 400)
    }),

    // M6 benchmark-contamination check: n-gram containment of (synthetic)
    // eval items — prefixes of every 97th doc — against the whole corpus;
    // bench shingle sets broadcast, corpus never shuffles
    "q65_contamination" -> ((s, dir) => {
      val d = tfan(s, dir, "documents").df
      val bench = d.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("bid"),
          substring(TextAnalysis.normalize(col("text")), 1, 120).as("btext"))
      graft.operators.Contamination.containment(
        d, col("doc_id"), col("text"), bench, col("bid"), col("btext"),
        n = 5, threshold = 0.8)
    }),

    // M6 flagship composition: quality gate -> PII scrub -> exact dedup
    // -> chunk -> pack, ONE Catalyst plan, oracle-verified end to end
    "q66_corpus_pipeline" -> ((s, dir) => {
      val d = t(s, dir, "documents").df
      graft.operators.Pipeline.pretrainCorpus(d, col("doc_id"), col("text"))
    }),

    // M6 SimHash bit-band near-dup pairs (exact recall for hamming <=
    // bands-1 by pigeonhole) — PORTABLE 60-bit md5 fingerprints so the
    // per-bit votes, banding, and hamming verify all mirror in SQL
    "q67_simhash_neardup" -> ((s, dir) => {
      val d = tfan(s, dir, "documents").df
      Dedup.simhashNearDup(d, col("text"), col("doc_id"), bands = 4, maxHamming = 3,
        portableHash = true)
    }),

    // §2.8 euler frame transform, FK4/B1950 equinox (the reference's
    // b1950 flag, simpletable.py:1291-1300)
    "q68_euler_b1950" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").df
        .withColumn("ra", (col("l_orderkey") % 360).cast(DoubleType))
        .withColumn("dec", ((col("l_partkey") % 181) - 90).cast(DoubleType))
      val (l, b) = Astro.euler(col("ra"), col("dec"), select = 1, b1950 = true)
      li.select(col("l_orderkey"), col("l_partkey"), col("ra"), col("dec"),
        round(l, 6).as("gal_l"), round(b, 6).as("gal_b"))
    }),

    // M6 connected components over the exact cosine near-dup pair graph
    // (threshold 0.35 yields multi-hop clusters at sf0.01 — max
    // component 59 nodes, far beyond any single candidate pair, so the
    // transitive closure is genuinely exercised); component = min
    // reachable id, singleton nodes included as their own component
    "q69_dedup_components" -> ((s, dir) => {
      val e = tfan(s, dir, "embeddings").df.filter(col("vec_id") < 1000)
      val pairs = Similarity.exactPairs(e, "vec_id", "embedding", threshold = 0.35)
        .select(col("id_a"), col("id_b"))
      Dedup.connectedComponents(e.select(col("vec_id").as("nid")), "nid", pairs)
    }),

    // M6 end-to-end near-dup dedup: LSH candidates -> Jaccard verify ->
    // connected components -> keep min-id winner per cluster.  Rows-only
    // (MinHash needs xxhash64); snapshot-pinned at sf0.01.  Text column
    // dropped from the output so the fixture stays small.
    // flagship: PORTABLE candidate banding so the whole pipeline —
    // candidates → exact-jaccard verify → connected components →
    // min-id winners — mirrors in one recursive-CTE DuckDB oracle
    "q70_neardup_corpus" -> ((s, dir) => {
      val d = tfan(s, dir, "documents").df
      Dedup.nearDedupCorpus(d, col("text"), col("doc_id"), minJaccard = 0.5,
          portableHash = true)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    }),

    // M6 Gopher-style repetition quality filters: duplicate-token,
    // duplicate-2-gram, and top-token frequency ratios per document
    "q71_repetition" -> ((s, dir) => {
      val d = t(s, dir, "documents").df
      TextAnalysis.repetitionSignals(d, col("doc_id"), col("text"))
    }),

    // M6 k-means centroid training (Lloyd's, 2 rounds, deterministic
    // md5-order init, lowest-cid argmin tiebreak) — trains the IVF
    // coarse quantizer; output unpivoted to (centroid_id, dim, coord)
    "q72_kmeans" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").df
      Similarity.kmeansFit(e, "vec_id", "embedding", k = 8, iters = 2)
        .select(col("centroid_id"), col("n_members"), posexplode(col("centroid")))
        .select(col("centroid_id"), col("pos").cast(LongType).as("dim"),
          round(col("col"), 6).as("coord"), col("n_members"))
    }),

    // M6 deterministic stratified sampling: downsample dominant 'en' to
    // 300 permille, 'de' to 500, keep tail languages whole — a pure
    // filter with the stable md5-bucket contract (no RNG)
    "q73_stratified_sample" -> ((s, dir) => {
      val d = t(s, dir, "documents").df
      graft.operators.Scale.sampleStratified(d, col("doc_id"), col("lang"),
          Map("en" -> 300, "de" -> 500))
        .select(col("doc_id"), col("lang"), col("n_chars"))
    }),

    // M6 tokenizer-vocabulary extraction: exact global top-50 terms by
    // frequency with a deterministic term tiebreak (TakeOrdered top-k,
    // no global sort)
    "q74_vocab_topk" -> ((s, dir) => {
      val d = t(s, dir, "documents").df
      TextAnalysis.topTerms(d, col("text"), k = 50)
    }),

    // M6 embedding mean-pooling per label (chunk->document pooling
    // shape); unpivoted for the oracle like q72
    "q75_mean_pool" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").df
      Similarity.meanPool(e, col("label"), col("embedding"))
        .select(col("group_id"), col("n_members"), posexplode(col("vec")))
        .select(col("group_id").cast(LongType).as("group_id"),
          col("pos").cast(LongType).as("dim"),
          round(col("col"), 6).as("coord"), col("n_members"))
    }),

    // M6 per-domain cap (corpus-bias control: at most 15 docs per
    // source, deterministic md5-order pick, bounded below the shuffle
    // by the custom TopKPerKey operator)
    "q76_cap_per_key" -> ((s, dir) => {
      val d = t(s, dir, "documents").df
      graft.operators.Scale.capPerKey(d, "source", col("doc_id"), n = 15)
        .select(col("doc_id"), col("source"), col("lang"))
    }),

    // M6 duplicate-cluster size distribution over the q69 component
    // graph: how many clusters of each size the near-dup graph contains
    "q77_cluster_sizes" -> ((s, dir) => {
      val e = tfan(s, dir, "embeddings").df.filter(col("vec_id") < 1000)
      val pairs = Similarity.exactPairs(e, "vec_id", "embedding", threshold = 0.35)
        .select(col("id_a"), col("id_b"))
      Dedup.connectedComponents(e.select(col("vec_id").as("nid")), "nid", pairs)
        .groupBy(col("component")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
    }),

    // M6 corpus-relative length gate: keep docs inside the exact
    // [p10, p90] n_chars band (data-derived thresholds, scan-stage
    // predicate; exact quantiles via sort + rank selection)
    "q78_quantile_gate" -> ((s, dir) => {
      val d = t(s, dir, "documents").df
      graft.operators.Quantiles.filterByQuantile(d, col("n_chars"), 0.1, 0.9)
        .select(col("doc_id"), col("n_chars"))
    }),

    // M6 exact-substring dedup signal: 60-char normalized windows
    // repeated across >= 2 distinct documents (one explode into one
    // hash aggregate on the span md5)
    "q79_repeated_spans" -> ((s, dir) => {
      val d = tfan(s, dir, "documents").df
      Dedup.repeatedSpans(d, col("text"), col("doc_id"), width = 60, minDocs = 2,
        portableHash = true)
    }),

    // M6 corpus snapshot diff (dataset versioning): synthesize a new
    // generation (removals, text revisions, additions) and classify
    // every doc by fingerprint — added/removed/changed/unchanged
    "q80_corpus_diff" -> ((s, dir) => {
      val d = tfan(s, dir, "documents").df
      val newGen = d.filter(col("doc_id") % 17 =!= 0)
        .withColumn("text", when(col("doc_id") % 13 === 0,
          concat(col("text"), lit(" revised"))).otherwise(col("text")))
        .unionByName(d.filter(col("doc_id") % 19 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000))
      Dedup.corpusDiff(d, newGen, col("doc_id"), col("text"))
    }),

    // M6 quality-weighted deterministic sampling: keep probability
    // proportional to doc length (capped at 1) — no RNG, stable rows
    "q81_weighted_sample" -> ((s, dir) => {
      val d = t(s, dir, "documents").df
      graft.operators.Scale.sampleByWeight(d, col("doc_id"),
          least(lit(1.0), col("n_chars").cast(DoubleType) / 400.0))
        .select(col("doc_id"), col("lang"), col("n_chars"))
    }),

    // M6 per-language tail trim: keep each lang's own [p10, p90]
    // percent_rank band of n_chars (rank-based, no float hazard)
    "q82_quantile_gate_grouped" -> ((s, dir) => {
      val d = t(s, dir, "documents").df
      graft.operators.Quantiles.filterByQuantilePerGroup(
          d, col("lang"), col("n_chars"), 0.1, 0.9)
        .select(col("doc_id"), col("lang"), col("n_chars"))
    }),

    // M6 temperature-based data-mixing weights: source s gets
    // n_s^alpha / sum_t n_t^alpha (alpha = 0.5 — the multilingual
    // flattening temperature); one count agg + a broadcast total
    "q83_mix_weights" -> ((s, dir) => {
      val d = t(s, dir, "documents").df
      graft.operators.Scale.mixtureWeights(d, col("source"), alpha = 0.5)
    }),

    // M6 curriculum buckets: n_chars decile within each language
    // (deterministic ntile — doc_id tiebreak), the difficulty-binning
    // step of staged training
    "q84_quality_buckets" -> ((s, dir) => {
      val d = t(s, dir, "documents").df
      graft.operators.Quantiles.ntileBuckets(
          d, col("lang"), col("n_chars"), col("doc_id"), n = 10)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("bucket").cast(LongType).as("bucket"))
    }),

    // M6 token-entropy quality signal (fused TokenStats kernel —
    // scan-stage, zero shuffle): low entropy = boilerplate/degenerate
    // repetition, the distribution view of the q71 ratio filters
    "q85_token_entropy" -> ((s, dir) => {
      val d = t(s, dir, "documents").df
      TextAnalysis.tokenEntropy(d, col("doc_id"), col("text"))
    }),

    // M6 INCREMENTAL near-dup: a daily batch (doc_id % 10 == 0) LSH-joins
    // a precomputed band index of the full corpus — the historical text
    // is never re-read.  Self-matches filtered (batch ⊂ corpus).
    // PORTABLE md5 band keys → full DuckDB oracle.
    "q86_minhash_index" -> ((s, dir) => {
      val d = tfan(s, dir, "documents").df
      val idx = Dedup.minhashBandIndex(d, col("text"), col("doc_id"), portableHash = true)
      Dedup.minhashLshAgainstIndex(
          d.filter(col("doc_id") % 10 === 0), col("text"), col("doc_id"), idx,
          portableHash = true)
        .filter(col("batch_id") =!= col("index_id"))
    }),

    // M6 product-quantization encode (m=4 subspaces, k=8 seed
    // codewords): the vector-compression companion to q47's IVF —
    // assignment is a pure projection over literal codewords
    "q87_pq_encode" -> ((s, dir) => {
      val e = tfan(s, dir, "embeddings").df
      Similarity.pqEncode(e, "vec_id", "embedding", m = 4, k = 8)
    }),

    // M6 exact-substring dedup ACTION (Lee et al. removal policy): cut
    // cross-document repeated 60-char spans from every non-first doc.
    // Oracle-checkable: the OUTPUT carries no hash (lengths + counts
    // only), so DuckDB mirrors the span grouping on the raw span TEXT
    // while Spark groups on xxhash64 — identical absent a 64-bit
    // collision (bound D²/2⁶⁵, negligible at any test scale).  The
    // cleaned text reduces to its length to keep outputs small.
    "q88_span_removal" -> ((s, dir) => {
      val d = tfan(s, dir, "documents").df
      Dedup.removeRepeatedSpans(d, col("text"), col("doc_id"), width = 60, minDocs = 2)
        .select(col("doc_id"), length(col("text_clean")).cast(LongType).as("n_chars_clean"),
          col("n_spans_cut"))
    }),

    // M6 PQ ADC top-k search (probes = 3 corpus vectors): per-probe
    // lookup tables over the q87 codebook, corpus scored by summing m
    // table entries — no vector math in the corpus scan
    "q89_pq_adc_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").df
      Similarity.pqTopK(e, e.filter(col("vec_id") < 3), "vec_id", "embedding",
        m = 4, k = 8, topK = 5)
    }),

    // M6 Bloom-sketch contamination prefilter (the zero-join tier
    // before q65's exact containment): benchmark = 80-char prefixes of
    // docs 3 and 17; threshold-derived suspect cut.  PORTABLE bloom —
    // md5-permutation lane bits, so the oracle reproduces the sketch
    // (false positives included) bit-for-bit.
    "q90_bloom_prefilter" -> ((s, dir) => {
      val d = tfan(s, dir, "documents").df
      val bench = d.filter(col("doc_id").isin(3L, 17L))
        .select((col("doc_id") + 100000L).as("bid"),
          substring(col("text"), 1, 80).as("btext"))
      graft.operators.Contamination.bloomPrefilter(
        d, col("doc_id"), col("text"), bench, col("btext"),
        n = 20, threshold = 0.8, fpp = 0.01, portableHash = true)
    }),

    // M6 composed IVF+PQ search (the billion-scale recipe): coarse
    // cells from 4 md5-order sampled centroids, nprobe=2, ADC scoring
    // over the q87 codebook — corpus scanned once for cells + codes
    "q91_ivfpq_topk" -> ((s, dir) => {
      val e = tfan(s, dir, "embeddings").df
      val key = graft.functions.WindowHash.md5Prefix(col("vec_id").cast(StringType), 6)
      val cents = e.filter(col("embedding").isNotNull)
        .orderBy(key.asc, col("vec_id").asc).limit(4)
      Similarity.ivfPqTopK(e, cents, e.filter(col("vec_id") < 3),
        "vec_id", "embedding", m = 4, k = 8, topK = 5, nprobe = 2)
    }),

    // M6 BPE merge training (tokenizer induction): first 12 merges
    // over the word-frequency vocab, deterministic tiebreaks.
    // Rows-only (iterative argmax); snapshot-pinned at sf0.01.
    "q92_bpe_merges" -> ((s, dir) => {
      val d = t(s, dir, "documents").df
      TextAnalysis.bpeTopMerges(d, col("text"), rounds = 12)
    }),

    // M6 sentence-shape quality signal: per-doc sentence count and
    // mean/max sentence length.  The fixture text has no punctuation,
    // so sentence structure is synthesized deterministically first
    // (a period after every 8th token — index-lambda transform,
    // mirrored 1:1 in the oracle), like q80 synthesizes its new
    // generation inline.
    "q93_sentence_stats" -> ((s, dir) => {
      val d = t(s, dir, "documents").df
      TextAnalysis.sentenceStats(withSentences(d), col("doc_id"), col("text"))
    }),

    // M6 sentence-level boilerplate: sentences repeated across >= 2
    // distinct docs by normalized fingerprint — the sentence-granular
    // complement of q79's fixed-width spans (same synthesized
    // sentence structure as q93)
    "q94_repeated_sentences" -> ((s, dir) => {
      val d = tfan(s, dir, "documents").df
      TextAnalysis.repeatedSentences(withSentences(d), col("doc_id"), col("text"),
        minDocs = 2)
    }),

    // M6 multimodal image near-dup, CROSS-FORMAT: deterministic 8x8
    // images per doc (class = doc_id % 20 fixes the pixels; the class
    // member index perturbs ONE pixel) land in a DIFFERENT container
    // per member — 24-bit BMP, baseline JPEG (q100), progressive/SOF2
    // JPEG (q100) — then per-channel color-histogram embeddings
    // ([[Multimodal.imageEmbedding]] decodes all three) pair them at
    // exact cosine: image dedup IS embedding dedup after the content
    // projection, regardless of container.  Rows-only (codecs +
    // histogram not SQL-expressible); snapshot-pinned.
    // Cross-format image near-dup, ORACLE-EXACT end to end (r18
    // verdict #3): the three members of class c carry the SAME
    // closed-form 8×8 image — byte k (image-order RGB) is
    // (c*12 + k%13) % 256, xor 128 at k = member*3 — shipped through
    // three REAL lossless containers: member 0 as 24-bit BMP
    // (bottom-up BGR storage), member 1 as PNG (zlib IDAT, real
    // CRCs), member 2 as GIF89a (LZW, global palette).  Lossless
    // decode means DuckDB recomputes the whole decode → 16-bin/channel
    // histogram → cosine-pair pipeline from arithmetic while Spark
    // runs the REAL codecs.  The lossy JPEG arms (DCT rounding has no
    // honest closed-form mirror) live in q95d under the golden
    // snapshot instead — the per-arm split the oracle documents.
    "q95_image_neardup" -> ((s, dir) => {
      val d = t(s, dir, "documents").df.filter(col("doc_id") < 60)
      val mkImage = udf((docId: Long) => {
        val cls = (docId % 20).toInt
        val member = (docId / 20).toInt
        val rgb = Array.tabulate(192)(k => (((cls * 12 + k % 13) % 256).toByte))
        rgb(member * 3) = (rgb(member * 3) ^ 0x80).toByte // one-pixel tweak
        member match {
          case 0 =>
            // image-order RGB → BMP storage (bottom-up rows, BGR)
            val px = new Array[Byte](192)
            var y = 0
            while (y < 8) {
              var x = 0
              while (x < 8) {
                val src = (y * 8 + x) * 3
                val dst = ((7 - y) * 8 + x) * 3
                px(dst) = rgb(src + 2); px(dst + 1) = rgb(src + 1); px(dst + 2) = rgb(src)
                x += 1
              }
              y += 1
            }
            val stride = 8 * 3 // 24 bytes per row, already 4-aligned
            val bb = java.nio.ByteBuffer.allocate(54 + stride * 8)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            bb.put('B'.toByte).put('M'.toByte).putInt(54 + stride * 8)
            bb.putInt(0).putInt(54).putInt(40).putInt(8).putInt(8)
            bb.putShort(1).putShort(24).putInt(0).putInt(stride * 8)
            bb.putInt(2835).putInt(2835).putInt(0).putInt(0)
            bb.put(px)
            bb.array()
          case 1 => graft.functions.MediaCodecs.pngEncodeRgb(8, 8, rgb)
          case _ => graft.functions.MediaCodecs.gifEncodeRgb(8, 8, rgb)
        }
      })
      val emb = d.select(col("doc_id"),
          operators.Multimodal.imageEmbedding(mkImage(col("doc_id"))).as("emb"))
        .filter(col("emb").isNotNull)
      operators.Similarity.exactPairs(emb, "doc_id", "emb", threshold = 0.95)
    }),

    // The LOSSY arm of cross-format image near-dup: BMP + baseline
    // JPEG + progressive JPEG (quality 100) of a seeded-random image.
    // DCT rounding has no honest closed-form SQL mirror, so this slot
    // is rows-only and byte-pinned by the golden snapshot — the
    // documented per-arm exception to q95's oracle.
    "q95d_jpeg_neardup" -> ((s, dir) => {
      val d = t(s, dir, "documents").df.filter(col("doc_id") < 60)
      val mkImage = udf((docId: Long) => {
        val cls = (docId % 20).toInt
        val member = (docId / 20).toInt
        val rnd = new scala.util.Random(cls)
        val px = Array.fill(64 * 3)(rnd.nextInt(256).toByte)
        px(member * 3) = (px(member * 3) ^ 0x80).toByte // one-pixel tweak
        member match {
          case 0 => // 24-bit BMP (bottom-up rows, BGR)
            val stride = 8 * 3 // 24 bytes per row, already 4-aligned
            val bb = java.nio.ByteBuffer.allocate(54 + stride * 8)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            bb.put('B'.toByte).put('M'.toByte).putInt(54 + stride * 8)
            bb.putInt(0).putInt(54).putInt(40).putInt(8).putInt(8)
            bb.putShort(1).putShort(24).putInt(0).putInt(stride * 8)
            bb.putInt(2835).putInt(2835).putInt(0).putInt(0)
            bb.put(px)
            bb.array()
          case 1 => graft.functions.Jpeg.jpegEncodeRgb(8, 8, bmpPxToRgb(px), quality = 100)
          case _ => graft.functions.Jpeg.jpegEncodeRgbProgressive(8, 8, bmpPxToRgb(px), quality = 100)
        }
      })
      val emb = d.select(col("doc_id"),
          operators.Multimodal.imageEmbedding(mkImage(col("doc_id"))).as("emb"))
        .filter(col("emb").isNotNull)
      operators.Similarity.exactPairs(emb, "doc_id", "emb", threshold = 0.95)
    }),

    // q95 twin, ORACLE-EXACT (the q34 discipline): the BMP arm of image
    // near-dup with CLOSED-FORM pixels — byte k of doc d is
    // (d%20)*12 + k%13, xor 128 at k = (d/20)*3 — so DuckDB can
    // recompute the whole decode → 16-bin/channel histogram → cosine
    // pair pipeline from arithmetic while Spark runs the REAL container
    // codec (BMP encode, MediaCodecs decode, imageEmbedding,
    // exactPairs).  Classes occupy ~1-bin-wide disjoint value bands, so
    // the answer is exactly the 3 within-class member pairs per class;
    // only the compressed-format arm (PNG/JPEG entropy coding) stays
    // beyond a SQL oracle in q95 itself.
    "q95b_bmp_neardup" -> ((s, dir) => {
      val d = t(s, dir, "documents").df.filter(col("doc_id") < 60)
      val mkBmp = udf((docId: Long) => {
        val cls = (docId % 20).toInt
        val member = (docId / 20).toInt
        val px = Array.tabulate(192)(k => ((cls * 12 + k % 13) % 256).toByte)
        px(member * 3) = (px(member * 3) ^ 0x80).toByte
        val stride = 8 * 3
        val bb = java.nio.ByteBuffer.allocate(54 + stride * 8)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        bb.put('B'.toByte).put('M'.toByte).putInt(54 + stride * 8)
        bb.putInt(0).putInt(54).putInt(40).putInt(8).putInt(8)
        bb.putShort(1).putShort(24).putInt(0).putInt(stride * 8)
        bb.putInt(2835).putInt(2835).putInt(0).putInt(0)
        bb.put(px)
        bb.array()
      })
      val emb = d.select(col("doc_id"),
          operators.Multimodal.imageEmbedding(mkBmp(col("doc_id"))).as("emb"))
        .filter(col("emb").isNotNull)
      operators.Similarity.exactPairs(emb, "doc_id", "emb", threshold = 0.95)
    }),

    // audio near-dup ACROSS CONTAINERS, ORACLE-EXACT: class c of 20
    // owns the amplitude band [-30000+3000c, -28500+3000c); member m of
    // 3 negates sample index m.  Member 0 ships as WAV, member 1 as
    // FLAC, member 2 as FLAC-verbatim — three different byte streams of
    // the same (lossless) signal, so the 32-bin amplitude embeddings
    // collapse cross-container and pairs are exactly the within-class
    // member pairs.  The histogram binning is pure integer arithmetic
    // (bin = (v + 32768) / 2048), so DuckDB mirrors the whole
    // decode → embed → cosine pipeline from the closed form.
    "q95c_audio_neardup" -> ((s, dir) => {
      val d = t(s, dir, "documents").df.filter(col("doc_id") < 60)
      val mkAudio = udf((docId: Long) => {
        val cls = (docId % 20).toInt
        val member = (docId / 20).toInt
        val pcm = Array.tabulate(80) { i =>
          val v = -30000 + cls * 3000 + (i * 37) % 1500
          (if (i == member) -v else v).toShort
        }
        member match {
          case 0 =>
            val bb = java.nio.ByteBuffer.allocate(44 + 2 * pcm.length)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + 2 * pcm.length)
              .put("WAVE".getBytes("US-ASCII"))
            bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
              .putShort(1).putShort(1).putInt(8000).putInt(16000).putShort(2).putShort(16)
            bb.put("data".getBytes("US-ASCII")).putInt(2 * pcm.length)
            pcm.foreach(bb.putShort(_))
            bb.array()
          case 1 => graft.functions.Flac.encodeFlac(pcm, 1, 8000, blockSize = 64)
          case _ => graft.functions.Flac.encodeFlac(pcm, 1, 8000, blockSize = 64,
            forceVerbatim = true)
        }
      })
      val emb = d.select(col("doc_id"),
          operators.Multimodal.audioEmbedding(mkAudio(col("doc_id"))).as("emb"))
        .filter(col("emb").isNotNull)
      operators.Similarity.exactPairs(emb, "doc_id", "emb", threshold = 0.95)
    }),

    // M6 DSIR importance scores (Xie et al. 2023): how much each doc
    // resembles the English-subset target in hashed unigram+bigram
    // space — the domain-selection tier between dedup and tokenization
    "q97_dsir_scores" -> ((s, dir) => {
      // target = the English slice of the SAME corpus → the fused
      // one-pass variant (both distributions from one tokenization;
      // parity with the generic two-frame path is spec-pinned)
      val d = tfan(s, dir, "documents").df
      graft.operators.Dsir.scoresForSlice(d, col("doc_id"), col("text"),
        col("lang") === "en", buckets = 512)
    }),

    // M6 SemDeDup (Abbas et al. 2023): semantic dedup over embeddings —
    // k-means cells bound the pairwise search, within-cell cosine >=
    // 0.35 pairs -> connected components -> min-id representative.
    // Same k/iters geometry as q72, so the oracle reuses its unrolled
    // two-round Lloyd chain.
    "q96_semantic_dedup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").df
      Dedup.semanticDedup(e, "vec_id", "embedding", k = 8, threshold = 0.35)
        .select(col("vec_id"))
    }),

    // M6 unigram-LM quality scoring (the CCNet-style perplexity filter,
    // Wenzek et al. 2020, at order 0): corpus-trained token frequencies,
    // mean token log-prob per document
    "q98_unigram_loglik" -> ((s, dir) => {
      val d = t(s, dir, "documents").df
      operators.TextAnalysis.unigramLogLik(d, col("doc_id"), col("text"))
    }),

    // M6 deterministic training-order shuffle: md5-keyed shard + rank —
    // reproducible global randomization with one hash exchange, no RNG,
    // no global sort
    "q99_corpus_shuffle" -> ((s, dir) => {
      val d = t(s, dir, "documents").df
      operators.Scale.deterministicShuffle(d, col("doc_id"), shards = 64)
        .select(col("doc_id"), col("shard"), col("pos"))
    }),

    // Z-order layout key (data-layout clustering for scan pruning):
    // two exact mod-quantized dims + one range-quantized dim
    // interleaved into the Morton key a clustered write sorts by.
    // Pure codegen'd shift/mask arithmetic — the oracle unrolls the
    // identical interleave in SQL bit ops.
    "q100_zorder_key" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").df
      val x = pmod(col("l_partkey"), lit(256)).cast(LongType)
      val y = pmod(col("l_suppkey"), lit(256)).cast(LongType)
      val q = operators.Layout.quantize(col("l_quantity"), min = 1.0, max = 50.0, bits = 8)
      li.select(col("l_orderkey"), col("l_linenumber"),
        operators.Layout.zValue(Seq(x, y, q), bits = 8).as("zkey"))
    }),

    // Skew-hardened salted join: semantics-preserving by construction,
    // so the oracle is the PLAIN join — the salt must never leak into
    // results.  Probe orders x build customer on custkey (the
    // skew-prone key of the rehearsal corpus), salts=8, spread by the
    // probe's orderkey (varies within a customer).
    "q101_salted_join" -> ((s, dir) => {
      val o = t(s, dir, "orders").df
      val c = t(s, dir, "customer").df
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      // exact decimal sum, rendered as double (the q02 convention)
      operators.Relational.saltedJoin(o, c, Seq("o_custkey"), col("o_orderkey"), salts = 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(20, 2))).cast(DoubleType).as("sum_price"))
    }),

    // Memory-bounded heavy hitters (SpaceSaving per partition, merged
    // with exact error intervals).  Gated in the provably-exact regime
    // (per-partition distinct <= capacity -> no eviction -> n_lower ==
    // n_upper == the true count), so the oracle is a plain grouped
    // count; the approximate regime's bounds are spec-pinned.
    "q102_heavy_hitters" -> ((s, dir) => {
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
    "q117_group_heavy_hitters" -> ((s, dir) => {
      val d = t(s, dir, "documents").df
      val key = concat(col("lang"), lit(":"), pmod(col("n_chars"), lit(10)))
      operators.HeavyHitters.groupTopK(d, Seq(col("source")), key, k = 3, capacity = 64)
        .orderBy(col("source"), col("n_upper").desc, col("item"))
    }),

    // Memory-bounded quantiles (mergeable GK-style rank summary; exact
    // regime: distinct <= capacity collapses every interval to the true
    // cumulative count, independent of partitioning and merge order)
    "q103_quantile_sketch" -> ((s, dir) => {
      val d = t(s, dir, "documents").df
      operators.QuantileSketch.quantiles(
        d, pmod(col("n_chars"), lit(512)).cast("double"),
        ps = Seq(0.16, 0.5, 0.84), capacity = 1024)
    }),

    // Per-group memory-bounded quantiles (same mergeable summary behind
    // the typed Aggregator surface — the exchange moves one bounded
    // summary per (group, mapper), never the values)
    "q106_group_quantile" -> ((s, dir) => {
      val d = t(s, dir, "documents").df
      d.groupBy(col("lang"))
        .agg(operators.QuantileSketch.groupQuantile(
          pmod(col("n_chars"), lit(512)).cast("double"), p = 0.5, capacity = 1024).as("q"))
        .select(col("lang"), col("q.value").as("value"),
          col("q.rank_lo").as("rank_lo"), col("q.rank_hi").as("rank_hi"),
          col("q.exact").as("exact"))
        .orderBy(col("lang"))
    }),

    // Cone search through RAW SQL text: the sphdist Catalyst scalar +
    // the ConeZonePushdown optimizer rule.  The rule injects the
    // declination band and the mod-360 RA guard (this center/radius
    // wraps the RA origin, exercising the convention-free pmod path)
    // ahead of the haversine residual — the oracle sees only the plain
    // haversine, so any unsoundness in the derived bands (a shaved
    // boundary row) is a hash mismatch.
    "q107_cone_sql" -> ((s, dir) => {
      graft.functions.SphDist.register(s)
      graft.plans.ConeZonePushdown.install(s)
      t(s, dir, "lineitem").df
        .withColumn("ra", (col("l_orderkey") % 360).cast(DoubleType))
        .withColumn("dec", ((col("l_partkey") % 181) - 90).cast(DoubleType))
        .createOrReplaceTempView("q107_sky")
      s.sql("""SELECT l_orderkey, l_partkey, ra, dec,
                      round(sphdist(ra, dec, 10.0, 20.0), 6) AS sep
               FROM q107_sky WHERE sphdist(ra, dec, 10.0, 20.0) <= 33.7""")
    }),

    // Persistable SpaceSaving sketches — the heavy-hitter member of
    // the incremental trio (q118 HLL, q119 GK): per-source summaries
    // stored as binary, merged from the stored table alone into the
    // global top-10.  Exact regime (distinct keys < capacity in every
    // source AND globally), so the oracle is the grouped count.
    // M6 benchmark DECONTAMINATION action (the removal q65's detection
    // feeds): every 50-char window of a doc that appears in the
    // benchmark (q65's bench: 120-char normalized prefixes of docs
    // with doc_id % 97 == 0) is cut via the SpanCut kernel.  Output
    // reduces the cleaned text to its length, like q88; the oracle
    // mirrors the whole surgery through the covered-length union
    // arithmetic on raw span TEXT.
    // §2.3 fact⋈dimension broadcast join — the one corpus table no
    // other slot reads (part): TPC-H Q14/Q19-flavored revenue rollup.
    // part is a bounded dimension at ANY scale factor (catalog-sized),
    // so the explicit broadcast() keeps the 100 TB fact side
    // shuffle-free — the join is a map-side hash probe in the scan
    // stage, and the groupBy's map-side combine collapses to
    // (25 brands × 6 types) rows per partition before the exchange.
    "q124_part_dim_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").df
      val part = t(s, dir, "part").df.filter(col("p_size") <= 20)
      li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"))
        .agg(count(lit(1)).as("n_items"),
          sum(dec2(col("l_quantity"))).cast(DoubleType).as("sum_qty"),
          sum(dec4(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .cast(DoubleType).as("revenue"))
    }),

    // §2.12 compressed-bitstream container metadata (the AAC/AV1 tier
    // of the media seam): even ids are ADTS AAC streams whose EVERY
    // frame header is walked (exact 1024·blocks sample count), odd
    // ids IVF AV01 containers — ids ≡ 1 (mod 4) carry a real AV1
    // sequence-header OBU decoded bit-by-bit (its dims override the
    // container's), ids ≡ 3 (mod 4) exercise the container-dims
    // fallback.  The entropy layer stays behind the documented seam,
    // so the oracle recomputes every field from the synth arithmetic.
    "q125_bitstream_meta" -> ((s, dir) => {
      val d = t(s, dir, "documents").df.filter(col("doc_id") < 400)
      d.select(col("doc_id"),
          operators.Multimodal.decodeMedia(
            operators.Multimodal.synthBitstream(col("doc_id"))).as("m"))
        .select(col("doc_id"), col("m.mime").as("mime"),
          col("m.width").as("width"), col("m.height").as("height"),
          col("m.channels").as("channels"), col("m.sample_rate").as("sample_rate"),
          col("m.n_samples").as("n_samples"),
          round(col("m.duration_s"), 6).as("dur"))
    }),

    // §2.12 layout maintenance: small-files compaction proven
    // content-preserving through the full write→compact→scan cycle.
    // lineitem is written as 64 deliberately-tiny files (an
    // incremental writer's output shape), compacted by the
    // shuffle-free coalesce pass (Layout.compactSmallFiles), and the
    // aggregation over the COMPACTED copy must match the oracle's
    // aggregation over the original table — any row lost or duplicated
    // in the rewrite breaks the hash.  The file-count economics are
    // measured in ScaleRehearsal's `files` mode (BASELINE.md).
    "q126_compact_scan" -> ((s, dir) => {
      // l_orderkey < 30000 slice (the q122/q34b bounded-slot
      // precedent): covers the whole sf0.01 gate corpus (orderkeys
      // top out at 14,999 there) while keeping the bench slot's
      // write+compact cost flat at any corpus scale — the file-count
      // ECONOMICS are measured unbounded in ScaleRehearsal `files`
      val li = t(s, dir, "lineitem").df.filter(col("l_orderkey") < 30000)
      val base = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_q126").getAbsolutePath
      // hash-on-key, not round-robin: a keyless repartition(n) first
      // SORTS its input within partitions (SPARK-23207 retry
      // determinism); the hash spread gives the same 64 tiny files —
      // the fixture this slot needs — without that sort, and is
      // deterministic under retry by construction (r22, guide §2.5)
      li.repartition(64, col("l_orderkey"))
        .write.mode("overwrite").parquet(s"$base/tiny")
      operators.Layout.compactSmallFiles(s, s"$base/tiny", s"$base/compacted", 32L << 20)
      s.read.parquet(s"$base/compacted").groupBy(col("l_returnflag"))
        .agg(sum(dec2(col("l_quantity"))).cast(DoubleType).as("sum_qty"),
          count(lit(1)).as("n"))
    }),

    // §2.12 atomic versioned ingest store (manifest commits): the
    // documents slice arrives as TWO appends into a ManifestStore,
    // the store is compacted (new manifest, immutable data files),
    // and the aggregation over the LATEST SNAPSHOT must match the
    // oracle's direct aggregation of the same slice — a torn,
    // duplicated, or dropped file anywhere in commit/compact breaks
    // the hash.  doc_id < 2500: the q122 bounded-slot precedent.
    "q128_manifest_store" -> ((s, dir) => {
      val d = t(s, dir, "documents").df.filter(col("doc_id") < 2500)
        .select(col("doc_id"), col("text"))
      val base = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_q128").getAbsolutePath
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(base))
      sources.ManifestStore.commitAppend(s, base,
        d.filter(col("doc_id") % 2 === 0).repartition(8), "even")
      sources.ManifestStore.commitAppend(s, base,
        d.filter(col("doc_id") % 2 === 1).repartition(8), "odd")
      sources.ManifestStore.compact(s, base, 1L << 20)
      sources.ManifestStore.read(s, base)
        .groupBy((col("doc_id") % 10).as("bucket"))
        .agg(count(lit(1)).as("n"), sum(length(col("text"))).as("n_chars"))
    }),

    // §2.12 incremental semantic dedup (the embedding member of the
    // store-once/merge-later family, next to q86 minhash bands and
    // q122 span evidence): even vec_ids play the standing KEPT store,
    // odd ids the arriving batch, cells FROZEN at 8 literal one-hot
    // centroids — the exact literals the oracle carries, so the
    // DuckDB mirror replays the identical argmin assignment, pair
    // set (store×store excluded), components, and verdicts (any
    // store member kills the whole component; min batch id wins the
    // batch-only ones).  vec_id < 800 covers the whole sf0.01 gate
    // corpus and keeps the bench slot flat at scale.
    "q127_semdedup_incr" -> ((s, dir) => {
      import s.implicits._
      val e = t(s, dir, "embeddings").df.filter(col("vec_id") < 800)
      val store = e.filter(col("vec_id") % 2 === 0)
      val batch = e.filter(col("vec_id") % 2 === 1)
      val cents = (0 until 8)
        .map(j => (j.toLong, Seq.tabulate(64)(d => if (d == 8 * j) 1.0 else 0.0)))
        .toDF("vec_id", "embedding")
      operators.Dedup.semanticDedupIncremental(
          store, batch, cents, "vec_id", "embedding", threshold = 0.30)
        .select(col("vec_id"))
    }),

    "q123_bench_decontam" -> ((s, dir) => {
      val d = t(s, dir, "documents").df
      val bench = d.filter(col("doc_id") % 97 === 0)
        .select(substring(TextAnalysis.normalize(col("text")), 1, 120).as("btext"))
      operators.Contamination.removeBenchmarkSpans(
          d, col("doc_id"), col("text"), bench, col("btext"), width = 50)
        .select(col("doc_id"),
          length(col("text_clean")).cast(LongType).as("n_chars_clean"),
          col("n_spans_cut"))
    }),

    // M6 incremental exact-substring accounting (the span member of
    // the store-once/merge-later family, alongside q86 minhash bands
    // and q118/q119/q120 sketches): the corpus arrives as three
    // doc-disjoint ingest batches, each scanned ONCE into a stored
    // span-evidence parquet; the global repeated-span report is then
    // computed from the stored evidence alone.  A span unique within
    // every single batch but present in two of them is only
    // discoverable at the merge — the case a per-batch minDocs filter
    // would silently lose, and exactly what the oracle (q79's
    // whole-corpus SQL) verifies.
    "q122_span_accounting" -> ((s, dir) => {
      // doc_id < 2500 slice (the q34b/q34c precedent): covers the
      // whole sf0.01 gate corpus while keeping the bench slot's
      // three-batch store+merge under the suite-tail budget at sf0.1
      val d = t(s, dir, "documents").df.filter(col("doc_id") < 2500)
      // the store-once/merge-later family DOGFOODS the store it
      // recommends: each ingest batch lands as a ManifestStore
      // commitAppend (write-ahead data + atomic manifest publish,
      // schema gated at the commit), and the merge reads the LATEST
      // SNAPSHOT — never a raw directory listing that could observe a
      // torn write.  A fresh per-invocation root keeps the slot
      // idempotent when Bench re-runs it in one JVM (appends to a
      // shared root would compound evidence across runs).
      // reclaim prior invocations' stores first (their readers are
      // done — Bench/Verify collect a slot's result before the next
      // invocation starts), so repeated runs in one JVM hold ONE store
      // on disk, not one per run
      val evBase = new java.io.File(scratchDir("q122_evidence"))
      Option(evBase.listFiles).foreach(_.filter(_.getName.startsWith("store_"))
        .foreach(org.apache.commons.io.FileUtils.deleteQuietly))
      val root = s"$evBase/store_" +
        java.util.UUID.randomUUID().toString.take(8)
      // the three ingests are independent (doc-disjoint batches into
      // one root): STAGE them concurrently — guide §2.6, each batch's
      // evidence-aggregation job back-fills cores the previous one's
      // stragglers free — then PUBLISH serially (manifest renames,
      // milliseconds).  Wall ≈ max of the three scans, not their sum;
      // same three write jobs, same committed rows (the batch tag is
      // an explicit literal, so commit order is invisible to the
      // merge).  Job descriptions/groups are thread-local, so each
      // staged write labels itself correctly.
      val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
      try {
        val staged = (0 until 3).map { b =>
          pool.submit(new java.util.concurrent.Callable[sources.ManifestStore.Staged] {
            def call(): sources.ManifestStore.Staged =
              sources.ManifestStore.stageAppend(s,
                root,
                operators.Dedup.spanEvidenceBatch(
                    d.filter(pmod(col("doc_id"), lit(3)) === b),
                    col("text"), col("doc_id"), width = 60)
                  .withColumn("batch", lit(b)),
                label = s"batch$b")
          })
        }
        staged.foreach(fut => sources.ManifestStore.commitStaged(s, root, fut.get()))
      } finally pool.shutdown()
      operators.Dedup.mergeSpanEvidence(
        sources.ManifestStore.read(s, root), minDocs = 2)
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
    "q121_stream_sketch" -> ((s, dir) => {
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

    "q120_ss_accounting" -> ((s, dir) => {
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
    "q119_gk_accounting" -> ((s, dir) => {
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
    "q118_sketch_accounting" -> ((s, dir) => {
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

    // Skew-immune sessionization (two-phase: fragments within (user,
    // hour bucket), island-merge over the compact fragment frame) —
    // identical semantics to q33's one-phase session_window, and the
    // oracle is the SAME event-level SQL.
    "q116_bucketed_sessions" -> ((s, dir) => {
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
    "q115_bucketed_lag" -> ((s, dir) => {
      val ev = events(s, dir)
      operators.Scale.bucketedLag(ev, Seq("user_id"), Seq(col("ts"), col("event_id")),
          col("value"), date_trunc("hour", col("ts")), "prev_value")
        .select(col("event_id"), col("user_id"), col("value"), col("prev_value"))
    }),

    // Z-order layout END-TO-END, driver-gated (round-13 verdict #7):
    // q100 oracles the key arithmetic; this slot actually WRITES a
    // z-order-clustered copy of lineitem (one range exchange on the
    // interleaved key), reads it back through a 2-D box predicate, and
    // returns the matching rows.  The oracle is the PLAIN filter on the
    // unclustered table — clustering must be invisible in the result
    // (pure doubles round-trip parquet bit-exact; no arithmetic).  The
    // row-group pruning yield of this exact layout is gated per-round
    // in LayoutSpec ("row-group pruning bounds scan rows").
    "q114_zorder_scan" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").df
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      val zdir = q114Dir
      operators.Layout.zOrderBy(li,
          Seq(operators.Layout.quantize(col("l_extendedprice"), 0.0, 120000.0, 8),
              operators.Layout.quantize(col("l_quantity"), 0.0, 64.0, 8)),
          bits = 8, numPartitions = 16)
        .write.mode("overwrite").parquet(zdir)
      s.read.parquet(zdir)
        .filter(col("l_extendedprice").between(10000.0, 20000.0) &&
                col("l_quantity").between(10.0, 20.0))
    }),

    // PRODUCTION kNN path, driver-gated (round-13 verdict #3): the
    // LSH-bucketed knnGraph actually runs in this slot (q110 runs the
    // exact twin).  Output is an invariant table the oracle can check:
    // 'exact_edges' is independently recomputed by DuckDB's window
    // formulation, and the remaining rows are literal-pinned booleans
    // computed from the REAL approx run — every approx edge must be a
    // genuine pair with the true rounded cosine (containment), no
    // source may exceed k edges, no self edges, and recall against the
    // exact twin must clear the floor.  A production-path regression
    // (collapsed recall, wrong cosine, k overflow) hash-mismatches.
    "q110b_knn_production" -> ((s, dir) => {
      // 700-vector slice (was 1000; round-14 verdict #5): the gate's
      // deliberate O(n²) oracle dominates the bench suite's tail, and
      // the invariants (exact cosine parity, k-bound, self-edge-free,
      // recall floor) carry identical power at ~half the pair count
      val e = t(s, dir, "embeddings").df.filter(col("vec_id") < 700)
      // ONE returned plan (round-16): the five invariant metrics used
      // to be five sequential driver actions — each a scheduling round
      // trip over the same persisted frames — costing ~2 s of pure job
      // latency on the bench box.  As a union of aggregates over the
      // persisted approx/allPairs frames, the caller's single write
      // materializes everything in one job; the caches are scoped to
      // the action (Bench clears the block manager between queries).
      val approx = Similarity.knnGraph(e, "vec_id", "embedding", k = 5, tables = 4)
        .persist()
      // ONE O(n²) pair pass feeds both the containment reference and
      // the exact twin (knnGraphExact would recompute the same pairs)
      val allPairs = Similarity.exactPairs(e, "vec_id", "embedding", threshold = -1.0)
        .persist()
      val exact = Similarity.knnFromPairs(allPairs, k = 5)
        .select(col("src"), col("dst")).persist()
      // two warm-up probes: the union below reads every cache from
      // several branches at once — on COLD caches those branches race
      // and recompute the LSH/O(n²) pipelines concurrently; two probe
      // jobs (approx; exact, which materializes allPairs transitively)
      // pin the caches so the final job is pure cached-read aggregation
      approx.count()
      exact.count()
      val canon = approx.select(
        least(col("src"), col("dst")).as("id_a"),
        greatest(col("src"), col("dst")).as("id_b"), col("cos_sim"))
      val badCosine = canon.alias("c")
        .join(allPairs.alias("p"), Seq("id_a", "id_b"), "left")
        .filter(col("p.cos_sim").isNull || col("c.cos_sim") =!= col("p.cos_sim"))
        .agg(count(lit(1)).as("v")).select(lit("bad_cosine_edges").as("metric"),
          col("v").as("value"))
      val exactEdges = exact.agg(count(lit(1)).as("v"))
        .select(lit("exact_edges").as("metric"), col("v").as("value"))
      val overK = approx.groupBy(col("src")).agg(count(lit(1)).as("n"))
        .filter(col("n") > 5).agg(count(lit(1)).as("v"))
        .select(lit("over_k_sources").as("metric"), col("v").as("value"))
      // floor 0.30: measured 0.44 at both sf0.001 and sf0.01 (random
      // near-orthogonal embeddings are the LSH-hostile regime; the
      // floor detects recall collapse, not day-to-day jitter)
      val recall = approx.join(exact, Seq("src", "dst"), "left_semi")
        .agg(count(lit(1)).as("n_hit"))
        .crossJoin(exact.agg(count(lit(1)).as("n_exact")))
        .select(lit("recall_ge_300x").as("metric"),
          when(col("n_exact") === 0L ||
            col("n_hit").cast(DoubleType) / col("n_exact") >= 0.30, 1L)
            .otherwise(0L).as("value"))
      val selfEdges = approx.filter(col("src") === col("dst"))
        .agg(count(lit(1)).as("v"))
        .select(lit("self_edges").as("metric"), col("v").as("value"))
      badCosine.union(exactEdges).union(overK).union(recall).union(selfEdges)
    }),

    // kNN graph (top-k neighbors per vector — the input to graph-based
    // curation).  Driver slot uses the EXACT twin so the oracle is a
    // plain self-join + window; the LSH-bucketed production path is
    // recall- and plan-gated in SimilaritySpec.
    "q110_knn_graph" -> ((s, dir) => {
      val e = tfan(s, dir, "embeddings").df.filter(col("vec_id") < 1000)
      Similarity.knnGraphExact(e, "vec_id", "embedding", k = 5)
    }),

    // Curriculum ordering: quality-descending shards from exact rank
    // fences (shard 0 = top scores), md5-tiebroken rank within shard —
    // the deterministic easy->hard read order.
    "q113_curriculum" -> ((s, dir) => {
      val d = t(s, dir, "documents").df
      operators.Scale.curriculumOrder(d, col("doc_id"), col("n_chars"), shards = 8)
        .select(col("doc_id"), col("shard"), col("pos"))
    }),

    // Budget-aware temperature mixing, MATERIALIZED: per-source token
    // mass ^ alpha -> budget share -> deterministic md5 keep filter
    // (q83 computes the weights; this actually selects the corpus).
    // fan-out REVERTED (r22, verdict #1/#3): kept in r21 without a
    // substantiating number; the isolated alternating A/B (ABProbe,
    // 8 rounds) reads med 1.04 s WITH the exchange vs 0.51 s without —
    // the 32-way exchange costs ~2× the single-task work it spreads
    "q112_budget_mix" -> ((s, dir) => {
      val d = t(s, dir, "documents").df
      operators.Scale.mixSample(d, col("doc_id"), col("source"), col("n_chars"),
          alpha = 0.5, budgetTokens = 2000000L)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("source"))
    }),

    // Mutual-kNN refinement: keep an edge only when BOTH endpoints
    // rank each other in their top-k — the symmetrization that strips
    // hub-induced one-way edges before graph clustering.
    "q111_mutual_knn" -> ((s, dir) => {
      val e = tfan(s, dir, "embeddings").df.filter(col("vec_id") < 1000)
      Similarity.mutualKnn(Similarity.knnGraphExact(e, "vec_id", "embedding", k = 5))
    }),

    // Cone search through a HEALPix cell cover (the Q3C/LSST sky-
    // partition pattern): guaranteed-superset IN-set of coarse cells +
    // the exact haversine residual.  The oracle is the PLAIN haversine
    // — an unsound cover (a missed boundary cell) drops rows and
    // hash-mismatches.
    "q109_healpix_cone" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").df
        .withColumn("ra", (col("l_orderkey") % 360).cast(DoubleType))
        .withColumn("dec", ((col("l_partkey") % 181) - 90).cast(DoubleType))
      li.filter(Astro.healpixConeSearch(col("ra"), col("dec"), order = 2, 120.0, -30.0, 25.0))
        .select(col("l_orderkey"), col("l_partkey"), col("ra"), col("dec"),
          round(Astro.sphdist(col("ra"), col("dec"), lit(120.0), lit(-30.0)), 6).as("sep"))
    }),

    // Leakage-safe split: the split key is the near-dup CLUSTER id
    // (connected component), not the document id — no cluster ever
    // straddles train/val/test, so an eval row can't have a
    // near-duplicate in train.  Same pair graph as q69; the oracle
    // extends that recursive-CTE CC with the shared md5-bucket fences.
    "q108_leakage_split" -> ((s, dir) => {
      val e = tfan(s, dir, "embeddings").df.filter(col("vec_id") < 1000)
      val pairs = Similarity.exactPairs(e, "vec_id", "embedding", threshold = 0.35)
        .select(col("id_a"), col("id_b"))
      operators.Scale.leakageSafeSplit(e.select(col("vec_id")), "vec_id", pairs)
    }),

    // Bloom-pruned shuffle join (small-side key filter rides the big
    // side's scan stage, shrinking its exchange; exact by construction
    // — the join re-verifies, so the oracle is the PLAIN join)
    "q105_bloom_join" -> ((s, dir) => {
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

    // Memory-bounded distinct counts (sparse-exact-then-dense HLL; the
    // shuffle moves sketches, never keys — exact regime: union fits the
    // sparse value set, so the count is count(DISTINCT ...) bit-for-bit)
    "q104_distinct_sketch" -> ((s, dir) => {
      val d = t(s, dir, "documents").df
      operators.DistinctSketch.perGroup(
        d, Seq(col("lang")), pmod(col("n_chars"), lit(1000)),
        p = 12, sparseCap = 2048)
        .orderBy(col("lang"))
    }),

    // M6 deterministic hash split (train/val/test by md5 of the doc id —
    // stable under corpus growth, no RNG)
    "q63_hash_split" -> ((s, dir) => {
      val d = t(s, dir, "documents").df
      val bucket = graft.functions.WindowHash.md5Prefix(
        col("doc_id").cast(StringType), 6) % 100
      d.withColumn("split",
          when(bucket < 80, lit("train")).when(bucket < 90, lit("val")).otherwise(lit("test")))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    }),
  )

  // ------------------------------------------------------------------
  private def statsOracleFor(cols: Seq[String]): String =
    cols.map { c =>
      s"""SELECT '$c' AS col_name, round(avg($c), 6) AS mean,
         |round(stddev_samp($c), 6) AS std, min($c) AS min, max($c) AS max,
         |max(CASE WHEN isnan($c) OR $c IS NULL THEN 1 ELSE 0 END) AS has_nan
         |FROM lineitem""".stripMargin.replace("\n", " ")
    }.mkString(" UNION ALL ")

  private val sphdistSql =
    "degrees(2*asin(sqrt(pow(sin(radians(0.0 - dec)/2),2) + cos(radians(dec))*cos(radians(0.0))*pow(sin(radians(180.0 - ra)/2),2))))"

  /** q107's haversine, center (ra0, dec0) = (10, 20). */
  private val sphdist107Sql =
    "degrees(2*asin(sqrt(pow(sin(radians(20.0 - dec)/2),2) + cos(radians(dec))*cos(radians(20.0))*pow(sin(radians(10.0 - ra)/2),2))))"

  /** q109's haversine, center (ra0, dec0) = (120, -30). */
  private val sphdist109Sql =
    "degrees(2*asin(sqrt(pow(sin(radians(-30.0 - dec)/2),2) + cos(radians(dec))*cos(radians(-30.0))*pow(sin(radians(120.0 - ra)/2),2))))"

  /** Shared portable-minhash permutation table, interpolated into the
    * q26/q40/q86 oracle SQL so DuckDB runs LITERALLY the same integer
    * arithmetic as [[graft.operators.Dedup.portableMinhashLanes]]. */
  private val mhPermValues: String = graft.operators.Dedup.portablePerms.zipWithIndex
    .map { case ((a, b), i) => s"($i, $a, $b)" }.mkString(", ")

  /** The norm → shingle-hash → lanes → band-key CTE prefix shared by
    * the three portable-minhash oracles (ends with a trailing comma). */
  private val mhLanesCtes: String =
    s"""WITH norm AS (SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
      |'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS t FROM documents),
      |sh AS (SELECT doc_id, ('0x' || substr(md5(substr(t, CAST(p AS INT), 5)), 1, 8))::BIGINT AS h,
      |substr(t, CAST(p AS INT), 5) AS s FROM
      |(SELECT doc_id, t, unnest(range(1, length(t) - 3)) AS p FROM norm
      |WHERE length(t) >= 5)),
      |lanes AS MATERIALIZED (SELECT doc_id, lane, min((a * h + b) % 4294967311) AS mh
      |FROM sh, (VALUES $mhPermValues) perm(lane, a, b) GROUP BY doc_id, lane),
      |bands AS MATERIALIZED (SELECT doc_id, lane // 4 AS band,
      |md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY lane) || '|' || (lane // 4)) AS bk
      |FROM lanes GROUP BY doc_id, lane // 4),""".stripMargin.replace("\n", " ")

  /** Unrolled left-to-right dot of the embedding list `e` against a
    * literal hyperplane — the exact fold VectorSim.dot runs, term for
    * term, so every sign bit (and with it every LSH bucket) matches
    * the Spark plan bit-for-bit.  Double.toString round-trips, so the
    * SQL literal parses back to the identical IEEE value. */
  private def dotSql(plane: Seq[Double]): String =
    plane.zipWithIndex.map { case (w, i) => s"e[${i + 1}]*($w)" }.mkString(" + ")

  /** The packed sign-bit signature of one seeded hyperplane table, as
    * a SQL expression over `e` (mirrors Similarity.lshSignature). */
  private def sigSql(planes: Int, dim: Int, seed: Int): String =
    graft.operators.Similarity.planeVecs(planes, dim, seed).zipWithIndex.map {
      case (pv, p) => s"(CASE WHEN ${dotSql(pv)} >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")

  /** Unrolled-round SQL oracle for the iterative BPE trainer (the
    * q72/q96 pattern: one CTE block per training round, each block's
    * argmax embedded as scalar subqueries in the next round's merge
    * application).  Vocab state lives in a symbol STRING with
    * double-space separators and single sentinel spaces — under that
    * invariant plain left-to-right `replace(' l  r ', ' lr ')` is
    * EXACTLY the trainer's left-to-right non-overlapping merge (each
    * match consumes one boundary space from each side, so back-to-back
    * occurrences still match, while overlapping ones can't).  CTEs are
    * MATERIALIZED: every round reads the previous vocab twice (pair
    * count + merge apply), and DuckDB inlines plain CTEs — 12 rounds
    * would otherwise expand to 2^12 corpus scans. */
  private def bpeMergesOracleSql(rounds: Int): String = {
    val norm = "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"
    val head =
      s"WITH words AS (SELECT unnest(string_split($norm, ' ')) AS w FROM documents), " +
      "v0 AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS wcount, " +
      "' ' || array_to_string(string_split(w, ''), '  ') || ' ' AS syms " +
      "FROM words WHERE length(w) > 0 GROUP BY w)"
    val blocks = (1 to rounds).map { k =>
      val p = k - 1
      s", p$k AS (SELECT l, r, CAST(sum(wcount) AS BIGINT) AS n FROM (" +
        s"SELECT wcount, unnest(toks[1:len(toks)-1]) AS l, unnest(toks[2:len(toks)]) AS r " +
        s"FROM (SELECT wcount, string_split(trim(syms), '  ') AS toks FROM v$p)) GROUP BY l, r), " +
        s"m$k AS MATERIALIZED (SELECT CAST($k AS BIGINT) AS merge_rank, l, r, n FROM p$k " +
        s"ORDER BY n DESC, l ASC, r ASC LIMIT 1), " +
        s"v$k AS MATERIALIZED (SELECT wcount, replace(syms, " +
        s"' ' || (SELECT l FROM m$k) || '  ' || (SELECT r FROM m$k) || ' ', " +
        s"' ' || (SELECT l FROM m$k) || (SELECT r FROM m$k) || ' ') AS syms FROM v$p)"
    }.mkString
    val union = (1 to rounds).map(k => s"SELECT * FROM m$k").mkString(" UNION ALL ")
    head + blocks +
      s""" SELECT merge_rank, l AS "left", r AS "right", n AS pair_count FROM ($union)"""
  }

  def oracleSql: Map[String, String] = Map(
    // Portable-bloom mirror: rebuild the sketch's exact bit positions
    // (affine-permutation lanes of md5-window hashes, optimal m/k from
    // the same ceil/floor arithmetic) and count per-doc shingles whose
    // k lanes are ALL set — false positives reproduce too
    "q90_bloom_prefilter" ->
      s"""WITH bnorm AS (SELECT trim(regexp_replace(regexp_replace(lower(substr(text, 1, 80)),
        |'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS t FROM documents WHERE doc_id IN (3, 17)),
        |bh AS (SELECT t, ('0x' || substr(md5(substr(t, CAST(p AS INT), 20)), 1, 8))::BIGINT AS h
        |FROM (SELECT t, unnest(range(1, length(t) - 18)) AS p FROM bnorm WHERE length(t) >= 20)),
        |bitem AS (SELECT t, count(DISTINCT h) AS nb FROM bh GROUP BY t),
        |bhd AS (SELECT DISTINCT h FROM bh),
        |prm AS (SELECT cnt, greatest(64, CAST(ceil(-(cnt * ln(0.01)) / (ln(2)*ln(2))) AS BIGINT)) AS m
        |FROM (SELECT CAST(count(*) AS DOUBLE) AS cnt FROM bhd)),
        |prm2 AS (SELECT m, least(32, greatest(1,
        |CAST(floor((CAST(m AS DOUBLE)/cnt)*ln(2) + 0.5) AS BIGINT))) AS k FROM prm),
        |bits AS (SELECT DISTINCT ((a*h + b) % 4294967311) % m AS pos
        |FROM bhd, (VALUES $mhPermValues) perm(lane, a, b), prm2 WHERE lane < k),
        |cut AS (SELECT greatest(1, CAST(floor(0.8 * min(nb)) AS BIGINT)) AS cut FROM bitem),
        |dnorm AS (SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
        |'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS t FROM documents),
        |dh AS (SELECT DISTINCT doc_id,
        |('0x' || substr(md5(substr(t, CAST(p AS INT), 20)), 1, 8))::BIGINT AS h
        |FROM (SELECT doc_id, t, unnest(range(1, length(t) - 18)) AS p FROM dnorm
        |WHERE length(t) >= 20)),
        |dsz AS (SELECT doc_id, count(*) AS n_shingles FROM dh GROUP BY doc_id),
        |dl AS (SELECT doc_id, h, lane, ((a*h + b) % 4294967311) % m AS pos
        |FROM dh, (VALUES $mhPermValues) perm(lane, a, b), prm2 WHERE lane < k),
        |hits AS (SELECT doc_id, h FROM dl JOIN bits ON bits.pos = dl.pos
        |GROUP BY doc_id, h HAVING count(*) = (SELECT k FROM prm2)),
        |sus AS (SELECT doc_id, count(*) AS n_suspect FROM hits GROUP BY doc_id)
        |SELECT z.doc_id, z.n_shingles, COALESCE(s.n_suspect, 0) AS n_suspect,
        |(SELECT cut FROM cut) AS cut
        |FROM dsz z LEFT JOIN sus s ON s.doc_id = z.doc_id
        |WHERE COALESCE(s.n_suspect, 0) >= (SELECT cut FROM cut)""".stripMargin.replace("\n", " "),

    // unigram-LM mirror: same normalize/tokenize chain as q61/q74,
    // count-aggregate LM, per-doc mean token log-prob
    "q98_unigram_loglik" ->
      """WITH toks AS (SELECT doc_id, term FROM (
        |SELECT doc_id, unnest(string_split(trim(regexp_replace(regexp_replace(lower(text),
        |'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')), ' ')) AS term FROM documents)
        |WHERE length(term) > 0),
        |c AS (SELECT term, count(*) AS tc FROM toks GROUP BY 1),
        |n AS (SELECT sum(tc) AS ttot FROM c)
        |SELECT doc_id, count(*) AS n_tokens,
        |round(avg(ln(tc / ttot)), 6) AS avg_logp
        |FROM toks JOIN c USING (term) CROSS JOIN n
        |GROUP BY doc_id""".stripMargin.replace("\n", " "),

    // shuffle mirror: the shared md5-prefix key (12 hex chars), shard =
    // key mod 64, rank within shard by (key, doc_id)
    "q99_corpus_shuffle" ->
      """WITH k AS (SELECT doc_id,
        |('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT AS hk FROM documents)
        |SELECT doc_id, hk % 64 AS shard,
        |CAST(row_number() OVER (PARTITION BY hk % 64 ORDER BY hk, doc_id) AS BIGINT) AS pos
        |FROM k""".stripMargin.replace("\n", " "),

    // Z-order mirror: identical 3-dim 8-bit Morton interleave, bit j
    // of dim d landing at position j*3 + d, unrolled in SQL bit ops;
    // the quantized dim repeats Layout.quantize's float op order
    "q100_zorder_key" -> {
      val dims = Seq("x", "y", "q")
      val terms = for (i <- 0 until 8; (dim, j) <- dims.zipWithIndex)
        yield s"((($dim >> $i) & 1) << ${i * 3 + j})"
      s"""WITH c AS (SELECT l_orderkey, l_linenumber,
         |(l_partkey % 256)::BIGINT AS x, (l_suppkey % 256)::BIGINT AS y,
         |least(greatest(floor((l_quantity::DOUBLE - 1) / 49 * 256)::BIGINT, 0), 255) AS q
         |FROM lineitem)
         |SELECT l_orderkey, l_linenumber, (${terms.mkString(" + ")})::BIGINT AS zkey
         |FROM c""".stripMargin.replace("\n", " ")
    },

    // salted-join mirror: the plain equi-join — salting is an internal
    // partitioning trick and must be invisible in the results
    "q101_salted_join" ->
      """SELECT c_mktsegment, count(*)::BIGINT AS n_orders,
        |CAST(sum(o_totalprice::DECIMAL(20,2)) AS DOUBLE) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin.replace("\n", " "),

    // heavy-hitters mirror: exact-regime SpaceSaving degenerates to the
    // plain grouped count with collapsed bounds
    "q102_heavy_hitters" ->
      """WITH k AS (SELECT lang || ':' || (n_chars % 10) AS item
        |FROM documents WHERE lang IS NOT NULL)
        |SELECT item, count(*)::BIGINT AS n_lower, count(*)::BIGINT AS n_upper
        |FROM k GROUP BY item ORDER BY n_upper DESC, item LIMIT 10""".stripMargin.replace("\n", " "),

    // group-heavy-hitters mirror: exact regime collapses the intervals
    // to the grouped count; per-group window top-3 with the same
    // (upper desc, item) tie order
    "q117_group_heavy_hitters" ->
      """WITH k AS (SELECT source, lang || ':' || (n_chars % 10) AS item
        |FROM documents WHERE lang IS NOT NULL),
        |c AS (SELECT source, item, count(*)::BIGINT AS n FROM k GROUP BY 1, 2),
        |r AS (SELECT source, item, n,
        |row_number() OVER (PARTITION BY source ORDER BY n DESC, item) AS rn FROM c)
        |SELECT source, item, n AS n_lower, n AS n_upper FROM r WHERE rn <= 3""".stripMargin.replace("\n", " "),

    // quantile-sketch mirror: exact-regime summary = discrete lower
    // quantile off explicit cumulative counts, collapsed rank bounds
    "q103_quantile_sketch" ->
      """WITH vals AS (SELECT (n_chars % 512)::DOUBLE AS v FROM documents),
        |cnt AS (SELECT v, count(*) AS k FROM vals GROUP BY v),
        |cc AS (SELECT v, sum(k) OVER (ORDER BY v) AS cum FROM cnt),
        |nn AS (SELECT count(*)::BIGINT AS n FROM vals),
        |ps AS (SELECT unnest([0.16, 0.5, 0.84]) AS p),
        |tg AS (SELECT p, greatest(1, cast(ceil(p * nn.n) AS BIGINT)) AS target FROM ps, nn),
        |sel AS (SELECT tg.p, tg.target, min(cc.v) AS value FROM tg JOIN cc ON cc.cum >= tg.target GROUP BY tg.p, tg.target)
        |SELECT sel.p AS p, sel.value AS value, cc.cum::BIGINT AS rank_lo,
        |cc.cum::BIGINT AS rank_hi, sel.target AS target_rank
        |FROM sel JOIN cc ON cc.v = sel.value ORDER BY p""".stripMargin.replace("\n", " "),

    // group-quantile mirror: exact-regime per-group summary = discrete
    // lower median off per-group cumulative counts, collapsed bounds
    "q106_group_quantile" ->
      """WITH vals AS (SELECT lang, (n_chars % 512)::DOUBLE AS v FROM documents),
        |cnt AS (SELECT lang, v, count(*) AS k FROM vals GROUP BY lang, v),
        |cc AS (SELECT lang, v, sum(k) OVER (PARTITION BY lang ORDER BY v) AS cum FROM cnt),
        |nn AS (SELECT lang, count(*)::BIGINT AS n FROM vals GROUP BY lang),
        |tg AS (SELECT lang, greatest(1, cast(ceil(0.5 * n) AS BIGINT)) AS target FROM nn),
        |sel AS (SELECT tg.lang, tg.target, min(cc.v) AS value FROM tg
        |JOIN cc ON cc.lang = tg.lang AND cc.cum >= tg.target GROUP BY tg.lang, tg.target)
        |SELECT sel.lang AS lang, sel.value AS value, cc.cum::BIGINT AS rank_lo,
        |cc.cum::BIGINT AS rank_hi, true AS exact
        |FROM sel JOIN cc ON cc.lang = sel.lang AND cc.v = sel.value ORDER BY lang""".stripMargin.replace("\n", " "),

    // cone-rule mirror: the PLAIN haversine filter — the injected
    // zone bands must be invisible in the result
    "q107_cone_sql" ->
      s"""WITH c AS (SELECT l_orderkey, l_partkey,
         |CAST(l_orderkey % 360 AS DOUBLE) AS ra,
         |CAST((l_partkey % 181) - 90 AS DOUBLE) AS dec FROM lineitem)
         |SELECT l_orderkey, l_partkey, ra, dec, round($sphdist107Sql, 6) AS sep
         |FROM c WHERE $sphdist107Sql <= 33.7""".stripMargin.replace("\n", " "),

    // curriculum mirror: same exact-rank fences (smallest value whose
    // cumulative count reaches ceil(s*n/shards)), same md5 tiebreak
    "q113_curriculum" ->
      """WITH nn AS (SELECT count(*) AS n FROM documents),
        |c AS (SELECT CAST(n_chars AS DOUBLE) AS v, count(*) AS k FROM documents GROUP BY 1),
        |cc AS (SELECT v, sum(k) OVER (ORDER BY v) AS cum FROM c),
        |f AS (SELECT s.s AS s,
        |(SELECT min(v) FROM cc WHERE cum >= (SELECT ceil(s.s * n / 8.0) FROM nn)) AS fence
        |FROM (SELECT unnest(range(1, 8)) AS s) s),
        |b AS (SELECT doc_id, CAST(n_chars AS DOUBLE) AS v,
        |7 - (SELECT count(*) FROM f WHERE f.fence < CAST(d.n_chars AS DOUBLE)) AS shard
        |FROM documents d)
        |SELECT doc_id, CAST(shard AS BIGINT) AS shard,
        |CAST(row_number() OVER (PARTITION BY shard ORDER BY v DESC,
        |('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT, doc_id) AS BIGINT) AS pos
        |FROM b""".stripMargin.replace("\n", " "),

    // budget-mix mirror: identical mass^alpha share, rounded keep
    // probability, and the shared md5-permille membership contract
    "q112_budget_mix" ->
      """WITH s AS (SELECT source, sum(CAST(n_chars AS DOUBLE)) AS tok
        |FROM documents GROUP BY source),
        |w AS (SELECT source, pow(tok, 0.5) AS p, tok FROM s),
        |t AS (SELECT sum(p) AS ptot FROM w),
        |k AS (SELECT source, round(least(1.0, 2000000.0 * (p / ptot) / tok), 6) AS keep
        |FROM w, t),
        |f AS (SELECT d.source AS source, d.n_chars FROM documents d
        |JOIN k ON d.source = k.source
        |WHERE (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 1000)::DOUBLE
        |< keep * 1000.0)
        |SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM f GROUP BY source ORDER BY source""".stripMargin.replace("\n", " "),

    // mutual-knn mirror: the top-5 window ranking from both sides,
    // kept only where the edge is reciprocal, reported once (src < dst)
    "q111_mutual_knn" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |FROM embeddings WHERE vec_id < 1000),
        |p AS (SELECT a.vec_id AS src, b.vec_id AS dst,
        |round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
        |FROM v a JOIN v b ON a.vec_id <> b.vec_id),
        |r AS (SELECT src, dst, cos_sim,
        |row_number() OVER (PARTITION BY src ORDER BY cos_sim DESC, dst) AS rn FROM p),
        |k AS (SELECT src, dst, cos_sim FROM r WHERE rn <= 5)
        |SELECT f.src AS src, f.dst AS dst, f.cos_sim AS cos_sim
        |FROM k f JOIN k b ON f.src = b.dst AND f.dst = b.src
        |WHERE f.src < f.dst""".stripMargin.replace("\n", " "),

    // bench-decontam mirror: q88's covered-length union arithmetic
    // with the evidence side being the benchmark's distinct 50-char
    // spans (on raw span TEXT; Spark matches rolling hashes — equal
    // absent collisions, the q88 contract)
    "q124_part_dim_join" ->
      """SELECT p_brand, p_type, count(*) AS n_items,
        |CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size <= 20 GROUP BY p_brand, p_type""".stripMargin.replace("\n", " "),

    // q125: both bitstream arms recomputed from the synth arithmetic
    // alone — the container layer is parsed for real Spark-side, the
    // entropy layer is behind the seam so no signal stats exist
    "q125_bitstream_meta" ->
      """SELECT doc_id,
        |CASE WHEN doc_id % 2 = 0 THEN 'audio/aac' ELSE 'video/av1' END AS mime,
        |CAST(CASE WHEN doc_id % 2 = 0 THEN NULL ELSE 16 + (doc_id % 17) END AS INT) AS width,
        |CAST(CASE WHEN doc_id % 2 = 0 THEN NULL ELSE 16 + ((doc_id * 3) % 17) END AS INT) AS height,
        |CAST(CASE WHEN doc_id % 2 = 0 THEN 1 + (doc_id % 3) ELSE NULL END AS INT) AS channels,
        |CAST(CASE WHEN doc_id % 2 = 0 THEN 44100 ELSE NULL END AS INT) AS sample_rate,
        |CAST(CASE WHEN doc_id % 2 = 0 THEN 1024 * (2 + (doc_id % 7))
        |ELSE 1 + (doc_id % 4) END AS BIGINT) AS n_samples,
        |round(CASE WHEN doc_id % 2 = 0 THEN (1024 * (2 + (doc_id % 7))) / 44100.0
        |ELSE (1 + (doc_id % 4)) / 30.0 END, 6) AS dur
        |FROM documents WHERE doc_id < 400""".stripMargin.replace("\n", " "),

    // q128: the Spark side aggregates the manifest store's latest
    // snapshot after two appends + one compaction; the oracle
    // aggregates the same slice directly
    "q128_manifest_store" ->
      """SELECT doc_id % 10 AS bucket, count(*) AS n,
        |CAST(sum(length(text)) AS BIGINT) AS n_chars
        |FROM documents WHERE doc_id < 2500 GROUP BY 1""".stripMargin.replace("\n", " "),

    // q127: the full incremental flow replayed in SQL — the same 8
    // one-hot centroid literals (built by the same Scala expression),
    // the same argmin tie rule (distance then cid, mirroring
    // nearestCell), pairs with the store×store quadrant excluded,
    // recursive-CTE reachability for components, and the
    // store-contaminates / min-batch-wins verdicts
    "q127_semdedup_incr" -> {
      val centLits = (0 until 8).map(j =>
        s"($j, [${(0 until 64).map(d => if (d == 8 * j) "1.0" else "0.0").mkString(", ")}]::DOUBLE[])")
        .mkString(", ")
      s"""WITH RECURSIVE v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |WHERE embedding IS NOT NULL AND vec_id < 800),
         |cents(cid, cv) AS (VALUES $centLits),
         |a AS (SELECT vec_id, v, cid,
         |row_number() OVER (PARTITION BY vec_id ORDER BY list_distance(v, cv), cid) AS rn
         |FROM v CROSS JOIN cents),
         |cells AS MATERIALIZED (SELECT vec_id, v, cid FROM a WHERE rn = 1),
         |p AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b FROM cells x
         |JOIN cells y ON x.cid = y.cid AND x.vec_id < y.vec_id
         |WHERE NOT (x.vec_id % 2 = 0 AND y.vec_id % 2 = 0)
         |AND isfinite(round(list_cosine_similarity(x.v, y.v), 6))
         |AND round(list_cosine_similarity(x.v, y.v), 6) >= 0.30),
         |e AS (SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b, id_a FROM p),
         |r AS (SELECT src AS node, src AS reach FROM e
         |UNION SELECT r.node, e.dst FROM r JOIN e ON r.reach = e.src),
         |lab AS (SELECT node, min(reach) AS comp FROM r GROUP BY node),
         |allv AS (SELECT vec_id AS node FROM v),
         |lab2 AS (SELECT node, coalesce(comp, node) AS comp FROM allv LEFT JOIN lab USING (node)),
         |st AS (SELECT comp, max(CASE WHEN node % 2 = 0 THEN 1 ELSE 0 END) AS has_store,
         |min(CASE WHEN node % 2 = 1 THEN node END) AS min_batch FROM lab2 GROUP BY comp)
         |SELECT node AS vec_id FROM lab2 JOIN st USING (comp)
         |WHERE node % 2 = 1 AND has_store = 0 AND node = min_batch
         |UNION ALL SELECT vec_id FROM embeddings
         |WHERE embedding IS NULL AND vec_id % 2 = 1 AND vec_id < 800""".stripMargin.replace("\n", " ")
    },

    // q126: the Spark side aggregates the COMPACTED rewrite of
    // lineitem; the oracle aggregates the original table directly —
    // equality proves the compaction rewrote every row exactly once
    "q126_compact_scan" ->
      """SELECT l_returnflag,
        |CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |count(*) AS n FROM lineitem WHERE l_orderkey < 30000
        |GROUP BY l_returnflag""".stripMargin.replace("\n", " "),

    "q123_bench_decontam" ->
      """WITH norm AS MATERIALIZED (SELECT doc_id, trim(regexp_replace(regexp_replace(
        |lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS t FROM documents),
        |bt AS (SELECT trim(substr(t, 1, 120)) AS b FROM norm WHERE doc_id % 97 = 0),
        |ev AS (SELECT DISTINCT substr(b, p, 50) AS s FROM
        |(SELECT b, unnest(range(1, length(b) - 48)) AS p FROM bt WHERE length(b) >= 50)),
        |spans AS (SELECT doc_id, CAST(p AS BIGINT) AS p, substr(t, p, 50) AS s FROM
        |(SELECT doc_id, t, unnest(range(1, length(t) - 48)) AS p
        |FROM norm WHERE length(t) >= 50)),
        |cutpos AS (SELECT doc_id, p FROM spans WHERE s IN (SELECT s FROM ev)),
        |cov AS (SELECT doc_id, least(50,
        |coalesce(lead(p) OVER (PARTITION BY doc_id ORDER BY p) - p, 50)) AS c
        |FROM cutpos),
        |agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS covered,
        |CAST(count(*) AS BIGINT) AS n_cut FROM cov GROUP BY doc_id)
        |SELECT n.doc_id, CAST(length(n.t) - coalesce(a.covered, 0) AS BIGINT) AS n_chars_clean,
        |coalesce(a.n_cut, 0) AS n_spans_cut
        |FROM norm n LEFT JOIN agg a ON n.doc_id = a.doc_id""".stripMargin.replace("\n", " "),

    // span-accounting mirror: q79's whole-corpus repeated-span SQL —
    // the three-batch evidence store + merge must be invisible
    "q122_span_accounting" ->
      """WITH norm AS (SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
        |'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS t FROM documents WHERE doc_id < 2500),
        |pos AS (SELECT doc_id, t, unnest(range(1, length(t) - 58)) AS p
        |FROM norm WHERE length(t) >= 60),
        |spans AS (SELECT doc_id, md5(substr(t, p, 60)) AS h FROM pos)
        |SELECT h AS span_hash, count(DISTINCT doc_id) AS n_docs,
        |count(*) AS n_occurrences, min(doc_id) AS first_doc
        |FROM spans GROUP BY h HAVING count(DISTINCT doc_id) >= 2""".stripMargin.replace("\n", " "),

    // stream-sketch mirror: per-15-min-window exact distinct users —
    // the readStream micro-batch + HLL aggregator must be invisible
    // in the sparse-exact regime.  Epoch arithmetic (not time_bucket)
    // keeps the bucket origin unambiguous across engines; Spark's
    // window() is epoch-aligned and 1970-01-01 is a 15-min boundary.
    "q121_stream_sketch" ->
      """SELECT CAST(to_timestamp(floor(epoch(ts) / 900) * 900) AS TIMESTAMP) AS w_start,
        |count(DISTINCT user_id)::BIGINT AS n_distinct, true AS exact
        |FROM events GROUP BY 1""".stripMargin.replace("\n", " "),

    // ss-accounting mirror: q102's grouped-count SQL — the stored
    // per-source sketches' merge must collapse to exact counts
    "q120_ss_accounting" ->
      """WITH k AS (SELECT lang || ':' || (n_chars % 10) AS item
        |FROM documents WHERE lang IS NOT NULL)
        |SELECT item, count(*)::BIGINT AS n_lower, count(*)::BIGINT AS n_upper
        |FROM k GROUP BY item ORDER BY n_upper DESC, item LIMIT 10""".stripMargin.replace("\n", " "),

    // gk-accounting mirror: q103's discrete-lower-quantile SQL — the
    // stored-sketch round trip must be invisible in the exact regime
    "q119_gk_accounting" ->
      """WITH vals AS (SELECT (n_chars % 512)::DOUBLE AS v FROM documents),
        |cnt AS (SELECT v, count(*) AS k FROM vals GROUP BY v),
        |cc AS (SELECT v, sum(k) OVER (ORDER BY v) AS cum FROM cnt),
        |nn AS (SELECT count(*)::BIGINT AS n FROM vals),
        |ps AS (SELECT unnest([0.16, 0.5, 0.84]) AS p),
        |tg AS (SELECT p, greatest(1, cast(ceil(p * nn.n) AS BIGINT)) AS target FROM ps, nn),
        |sel AS (SELECT tg.p, min(cc.v) AS value FROM tg JOIN cc ON cc.cum >= tg.target GROUP BY tg.p)
        |SELECT sel.p AS p, sel.value AS value, cc.cum::BIGINT AS rank_lo,
        |cc.cum::BIGINT AS rank_hi, true AS exact
        |FROM sel JOIN cc ON cc.v = sel.value ORDER BY p""".stripMargin.replace("\n", " "),

    // sketch-accounting mirror: the exact regime collapses the stored
    // daily sketches' merge to the plain global distinct count
    "q118_sketch_accounting" ->
      "SELECT count(DISTINCT user_id)::BIGINT AS n_distinct, true AS exact FROM events",

    // bucketed-sessions mirror: q33's event-level session SQL — the
    // two-phase decomposition must be invisible in the result
    "q116_bucketed_sessions" ->
      """WITH flagged AS (SELECT user_id, ts,
        |CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL 30 MINUTE
        |THEN 1 ELSE 0 END AS new_session FROM events),
        |ids AS (SELECT user_id, ts,
        |sum(new_session) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |FROM flagged)
        |SELECT user_id, min(ts) AS session_start, count(*) AS n_events, max(ts) AS last_ts
        |FROM ids GROUP BY user_id, sid""".stripMargin.replace("\n", " "),

    // bucketed-lag mirror: the PLAIN per-key window — the bucketed
    // decomposition must be invisible in the result
    "q115_bucketed_lag" ->
      """SELECT event_id, user_id, value,
        |lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
        |FROM events""".stripMargin.replace("\n", " "),

    // zorder-scan mirror: the PLAIN box filter — the clustered layout
    // must be invisible in the result set
    "q114_zorder_scan" ->
      """SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice FROM lineitem
        |WHERE l_extendedprice BETWEEN 10000.0 AND 20000.0
        |AND l_quantity BETWEEN 10.0 AND 20.0""".stripMargin.replace("\n", " "),

    // production-knn mirror: DuckDB independently recomputes the exact
    // twin's edge count; the invariant rows (containment, k bound,
    // recall floor, no self edges) are literal-pinned — they are
    // COMPUTED from the real LSH run on the Spark side, so a production
    // regression flips a value and hash-mismatches
    "q110b_knn_production" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |FROM embeddings WHERE vec_id < 700),
        |p AS (SELECT a.vec_id AS src, b.vec_id AS dst,
        |round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
        |FROM v a JOIN v b ON a.vec_id <> b.vec_id),
        |r AS (SELECT src, row_number() OVER (PARTITION BY src ORDER BY cos_sim DESC, dst) AS rn FROM p)
        |SELECT 'bad_cosine_edges' AS metric, CAST(0 AS BIGINT) AS value
        |UNION ALL SELECT 'exact_edges', (SELECT count(*) FROM r WHERE rn <= 5)
        |UNION ALL SELECT 'over_k_sources', 0
        |UNION ALL SELECT 'recall_ge_300x', 1
        |UNION ALL SELECT 'self_edges', 0""".stripMargin.replace("\n", " "),

    // knn-graph mirror: all-pairs cosine + per-source window top-5,
    // ranked by the rounded similarity with dst as the tiebreak
    "q110_knn_graph" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |FROM embeddings WHERE vec_id < 1000),
        |p AS (SELECT a.vec_id AS src, b.vec_id AS dst,
        |round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
        |FROM v a JOIN v b ON a.vec_id <> b.vec_id),
        |r AS (SELECT src, dst, cos_sim,
        |row_number() OVER (PARTITION BY src ORDER BY cos_sim DESC, dst) AS rn FROM p)
        |SELECT src, dst, cos_sim FROM r WHERE rn <= 5""".stripMargin.replace("\n", " "),

    // healpix-cone mirror: the PLAIN haversine — the cell cover must
    // be invisible in the result
    "q109_healpix_cone" ->
      s"""WITH c AS (SELECT l_orderkey, l_partkey,
         |CAST(l_orderkey % 360 AS DOUBLE) AS ra,
         |CAST((l_partkey % 181) - 90 AS DOUBLE) AS dec FROM lineitem)
         |SELECT l_orderkey, l_partkey, ra, dec, round($sphdist109Sql, 6) AS sep
         |FROM c WHERE $sphdist109Sql <= 25.0""".stripMargin.replace("\n", " "),

    // leakage-split mirror: q69's recursive-CTE components + the
    // shared md5-bucket fences applied to the COMPONENT id
    "q108_leakage_split" ->
      """WITH RECURSIVE v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |FROM embeddings WHERE vec_id < 1000),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM v a, v b
        |WHERE a.vec_id < b.vec_id
        |AND round(list_cosine_similarity(a.v, b.v), 6) >= 0.35),
        |e AS (SELECT id_a AS src, id_b AS dst FROM p
        |UNION SELECT id_b, id_a FROM p),
        |r AS (SELECT vec_id AS node, vec_id AS reach FROM v
        |UNION
        |SELECT r.node, e.dst FROM r JOIN e ON r.reach = e.src),
        |comp AS (SELECT node, min(reach) AS component FROM r GROUP BY node),
        |b AS (SELECT node,
        |('0x' || substr(md5(CAST(component AS VARCHAR)), 1, 6))::BIGINT % 100 AS bucket
        |FROM comp)
        |SELECT node AS vec_id,
        |CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val'
        |ELSE 'test' END AS split FROM b""".stripMargin.replace("\n", " "),

    // bloom-join mirror: the PLAIN join — pruning must be invisible
    "q105_bloom_join" ->
      """SELECT l_returnflag, count(*) AS n_items,
        |CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin.replace("\n", " "),

    // distinct-sketch mirror: exact-regime sparse sketch = plain
    // count(DISTINCT), with the exactness flag asserted true
    "q104_distinct_sketch" ->
      """SELECT lang, count(DISTINCT (n_chars % 1000))::BIGINT AS n_distinct,
        |true AS exact FROM documents GROUP BY lang ORDER BY lang""".stripMargin.replace("\n", " "),

    // DSIR mirror: hashed unigram+bigram buckets (md5 32-bit prefix
    // mod 512), add-one-smoothed target (lang='en') and raw bucket
    // distributions, per-doc sum of c * (ln p - ln q)
    "q97_dsir_scores" ->
      """WITH norm AS (SELECT doc_id, lang, trim(regexp_replace(regexp_replace(lower(text),
        |'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS t FROM documents),
        |toks AS (SELECT doc_id, lang,
        |list_filter(string_split(t, ' '), x -> length(x) > 0) AS ts FROM norm),
        |live AS (SELECT doc_id, lang, ts FROM toks WHERE len(ts) > 0),
        |grams AS (SELECT doc_id, lang, unnest(list_concat(ts,
        |CASE WHEN len(ts) > 1 THEN [ts[i] || ' ' || ts[i+1] FOR i IN range(1, len(ts))]
        |ELSE [] END)) AS g FROM live),
        |b AS (SELECT doc_id, lang,
        |(('0x' || substr(md5(g), 1, 8))::BIGINT % 512) AS bucket FROM grams),
        |cf AS MATERIALIZED (SELECT doc_id, bucket, count(*) AS c FROM b GROUP BY doc_id, bucket),
        |tf AS (SELECT bucket, count(*) AS c FROM b WHERE lang = 'en' GROUP BY bucket),
        |grid AS (SELECT unnest(range(0, 512)) AS bucket),
        |p AS (SELECT g.bucket,
        |ln((COALESCE(tf.c, 0) + 1.0) / ((SELECT sum(c) FROM tf) + 512.0)) AS lp
        |FROM grid g LEFT JOIN tf ON tf.bucket = g.bucket),
        |qb AS (SELECT bucket, sum(c) AS n FROM cf GROUP BY bucket),
        |q AS (SELECT g.bucket,
        |ln((COALESCE(qb.n, 0) + 1.0) / ((SELECT sum(n) FROM qb) + 512.0)) AS lq
        |FROM grid g LEFT JOIN qb ON qb.bucket = g.bucket),
        |scored AS (SELECT cf.doc_id,
        |round(sum(cf.c * (p.lp - q.lq)), 6) AS logw FROM cf
        |JOIN p ON p.bucket = cf.bucket JOIN q ON q.bucket = cf.bucket
        |GROUP BY cf.doc_id)
        |SELECT d.doc_id, COALESCE(s.logw, 0.0) AS logw
        |FROM documents d LEFT JOIN scored s ON s.doc_id = d.doc_id""".stripMargin.replace("\n", " "),

    // SemDeDup mirror: q72's unrolled two-round Lloyd chain -> final
    // centroids (round-2 means, empty cells keep round-1) -> argmin
    // cells -> within-cell cosine pairs -> recursive-CTE components ->
    // keep ids that reach nothing smaller
    // q95: cross-format (BMP/PNG/GIF) image near-dup recomputed from
    // the closed-form pixel arithmetic — byte k (IMAGE-order RGB) of
    // doc d is (d%20)*12 + k%13, xor 128 at k=(d/20)*3; all three
    // containers are lossless so every member decodes to exactly
    // these bytes; k%3 = 0/1/2 maps to embedding channel block 0/1/2;
    // bin = v/16; weights = count/64 pixels; the cosine and its
    // round-then-threshold match exactPairs exactly.  (q95d, the
    // lossy-JPEG arm, stays under the golden snapshot: DCT rounding
    // has no honest closed-form mirror.)
    "q95_image_neardup" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 60),
        |px AS (SELECT i.doc_id, k.k,
        |  CASE WHEN k.k = (i.doc_id // 20) * 3
        |       THEN xor(((i.doc_id % 20) * 12 + (k.k % 13)) % 256, 128)
        |       ELSE ((i.doc_id % 20) * 12 + (k.k % 13)) % 256 END AS v
        |FROM ids i, generate_series(0, 191) AS k(k)),
        |emb AS (SELECT doc_id, (k % 3) * 16 + (v // 16) AS dim,
        |  count(*) / 64.0 AS w
        |FROM px GROUP BY 1, 2),
        |norms AS (SELECT doc_id, sum(w * w) AS s FROM emb GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS pa, b.doc_id AS pb, sum(a.w * b.w) AS dot
        |FROM emb a JOIN emb b ON a.dim = b.dim AND a.doc_id < b.doc_id
        |GROUP BY 1, 2)
        |SELECT p.pa AS id_a, p.pb AS id_b,
        |  round(p.dot / (sqrt(na.s) * sqrt(nb.s)), 6) AS cos_sim
        |FROM pairs p
        |JOIN norms na ON na.doc_id = p.pa
        |JOIN norms nb ON nb.doc_id = p.pb
        |WHERE round(p.dot / (sqrt(na.s) * sqrt(nb.s)), 6) >= 0.95""".stripMargin,

    // q95b: the BMP arm recomputed from the closed-form pixel
    // arithmetic — byte k of doc d is (d%20)*12 + k%13, xor 128 at
    // k=(d/20)*3; BMP stores BGR so byte k%3 = 0/1/2 maps to embedding
    // channel block 2/1/0; bin = v/16; weights = count/64 pixels; the
    // cosine and its round-then-threshold match exactPairs exactly
    "q95b_bmp_neardup" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 60),
        |px AS (SELECT i.doc_id, k.k,
        |  CASE WHEN k.k = (i.doc_id // 20) * 3
        |       THEN xor(((i.doc_id % 20) * 12 + (k.k % 13)) % 256, 128)
        |       ELSE ((i.doc_id % 20) * 12 + (k.k % 13)) % 256 END AS v
        |FROM ids i, generate_series(0, 191) AS k(k)),
        |emb AS (SELECT doc_id,
        |  (CASE k % 3 WHEN 0 THEN 2 WHEN 1 THEN 1 ELSE 0 END) * 16 + (v // 16) AS dim,
        |  count(*) / 64.0 AS w
        |FROM px GROUP BY 1, 2),
        |norms AS (SELECT doc_id, sum(w * w) AS s FROM emb GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS pa, b.doc_id AS pb, sum(a.w * b.w) AS dot
        |FROM emb a JOIN emb b ON a.dim = b.dim AND a.doc_id < b.doc_id
        |GROUP BY 1, 2)
        |SELECT p.pa AS id_a, p.pb AS id_b,
        |  round(p.dot / (sqrt(na.s) * sqrt(nb.s)), 6) AS cos_sim
        |FROM pairs p
        |JOIN norms na ON na.doc_id = p.pa
        |JOIN norms nb ON nb.doc_id = p.pb
        |WHERE round(p.dot / (sqrt(na.s) * sqrt(nb.s)), 6) >= 0.95""".stripMargin,

    // q95c: amplitude-histogram binning is exact integer arithmetic —
    // x = v/32768, bin = floor((x+1)/2*32) = (v+32768)/2048 — and FLAC
    // decode is lossless, so the oracle recomputes the cross-container
    // audio embeddings and cosine pairs entirely from the closed form
    "q95c_audio_neardup" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 60),
        |s AS (SELECT i.doc_id,
        |  CASE WHEN g.i = (i.doc_id // 20)
        |       THEN -(-30000 + (i.doc_id % 20) * 3000 + (g.i * 37) % 1500)
        |       ELSE -30000 + (i.doc_id % 20) * 3000 + (g.i * 37) % 1500 END AS v
        |FROM ids i, generate_series(0, 79) AS g(i)),
        |emb AS (SELECT doc_id, least(31, (v + 32768) // 2048) AS bin,
        |  count(*) / 80.0 AS w
        |FROM s GROUP BY 1, 2),
        |norms AS (SELECT doc_id, sum(w * w) AS sq FROM emb GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS pa, b.doc_id AS pb, sum(a.w * b.w) AS dot
        |FROM emb a JOIN emb b ON a.bin = b.bin AND a.doc_id < b.doc_id
        |GROUP BY 1, 2)
        |SELECT p.pa AS id_a, p.pb AS id_b,
        |  round(p.dot / (sqrt(na.sq) * sqrt(nb.sq)), 6) AS cos_sim
        |FROM pairs p
        |JOIN norms na ON na.doc_id = p.pa
        |JOIN norms nb ON nb.doc_id = p.pb
        |WHERE round(p.dot / (sqrt(na.sq) * sqrt(nb.sq)), 6) >= 0.95""".stripMargin,

    "q96_semantic_dedup" ->
      """WITH RECURSIVE v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |WHERE embedding IS NOT NULL),
        |c0 AS (SELECT vec_id AS cid, v AS cv FROM v
        |ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)),1,6))::BIGINT, vec_id LIMIT 8),
        |a1 AS (SELECT vec_id, v, cid,
        |row_number() OVER (PARTITION BY vec_id ORDER BY list_distance(v, cv), cid) AS rn
        |FROM v CROSS JOIN c0),
        |s1 AS (SELECT cid, i, avg(x) AS m FROM
        |(SELECT cid, unnest(v) AS x, unnest(range(len(v))) AS i FROM a1 WHERE rn = 1)
        |GROUP BY cid, i),
        |c1m AS (SELECT cid, list(m ORDER BY i) AS cv FROM s1 GROUP BY cid),
        |c1 AS (SELECT cid, cv FROM c1m UNION ALL
        |SELECT cid, cv FROM c0 WHERE cid NOT IN (SELECT cid FROM c1m)),
        |a2 AS (SELECT vec_id, v, cid,
        |row_number() OVER (PARTITION BY vec_id ORDER BY list_distance(v, cv), cid) AS rn
        |FROM v CROSS JOIN c1),
        |s2 AS (SELECT cid, i, avg(x) AS m FROM
        |(SELECT cid, unnest(v) AS x, unnest(range(len(v))) AS i FROM a2 WHERE rn = 1)
        |GROUP BY cid, i),
        |c2m AS (SELECT cid, list(m ORDER BY i) AS cv FROM s2 GROUP BY cid),
        |c2 AS (SELECT cid, cv FROM c2m UNION ALL
        |SELECT cid, cv FROM c1 WHERE cid NOT IN (SELECT cid FROM c2m)),
        |a3 AS (SELECT vec_id, v, cid,
        |row_number() OVER (PARTITION BY vec_id ORDER BY list_distance(v, cv), cid) AS rn
        |FROM v CROSS JOIN c2),
        |cells AS MATERIALIZED (SELECT vec_id, v, cid FROM a3 WHERE rn = 1),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM cells a
        |JOIN cells b ON a.cid = b.cid AND a.vec_id < b.vec_id
        |WHERE isfinite(round(list_cosine_similarity(a.v, b.v), 6))
        |AND round(list_cosine_similarity(a.v, b.v), 6) >= 0.35),
        |e AS (SELECT id_a AS src, id_b AS dst FROM p
        |UNION SELECT id_b, id_a FROM p),
        |r AS (SELECT src AS node, src AS reach FROM e
        |UNION SELECT r.node, e.dst FROM r JOIN e ON r.reach = e.src),
        |losers AS (SELECT node FROM r GROUP BY node HAVING min(reach) < node)
        |SELECT vec_id FROM embeddings
        |WHERE vec_id NOT IN (SELECT node FROM losers)""".stripMargin.replace("\n", " "),

    // Nested-healpix ang2pix mirrored arithmetic step by step
    // (functions/Healpix.scala ang2pixNestZPhi at order 2, nside 4):
    // every float op copies Java's exact fold — dec/180.0*pi() is
    // Math.toRadians' order (NOT DuckDB's radians()), trunc() is
    // .toLong's toward-zero, and the 2-bit interleave is unrolled.
    // sin/sqrt agree to the ulp on this integral-degree domain
    // (verified over all 360x181 inputs at sf0.1).
    "q32_healpix_agg" ->
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
        |LEFT JOIN sparse s ON s.healpix = g.healpix""".stripMargin.replace("\n", " "),

    // Hyperplane-LSH mirrors (q28/q49): the planes are fixed seeded
    // literals on the Spark side, so the oracle embeds the SAME
    // doubles and reproduces every bucket exactly — no portable
    // variant needed, the signature never reaches the output
    "q28_ann_lsh" ->
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |FROM embeddings WHERE embedding IS NOT NULL),
        |s AS (SELECT vec_id, e, ${sigSql(6, 64, 42)} AS sig FROM v),
        |scored AS (SELECT a.vec_id AS probe_id, b.vec_id AS corpus_id,
        |round(list_cosine_similarity(a.e, b.e), 6) AS cos_sim
        |FROM s a JOIN s b ON a.sig = b.sig AND a.vec_id <> b.vec_id),
        |r AS (SELECT probe_id, corpus_id, cos_sim,
        |row_number() OVER (PARTITION BY probe_id
        |ORDER BY cos_sim DESC, corpus_id) AS rank FROM scored)
        |SELECT probe_id, corpus_id, cos_sim, rank FROM r WHERE rank <= 5""".stripMargin.replace("\n", " "),

    "q49_embedding_neardup" ->
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |FROM embeddings WHERE embedding IS NOT NULL),
        |s0 AS (SELECT vec_id, e, ${sigSql(5, 64, 42)} AS sig FROM v),
        |s1 AS (SELECT vec_id, e, ${sigSql(5, 64, 43)} AS sig FROM v),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |round(list_cosine_similarity(a.e, b.e), 6) AS cos_sim
        |FROM s0 a JOIN s0 b ON a.sig = b.sig AND a.vec_id < b.vec_id
        |UNION SELECT a.vec_id, b.vec_id,
        |round(list_cosine_similarity(a.e, b.e), 6)
        |FROM s1 a JOIN s1 b ON a.sig = b.sig AND a.vec_id < b.vec_id)
        |SELECT id_a, id_b, cos_sim FROM p
        |WHERE cos_sim >= 0.2 AND isfinite(cos_sim)""".stripMargin.replace("\n", " "),
    // Portable-minhash mirror (q26/q40/q86): one 32-bit md5-derived
    // base hash per shingle, k affine permutations mod a >2^32 prime —
    // the same constants Spark uses, so min/banding/equality match
    // term-for-term.  Lanes/bands CTEs are MATERIALIZED: DuckDB
    // re-inlines a CTE per reference, and the lane aggregate is the
    // expensive part.
    "q26_minhash_lsh" ->
      s"""$mhLanesCtes
        |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM bands a JOIN bands b ON a.bk = b.bk AND a.doc_id < b.doc_id)
        |SELECT p.id_a, p.id_b,
        |round(count(*) FILTER (WHERE la.mh = lb.mh) / 32.0, 6) AS est_jaccard
        |FROM pairs p JOIN lanes la ON la.doc_id = p.id_a
        |JOIN lanes lb ON lb.doc_id = p.id_b AND lb.lane = la.lane
        |GROUP BY p.id_a, p.id_b""".stripMargin.replace("\n", " "),

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
    "q59_stream_neardup" ->
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
        |FROM rec WHERE hit_doc IS NOT NULL""".stripMargin.replace("\n", " "),

    // Portable-simhash fingerprint values (the q67 construction's fp
    // stage, surfaced directly)
    "q27_simhash" ->
      """WITH norm AS (SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
        |'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS t FROM documents),
        |tok AS (SELECT doc_id, tok FROM
        |(SELECT doc_id, unnest(string_split(t, ' ')) AS tok FROM norm)
        |WHERE length(tok) > 0),
        |th AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tok),
        |votes AS (SELECT doc_id, b,
        |sum(CASE WHEN (h >> CAST(b AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |FROM th, (SELECT unnest(range(0, 60)) AS b) GROUP BY doc_id, b)
        |SELECT doc_id,
        |CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << CAST(b AS INT)) ELSE 0 END) AS BIGINT) AS simhash
        |FROM votes GROUP BY doc_id""".stripMargin.replace("\n", " "),

    // The flagship end-to-end near-dedup, mirrored whole: portable
    // banding -> exact jaccard >= 0.5 -> recursive-CTE reachability
    // (the q77 oracle pattern) -> keep docs that are their component's
    // minimum.  WITH RECURSIVE heads the shared CTE prefix.
    "q70_neardup_corpus" ->
      s"""${mhLanesCtes.replaceFirst("WITH norm", "WITH RECURSIVE norm")}
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM bands a JOIN bands b ON a.bk = b.bk AND a.doc_id < b.doc_id),
        |sets AS MATERIALIZED (SELECT DISTINCT doc_id, s FROM sh),
        |sz AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM sets GROUP BY doc_id),
        |inter AS (SELECT c.id_a, c.id_b, count(*) AS ni FROM cand c
        |JOIN sets sa ON sa.doc_id = c.id_a
        |JOIN sets sb ON sb.doc_id = c.id_b AND sb.s = sa.s
        |GROUP BY c.id_a, c.id_b),
        |ver AS MATERIALIZED (SELECT c.id_a, c.id_b FROM cand c
        |LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
        |JOIN sz za ON za.doc_id = c.id_a
        |JOIN sz zb ON zb.doc_id = c.id_b
        |WHERE round(COALESCE(i.ni, 0) / greatest(za.n + zb.n - COALESCE(i.ni, 0), 1), 6) >= 0.5),
        |e AS (SELECT id_a AS src, id_b AS dst FROM ver
        |UNION SELECT id_b, id_a FROM ver),
        |r AS (SELECT src AS node, src AS reach FROM e
        |UNION SELECT r.node, e.dst FROM r JOIN e ON r.reach = e.src),
        |losers AS (SELECT node FROM r GROUP BY node HAVING min(reach) < node)
        |SELECT d.doc_id, d.lang, d.source, d.n_chars FROM documents d
        |WHERE d.doc_id NOT IN (SELECT node FROM losers)""".stripMargin.replace("\n", " "),

    // q26's pairs pruned at est >= 0.5, then EXACT distinct-shingle-set
    // jaccard (the hash never reaches the verify arithmetic)
    "q40_dedup_verified" ->
      s"""$mhLanesCtes
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM bands a JOIN bands b ON a.bk = b.bk AND a.doc_id < b.doc_id),
        |est AS (SELECT p.id_a, p.id_b FROM cand p
        |JOIN lanes la ON la.doc_id = p.id_a
        |JOIN lanes lb ON lb.doc_id = p.id_b AND lb.lane = la.lane
        |GROUP BY p.id_a, p.id_b
        |HAVING count(*) FILTER (WHERE la.mh = lb.mh) / 32.0 >= 0.5),
        |sets AS MATERIALIZED (SELECT DISTINCT doc_id, s FROM sh),
        |sz AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM sets GROUP BY doc_id),
        |inter AS (SELECT e.id_a, e.id_b, count(*) AS ni FROM est e
        |JOIN sets sa ON sa.doc_id = e.id_a
        |JOIN sets sb ON sb.doc_id = e.id_b AND sb.s = sa.s
        |GROUP BY e.id_a, e.id_b)
        |SELECT e.id_a, e.id_b,
        |round(COALESCE(i.ni, 0) / greatest(za.n + zb.n - COALESCE(i.ni, 0), 1), 6) AS jaccard
        |FROM est e
        |LEFT JOIN inter i ON i.id_a = e.id_a AND i.id_b = e.id_b
        |JOIN sz za ON za.doc_id = e.id_a
        |JOIN sz zb ON zb.doc_id = e.id_b""".stripMargin.replace("\n", " "),

    // Portable-simhash mirror (q67): 60-bit fingerprint from the first
    // 15 hex digits of md5(token); per-bit ±1 votes, vote > 0 → bit 1;
    // 4 bands of 15 bits; hamming verify <= 3
    "q67_simhash_neardup" ->
      """WITH norm AS (SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
        |'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS t FROM documents),
        |tok AS (SELECT doc_id, tok FROM
        |(SELECT doc_id, unnest(string_split(t, ' ')) AS tok FROM norm)
        |WHERE length(tok) > 0),
        |th AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tok),
        |votes AS (SELECT doc_id, b,
        |sum(CASE WHEN (h >> CAST(b AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |FROM th, (SELECT unnest(range(0, 60)) AS b) GROUP BY doc_id, b),
        |fp AS MATERIALIZED (SELECT doc_id,
        |CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << CAST(b AS INT)) ELSE 0 END) AS BIGINT) AS f
        |FROM votes GROUP BY doc_id),
        |banded AS MATERIALIZED (SELECT doc_id, f,
        |(b * 32768 + ((f >> CAST(b * 15 AS INT)) & 32767)) AS band_key
        |FROM fp, (SELECT unnest(range(0, 4)) AS b))
        |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |CAST(bit_count(xor(a.f, b.f)) AS INT) AS hamming
        |FROM banded a JOIN banded b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.f, b.f)) <= 3""".stripMargin.replace("\n", " "),

    // q26's machinery against a precomputed index side: batch = doc_id
    // % 10 = 0, pairs keep BOTH orders minus self-matches
    "q86_minhash_index" ->
      s"""$mhLanesCtes
        |pairs AS (SELECT DISTINCT a.doc_id AS batch_id, b.doc_id AS index_id
        |FROM bands a JOIN bands b ON a.bk = b.bk
        |WHERE a.doc_id % 10 = 0 AND a.doc_id <> b.doc_id)
        |SELECT p.batch_id, p.index_id,
        |round(count(*) FILTER (WHERE la.mh = lb.mh) / 32.0, 6) AS est_jaccard
        |FROM pairs p JOIN lanes la ON la.doc_id = p.batch_id
        |JOIN lanes lb ON lb.doc_id = p.index_id AND lb.lane = la.lane
        |GROUP BY p.batch_id, p.index_id""".stripMargin.replace("\n", " "),

    "q01_selectwhere" ->
      """SELECT l_orderkey, l_quantity, l_extendedprice, l_discount FROM lineitem
        |WHERE l_discount > 0.05 AND l_quantity * l_extendedprice > 1000""".stripMargin.replace("\n", " "),

    "q02_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |round(avg(l_quantity), 6) AS avg_qty,
        |round(avg(l_discount), 6) AS avg_disc,
        |count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin.replace("\n", " "),

    "q03_join_star" ->
      """SELECT n_name, c_mktsegment, count(*) AS n_items,
        |CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name, c_mktsegment""".stripMargin.replace("\n", " "),

    "q04_sort_topk" ->
      "SELECT o_orderkey, o_totalprice, o_orderdate FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",

    "q05_union_stack" ->
      """SELECT c_custkey AS id, c_name AS name, c_acctbal AS acctbal,
        |c_nationkey AS nationkey, c_mktsegment AS mktsegment, 'customer' AS kind FROM customer
        |UNION ALL
        |SELECT s_suppkey, s_name, s_acctbal, s_nationkey, 'NONE', 'supplier' FROM supplier""".stripMargin.replace("\n", " "),

    "q06_stats" -> statsOracleFor(Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")),

    "q07_match_pairs" ->
      "SELECT s_suppkey, c_custkey FROM supplier JOIN customer ON s_nationkey = c_nationkey",

    "q08_groupby_expr" ->
      """SELECT CAST(floor(l_quantity / 10) AS BIGINT) AS qty_bucket, count(*) AS n,
        |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem GROUP BY 1""".stripMargin.replace("\n", " "),

    "q09_window_lag" ->
      """SELECT event_id, user_id, value,
        |lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
        |FROM events""".stripMargin.replace("\n", " "),

    "q10_json_extract" ->
      "SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val FROM events",

    "q11_histogram" ->
      """WITH h AS (SELECT CASE WHEN l_extendedprice = 100000 THEN 19
        |ELSE CAST(floor(l_extendedprice / 5000.0) AS BIGINT) END AS bin, count(*) AS cnt
        |FROM lineitem WHERE l_extendedprice >= 0 AND l_extendedprice <= 100000 GROUP BY 1),
        |g AS (SELECT range AS bin FROM range(0, 20))
        |SELECT g.bin AS bin, COALESCE(h.cnt, 0) AS cnt, 0.0 + (g.bin + 0.5) * 5000.0 AS center
        |FROM g LEFT JOIN h ON g.bin = h.bin""".stripMargin.replace("\n", " "),

    "q12_hist2d" ->
      """WITH h AS (SELECT
        |CASE WHEN l_quantity = 50 THEN 9 ELSE CAST(floor(l_quantity / 5.0) AS BIGINT) END AS xb,
        |CASE WHEN l_discount = 0.12 THEN 5 ELSE CAST(floor(l_discount / 0.02) AS BIGINT) END AS yb,
        |count(*) AS cnt, CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS wsum
        |FROM lineitem WHERE l_quantity >= 0 AND l_quantity <= 50
        |AND l_discount >= 0 AND l_discount <= 0.12 GROUP BY 1, 2),
        |g AS (SELECT a.range AS xb, b.range AS yb FROM range(0, 10) a, range(0, 6) b)
        |SELECT g.xb AS x_bin, g.yb AS y_bin, COALESCE(h.cnt, 0) AS cnt, h.wsum AS wsum
        |FROM g LEFT JOIN h ON g.xb = h.xb AND g.yb = h.yb""".stripMargin.replace("\n", " "),

    "q13_binned_stat" ->
      """WITH h AS (SELECT
        |CASE WHEN l_quantity = 50 THEN 9 ELSE CAST(floor(l_quantity / 5.0) AS BIGINT) END AS qb,
        |round(avg(l_extendedprice), 6) AS mean_price
        |FROM lineitem WHERE l_quantity >= 0 AND l_quantity <= 50 GROUP BY 1),
        |g AS (SELECT range AS qb FROM range(0, 10))
        |SELECT g.qb AS q_bin, h.mean_price AS mean_price, 0.0 + (g.qb + 0.5) * 5.0 AS q_center
        |FROM g LEFT JOIN h ON g.qb = h.qb""".stripMargin.replace("\n", " "),

    "q14_cone_search" ->
      s"""WITH c AS (SELECT l_orderkey, l_partkey,
         |CAST(l_orderkey % 360 AS DOUBLE) AS ra,
         |CAST((l_partkey % 181) - 90 AS DOUBLE) AS dec FROM lineitem)
         |SELECT l_orderkey, l_partkey, ra, dec, round($sphdistSql, 6) AS sep
         |FROM c WHERE $sphdistSql <= 57.3""".stripMargin.replace("\n", " "),

    "q15_zone_search" ->
      """WITH c AS (SELECT l_orderkey, l_partkey,
        |CAST(l_orderkey % 360 AS DOUBLE) AS ra,
        |CAST((l_partkey % 181) - 90 AS DOUBLE) AS dec FROM lineitem)
        |SELECT l_orderkey, l_partkey, ra, dec FROM c
        |WHERE ra >= 100 AND ra <= 200 AND dec >= -30 AND dec <= 30""".stripMargin.replace("\n", " "),

    "q16_sexagesimal" ->
      """SELECT l_orderkey, l_linenumber,
        |lpad(CAST(l_orderkey % 24 AS VARCHAR), 2, '0') || ':' ||
        |lpad(CAST(l_partkey % 60 AS VARCHAR), 2, '0') || ':' ||
        |lpad(CAST(l_suppkey % 60 AS VARCHAR), 2, '0') AS hms_str,
        |round((CAST(l_orderkey % 24 AS DOUBLE) + CAST(l_partkey % 60 AS DOUBLE) / 60.0
        |+ CAST(l_suppkey % 60 AS DOUBLE) / 3600.0) * 15.0, 6) AS ra_deg
        |FROM lineitem""".stripMargin.replace("\n", " "),

    "q17_gaia_healpix" ->
      """SELECT CAST(floor((event_id * 34359738368 + user_id) / 549755813888.0) AS BIGINT) AS cell,
        |count(*) AS n FROM events GROUP BY 1""".stripMargin.replace("\n", " "),

    "q18_dedup_exact" ->
      "SELECT md5(text) AS content_hash, count(*) AS n_copies, min(doc_id) AS keep_id FROM documents GROUP BY 1",

    "q19_text_quality" ->
      """SELECT doc_id,
        |CAST(length(text) AS BIGINT) AS n_chars,
        |CASE WHEN length(regexp_replace(trim(text), ' +', ' ', 'g')) = 0 THEN 0
        |ELSE CAST((length(regexp_replace(trim(text), ' +', ' ', 'g')) - length(replace(regexp_replace(trim(text), ' +', ' ', 'g'), ' ', ''))) AS BIGINT) + 1 END AS n_tokens,
        |round((CAST((length(text) - length(replace(text, '.', ''))) AS BIGINT)
        |+ CAST((length(text) - length(replace(text, ',', ''))) AS BIGINT)
        |+ CAST((length(text) - length(replace(text, '!', ''))) AS BIGINT)
        |+ CAST((length(text) - length(replace(text, '?', ''))) AS BIGINT)
        |+ CAST((length(text) - length(replace(text, ';', ''))) AS BIGINT)
        |+ CAST((length(text) - length(replace(text, ':', ''))) AS BIGINT))
        |/ CAST(greatest(length(text), 1) AS DOUBLE), 6) AS punct_ratio,
        |round((CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' the ', ''))) / 5 AS BIGINT)
        |+ CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' and ', ''))) / 5 AS BIGINT)
        |+ CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' of ', ''))) / 4 AS BIGINT)
        |+ CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' to ', ''))) / 4 AS BIGINT)
        |+ CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' a ', ''))) / 3 AS BIGINT))
        |/ CAST(greatest(CASE WHEN length(regexp_replace(trim(text), ' +', ' ', 'g')) = 0 THEN 0
        |ELSE CAST((length(regexp_replace(trim(text), ' +', ' ', 'g')) - length(replace(regexp_replace(trim(text), ' +', ' ', 'g'), ' ', ''))) AS BIGINT) + 1 END, 1) AS DOUBLE), 6) AS stop_ratio,
        |round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
        |/ CAST(greatest(CASE WHEN length(regexp_replace(trim(text), ' +', ' ', 'g')) = 0 THEN 0
        |ELSE CAST((length(regexp_replace(trim(text), ' +', ' ', 'g')) - length(replace(regexp_replace(trim(text), ' +', ' ', 'g'), ' ', ''))) AS BIGINT) + 1 END, 1) AS DOUBLE), 6) AS avg_token_len
        |FROM documents""".stripMargin.replace("\n", " "),

    "q20_langid" -> {
      val padded = "(' ' || text || ' ')"
      def score(markers: Seq[String]): String =
        markers.map(m => s"CAST((length($padded) - length(replace($padded, '$m', ''))) / ${m.length} AS BIGINT)").mkString(" + ")
      val scores = TextAnalysis.langMarkers.map { case (lang, ms) => lang -> score(ms) }
      val pairs = scores.map { case (l, sc) => s"($sc) AS s_$l" }.mkString(", ")
      val m = scores.map { case (l, _) => s"s_$l" }.mkString("greatest(", ", ", ")")
      val cases = scores.map { case (l, _) => s"WHEN s_$l = m AND m > 0 THEN '$l'" }.mkString(" ")
      s"WITH sc AS (SELECT doc_id, $pairs FROM documents), mm AS (SELECT doc_id, s_en, s_es, s_de, s_fr, $m AS m FROM sc) " +
        s"SELECT doc_id, CASE $cases ELSE 'und' END AS lang_pred FROM mm"
    },

    // mirrors TextAnalysis.fingerprint including the raw-text fallback
    // for documents that normalize to empty (CJK/punctuation-only —
    // absent from this corpus, but the oracle states the full contract)
    "q21_text_fingerprint" ->
      """SELECT doc_id, md5(CASE WHEN length(trim(regexp_replace(regexp_replace(lower(text),
        |'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) > 0
        |THEN trim(regexp_replace(regexp_replace(lower(text),
        |'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))
        |ELSE chr(0) || 'raw' || chr(0) || text END) AS fp FROM documents""".stripMargin.replace("\n", " "),

    "q22_events_window" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
        |CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin.replace("\n", " "),

    "q23_ann_cosine" ->
      """WITH p AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 20),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT p.vec_id AS probe_id, c.vec_id AS corpus_id,
        |list_cosine_similarity(c.v, p.v) AS cs,
        |row_number() OVER (PARTITION BY p.vec_id ORDER BY list_cosine_similarity(c.v, p.v) DESC, c.vec_id) AS rank
        |FROM p, c WHERE p.vec_id <> c.vec_id)
        |SELECT probe_id, corpus_id, round(cs, 6) AS cos_sim, rank FROM s WHERE rank <= 5""".stripMargin.replace("\n", " "),

    "q24_setops" ->
      "SELECT c_nationkey AS nationkey FROM customer INTERSECT SELECT s_nationkey FROM supplier",

    "q25_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |SELECT o_custkey, o_orderkey, o_totalprice,
        |row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |FROM orders) WHERE rn <= 3""".stripMargin.replace("\n", " "),

    "q29_semi_anti" ->
      """SELECT 'with_orders' AS kind, count(*) AS n FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders)
        |UNION ALL
        |SELECT 'without_orders' AS kind, count(*) AS n FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)""".stripMargin.replace("\n", " "),

    "q30_except" ->
      "SELECT DISTINCT c_nationkey AS nationkey FROM customer EXCEPT SELECT s_nationkey FROM supplier",

    "q31_stats_extended" ->
      """SELECT round(var_samp(l_extendedprice), 6) AS variance,
        |round(quantile_cont(l_extendedprice, 0.16), 6) AS p16,
        |round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
        |round(quantile_cont(l_extendedprice, 0.84), 6) AS p84
        |FROM lineitem""".stripMargin.replace("\n", " "),

    "q33_events_sessions" ->
      """WITH flagged AS (SELECT user_id, ts,
        |CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL 30 MINUTE
        |THEN 1 ELSE 0 END AS new_session FROM events),
        |ids AS (SELECT user_id, ts,
        |sum(new_session) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |FROM flagged)
        |SELECT user_id, min(ts) AS session_start, count(*) AS n_events, max(ts) AS last_ts
        |FROM ids GROUP BY user_id, sid""".stripMargin.replace("\n", " "),

    // Mirrors Multimodal.synthMedia's arithmetic AND the decoded
    // metadata: WAV rms/peak re-derived from the same sample formula,
    // BMP channel means from the same pixel formula (y = p div w,
    // x = p mod w), container sizes from the RIFF/BMP layouts, and
    // explodeFrames' ceil-division tiling (frame width = ceil(L/4),
    // n_frames = ceil(L / frameW), total bytes = L).
    "q34_multimodal" ->
      """WITH wav AS (SELECT doc_id, 64 + (n_chars % 64) AS n
        |FROM documents WHERE doc_id % 2 = 0),
        |ws AS (SELECT doc_id, n, unnest(range(n)) AS i FROM wav),
        |wavs AS MATERIALIZED (SELECT doc_id, n,
        |sqrt(avg(pow((((doc_id*131 + i*17) % 65536) - 32768) / 32768.0, 2))) AS rms,
        |max(abs((((doc_id*131 + i*17) % 65536) - 32768) / 32768.0)) AS peak
        |FROM ws GROUP BY doc_id, n),
        |bmp AS (SELECT doc_id, 4 + (doc_id % 5) AS w, 3 + (doc_id % 4) AS h
        |FROM documents WHERE doc_id % 2 = 1),
        |px AS (SELECT doc_id, w, h, unnest(range(w*h)) AS p FROM bmp),
        |bmps AS MATERIALIZED (SELECT doc_id, w, h,
        |avg((doc_id*7 + (p // w)*31 + (p % w)*13) % 256) AS mr,
        |avg((doc_id*7 + (p // w)*31 + (p % w)*13 + 97) % 256) AS mg,
        |avg((doc_id*7 + (p // w)*31 + (p % w)*13 + 194) % 256) AS mb
        |FROM px GROUP BY doc_id, w, h),
        |sized AS (
        |SELECT doc_id, 'audio/wav' AS mime, NULL::INT AS width, NULL::INT AS height,
        |8000::INT AS sample_rate, n::BIGINT AS n_samples,
        |round(n / 8000.0, 6) AS dur, round(rms, 6) AS rms, round(peak, 6) AS peak,
        |NULL::DOUBLE AS mean_r, NULL::DOUBLE AS mean_g, NULL::DOUBLE AS mean_b,
        |(44 + 2*n)::BIGINT AS payload_bytes FROM wavs
        |UNION ALL
        |SELECT doc_id, 'image/bmp', w::INT, h::INT, NULL::INT, NULL::BIGINT,
        |NULL::DOUBLE, NULL::DOUBLE, NULL::DOUBLE,
        |round(mr, 6), round(mg, 6), round(mb, 6),
        |(54 + (((w*3 + 3) // 4) * 4) * h)::BIGINT FROM bmps)
        |SELECT doc_id, mime, width, height, sample_rate, n_samples, dur, rms, peak,
        |mean_r, mean_g, mean_b, payload_bytes,
        |CAST(ceil(payload_bytes / ceil(payload_bytes / 4.0)) AS BIGINT) AS n_frames,
        |payload_bytes AS total_bytes
        |FROM sized""".stripMargin.replace("\n", " "),

    // q34b: FLAC is lossless, so the decoded stream IS the closed-form
    // signal — the oracle recomputes rms/peak/duration from the same
    // arithmetic synthWav uses, with the container constants pinned to
    // what the encoder wrote (mono, 8 kHz, 16-bit)
    "q34b_flac_meta" ->
      """WITH f AS (SELECT doc_id, 64 + (n_chars % 64) AS n
        |FROM documents WHERE doc_id < 200),
        |fs AS (SELECT doc_id, n, unnest(range(n)) AS i FROM f),
        |agg AS (SELECT doc_id, n,
        |sqrt(avg(pow((((doc_id*131 + i*17) % 65536) - 32768) / 32768.0, 2))) AS rms,
        |max(abs((((doc_id*131 + i*17) % 65536) - 32768) / 32768.0)) AS peak
        |FROM fs GROUP BY doc_id, n)
        |SELECT doc_id, 'audio/flac' AS mime, 1::INT AS channels,
        |8000::INT AS sample_rate, 16::INT AS bits, n::BIGINT AS n_samples,
        |round(n / 8000.0, 6) AS dur, round(rms, 6) AS rms, round(peak, 6) AS peak
        |FROM agg""".stripMargin,

    // q34c: PCM-in-MP4 is raw sample bytes behind ISOBMFF chunk maps —
    // identical closed-form recomputation, mime/container aside; the
    // sowt/twos split is a byte-order detail the oracle never sees
    "q34c_mp4_meta" ->
      """WITH f AS (SELECT doc_id, 64 + (n_chars % 64) AS n
        |FROM documents WHERE doc_id < 200),
        |fs AS (SELECT doc_id, n, unnest(range(n)) AS i FROM f),
        |agg AS (SELECT doc_id, n,
        |sqrt(avg(pow((((doc_id*131 + i*17) % 65536) - 32768) / 32768.0, 2))) AS rms,
        |max(abs((((doc_id*131 + i*17) % 65536) - 32768) / 32768.0)) AS peak
        |FROM fs GROUP BY doc_id, n)
        |SELECT doc_id, 'audio/mp4' AS mime, 1::INT AS channels,
        |8000::INT AS sample_rate, 16::INT AS bits, n::BIGINT AS n_samples,
        |round(n / 8000.0, 6) AS dur, round(rms, 6) AS rms, round(peak, 6) AS peak
        |FROM agg""".stripMargin,

    "q35_euler_galactic" -> {
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
    },

    "q68_euler_b1950" -> {
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
    },

    "q36_aitoff" ->
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
        |FROM n""".stripMargin.replace("\n", " "),

    "q37_raster" ->
      """SELECT CAST(floor(CAST(l_orderkey % 360 AS DOUBLE) / 45.0) AS BIGINT) AS px_bin,
        |CASE WHEN (l_partkey % 181) - 90 = 90 THEN 3
        |ELSE CAST(floor((CAST((l_partkey % 181) - 90 AS DOUBLE) + 90.0) / 45.0) AS BIGINT) END AS py_bin,
        |round(avg(l_extendedprice), 6) AS value
        |FROM lineitem GROUP BY 1, 2""".stripMargin.replace("\n", " "),

    "q38_first_last" ->
      """SELECT l_returnflag, count(*) AS n,
        |min_by(l_linestatus, l_orderkey * 10 + l_linenumber) AS first_status,
        |max_by(l_linestatus, l_orderkey * 10 + l_linenumber) AS last_status
        |FROM lineitem GROUP BY l_returnflag""".stripMargin.replace("\n", " "),

    "q39_multigroupby" ->
      """SELECT l_returnflag, l_linestatus, CAST(year(l_shipdate) AS INT) AS ship_year,
        |count(*) AS n, CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem GROUP BY 1, 2, 3""".stripMargin.replace("\n", " "),

    // mirror of the rounded-TOTAL-seconds decomposition (flooring the
    // minutes before rounding the remainder could render ":60.00")
    "q41_deg2hms" ->
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
        |FROM o""".stripMargin.replace("\n", " "),

    "q42_weighted_hist" ->
      """WITH h AS (SELECT CASE WHEN l_extendedprice = 100000 THEN 19
        |ELSE CAST(floor(l_extendedprice / 5000.0) AS BIGINT) END AS bin,
        |count(*) AS cnt,
        |CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS w_quantity,
        |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS w_price
        |FROM lineitem WHERE l_extendedprice >= 0 AND l_extendedprice <= 100000 GROUP BY 1),
        |g AS (SELECT range AS bin FROM range(0, 20))
        |SELECT g.bin AS bin, COALESCE(h.cnt, 0) AS cnt, h.w_quantity AS w_quantity, h.w_price AS w_price
        |FROM g LEFT JOIN h ON g.bin = h.bin""".stripMargin.replace("\n", " "),

    "q43_weighted_mean" ->
      """SELECT l_returnflag,
        |round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 3) AS wm_price
        |FROM lineitem GROUP BY l_returnflag""".stripMargin.replace("\n", " "),

    "q44_mode" ->
      "SELECT l_returnflag, mode(l_linestatus) AS mode_status, count(*) AS n FROM lineitem GROUP BY l_returnflag",

    "q45_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin.replace("\n", " "),

    "q46_events_sliding" ->
      """SELECT date_trunc('hour', ts) - off * INTERVAL 1 HOUR AS ws, event_type, count(*) AS n
        |FROM events CROSS JOIN (SELECT 0 AS off UNION ALL SELECT 1) offs
        |GROUP BY 1, 2""".stripMargin.replace("\n", " "),

    "q47_ann_ivf" ->
      """WITH c AS (SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS cv
        |FROM embeddings WHERE vec_id < 16),
        |s AS (SELECT e.vec_id AS vid, c.centroid_id,
        |list_distance(CAST(e.embedding AS DOUBLE[]), c.cv) AS dist,
        |row_number() OVER (PARTITION BY e.vec_id
        |ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), c.cv), c.centroid_id) AS rn
        |FROM embeddings e, c)
        |SELECT vid, centroid_id, round(dist, 6) AS dist FROM s WHERE rn = 1""".stripMargin.replace("\n", " "),

    "q48_bpe_tokens" ->
      """SELECT doc_id, CAST(len(regexp_extract_all(lower(text),
        |' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+')) AS BIGINT) AS n_bpe
        |FROM documents""".stripMargin.replace("\n", " "),

    "q50_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin.replace("\n", " "),

    "q51_group_function" ->
      """SELECT l_returnflag, count(*) AS n,
        |max(l_extendedprice) - min(l_extendedprice) AS price_span
        |FROM lineitem GROUP BY l_returnflag""".stripMargin.replace("\n", " "),

    "q52_asof_join" ->
      """SELECT e.event_id, e.user_id, p.value AS prior_purchase
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') e
        |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
        |ON e.user_id = p.user_id AND e.ts >= p.ts""".stripMargin.replace("\n", " "),

    "q53_range_join" ->
      """SELECT e.event_id, e.user_id, p.event_id AS purchase_event_id
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') e
        |JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
        |ON e.user_id = p.user_id
        |AND abs(epoch_us(e.ts) - epoch_us(p.ts)) <= 600000000""".stripMargin.replace("\n", " "),

    "q54_distinct_agg" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        |count(DISTINCT l_suppkey) AS n_supps, count(*) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin.replace("\n", " "),

    "q55_ezframe_join" ->
      """SELECT c_mktsegment, count(o_orderkey) AS n_orders,
        |count(DISTINCT c_custkey) AS n_cust
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_mktsegment""".stripMargin.replace("\n", " "),

    "q56_topk_per_key" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |SELECT o_custkey, o_orderkey, o_totalprice,
        |row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey DESC) AS rn
        |FROM orders) WHERE rn <= 3""".stripMargin.replace("\n", " "),

    "q57_violin_density" ->
      """WITH h AS (SELECT CASE WHEN l_quantity = 60 THEN 11
        |ELSE CAST(floor(l_quantity / 5.0) AS BIGINT) END AS bin, count(*) AS cnt
        |FROM lineitem WHERE l_quantity >= 0 AND l_quantity <= 60 GROUP BY 1),
        |g AS (SELECT range AS bin FROM range(0, 12)),
        |t AS (SELECT SUM(cnt) AS total FROM h)
        |SELECT g.bin AS bin, round(COALESCE(h.cnt, 0) / (t.total * 5.0), 6) AS density
        |FROM g LEFT JOIN h ON g.bin = h.bin CROSS JOIN t""".stripMargin.replace("\n", " "),

    "q58_neardup_exact" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |FROM embeddings WHERE vec_id < 1000)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
        |FROM v a, v b WHERE a.vec_id < b.vec_id
        |AND round(list_cosine_similarity(a.v, b.v), 6) >= 0.2""".stripMargin.replace("\n", " "),

    "q69_dedup_components" ->
      """WITH RECURSIVE v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |FROM embeddings WHERE vec_id < 1000),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM v a, v b
        |WHERE a.vec_id < b.vec_id
        |AND round(list_cosine_similarity(a.v, b.v), 6) >= 0.35),
        |e AS (SELECT id_a AS src, id_b AS dst FROM p
        |UNION SELECT id_b, id_a FROM p),
        |r AS (SELECT vec_id AS node, vec_id AS reach FROM v
        |UNION
        |SELECT r.node, e.dst FROM r JOIN e ON r.reach = e.src)
        |SELECT node, min(reach) AS component FROM r GROUP BY node""".stripMargin.replace("\n", " "),

    "q71_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |b AS (SELECT doc_id, l,
        |CASE WHEN len(l) >= 2
        |THEN 1.0 - len(list_distinct(list_transform(range(1, len(l)),
        |i -> l[i] || ' ' || l[i+1])))::DOUBLE / (len(l) - 1)
        |ELSE 0.0 END AS d2raw FROM t),
        |ex AS (SELECT doc_id, d2raw, unnest(l) AS token FROM b),
        |g1 AS (SELECT doc_id, d2raw, token, count(*) AS cnt FROM ex GROUP BY 1, 2, 3)
        |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
        |round(1.0 - count(*)::DOUBLE / sum(cnt), 6) AS dup_token_ratio,
        |round(min(d2raw), 6) AS dup_2gram_ratio,
        |round(max(cnt)::DOUBLE / sum(cnt), 6) AS top_token_ratio
        |FROM g1 GROUP BY doc_id""".stripMargin.replace("\n", " "),

    // mirrors kmeansFit's empty-cell contract too: a centroid that
    // loses every member keeps its previous position (c1's UNION ALL
    // fallback) and reports n_members = 0 (the `kept` branch)
    "q72_kmeans" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |WHERE embedding IS NOT NULL),
        |c0 AS (SELECT vec_id AS cid, v AS cv FROM v
        |ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)),1,6))::BIGINT, vec_id LIMIT 8),
        |a1 AS (SELECT vec_id, v, cid,
        |row_number() OVER (PARTITION BY vec_id ORDER BY list_distance(v, cv), cid) AS rn
        |FROM v CROSS JOIN c0),
        |s1 AS (SELECT cid, i, avg(x) AS m FROM
        |(SELECT cid, unnest(v) AS x, unnest(range(len(v))) AS i FROM a1 WHERE rn = 1)
        |GROUP BY cid, i),
        |c1m AS (SELECT cid, list(m ORDER BY i) AS cv FROM s1 GROUP BY cid),
        |c1 AS (SELECT cid, cv FROM c1m UNION ALL
        |SELECT cid, cv FROM c0 WHERE cid NOT IN (SELECT cid FROM c1m)),
        |a2 AS (SELECT vec_id, v, cid,
        |row_number() OVER (PARTITION BY vec_id ORDER BY list_distance(v, cv), cid) AS rn
        |FROM v CROSS JOIN c1),
        |s2 AS (SELECT cid, i, avg(x) AS m, count(*) AS n FROM
        |(SELECT cid, unnest(v) AS x, unnest(range(len(v))) AS i FROM a2 WHERE rn = 1)
        |GROUP BY cid, i),
        |out2 AS (SELECT cid AS centroid_id, i AS dim, round(m, 6) AS coord, n AS n_members FROM s2),
        |kept AS (SELECT cid AS centroid_id, i AS dim, round(x, 6) AS coord,
        |CAST(0 AS BIGINT) AS n_members
        |FROM (SELECT cid, unnest(cv) AS x, unnest(range(len(cv))) AS i FROM c1
        |WHERE cid NOT IN (SELECT DISTINCT cid FROM s2)))
        |SELECT * FROM out2 UNION ALL SELECT * FROM kept""".stripMargin.replace("\n", " "),

    "q75_mean_pool" ->
      """SELECT CAST(label AS BIGINT) AS group_id, i AS dim, round(avg(x), 6) AS coord,
        |count(*) AS n_members FROM
        |(SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS x,
        |unnest(range(len(embedding))) AS i FROM embeddings WHERE embedding IS NOT NULL)
        |GROUP BY label, i""".stripMargin.replace("\n", " "),

    // mirrors Quantiles.exact's Percentile.getPercentile arithmetic —
    // the weighted-average form ((hi-pos)*vlo + (pos-flo)*vhi), NOT
    // quantile_cont's lo + frac*(hi-lo): they differ in the last ulp,
    // and a threshold over integer n_chars flips row membership on it
    "q78_quantile_gate" ->
      """WITH ordv AS (SELECT CAST(n_chars AS DOUBLE) AS v,
        |row_number() OVER (ORDER BY n_chars) - 1 AS rk FROM documents),
        |cnt AS (SELECT count(*) AS n FROM documents),
        |pp AS (SELECT unnest([0.1, 0.9]) AS p, unnest([0.1, 0.9]) * (n - 1) AS pos FROM cnt),
        |th AS (SELECT p, CASE WHEN flo = chi THEN vlo
        |ELSE (chi - pos) * vlo + (pos - flo) * vhi END AS t
        |FROM (SELECT p, pos, floor(pos)::BIGINT AS flo, ceil(pos)::BIGINT AS chi,
        |(SELECT v FROM ordv WHERE rk = floor(pos)::BIGINT) AS vlo,
        |(SELECT v FROM ordv WHERE rk = ceil(pos)::BIGINT) AS vhi FROM pp))
        |SELECT doc_id, n_chars FROM documents
        |WHERE n_chars >= (SELECT t FROM th WHERE p = 0.1)
        |AND n_chars <= (SELECT t FROM th WHERE p = 0.9)""".stripMargin.replace("\n", " "),

    "q82_quantile_gate_grouped" ->
      """WITH r AS (SELECT doc_id, lang, n_chars,
        |percent_rank() OVER (PARTITION BY lang ORDER BY n_chars) AS pr FROM documents)
        |SELECT doc_id, lang, n_chars FROM r
        |WHERE pr >= 0.1 AND pr <= 0.9""".stripMargin.replace("\n", " "),

    "q80_corpus_diff" -> {
      // the q21 fingerprint contract incl. the raw-text fallback for
      // empty-normalizing documents
      val norm = "trim(regexp_replace(regexp_replace(lower(text)," +
        "'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"
      val fp = s"md5(CASE WHEN length($norm) > 0 THEN $norm " +
        "ELSE chr(0) || 'raw' || chr(0) || text END)"
      s"""WITH newg AS (
         |SELECT doc_id, CASE WHEN doc_id % 13 = 0 THEN text || ' revised' ELSE text END AS text
         |FROM documents WHERE doc_id % 17 <> 0
         |UNION ALL
         |SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 19 = 0),
         |ofp AS (SELECT doc_id, $fp AS fp, TRUE AS in_old FROM documents),
         |nfp AS (SELECT doc_id, $fp AS fp, TRUE AS in_new FROM newg)
         |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
         |CASE WHEN o.in_old IS NULL THEN 'added' WHEN n.in_new IS NULL THEN 'removed'
         |WHEN o.fp IS NOT DISTINCT FROM n.fp THEN 'unchanged' ELSE 'changed' END AS status
         |FROM ofp o FULL OUTER JOIN nfp n ON o.doc_id = n.doc_id""".stripMargin.replace("\n", " ")
    },

    "q81_weighted_sample" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 1000 AS DOUBLE)
        |< greatest(0.0, least(1.0, CAST(n_chars AS DOUBLE) / 400.0)) * 1000.0""".stripMargin.replace("\n", " "),

    "q79_repeated_spans" ->
      """WITH norm AS (SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
        |'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS t FROM documents),
        |pos AS (SELECT doc_id, t, unnest(range(1, length(t) - 58)) AS p
        |FROM norm WHERE length(t) >= 60),
        |spans AS (SELECT doc_id, md5(substr(t, p, 60)) AS h FROM pos)
        |SELECT h AS span_hash, count(DISTINCT doc_id) AS n_docs,
        |count(*) AS n_occurrences, min(doc_id) AS first_doc
        |FROM spans GROUP BY h HAVING count(DISTINCT doc_id) >= 2""".stripMargin.replace("\n", " "),

    "q76_cap_per_key" ->
      """WITH r AS (SELECT doc_id, source, lang,
        |row_number() OVER (PARTITION BY source
        |ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT, doc_id) AS rn
        |FROM documents)
        |SELECT doc_id, source, lang FROM r WHERE rn <= 15""".stripMargin.replace("\n", " "),

    "q77_cluster_sizes" ->
      """WITH RECURSIVE v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |FROM embeddings WHERE vec_id < 1000),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM v a, v b
        |WHERE a.vec_id < b.vec_id
        |AND round(list_cosine_similarity(a.v, b.v), 6) >= 0.35),
        |e AS (SELECT id_a AS src, id_b AS dst FROM p
        |UNION SELECT id_b, id_a FROM p),
        |r AS (SELECT vec_id AS node, vec_id AS reach FROM v
        |UNION
        |SELECT r.node, e.dst FROM r JOIN e ON r.reach = e.src),
        |comp AS (SELECT node, min(reach) AS component FROM r GROUP BY node),
        |sz AS (SELECT component, count(*) AS sz FROM comp GROUP BY component)
        |SELECT sz AS cluster_size, count(*) AS n_clusters FROM sz GROUP BY sz""".stripMargin.replace("\n", " "),

    "q74_vocab_topk" ->
      """SELECT term, count(*) AS n FROM
        |(SELECT unnest(string_split(text, ' ')) AS term FROM documents)
        |WHERE length(term) > 0
        |GROUP BY term ORDER BY n DESC, term ASC LIMIT 50""".stripMargin.replace("\n", " "),

    "q73_stratified_sample" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 1000 <
        |CASE WHEN lang = 'en' THEN 300 WHEN lang = 'de' THEN 500 ELSE 1000 END""".stripMargin.replace("\n", " "),

    "q92_bpe_merges" -> bpeMergesOracleSql(12),

    "q93_sentence_stats" ->
      """WITH d2 AS (SELECT doc_id, array_to_string(list_transform(
        |range(1, len(string_split(text, ' ')) + 1),
        |i -> CASE WHEN i % 8 = 0 THEN string_split(text, ' ')[i] || '.'
        |ELSE string_split(text, ' ')[i] END), ' ') AS text FROM documents),
        |s AS (SELECT doc_id, trim(u.s) AS sentence FROM (
        |SELECT doc_id, unnest(regexp_split_to_array(text, '[.!?]+\s+')) AS s
        |FROM d2) u WHERE length(trim(u.s)) > 0)
        |SELECT doc_id, count(*) AS n_sentences,
        |round(avg(length(sentence)), 6) AS avg_sentence_chars,
        |CAST(max(length(sentence)) AS BIGINT) AS max_sentence_chars
        |FROM s GROUP BY doc_id""".stripMargin.replace("\n", " "),

    "q94_repeated_sentences" -> {
      val fp = "md5(trim(regexp_replace(regexp_replace(lower(sentence)," +
        "'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')))"
      s"""WITH d2 AS (SELECT doc_id, array_to_string(list_transform(
         |range(1, len(string_split(text, ' ')) + 1),
         |i -> CASE WHEN i % 8 = 0 THEN string_split(text, ' ')[i] || '.'
         |ELSE string_split(text, ' ')[i] END), ' ') AS text FROM documents),
         |s AS (SELECT doc_id, trim(u.s) AS sentence FROM (
         |SELECT doc_id, unnest(regexp_split_to_array(text, '[.!?]+\\s+')) AS s
         |FROM d2) u WHERE length(trim(u.s)) > 0)
         |SELECT $fp AS sentence_fp, count(DISTINCT doc_id) AS n_docs,
         |count(*) AS n_occurrences, min(doc_id) AS first_doc
         |FROM s WHERE length(trim(regexp_replace(regexp_replace(lower(sentence),
         |'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) > 0
         |GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2""".stripMargin.replace("\n", " ")
    },

    "q83_mix_weights" ->
      """WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
        |t AS (SELECT sum(power(CAST(n_docs AS DOUBLE), 0.5)) AS ptot FROM c)
        |SELECT source, n_docs,
        |round(power(CAST(n_docs AS DOUBLE), 0.5) / ptot, 6) AS weight
        |FROM c, t""".stripMargin.replace("\n", " "),

    "q84_quality_buckets" ->
      """SELECT doc_id, lang, n_chars,
        |CAST(ntile(10) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS BIGINT) AS bucket
        |FROM documents""".stripMargin.replace("\n", " "),

    // mirrors the TokenStats kernel's algebraic form term-for-term:
    // entropy = ln(n)/ln(2) - sum(cnt * ln(cnt)/ln(2)) / n
    "q85_token_entropy" ->
      """WITH ex AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |g AS (SELECT doc_id, token, count(*) AS cnt FROM ex GROUP BY 1, 2),
        |d AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
        |sum(cnt * (ln(cnt) / ln(2))) AS sclc FROM g GROUP BY doc_id)
        |SELECT doc_id, n_tokens,
        |round(ln(n_tokens) / ln(2) - sclc / n_tokens, 6) AS token_entropy
        |FROM d""".stripMargin.replace("\n", " "),

    // mirrors pqTopK term-for-term: the q87 code assignment, per-probe
    // LUT d² = pow(list_distance, 2) (sqrt-then-square, exactly the
    // Spark side's arithmetic), and the FIXED fold ((d²0+d²1)+d²2)+d²3
    // — a grouped SUM would sum in engine order and could flip
    // equal-code ties by an ulp
    "q89_pq_adc_topk" -> {
      val sl = (a: String) =>
        s"$a[CAST(s.sub*16+1 AS BIGINT):CAST(s.sub*16+16 AS BIGINT)]"
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |WHERE embedding IS NOT NULL),
         |seeds AS (SELECT vec_id AS cid, v AS cv FROM v
         |ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)),1,6))::BIGINT, vec_id LIMIT 8),
         |subs AS (SELECT unnest(range(4)) AS sub),
         |asg AS MATERIALIZED (SELECT vec_id, sub, cid AS code FROM (
         |SELECT t.vec_id, s.sub, c.cid,
         |row_number() OVER (PARTITION BY t.vec_id, s.sub
         |ORDER BY list_distance(${sl("t.v")}, ${sl("c.cv")}), c.cid) AS rn
         |FROM v t CROSS JOIN subs s CROSS JOIN seeds c) WHERE rn = 1),
         |probes AS (SELECT vec_id AS probe_id, v AS pv FROM v WHERE vec_id < 3),
         |lut AS MATERIALIZED (SELECT p.probe_id, s.sub, c.cid,
         |pow(list_distance(${sl("p.pv")}, ${sl("c.cv")}), 2) AS d2
         |FROM probes p CROSS JOIN subs s CROSS JOIN seeds c),
         |a0 AS (SELECT vec_id, code FROM asg WHERE sub = 0),
         |a1 AS (SELECT vec_id, code FROM asg WHERE sub = 1),
         |a2 AS (SELECT vec_id, code FROM asg WHERE sub = 2),
         |a3 AS (SELECT vec_id, code FROM asg WHERE sub = 3),
         |scored AS (SELECT l0.probe_id, a0.vec_id AS corpus_id,
         |((l0.d2 + l1.d2) + l2.d2) + l3.d2 AS adc2
         |FROM a0 JOIN a1 USING (vec_id) JOIN a2 USING (vec_id) JOIN a3 USING (vec_id)
         |JOIN lut l0 ON l0.sub = 0 AND l0.cid = a0.code
         |JOIN lut l1 ON l1.sub = 1 AND l1.cid = a1.code AND l1.probe_id = l0.probe_id
         |JOIN lut l2 ON l2.sub = 2 AND l2.cid = a2.code AND l2.probe_id = l0.probe_id
         |JOIN lut l3 ON l3.sub = 3 AND l3.cid = a3.code AND l3.probe_id = l0.probe_id
         |WHERE a0.vec_id <> l0.probe_id),
         |r AS (SELECT probe_id, corpus_id, adc2,
         |row_number() OVER (PARTITION BY probe_id ORDER BY adc2, corpus_id) AS rank
         |FROM scored)
         |SELECT probe_id, corpus_id, round(sqrt(adc2), 6) AS adc_dist,
         |CAST(rank AS INT) AS rank FROM r WHERE rank <= 5""".stripMargin.replace("\n", " ")
    },

    // q89's fixed-fold ADC restricted to nprobe=2 coarse cells from 4
    // md5-order sampled centroids (full-vector argmin assignment,
    // centroid-id tiebreaks — mirrors ivfPqTopK)
    "q91_ivfpq_topk" -> {
      val sl = (a: String) =>
        s"$a[CAST(s.sub*16+1 AS BIGINT):CAST(s.sub*16+16 AS BIGINT)]"
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |WHERE embedding IS NOT NULL),
         |seeds AS (SELECT vec_id AS cid, v AS cv FROM v
         |ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)),1,6))::BIGINT, vec_id LIMIT 8),
         |cents AS (SELECT vec_id AS centroid_id, v AS cent FROM v
         |ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)),1,6))::BIGINT, vec_id LIMIT 4),
         |subs AS (SELECT unnest(range(4)) AS sub),
         |ccells AS MATERIALIZED (SELECT vec_id, centroid_id FROM (
         |SELECT t.vec_id, c.centroid_id,
         |row_number() OVER (PARTITION BY t.vec_id
         |ORDER BY list_distance(t.v, c.cent), c.centroid_id) AS rn
         |FROM v t CROSS JOIN cents c) WHERE rn = 1),
         |pcells AS MATERIALIZED (SELECT probe_id, centroid_id FROM (
         |SELECT p.vec_id AS probe_id, c.centroid_id,
         |row_number() OVER (PARTITION BY p.vec_id
         |ORDER BY list_distance(p.v, c.cent), c.centroid_id) AS rn
         |FROM v p CROSS JOIN cents c WHERE p.vec_id < 3) WHERE rn <= 2),
         |asg AS MATERIALIZED (SELECT vec_id, sub, cid AS code FROM (
         |SELECT t.vec_id, s.sub, c.cid,
         |row_number() OVER (PARTITION BY t.vec_id, s.sub
         |ORDER BY list_distance(${sl("t.v")}, ${sl("c.cv")}), c.cid) AS rn
         |FROM v t CROSS JOIN subs s CROSS JOIN seeds c) WHERE rn = 1),
         |probes AS (SELECT vec_id AS probe_id, v AS pv FROM v WHERE vec_id < 3),
         |lut AS MATERIALIZED (SELECT p.probe_id, s.sub, c.cid,
         |pow(list_distance(${sl("p.pv")}, ${sl("c.cv")}), 2) AS d2
         |FROM probes p CROSS JOIN subs s CROSS JOIN seeds c),
         |a0 AS (SELECT vec_id, code FROM asg WHERE sub = 0),
         |a1 AS (SELECT vec_id, code FROM asg WHERE sub = 1),
         |a2 AS (SELECT vec_id, code FROM asg WHERE sub = 2),
         |a3 AS (SELECT vec_id, code FROM asg WHERE sub = 3),
         |scored AS (SELECT l0.probe_id, a0.vec_id AS corpus_id,
         |((l0.d2 + l1.d2) + l2.d2) + l3.d2 AS adc2
         |FROM a0 JOIN a1 USING (vec_id) JOIN a2 USING (vec_id) JOIN a3 USING (vec_id)
         |JOIN ccells cc USING (vec_id)
         |JOIN lut l0 ON l0.sub = 0 AND l0.cid = a0.code
         |JOIN pcells pc ON pc.centroid_id = cc.centroid_id AND pc.probe_id = l0.probe_id
         |JOIN lut l1 ON l1.sub = 1 AND l1.cid = a1.code AND l1.probe_id = l0.probe_id
         |JOIN lut l2 ON l2.sub = 2 AND l2.cid = a2.code AND l2.probe_id = l0.probe_id
         |JOIN lut l3 ON l3.sub = 3 AND l3.cid = a3.code AND l3.probe_id = l0.probe_id
         |WHERE a0.vec_id <> l0.probe_id),
         |r AS (SELECT probe_id, corpus_id, adc2,
         |row_number() OVER (PARTITION BY probe_id ORDER BY adc2, corpus_id) AS rank
         |FROM scored)
         |SELECT probe_id, corpus_id, round(sqrt(adc2), 6) AS adc_dist,
         |CAST(rank AS INT) AS rank FROM r WHERE rank <= 5""".stripMargin.replace("\n", " ")
    },

    // mirrors pqEncode: same md5-order seed draw as q72, list slicing
    // per subspace, l2 argmin with the lowest-cid tiebreak
    "q87_pq_encode" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |WHERE embedding IS NOT NULL),
        |seeds AS (SELECT vec_id AS cid, v AS cv FROM v
        |ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)),1,6))::BIGINT, vec_id LIMIT 8),
        |subs AS (SELECT unnest(range(4)) AS sub),
        |pairs AS (SELECT t.vec_id, s.sub, c.cid,
        |list_distance(t.v[CAST(s.sub*16+1 AS BIGINT):CAST(s.sub*16+16 AS BIGINT)],
        |c.cv[CAST(s.sub*16+1 AS BIGINT):CAST(s.sub*16+16 AS BIGINT)]) AS d
        |FROM v t CROSS JOIN subs s CROSS JOIN seeds c),
        |r AS (SELECT vec_id, sub, cid, d,
        |row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, cid) AS rn FROM pairs)
        |SELECT vec_id, CAST(sub AS BIGINT) AS sub_id, cid AS code_cid,
        |round(d, 6) AS dist FROM r WHERE rn = 1""".stripMargin.replace("\n", " "),

    // span grouping on the raw span TEXT (Spark groups on xxhash64 —
    // equal absent collisions); covered length of the union of sorted
    // equal-width cut windows = per-position min(60, next - pos).
    // `spans`/`norm` are referenced twice -> MATERIALIZED (DuckDB
    // re-inlines CTEs by default; the window explode is the expensive
    // part and must run once).
    "q88_span_removal" ->
      """WITH norm AS MATERIALIZED (SELECT doc_id, trim(regexp_replace(regexp_replace(
        |lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS t FROM documents),
        |pos AS (SELECT doc_id, t, unnest(range(1, length(t) - 58)) AS p
        |FROM norm WHERE length(t) >= 60),
        |spans AS MATERIALIZED (SELECT doc_id, CAST(p AS BIGINT) AS p, substr(t, p, 60) AS s
        |FROM pos),
        |ev AS (SELECT s, count(DISTINCT doc_id) AS n_docs, min(doc_id) AS first_doc
        |FROM spans GROUP BY s HAVING count(DISTINCT doc_id) >= 2),
        |cutpos AS (SELECT sp.doc_id, sp.p FROM spans sp JOIN ev e ON sp.s = e.s
        |WHERE sp.doc_id <> e.first_doc),
        |cov AS (SELECT doc_id, least(60,
        |coalesce(lead(p) OVER (PARTITION BY doc_id ORDER BY p) - p, 60)) AS c
        |FROM cutpos),
        |agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS covered,
        |CAST(count(*) AS BIGINT) AS n_cut FROM cov GROUP BY doc_id)
        |SELECT n.doc_id, CAST(length(n.t) - coalesce(a.covered, 0) AS BIGINT) AS n_chars_clean,
        |coalesce(a.n_cut, 0) AS n_spans_cut
        |FROM norm n LEFT JOIN agg a ON n.doc_id = a.doc_id""".stripMargin.replace("\n", " "),

    "q60_pack_bins" ->
      """WITH w AS (SELECT doc_id,
        |CASE WHEN length(regexp_replace(trim(text), ' +', ' ', 'g')) = 0 THEN 0
        |ELSE CAST(length(regexp_replace(trim(text), ' +', ' ', 'g')) - length(replace(regexp_replace(trim(text), ' +', ' ', 'g'), ' ', '')) AS BIGINT) + 1 END AS n_tokens
        |FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_tok FROM w)
        |SELECT CAST(floor(start_tok / 512.0) AS BIGINT) AS bin_id,
        |count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
        |min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM c GROUP BY 1""".stripMargin.replace("\n", " "),

    "q61_tfidf_topk" ->
      """WITH toks AS (SELECT doc_id, term FROM (
        |SELECT doc_id, unnest(string_split(trim(regexp_replace(regexp_replace(lower(text),
        |'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')), ' ')) AS term FROM documents)
        |WHERE length(term) > 0),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |d AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT doc_id, term, tf, df, tfidf, rank FROM (
        |SELECT tf.doc_id, tf.term, tf.tf, d.df,
        |round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / d.df), 6) AS tfidf,
        |row_number() OVER (PARTITION BY tf.doc_id
        |ORDER BY round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / d.df), 6) DESC, tf.term) AS rank
        |FROM tf JOIN d USING (term) CROSS JOIN n) s
        |WHERE rank <= 3""".stripMargin.replace("\n", " "),

    "q62_pii_scan" ->
      """WITH aug AS (SELECT doc_id, text
        ||| CASE WHEN doc_id % 7 = 0
        |THEN ' contact support+' || CAST(doc_id AS VARCHAR) || '@example-mail.com now'
        |ELSE '' END
        ||| CASE WHEN doc_id % 11 = 0
        |THEN ' call 555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || ' today'
        |ELSE '' END AS t FROM documents)
        |SELECT doc_id,
        |CAST(length(regexp_extract_all(lower(t), '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
        |CAST(length(regexp_extract_all(lower(t), '[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
        |(length(regexp_extract_all(lower(t), '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) > 0
        |OR length(regexp_extract_all(lower(t), '[0-9]{3}-[0-9]{4}')) > 0) AS has_pii
        |FROM aug""".stripMargin.replace("\n", " "),

    "q63_hash_split" ->
      """WITH b AS (SELECT n_chars,
        |('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 100 AS bucket
        |FROM documents)
        |SELECT CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val'
        |ELSE 'test' END AS split,
        |count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM b GROUP BY 1""".stripMargin.replace("\n", " "),

    "q64_chunking" ->
      """WITH e AS (SELECT doc_id, text,
        |unnest(generate_series(0, (greatest(length(text) - 500, 0) + 399) // 400)) AS chunk_id
        |FROM documents WHERE text IS NOT NULL)
        |SELECT doc_id, chunk_id, chunk_id * 400 AS chunk_start,
        |CAST(length(substr(text, CAST(chunk_id * 400 + 1 AS INTEGER), 500)) AS BIGINT) AS chunk_len,
        |md5(substr(text, CAST(chunk_id * 400 + 1 AS INTEGER), 500)) AS fp
        |FROM e""".stripMargin.replace("\n", " "),

    "q65_contamination" ->
      """WITH nd AS (SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
        |'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS nt FROM documents),
        |dsh AS (SELECT DISTINCT doc_id, sh FROM (
        |SELECT doc_id, substr(nt, CAST(i AS INTEGER), 5) AS sh FROM (
        |SELECT doc_id, nt, unnest(generate_series(1, length(nt) - 4)) AS i FROM nd) x) y),
        |bench AS (SELECT doc_id AS bench_id, trim(substr(nt, 1, 120)) AS bt
        |FROM nd WHERE doc_id % 97 = 0),
        |bsh AS (SELECT DISTINCT bench_id, sh FROM (
        |SELECT bench_id, substr(bt, CAST(i AS INTEGER), 5) AS sh FROM (
        |SELECT bench_id, bt, unnest(generate_series(1, length(bt) - 4)) AS i FROM bench) x) y),
        |bsz AS (SELECT bench_id, count(*) AS sz FROM bsh GROUP BY 1),
        |ov AS (SELECT d.doc_id, b.bench_id, count(*) AS n_overlap
        |FROM dsh d JOIN bsh b USING (sh) GROUP BY 1, 2)
        |SELECT ov.doc_id, ov.bench_id, ov.n_overlap,
        |round(ov.n_overlap / CAST(bsz.sz AS DOUBLE), 6) AS containment
        |FROM ov JOIN bsz USING (bench_id)
        |WHERE round(ov.n_overlap / CAST(bsz.sz AS DOUBLE), 6) >= 0.8""".stripMargin.replace("\n", " "),

    "q66_corpus_pipeline" ->
      """WITH q AS (SELECT doc_id, text,
        |CASE WHEN length(regexp_replace(trim(text), ' +', ' ', 'g')) = 0 THEN 0
        |ELSE CAST(length(regexp_replace(trim(text), ' +', ' ', 'g'))
        |- length(replace(regexp_replace(trim(text), ' +', ' ', 'g'), ' ', '')) AS BIGINT) + 1 END AS n_tokens,
        |round((CAST((length(text) - length(replace(text, '.', ''))) AS BIGINT)
        |+ CAST((length(text) - length(replace(text, ',', ''))) AS BIGINT)
        |+ CAST((length(text) - length(replace(text, '!', ''))) AS BIGINT)
        |+ CAST((length(text) - length(replace(text, '?', ''))) AS BIGINT)
        |+ CAST((length(text) - length(replace(text, ';', ''))) AS BIGINT)
        |+ CAST((length(text) - length(replace(text, ':', ''))) AS BIGINT))
        |/ CAST(greatest(length(text), 1) AS DOUBLE), 6) AS punct_ratio
        |FROM documents),
        |f AS (SELECT doc_id,
        |regexp_replace(regexp_replace(text,
        |'(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |'[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS text
        |FROM q WHERE n_tokens >= 50 AND punct_ratio <= 0.1),
        |d AS (SELECT * FROM f WHERE doc_id IN
        |(SELECT min(doc_id) FROM f GROUP BY md5(text))),
        |e AS (SELECT doc_id, text,
        |unnest(generate_series(0, (greatest(length(text) - 500, 0) + 399) // 400)) AS chunk_id
        |FROM d WHERE text IS NOT NULL),
        |c AS (SELECT doc_id, chunk_id,
        |substr(text, CAST(chunk_id * 400 + 1 AS INTEGER), 500) AS ct FROM e),
        |tk AS (SELECT doc_id, chunk_id,
        |CASE WHEN length(regexp_replace(trim(ct), ' +', ' ', 'g')) = 0 THEN 0
        |ELSE CAST(length(regexp_replace(trim(ct), ' +', ' ', 'g'))
        |- length(replace(regexp_replace(trim(ct), ' +', ' ', 'g'), ' ', '')) AS BIGINT) + 1 END AS chunk_tokens
        |FROM c),
        |p AS (SELECT doc_id, chunk_tokens,
        |COALESCE(SUM(chunk_tokens) OVER (ORDER BY doc_id, chunk_id
        |ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_tok FROM tk)
        |SELECT CAST(floor(start_tok / 512.0) AS BIGINT) AS bin_id,
        |count(*) AS n_chunks, count(DISTINCT doc_id) AS n_docs,
        |CAST(sum(chunk_tokens) AS BIGINT) AS sum_tokens, min(doc_id) AS first_doc
        |FROM p GROUP BY 1""".stripMargin.replace("\n", " "),
  )
}
