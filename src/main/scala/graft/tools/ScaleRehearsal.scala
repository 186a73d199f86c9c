package graft.tools

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Synthesizes the N× scale-rehearsal corpora for the dedup family
  * (BASELINE.md "sf-scale rehearsal"): N shifted copies of the sf0.1
  * documents table in one of two shapes —
  *
  *  - `rot` (default): each copy's letters are caesar-rotated by the
  *    copy index, so copies share NO shingles and the near-dup
  *    structure repeats per copy — "N× the clusters, same shape", the
  *    clean scaling measurement;
  *  - `tag`: each copy only appends a copy tag, so the 5 copies of a
  *    doc stay ~99% shingle-identical and every cluster grows 5× —
  *    the SKEW corpus that exposes the quadratic intra-bucket pair
  *    expansion of duplicate-heavy LSH buckets;
  *  - `join` (round 13): the JOIN-family rehearsal — dims
  *    (region/nation/customer/supplier/part) copied verbatim, fact
  *    tables (orders/lineitem) replicated N× with shifted orderkeys,
  *    and — the skew probe — every non-first orders copy redirects the
  *    rows with `o_orderkey % 5 == 0` to ONE hot custkey, so ~16% of
  *    all orders land on a single customer.  q03/q55's
  *    orders⋈customer shuffle then has a hot key ~N·30k× the median —
  *    the 100×-scale failure mode AQE skew-join must absorb.
  *
  * Deterministic — no RNG, rerunnable to the same bytes.
  *
  * Usage: runMain graft.tools.ScaleRehearsal <srcSfDir> <outDir> <N>
  *   [rot|tag|join|ann|sketch|events|cc|sim|media|span|spangen|suite|files|semdedup|semincr|manifest|sink|rowgroups]
  * (writes the scaled tables under <outDir>; never touches the
  * source).  `cc` = distributed connected components above the driver
  * cutoff; `sim` = PQ/ADC/IVF+PQ (q87/q89/q91); `media` = WAV/BMP/
  * FLAC/MP4 decode linearity; `span` = the q122 span-evidence
  * store+merge; `events` = the standing window-family skew rehearsal
  * (uniform + hot-user corpora). */
object ScaleRehearsal {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/graft_scale5x"
    val n = if (args.length > 2) args(2).toInt else 5
    val mode = if (args.length > 3) args(3) else "rot"
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      // iterative arms (cc) write shuffle files per round that are only
      // deleted when the owning RDDs are GC'd — force a periodic GC so
      // a big-corpus run frees disk as it goes instead of accumulating
      // every round's shuffle until the heap happens to collect
      .config("spark.cleaner.periodicGC.interval", "60s")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (mode == "join") { joinCorpus(spark, src, out, n); spark.stop(); return }
    if (mode == "ann") { annCorpus(spark, src, out, n); spark.stop(); return }
    if (mode == "sketch") {
      sketchRehearsal(spark, out, n, if (args.length > 4) args(4) else "")
      spark.stop(); return
    }
    if (mode == "events") { eventsRehearsal(spark, src, out, n); spark.stop(); return }
    if (mode == "cc") { ccRehearsal(spark, out, n); spark.stop(); return }
    if (mode == "span") { spanRehearsal(spark, src, out, n); spark.stop(); return }
    if (mode == "spangen") { spanGenRehearsal(spark, src, out, n); spark.stop(); return }
    if (mode == "sim") { simRehearsal(spark, src, out, n); spark.stop(); return }
    if (mode == "suite") { suiteCorpus(spark, src, out, n); spark.stop(); return }
    if (mode == "media") { mediaRehearsal(spark, src, out, n); spark.stop(); return }
    if (mode == "files") { filesRehearsal(spark, src, out, n); spark.stop(); return }
    if (mode == "semdedup") { semDedupRehearsal(spark, src, out, n); spark.stop(); return }
    if (mode == "semincr") { semIncrRehearsal(spark, src, out, n); spark.stop(); return }
    if (mode == "manifest") { manifestRehearsal(spark, src, out, n); spark.stop(); return }
    if (mode == "sink") { sinkRehearsal(spark, src, out, n); spark.stop(); return }
    if (mode == "rowgroups") { rowGroupRehearsal(spark, src, out, n); spark.stop(); return }
    val d = spark.read.parquet(s"$src/documents.parquet")
    // rot i ≡ 0 (mod 26) is the identity rotation — copies would share
    // ALL shingles, silently inverting the documented disjointness
    require(mode != "rot" || n <= 26,
      s"rot mode supports up to 26 disjoint copies (caesar rotations repeat mod 26), got $n")
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    val copies = (0 until n).map { i =>
      val salted =
        if (i == 0) col("text")
        else if (mode == "tag") concat(col("text"), lit(s" copytag$i"))
        else { // rotate both cases by i: shingle sets become disjoint
          val rot = alpha.drop(i % 26) + alpha.take(i % 26)
          translate(col("text"), alpha + alpha.toUpperCase,
            rot + rot.toUpperCase)
        }
      d.withColumn("doc_id", col("doc_id") + lit(i.toLong * 10000000L))
        .withColumn("text", salted)
    }
    copies.reduce(_ unionByName _)
      .repartition(32)
      .write.mode(SaveMode.Overwrite).parquet(s"$out/documents.parquet")
    println(s"wrote ${n}x documents ($mode) to $out")
    spark.stop()
  }

  /** Manifest-store overhead rehearsal: `n` staged commits of lineitem
    * slices through [[graft.sources.ManifestStore]] (stage and publish
    * timed apart) vs the same writes as RAW parquet appends — the
    * atomicity layer must cost a constant few milliseconds per commit,
    * independent of the data size; then one manifest compaction +
    * vacuum, with row counts cross-checked at every step.  Run it
    * against the 25× suite corpus to see the constant hold at scale. */
  private def manifestRehearsal(spark: SparkSession, src: String, out: String, n: Int): Unit = {
    import graft.sources.ManifestStore
    require(n >= 2 && n <= 64, s"commits in [2, 64], got $n")
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    val total = li.count()
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
    }
    val mRoot = s"$out/manifest_store"; val rawRoot = s"$out/raw_append"
    rm(new java.io.File(mRoot)); rm(new java.io.File(rawRoot))
    def slice(i: Int) = li.filter(pmod(col("l_orderkey"), lit(n)) === i)
    def time(body: => Unit): Double = {
      val t0 = System.nanoTime; body; (System.nanoTime - t0) / 1e9
    }
    // one throwaway write first: the session's FIRST parquet write
    // job pays global committer/codec setup, and whichever side ran
    // it was billed ~+0.2 s/commit of pure warmup
    spark.range(10).write.parquet(s"$out/warmup_${System.nanoTime}")
    // alternate which system writes first: the first writer of a slice
    // pays its codegen/page-cache warmup, so a fixed order would bill
    // the warmup entirely to one side (measured +0.5 s/commit of pure
    // ordering bias before this)
    val (stages, publishes, rWalls) = (0 until n).map { i =>
      def raw(): Double = time { slice(i).write.parquet(s"$rawRoot/slice$i") }
      def man(): (Double, Double) = {
        var staged: ManifestStore.Staged = null
        val stage = time { staged = ManifestStore.stageAppend(spark, mRoot, slice(i), s"slice$i") }
        (stage, time { ManifestStore.commitStaged(spark, mRoot, staged); () })
      }
      if (i % 2 == 0) { val (s, p) = man(); (s, p, raw()) }
      else { val r = raw(); val (s, p) = man(); (s, p, r) }
    }.unzip3
    require(ManifestStore.read(spark, mRoot).count() == total, "manifest store lost rows")
    val filesBefore = ManifestStore.files(spark, mRoot).size
    val cWall = time { ManifestStore.compact(spark, mRoot, 32L << 20); () }
    val compacted = ManifestStore.read(spark, mRoot).count()
    require(compacted == total, "compaction lost rows")
    val filesAfter = ManifestStore.files(spark, mRoot).size
    val vWall = time { ManifestStore.vacuum(spark, mRoot, keepVersions = 1); () }
    require(ManifestStore.read(spark, mRoot).count() == total, "vacuum broke the current version")
    println(f"manifest rehearsal over $total%,d rows x $n commits:")
    val mWall = (stages.sum + publishes.sum) / n
    println(f"  per-commit wall: manifest mean $mWall%.3f s vs raw append mean ${rWalls.sum / n}%.3f s " +
      f"(atomicity overhead ${mWall - rWalls.sum / n}%+.3f s/commit)")
    println(f"  manifest split: stage mean ${stages.sum / n}%.3f s, publish mean ${publishes.sum / n}%.3f s " +
      f"(min ${publishes.min}%.3f s, max ${publishes.max}%.3f s)")
    println(f"  compact ${cWall}%.2f s ($filesBefore -> $filesAfter files, $compacted%,d rows), " +
      f"vacuum ${vWall}%.2f s, counts identical at every step")
  }

  /** Streaming-sink rehearsal: `n` micro-batches through the
    * exactly-once commitStreamBatch path — the per-micro-batch cost a
    * minute-stream pays forever, so the contract is FLAT: the replay
    * probe is one ledger read, discovery one pointer read, and the
    * ledger rewrite is bounded, so batch n-1 must cost what batch 0
    * did.  A compact+vacuum and a post-maintenance REPLAY are
    * interleaved mid-stream so the shape includes the maintenance a
    * real table sees (and exercises the durable-ledger no-op after
    * the batch's own manifest was vacuumed).  Prints the compaction's
    * wall and first- vs last-quartile mean per-batch wall. */
  private def sinkRehearsal(spark: SparkSession, src: String, out: String, n: Int): Unit = {
    import graft.sources.ManifestStore
    require(n >= 8 && n <= 512, s"batches in [8, 512], got $n")
    val batchDf = spark.read.parquet(s"$src/lineitem.parquet")
      .select(col("l_orderkey"), col("l_quantity")).limit(5000).cache()
    val batchRows = batchDf.count()
    def rm(f: java.io.File): Unit = { Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); () }
    val root = s"$out/sink_store"
    rm(new java.io.File(root))
    spark.range(10).write.parquet(s"$out/warmup_${System.nanoTime}") // committer warmup
    var compactWall = 0.0
    val walls = (0 until n).map { b =>
      val t0 = System.nanoTime
      ManifestStore.commitStreamBatch(spark, root, batchDf, b.toLong)
      val w = (System.nanoTime - t0) / 1e9
      if (b == n / 2) {
        val t1 = System.nanoTime
        ManifestStore.compact(spark, root, 64L << 20)
        compactWall = (System.nanoTime - t1) / 1e9
        ManifestStore.vacuum(spark, root, keepVersions = 2)
        // replay of an already-committed batch whose own manifest was
        // just vacuumed: the ledger must make it a no-op
        ManifestStore.commitStreamBatch(spark, root, batchDf, (b - 1).toLong)
        require(ManifestStore.read(spark, root).count() == batchRows * (b + 1),
          "post-maintenance replay duplicated rows")
      }
      w
    }
    require(ManifestStore.read(spark, root).count() == batchRows * n, "sink lost or duplicated rows")
    val q = n / 4
    val first = walls.take(q).sum / q
    val last = walls.takeRight(q).sum / q
    println(f"sink rehearsal: $n micro-batches x $batchRows%,d rows, compact+vacuum+replay at n/2")
    println(f"  compact at n/2 ${compactWall}%.2f s over ${batchRows * (n / 2 + 1)}%,d rows; " +
      f"${batchRows * n}%,d rows read back after the last batch")
    println(f"  per-batch wall: first-quartile mean $first%.3f s, last-quartile mean $last%.3f s " +
      f"(flatness ratio ${last / first}%.2f)")
  }

  /** Row-group scan-cost rehearsal, the measurement behind
    * [[graft.sources.ManifestStore.MinCopyRowsPerGroup]]: the same
    * `n` × 40,000 lineitem rows written as single-row-group files of
    * about k rows, for k from 250 to 8,000, and each set merged into
    * one file two ways — row groups copied (what compaction's copy
    * path writes: every k-row group kept) and re-encoded (coalesce(1):
    * one row group).  The ingest benchmark's read (a count and two
    * sums over two columns) is timed on both, alternating, min-of-15.
    * Prints per k the row groups, both reads' walls and their ratio;
    * the copy threshold is the smallest k whose ratio stays within
    * 1.10. */
  private def rowGroupRehearsal(spark: SparkSession, src: String, out: String, n: Int): Unit = {
    require(n >= 1 && n <= 15, s"n x 40,000 rows of sf0.1 lineitem, n in [1, 15], got $n")
    val total = n * 40000
    val rows = spark.read.parquet(s"$src/lineitem.parquet").limit(total).cache()
    require(rows.count() == total, s"lineitem has fewer than $total rows")
    val conf = spark.sessionState.newHadoopConf()
    def read(path: String) = spark.read.parquet(path).agg(count(lit(1)),
      sum(col("l_quantity")), sum(round(col("l_extendedprice") * 100).cast("long")))
    def time(path: String): Double = {
      val t0 = System.nanoTime(); read(path).collect(); (System.nanoTime() - t0) / 1e9
    }
    def parquetIn(dir: String): Seq[String] = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).sorted.toSeq
    println(f"${"k"}%6s ${"row_groups"}%10s ${"copied_ms"}%10s ${"reencoded_ms"}%12s ${"ratio"}%6s")
    for (k <- Seq(250, 500, 1000, 1500, 2000, 3000, 4000, 8000)) {
      val dir = s"$out/rowgroups/k$k"
      rows.repartition(math.max(1, total / k)).write.mode(SaveMode.Overwrite).parquet(s"$dir/files")
      val files = parquetIn(s"$dir/files")
      val copied = s"$dir/copied.parquet"
      new java.io.File(copied).delete()
      graft.sources.ManifestStore.copyRowGroups(conf, files, new org.apache.hadoop.fs.Path(copied))
      spark.read.parquet(files: _*).coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/reencoded")
      val reencoded = parquetIn(s"$dir/reencoded").head
      def exact(path: String) = { val r = read(path).collect().head; (r.getLong(0), r.getLong(2)) }
      require(exact(copied) == exact(reencoded) && exact(copied)._1 == total,
        s"k=$k: the copied and re-encoded files disagree")
      (1 to 2).foreach { _ => time(copied); time(reencoded) }
      val (c, r) = (1 to 15).map(_ => (time(copied), time(reencoded))).unzip
      println(f"$k%6d ${files.size}%10d ${c.min * 1e3}%10.1f ${r.min * 1e3}%12.1f ${c.min / r.min}%6.2f")
    }
  }

  /** File-count rehearsal (the small-files tax, measured): the SAME
    * lineitem bytes written three ways — `n` tiny files (a streaming/
    * incremental writer's output shape), 8 chunky files (the
    * well-laid-out control), and the tiny directory re-compacted by
    * [[graft.operators.Layout.compactSmallFiles]] (shuffle-free
    * coalesce) — then an identical full-scan aggregation timed on
    * each (min-of-3).  Reported per variant: file count, scan task
    * count (the `openCostInBytes` padding inflates it with file
    * count), and scan+agg wall.  The compacted run must return to the
    * control's cost; the aggregation results are cross-checked
    * identical so the compaction is proven content-preserving on the
    * way.  At 100 TB this is the maintenance economics of running a
    * compaction pass behind incremental writers: pay one linear
    * rewrite, recover every subsequent scan. */
  private def filesRehearsal(spark: SparkSession, src: String, out: String, nTiny: Int): Unit = {
    import org.apache.spark.sql.Row
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    val tiny = s"$out/tiny"; val chunky = s"$out/chunky"; val compacted = s"$out/compacted"
    li.repartition(nTiny).write.mode(SaveMode.Overwrite).parquet(tiny)
    li.repartition(8).write.mode(SaveMode.Overwrite).parquet(chunky)
    def files(dir: String): Int =
      new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    // decimal-cast sums: exact under ANY partitioning, so the tiny-vs-
    // compacted cross-check is order-of-addition-proof (double sums
    // are not associative and WOULD drift across layouts)
    def agg(path: String) = spark.read.parquet(path).groupBy("l_returnflag")
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("q"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).as("p"), count(lit(1)).as("n"))
    def bench(path: String): (Double, Int) = {
      val tasks = agg(path).rdd.getNumPartitions.max(
        spark.read.parquet(path).rdd.getNumPartitions)
      val wall = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); agg(path).collect(); (System.nanoTime() - t0) / 1e9
      }.min
      (wall, tasks)
    }
    val (tTiny, kTiny) = bench(tiny)
    val (tChunky, kChunky) = bench(chunky)
    val c0 = System.nanoTime()
    val target = graft.operators.Layout.compactSmallFiles(spark, tiny, compacted, 32L << 20)
    val compactWall = (System.nanoTime() - c0) / 1e9
    val (tCpt, kCpt) = bench(compacted)
    def sig(path: String): Seq[Row] = agg(path).orderBy("l_returnflag").collect().toSeq
    require(sig(tiny) == sig(compacted),
      "compaction changed the aggregation result — content not preserved")
    println(f"${"variant"}%10s ${"files"}%7s ${"scan_tasks"}%11s ${"scan_agg_s"}%11s")
    println(f"${"tiny"}%10s ${files(tiny)}%7d ${kTiny}%11d $tTiny%11.3f")
    println(f"${"chunky"}%10s ${files(chunky)}%7d ${kChunky}%11d $tChunky%11.3f")
    println(f"${"compacted"}%10s ${files(compacted)}%7d ${kCpt}%11d $tCpt%11.3f")
    println(f"compaction (coalesce to target $target files, no exchange): $compactWall%.3f s")
  }

  /** SemDeDup population-discipline rehearsal (the round-18 25× suite
    * run surfaced this: q96's bench slot pins k=8 for its SQL oracle,
    * so at 25× data its cells hold 25× vectors and the intra-cell
    * pair term grows quadratically — 32× wall at 25× input, the
    * expected behavior of the DIAGNOSTIC slot, not of the operator).
    * The operator's contract (Dedup.semanticDedup scaladoc) is
    * k ≈ n / targetCell; this mode runs that disciplined path at 1×
    * and N× (cyclic-shift embedding copies — intra-copy cosine
    * structure exactly preserved) plus the UNdisciplined fixed-k run
    * at N× as the contrast row, and reports walls: disciplined must
    * scale ~linearly, fixed-k shows the quadratic cliff the
    * discipline exists to avoid. */
  private def semDedupRehearsal(spark: SparkSession, src: String, out: String, n: Int): Unit = {
    val big = scaleEmbeddings(spark, src, out, n)
    val targetCell = 250
    def run(path: String, label: String, kOverride: Option[Int]): Unit = {
      val e = spark.read.parquet(path)
      val cnt = e.count()
      val k = kOverride.getOrElse(math.max(8, (cnt / targetCell).toInt))
      val wallKept = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        val kept = graft.operators.Dedup
          .semanticDedup(e, "vec_id", "embedding", k, 0.35).count()
        ((System.nanoTime() - t0) / 1e9, kept)
      }.minBy(_._1)
      println(f"$label%18s n=$cnt%7d k=$k%5d kept=${wallKept._2}%7d wall=${wallKept._1}%8.2f s")
    }
    run(s"$src/embeddings.parquet", "1x disciplined", None)
    run(big, s"${n}x disciplined", None)
    run(big, s"${n}x FIXED k=8", Some(8))
  }

  /** Incremental-SemDeDup generational rehearsal (the q127 operator's
    * months-of-ingest cost shape, the embedding analog of `spangen`):
    * `gens` generations of embedding batches arrive (cyclic-shift
    * copies — intra-batch duplicate structure identical every
    * generation, cross-batch decorrelated), each deduped against the
    * growing kept store by semanticDedupIncremental and appended.
    * Two arms per generation:
    *
    *  - FROZEN cells (centroids fitted once on generation 0): the
    *    within-cell batch×store term grows linearly with the store —
    *    per-generation wall must trend up, the cost of never growing
    *    the cells;
    *  - DISCIPLINED cells (k ≈ (store+batch)/targetCell, re-fit each
    *    generation): per-cell population stays constant, so the pair
    *    term per ingest is ~batch×targetCell and the per-generation
    *    wall stays ~flat (the fit itself is linear in the store).
    *
    * Correctness is q127's oracle territory; this mode measures COST
    * SHAPE only and prints store sizes so the kept-per-generation
    * arithmetic is visible. */
  private def semIncrRehearsal(spark: SparkSession, src: String, out: String, gens: Int): Unit = {
    import org.apache.spark.sql.DataFrame
    require(gens >= 2 && gens <= 60, s"gens in [2, 60] (cyclic shifts must stay distinct), got $gens")
    val base = spark.read.parquet(s"$src/embeddings.parquet")
      .where(col("embedding").isNotNull)
    val dim = base.selectExpr("size(embedding)").limit(1).collect().head.getInt(0)
    val batchRows = base.count()
    val targetCell = 250
    def gen(g: Int): DataFrame = {
      val sh = g % dim
      val shifted =
        if (sh == 0) col("embedding")
        else expr(s"concat(slice(embedding, ${sh + 1}, ${dim - sh}), slice(embedding, 1, $sh))")
      base.select((col("vec_id") + lit(g.toLong * 10000000L)).as("vec_id"),
        shifted.as("embedding"))
    }
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
    }
    // threshold 0.6 everywhere: sparse enough that most of each batch
    // SURVIVES (the store genuinely grows ~batchRows per generation) —
    // the cost shape under test is batch x store, which a
    // kill-everything threshold would hide behind a never-growing store
    val thr = 0.60

    /** naive arms: `refitEveryGen = false` freezes generation-0 cells
      * (pair term grows ~linearly with the store; the whole store is
      * also REASSIGNED every generation), `true` re-fits full-corpus
      * k-means each generation (fit + assignment cost ~ store x k with
      * k ~ store — the quadratic trap). */
    def runNaive(label: String, refitEveryGen: Boolean): Seq[(Long, Double)] = {
      val storeDir = s"$out/semincr_$label"
      rm(new java.io.File(storeDir))
      var frozen: DataFrame = null
      (0 until gens).map { g =>
        val batch = gen(g)
        val store = if (g == 0) batch.limit(0) else spark.read.parquet(storeDir)
        val storeN = if (g == 0) 0L else store.count()
        val t0 = System.nanoTime()
        val cents =
          if (!refitEveryGen) {
            if (frozen == null) {
              val k0 = math.max(8L, batchRows / targetCell).toInt
              frozen = graft.operators.Similarity
                .kmeansFit(batch, "vec_id", "embedding", k0, 2)
                .select(col("centroid_id").as("vec_id"), col("centroid").as("embedding"))
                .cache()
              frozen.count()
            }
            frozen
          } else {
            val kg = math.max(8L, (storeN + batchRows) / targetCell).toInt
            graft.operators.Similarity
              .kmeansFit(store.unionByName(batch), "vec_id", "embedding", kg, 2)
              .select(col("centroid_id").as("vec_id"), col("centroid").as("embedding"))
          }
        graft.operators.Dedup
          .semanticDedupIncremental(store, batch, cents, "vec_id", "embedding", thr)
          .write.mode(SaveMode.Append).parquet(storeDir)
        val wall = (System.nanoTime() - t0) / 1e9
        (storeN, wall)
      }
    }

    /** The production discipline — both linear terms amortized away:
      * cell assignments are PERSISTED with the store (the operator's
      * storeCellCol seam), so a normal generation assigns only the
      * batch; centroids re-fit only when the store DOUBLES, on a
      * deterministic bounded sample (fit cost ~ sample x k, never
      * store x k), and the one whole-store reassignment per refit is
      * paid at doublings only (log-many, amortized O(1) per ingest). */
    def runAmortized(label: String): Seq[(Long, Double, String)] = {
      import graft.sources.ManifestStore
      // the store lives in a ManifestStore — dogfooding the
      // recommended publication path (atomic commit per generation,
      // commitReplace for the refit reassignment; measured commit
      // overhead ~0.1 s, BASELINE.md manifest rehearsal)
      val root = s"$out/semincr_$label"
      rm(new java.io.File(root))
      var cents: DataFrame = null
      var lastFit = 0L
      (0 until gens).map { g =>
        val hasStore = ManifestStore.currentVersion(spark, root).nonEmpty
        val store = if (hasStore) ManifestStore.read(spark, root) else null
        val storeN = if (hasStore) store.count() else 0L
        val batch = gen(g)
        val t0 = System.nanoTime()
        var note = ""
        if (cents == null || storeN >= 2L * math.max(lastFit, batchRows)) {
          note = "refit"
          val kg = math.max(8L, (storeN + batchRows) / targetCell).toInt
          val fitSrc =
            if (store == null) batch
            else store.select(col("vec_id"), col("embedding")).unionByName(batch)
          val every = math.max(1L, (storeN + batchRows) / 2000L)
          val sample = fitSrc.filter(pmod(col("vec_id"), lit(every)) === 0)
          if (cents != null) { cents.unpersist(); () }
          cents = graft.operators.Similarity
            .kmeansFit(sample, "vec_id", "embedding", kg, 2)
            .select(col("centroid_id").as("vec_id"), col("centroid").as("embedding"))
            .cache()
          cents.count()
          lastFit = storeN
          if (store != null) { // one whole-store reassignment per refit
            ManifestStore.commitReplace(spark, root,
              graft.operators.Similarity.cellAssigned(store, cents, "vec_id", "embedding")
                .select(col("vid").as("vec_id"), col("v").as("embedding"), col("cell")),
              s"refit$g")
            ()
          }
        }
        val st =
          if (ManifestStore.currentVersion(spark, root).isEmpty)
            gen(0).limit(0).withColumn("cell", lit(0L))
          else ManifestStore.read(spark, root)
        val kept = graft.operators.Dedup.semanticDedupIncremental(
          st, batch, cents, "vec_id", "embedding", thr, storeCellCol = Some("cell"))
        ManifestStore.commitAppend(spark, root,
          graft.operators.Similarity.cellAssigned(kept, cents, "vec_id", "embedding")
            .select(col("vid").as("vec_id"), col("v").as("embedding"), col("cell")),
          s"gen$g")
        val wall = (System.nanoTime() - t0) / 1e9
        (storeN, wall, note)
      }
    }
    val frozenArm = runNaive("frozen", refitEveryGen = false)
    val refitArm = runNaive("refit", refitEveryGen = true)
    val amortArm = runAmortized("amort")
    println(f"${"gen"}%4s ${"store"}%7s ${"frozen_s"}%9s ${"refit_s"}%9s ${"amort_s"}%9s  note")
    for (g <- 0 until gens)
      println(f"$g%4d ${amortArm(g)._1}%7d ${frozenArm(g)._2}%9.2f ${refitArm(g)._2}%9.2f ${amortArm(g)._2}%9.2f  ${amortArm(g)._3}")
  }

  /** ANN-family rehearsal: N× embeddings where copy i's vectors are
    * cyclically coordinate-shifted by i — an orthogonal transform, so
    * every intra-copy cosine (and thus each copy's kNN structure) is
    * EXACTLY the original's, while cross-copy similarities decorrelate:
    * "N× the neighborhoods, same shape".  Then times
    * [[graft.operators.Similarity.knnGraph]] at 1× and N× (min-of-2,
    * fresh plan per run).  The scale mechanism under test is
    * plane auto-resolution: buckets grow with the corpus count, so
    * per-bucket occupancy — the quadratic term — stays constant and
    * the end-to-end cost scales ~linearly. */
  private def annCorpus(spark: SparkSession, src: String, out: String, n: Int): Unit = {
    scaleEmbeddings(spark, src, out, n)
    def time(path: String): Double = {
      def once(): Double = {
        val c = spark.read.parquet(path)
        val t0 = System.nanoTime
        graft.operators.Similarity.knnGraph(c, "vec_id", "embedding", k = 5, tables = 2)
          .queryExecution.executedPlan.execute().count()
        (System.nanoTime - t0) / 1e9
      }
      math.min(once(), once())
    }
    val t1 = time(s"$src/embeddings.parquet")
    val tn = time(s"$out/embeddings.parquet")
    println(f"knnGraph k=5: 1x $t1%.2f s, ${n}x $tn%.2f s — ratio ${tn / t1}%.2f at ${n}x data")
  }

  /** Wall seconds (min-of-2) + shuffle-write bytes (second run) for a
    * thunk — the two numbers a scale claim needs — plus the job
    * descriptions the last metered thunk ran under.  The listener bus
    * is async, so bytes are read after the counter holds still. */
  private class Meter(spark: SparkSession) {
    private val bytes = new java.util.concurrent.atomic.AtomicLong(0)
    private val descriptions = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        bytes.addAndGet(e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten); ()
      }
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(descriptions.add)
    })
    /** Distinct job descriptions starting with `prefix` seen while the
      * last `apply` ran. */
    def described(prefix: String): Int = {
      import scala.jdk.CollectionConverters._
      descriptions.asScala.count(_.startsWith(prefix))
    }
    private def drained(): Long = {
      var last = -1L; var spins = 0
      while (spins < 50 && last != bytes.get) { last = bytes.get; Thread.sleep(20); spins += 1 }
      bytes.get
    }
    def apply(body: => Unit): (Double, Long) = {
      descriptions.clear()
      def once(): (Double, Long) = {
        val b0 = drained(); val t0 = System.nanoTime
        body
        ((System.nanoTime - t0) / 1e9, drained() - b0)
      }
      // SPARK_GRAFT_METER_ONCE=1: single-pass metering for corpora
      // whose double-pass shuffle volume would exceed local disk (the
      // 25x cc rehearsal); the record must note single-pass timing
      if (sys.env.contains("SPARK_GRAFT_METER_ONCE")) once()
      else {
        val a = once(); val b = once()
        (math.min(a._1, b._1), b._2)
      }
    }
  }

  /** Sketch-family rehearsal (round-13 verdict #4): SpaceSaving top-k,
    * GK quantiles (global + per-group), and HLL distinct counts vs
    * their EXACT formulations, in the regime the sketches exist for —
    * ~rows/2 DISTINCT keys (1× = 20M rows ≈ 10M distinct), where the
    * exact groupBy/sort must shuffle every key but a sketch shuffles
    * only fixed-size summaries.  Corpus: half the rows hit 20 hot keys
    * (heavy-hitter signal, each 2.5% of mass), the rest are globally
    * unique; v is a deterministic pseudo-uniform double. */
  private def sketchRehearsal(spark: SparkSession, out: String, n: Int,
                              armFilter: String = ""): Unit = {
    val rows1x = 20000000L
    def gen(rows: Long, path: String): Unit =
      if (new java.io.File(path, "_SUCCESS").exists()) println(s"reusing $path")
      else spark.range(rows).select(
        col("id"),
        when(pmod(col("id"), lit(2L)) === 0, concat(lit("hot"), pmod(col("id"), lit(40L))))
          .otherwise(concat(lit("k"), col("id"))).as("key"),
        (pmod(col("id") * lit(2654435761L), lit(1000000000L))
          .cast(org.apache.spark.sql.types.DoubleType) / lit(1000.0)).as("v"))
        .repartition(32)
        .write.mode(SaveMode.Overwrite).parquet(path)
    gen(rows1x, s"$out/sketch_1x.parquet")
    gen(rows1x * n, s"$out/sketch_${n}x.parquet")
    val meter = new Meter(spark)
    def noop(df: org.apache.spark.sql.DataFrame): Unit = {
      df.queryExecution.executedPlan.execute().count(); ()
    }
    println(f"${"arm"}%-28s ${"1x_sec"}%8s ${"1x_shufMB"}%10s ${s"${n}x_sec"}%8s ${s"${n}x_shufMB"}%10s ratio")
    def arm(name: String, run: org.apache.spark.sql.DataFrame => Unit): Unit = {
      if (armFilter.nonEmpty && !name.contains(armFilter)) return
      val d1 = spark.read.parquet(s"$out/sketch_1x.parquet")
      val dn = spark.read.parquet(s"$out/sketch_${n}x.parquet")
      val (t1, b1) = meter(run(d1))
      val (tn, bn) = meter(run(dn))
      println(f"$name%-28s $t1%8.2f ${b1 / 1e6}%10.1f $tn%8.2f ${bn / 1e6}%10.1f ${tn / t1}%5.2f")
    }
    arm("topk_spacesaving",
      df => noop(graft.operators.HeavyHitters.topK(df, col("key"), k = 20, capacity = 4096)))
    arm("topk_exact_groupby",
      df => noop(df.groupBy("key").count().orderBy(desc("count"), col("key")).limit(20)))
    arm("distinct_hll",
      df => noop(df.agg(graft.operators.DistinctSketch.countDistinctSketch(col("key")))))
    arm("distinct_native_approx", // Spark's codegen'd HLL++, default rsd 5%
      df => noop(df.agg(approx_count_distinct(col("key")))))
    arm("distinct_exact",
      df => noop(df.agg(countDistinct(col("key")))))
    arm("quantile_gk",
      df => noop(graft.operators.QuantileSketch.quantiles(df, col("v"), Seq(0.5, 0.9, 0.99))))
    arm("quantile_native_approx", // Spark's KLL-ish percentile_approx
      df => noop(df.agg(percentile_approx(col("v"),
        array(lit(0.5), lit(0.9), lit(0.99)), lit(10000)))))
    arm("quantile_exact_sort",
      df => { graft.operators.Quantiles.exact(df, col("v"), Seq(0.5, 0.9, 0.99)); () })
    arm("grouptopk_spacesaving",
      df => noop(graft.operators.HeavyHitters.groupTopK(df,
        Seq(pmod(col("id"), lit(8L)).as("g")), col("key"), k = 10, capacity = 4096)))
    arm("grouptopk_exact",
      df => noop {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("g")).orderBy(col("n").desc, col("key"))
        df.groupBy(pmod(col("id"), lit(8L)).as("g"), col("key"))
          .agg(count(lit(1)).as("n"))
          .withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
      })
    arm("groupquantile_gk",
      df => noop(df.groupBy(pmod(col("id"), lit(8L)).as("g"))
        .agg(graft.operators.QuantileSketch.groupQuantile(col("v"), 0.5).as("q"))))
    arm("groupquantile_exact",
      df => noop(df.groupBy(pmod(col("id"), lit(8L)).as("g"))
        .agg(expr("percentile(v, 0.5)").as("q"))))
  }

  /** Events/window-family rehearsal (round-13 verdict #8): N× events
    * with ONE hot user_id absorbing ~20% of every non-first copy — the
    * sessionization skew case.  Window functions partition by user_id,
    * so the hot user's rows land on one task and sort there; this
    * records how far that skews the wall clock vs the 1× corpus. */
  private def eventsRehearsal(spark: SparkSession, src: String, out: String, n: Int): Unit = {
    val ev = spark.read.parquet(s"$src/events.parquet")
    val uType = ev.schema("user_id").dataType
    // two N× corpora: `uniform` replicates verbatim (volume control);
    // `skew` redirects 20% of every non-first copy to ONE user, so the
    // hot user holds ~20% of all rows — the single-window-task case
    def copies(skew: Boolean) = (0 until n).map { i =>
      val base = ev.withColumn("event_id", col("event_id") + lit(i.toLong * 100000000L))
      if (i == 0 || !skew) base
      else base.withColumn("user_id",
        when(pmod(col("event_id"), lit(5L)) === 0, lit(1).cast(uType))
          .otherwise(col("user_id")))
    }.reduce(_ unionByName _).repartition(32)
    for ((skew, path) <- Seq((false, s"$out/events_uniform.parquet"),
                             (true, s"$out/events_skew.parquet")))
      if (new java.io.File(path, "_SUCCESS").exists()) println(s"reusing $path")
      else copies(skew).write.mode(SaveMode.Overwrite).parquet(path)
    println(s"${n}x events uniform + skew (hot user_id=1, ~20% of rows) at $out")
    val meter = new Meter(spark)
    def noop(df: org.apache.spark.sql.DataFrame): Unit = {
      df.queryExecution.executedPlan.execute().count(); ()
    }
    import org.apache.spark.sql.expressions.Window
    def lagQ(df: org.apache.spark.sql.DataFrame) = df.select(col("event_id"), col("user_id"),
      lag(col("value"), 1).over(
        Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))).as("prev"))
    def bucketedLagQ(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Scale.bucketedLag(df, Seq("user_id"),
          Seq(col("ts"), col("event_id")), col("value"),
          date_trunc("hour", col("ts")), "prev")
        .select(col("event_id"), col("user_id"), col("prev"))
    def tumbleQ(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(window(col("ts"), "1 hour"), col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("s"))
    def sessionQ(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
    def bucketedSessQ(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Scale.bucketedSessions(df, Seq("user_id"), col("ts"),
        gapSeconds = 1800L, date_trunc("hour", col("ts")))
    println(f"${"arm"}%-16s ${"1x_sec"}%8s ${s"${n}x_uni"}%8s ${s"${n}x_skew"}%9s skew/uni")
    for ((name, q) <- Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
        ("window_lag", lagQ), ("bucketed_lag", bucketedLagQ),
        ("tumbling_agg", tumbleQ), ("session_window", sessionQ),
        ("bucketed_sessions", bucketedSessQ))) {
      val (t1, _) = meter(noop(q(spark.read.parquet(s"$src/events.parquet"))))
      val (tu, _) = meter(noop(q(spark.read.parquet(s"$out/events_uniform.parquet"))))
      val (ts, _) = meter(noop(q(spark.read.parquet(s"$out/events_skew.parquet"))))
      println(f"$name%-16s $t1%8.2f $tu%8.2f $ts%9.2f ${ts / tu}%5.2f")
    }
  }

  /** Connected-components rehearsal (round-14 verdict #2): engage the
    * DISTRIBUTED pointer-jump tier naturally — a synthetic pair graph
    * above the 2M-pair driver cutoff, the regime a 100 TB near-dedup
    * corpus with billions of duplicate pairs lands in.  Shape: chains
    * of length 64 (diameter 63, the pointer-jump log case — star-heavy
    * real dup clusters converge faster) plus 25% isolated nodes.  The
    * chain COUNT scales with the multiplier while the length is fixed
    * — the realistic growth shape (more clusters, not wider ones) —
    * so rounds should stay ~constant and wall/shuffle ~linear.  A
    * `deep` arm (length ×16, same node count) pins the log-rounds
    * claim itself. */
  private def ccRehearsal(spark: SparkSession, out: String, n: Int): Unit = {
    val chainLen = 64L
    val chains1x = 50000L // 3.15M pairs at 1x — above the 2M driver cutoff
    def gen(mult: Long, len: Long, path: String): Unit =
      if (new java.io.File(s"$path/pairs.parquet", "_SUCCESS").exists()) println(s"reusing $path")
      else {
        val total = chains1x * mult / (len / chainLen) * len // node count invariant in len
        spark.range(total + total / 4).select(col("id"))
          .repartition(32).write.mode(SaveMode.Overwrite).parquet(s"$path/nodes.parquet")
        spark.range(total).filter(pmod(col("id"), lit(len)) =!= (len - 1))
          .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
          .repartition(32).write.mode(SaveMode.Overwrite).parquet(s"$path/pairs.parquet")
      }
    gen(1, chainLen, s"$out/cc_1x")
    gen(n.toLong, chainLen, s"$out/cc_${n}x")
    gen(1, chainLen * 16, s"$out/cc_deep")
    val meter = new Meter(spark)
    println(f"${"arm"}%-12s ${"pairs"}%10s ${"comps"}%10s ${"rounds"}%6s ${"sec"}%8s ${"shufMB"}%10s")
    def arm(name: String, path: String): (Double, Long) = {
      val nodes = spark.read.parquet(s"$path/nodes.parquet")
      val pairs = spark.read.parquet(s"$path/pairs.parquet")
      var comps = 0L
      val (t, b) = meter {
        comps = graft.operators.Dedup.connectedComponents(nodes, "id", pairs)
          .select(col("component")).distinct().count()
      }
      val rounds = meter.described("connectedComponents round ")
      require(rounds > 0, s"$name: driver tier answered — rehearsal must engage the distributed loop")
      println(f"$name%-12s ${pairs.count()}%10d $comps%10d $rounds%6d $t%8.2f ${b / 1e6}%10.1f")
      (t, b)
    }
    val (t1, b1) = arm("1x", s"$out/cc_1x")
    val (tn, bn) = arm(s"${n}x", s"$out/cc_${n}x")
    arm("deep16x", s"$out/cc_deep")
    println(f"cc scaling: wall ${tn / t1}%.2fx, shuffle ${bn.toDouble / b1}%.2fx at ${n}x pairs")
  }

  /** PQ/ADC family rehearsal (round-14 verdict #4, `sim`): the three
    * q87/q89/q91 production shapes — PQ codebook training + encode,
    * ADC top-k via per-probe lookup tables, and composed IVF+PQ with
    * nprobe cell pruning — at 1× and N× embeddings (same orthogonal
    * cyclic-shift synthesis as `ann`, so per-copy geometry is exactly
    * the original's).  The scale claim under test: codebooks/LUTs are
    * tiny broadcast frames and scoring is one corpus scan, so wall
    * should track the scan ~linearly. */
  private def simRehearsal(spark: SparkSession, src: String, out: String, n: Int): Unit = {
    import org.apache.spark.sql.DataFrame
    val path = scaleEmbeddings(spark, src, out, n)
    val meter = new Meter(spark)
    def noop(df: DataFrame): Unit = { df.queryExecution.executedPlan.execute().count(); () }
    import org.apache.spark.sql.types.{LongType, StringType}
    def probes(e: DataFrame) = e.filter(col("vec_id") < 3)
    def cents(e: DataFrame) = {
      val key = conv(substring(md5(col("vec_id").cast(StringType)), 1, 6), 16, 10).cast(LongType)
      e.filter(col("embedding").isNotNull).orderBy(key.asc, col("vec_id").asc).limit(4)
    }
    println(f"${"arm"}%-14s ${"1x_sec"}%8s ${"1x_shufMB"}%10s ${s"${n}x_sec"}%8s ${s"${n}x_shufMB"}%10s ratio")
    def arm(name: String, run: DataFrame => Unit): Unit = {
      val e1 = spark.read.parquet(s"$src/embeddings.parquet")
      val en = spark.read.parquet(path)
      val (t1, b1) = meter(run(e1))
      val (tn, bn) = meter(run(en))
      println(f"$name%-14s $t1%8.2f ${b1 / 1e6}%10.1f $tn%8.2f ${bn / 1e6}%10.1f ${tn / t1}%5.2f")
    }
    arm("pq_encode",
      e => noop(graft.operators.Similarity.pqEncode(e, "vec_id", "embedding", m = 4, k = 8)))
    arm("pq_adc_topk",
      e => noop(graft.operators.Similarity.pqTopK(e, probes(e), "vec_id", "embedding",
        m = 4, k = 8, topK = 5)))
    arm("ivfpq_topk",
      e => noop(graft.operators.Similarity.ivfPqTopK(e, cents(e), probes(e),
        "vec_id", "embedding", m = 4, k = 8, topK = 5, nprobe = 2)))
  }

  /** Media-decode rehearsal (round-14 verdict #4, `media`): the q34
    * WAV/BMP decode+frame-explode pipeline and the q34b/q34c
    * FLAC / MP4 encode→demux→decode round trips at 1× and N×
    * documents.  Per-row executor-side decode with no shuffle beyond
    * the final agg: wall must be ~exactly linear in rows. */
  private def mediaRehearsal(spark: SparkSession, src: String, out: String, n: Int): Unit = {
    import org.apache.spark.sql.DataFrame
    val path = s"$out/documents.parquet"
    if (new java.io.File(path, "_SUCCESS").exists()) println(s"reusing $path")
    else {
      val d = spark.read.parquet(s"$src/documents.parquet")
      (0 until n).map(i => d.withColumn("doc_id", col("doc_id") + lit(i.toLong * 10000000L)))
        .reduce(_ unionByName _).repartition(32)
        .write.mode(SaveMode.Overwrite).parquet(path)
    }
    val meter = new Meter(spark)
    def noop(df: DataFrame): Unit = { df.queryExecution.executedPlan.execute().count(); () }
    val mkFlac = udf((docId: Long, nChars: Long) => {
      val len = (64 + math.floorMod(nChars, 64)).toInt
      val pcm = Array.tabulate(len)(i =>
        (math.floorMod(docId * 131 + i * 17, 65536) - 32768).toShort)
      graft.functions.Flac.encodeFlac(pcm, channels = 1, sampleRate = 8000, blockSize = 64)
    })
    val mkMp4 = udf((docId: Long, nChars: Long) => {
      val len = (64 + math.floorMod(nChars, 64)).toInt
      val pcm = Array.tabulate(len)(i =>
        (math.floorMod(docId * 131 + i * 17, 65536) - 32768).toShort)
      graft.functions.Mp4.encodeMp4Pcm(pcm, channels = 1, sampleRate = 8000,
        bigEndian = docId % 2 == 1)
    })
    println(f"${"arm"}%-14s ${"1x_sec"}%8s ${s"${n}x_sec"}%8s ratio")
    def arm(name: String, run: DataFrame => Unit): Unit = {
      val (t1, _) = meter(run(spark.read.parquet(s"$src/documents.parquet")))
      val (tn, _) = meter(run(spark.read.parquet(path)))
      println(f"$name%-14s $t1%8.2f $tn%8.2f ${tn / t1}%5.2f")
    }
    arm("wav_bmp_frames", d => {
      val m = d.select(col("doc_id"), col("n_chars"),
          graft.operators.Multimodal.synthMedia(col("doc_id"), col("n_chars")).as("payload"))
        .withColumn("dec", graft.operators.Multimodal.decodeMedia(col("payload")))
      noop(graft.operators.Multimodal.explodeFrames(m, "payload", maxFrames = 4))
    })
    arm("flac_roundtrip", d => noop(d.select(col("doc_id"),
      graft.operators.Multimodal.decodeMedia(mkFlac(col("doc_id"), col("n_chars"))).as("m"))))
    arm("mp4_roundtrip", d => noop(d.select(col("doc_id"),
      graft.operators.Multimodal.decodeMedia(mkMp4(col("doc_id"), col("n_chars"))).as("m"))))
  }

  /** Span-evidence family rehearsal (`span`): the q122 incremental
    * store+merge at 1× and N× rot documents (caesar-rotated copies —
    * disjoint span sets, so the stored evidence GROWS linearly: the
    * storage-stress case; tag copies would collapse to shared spans).
    * Arms: evidence build+store (3 hash batches, one tagged write)
    * and merge-from-store.  Both should scale ~linearly — the build
    * is one corpus scan + one groupBy per batch, the merge touches
    * only the stored evidence. */
  private def spanRehearsal(spark: SparkSession, src: String, out: String, n: Int): Unit = {
    import org.apache.spark.sql.DataFrame
    require(n <= 26, s"rot-copy synthesis repeats mod 26, got $n")
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    val docsPath = s"$out/documents.parquet"
    if (new java.io.File(docsPath, "_SUCCESS").exists()) println(s"reusing $docsPath")
    else {
      val d = spark.read.parquet(s"$src/documents.parquet")
      (0 until n).map { i =>
        val rot = alpha.drop(i % 26) + alpha.take(i % 26)
        d.withColumn("doc_id", col("doc_id") + lit(i.toLong * 10000000L))
          .withColumn("text", if (i == 0) col("text")
            else translate(col("text"), alpha + alpha.toUpperCase, rot + rot.toUpperCase))
      }.reduce(_ unionByName _).repartition(32)
        .write.mode(SaveMode.Overwrite).parquet(docsPath)
    }
    val meter = new Meter(spark)
    println(f"${"arm"}%-16s ${"1x_sec"}%8s ${"1x_shufMB"}%10s ${s"${n}x_sec"}%8s ${s"${n}x_shufMB"}%10s ratio")
    def evidence(d: DataFrame, evDir: String): Unit =
      (0 until 3).map { b =>
        graft.operators.Dedup.spanEvidenceBatch(
            d.filter(pmod(col("doc_id"), lit(3)) === b),
            col("text"), col("doc_id"), width = 60)
          .withColumn("batch", lit(b))
      }.reduce(_ unionByName _).write.mode(SaveMode.Overwrite).parquet(evDir)
    def arm(name: String, run: (DataFrame, String) => Unit): Unit = {
      val d1 = spark.read.parquet(s"$src/documents.parquet")
      val dn = spark.read.parquet(docsPath)
      val (t1, b1) = meter(run(d1, s"$out/ev_1x"))
      val (tn, bn) = meter(run(dn, s"$out/ev_${n}x"))
      println(f"$name%-16s $t1%8.2f ${b1 / 1e6}%10.1f $tn%8.2f ${bn / 1e6}%10.1f ${tn / t1}%5.2f")
    }
    arm("evidence_store", (d, dir) => evidence(d, dir))
    arm("merge_stored", (_, dir) => {
      graft.operators.Dedup.mergeSpanEvidence(spark.read.parquet(dir), minDocs = 2)
        .queryExecution.executedPlan.execute().count(); ()
    })
  }

  /** Generational span-store rehearsal (`spangen`, n = generations):
    * the months-of-ingest shape q122 advertises.  Each generation is a
    * doc-DISJOINT batch (shifted doc ids) whose TEXT repeats — the
    * recurring-boilerplate regime where the same spans arrive every
    * day — so an append-only raw store grows linearly in generations
    * while the span population stays constant.  Two store policies
    * race on every generation:
    *
    *  - `raw`: append the generation's evidence, terminal merge reads
    *    ALL stored rows → rows and merge wall grow ~linearly in G;
    *  - `compacted`: fold the new evidence into the running
    *    [[graft.operators.Dedup.compactSpanEvidence]] generation
    *    (previous compact ∪ new batch → one row per span) → store
    *    size and merge wall stay ~FLAT, paying a ~constant per-
    *    generation compaction instead.
    *
    * Every generation also asserts the two policies' terminal reports
    * are IDENTICAL (count + per-row checksum) — the compaction
    * associativity contract, end-to-end through parquet. */
  private def spanGenRehearsal(spark: SparkSession, src: String, out: String, gens: Int): Unit = {
    import org.apache.spark.sql.DataFrame
    val d = spark.read.parquet(s"$src/documents.parquet")
    val meter = new Meter(spark)
    def time(body: => Unit): Double = {
      val t0 = System.nanoTime; body; (System.nanoTime - t0) / 1e9
    }
    def reportSig(r: DataFrame): (Long, Long) = {
      val row = r.agg(count(lit(1)),
        sum(crc32(concat_ws("|", col("span_hash"), col("n_docs"),
          col("n_occurrences"), col("first_doc"))))).collect().head
      (row.getLong(0), row.getLong(1))
    }
    println(f"${"gen"}%4s ${"raw_rows"}%10s ${"raw_merge_s"}%12s ${"cpt_rows"}%10s ${"cpt_merge_s"}%12s ${"compact_s"}%10s ${"report"}%8s")
    val rawDirs = scala.collection.mutable.ArrayBuffer[String]()
    for (g <- 0 until gens) {
      val gd = d.withColumn("doc_id", col("doc_id") + lit(g.toLong * 10000000L))
      val rawDir = s"$out/raw_g$g"
      graft.operators.Dedup.spanEvidenceBatch(gd, col("text"), col("doc_id"), width = 60)
        .withColumn("gen", lit(g))
        .write.mode(SaveMode.Overwrite).parquet(rawDir)
      rawDirs += rawDir
      // compacted store: fold the new batch into the running generation
      val cptDir = s"$out/compact_g$g"
      val tCompact = time {
        val newEv = spark.read.parquet(rawDir).drop("gen")
        val unioned = if (g == 0) newEv
          else spark.read.parquet(s"$out/compact_g${g - 1}").unionByName(newEv)
        graft.operators.Dedup.compactSpanEvidence(unioned)
          .write.mode(SaveMode.Overwrite).parquet(cptDir)
      }
      val rawStore = spark.read.parquet(rawDirs.toSeq: _*)
      val cptStore = spark.read.parquet(cptDir)
      val (rawRows, cptRows) = (rawStore.count(), cptStore.count())
      val (tRaw, _) = meter {
        graft.operators.Dedup.mergeSpanEvidence(rawStore, minDocs = 2)
          .queryExecution.executedPlan.execute().count(); ()
      }
      val (tCpt, _) = meter {
        graft.operators.Dedup.mergeSpanEvidence(cptStore, minDocs = 2)
          .queryExecution.executedPlan.execute().count(); ()
      }
      val sigRaw = reportSig(graft.operators.Dedup.mergeSpanEvidence(rawStore, minDocs = 2))
      val sigCpt = reportSig(graft.operators.Dedup.mergeSpanEvidence(cptStore, minDocs = 2))
      require(sigRaw == sigCpt,
        s"generation $g: raw vs compacted terminal reports DIVERGED ($sigRaw vs $sigCpt)")
      println(f"$g%4d $rawRows%10d $tRaw%12.2f $cptRows%10d $tCpt%12.2f $tCompact%10.2f ${if (sigRaw == sigCpt) "SAME" else "DIFF"}%8s")
    }
  }

  /** Whole-SUITE N× corpus (`suite`): every Bench table replicated
    * N× with FK-CONSISTENT key shifts, so the full 129-query Bench
    * runs unmodified against a corpus one order of magnitude past the
    * driver's sf0.1 — the whole-suite scale evidence the per-family
    * rehearsals can't give (BASELINE.md "round-17 whole-suite run").
    *
    * Shapes per table (copy i shifts every key by i·10⁷, cast back to
    * the source dtype so the parquet schema is byte-identical):
    *  - region/nation: verbatim (fixed dims — TPC-H's own scaling);
    *  - customer/supplier/part: shifted primary keys;
    *  - orders: o_orderkey AND o_custkey shifted together, so each
    *    copy joins its own customer copy (join fan-out stays 1:1);
    *  - lineitem: l_orderkey/l_partkey/l_suppkey shifted together;
    *  - events: event_id/user_id shifted, ts verbatim — every time
    *    window densifies N× (the window-agg stress direction);
    *  - documents: caesar-rot copies (disjoint shingles — cluster
    *    COUNT scales, cluster size doesn't, the clean dedup regime);
    *  - embeddings: cyclic coordinate-shift copies (intra-copy cosine
    *    structure exactly preserved). */
  private def suiteCorpus(spark: SparkSession, src: String, out: String, n: Int): Unit = {
    import org.apache.spark.sql.DataFrame
    require(n <= 26, s"documents use rot copies (disjoint mod 26), got $n")
    def copies(df: DataFrame, keys: Seq[String])(extra: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until n).map { i =>
        val shifted = keys.foldLeft(df) { (acc, k) =>
          acc.withColumn(k, (col(k) + lit(i.toLong * 10000000L)).cast(df.schema(k).dataType))
        }
        extra(shifted, i)
      }.reduce(_ unionByName _)
    def write(df: DataFrame, table: String): Unit = {
      df.repartition(32).write.mode(SaveMode.Overwrite).parquet(s"$out/$table.parquet")
      println(s"wrote $table")
    }
    for (dim <- Seq("region", "nation"))
      write(spark.read.parquet(s"$src/$dim.parquet"), dim)
    write(copies(spark.read.parquet(s"$src/customer.parquet"), Seq("c_custkey"))(), "customer")
    write(copies(spark.read.parquet(s"$src/supplier.parquet"), Seq("s_suppkey"))(), "supplier")
    write(copies(spark.read.parquet(s"$src/part.parquet"), Seq("p_partkey"))(), "part")
    write(copies(spark.read.parquet(s"$src/orders.parquet"),
      Seq("o_orderkey", "o_custkey"))(), "orders")
    write(copies(spark.read.parquet(s"$src/lineitem.parquet"),
      Seq("l_orderkey", "l_partkey", "l_suppkey"))(), "lineitem")
    write(copies(spark.read.parquet(s"$src/events.parquet"),
      Seq("event_id", "user_id"))(), "events")
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    write(copies(spark.read.parquet(s"$src/documents.parquet"), Seq("doc_id")) { (d, i) =>
      if (i == 0) d else {
        val rot = alpha.drop(i % 26) + alpha.take(i % 26)
        d.withColumn("text", translate(col("text"), alpha + alpha.toUpperCase, rot + rot.toUpperCase))
      }
    }, "documents")
    scaleEmbeddings(spark, src, out, n)
    println(s"suite corpus (${n}x sf0.1-shape) complete at $out")
  }

  /** N× embeddings via the orthogonal cyclic coordinate shift (shared
    * by the `ann` and `sim` modes): copy i's vectors are shifted by i,
    * preserving every intra-copy cosine.  Returns the written path. */
  private def scaleEmbeddings(spark: SparkSession, src: String, out: String, n: Int): String = {
    val path = s"$out/embeddings.parquet"
    if (new java.io.File(path, "_SUCCESS").exists()) { println(s"reusing $path"); return path }
    val e = spark.read.parquet(s"$src/embeddings.parquet")
    val dim = e.where(col("embedding").isNotNull)
      .selectExpr("size(embedding)").limit(1).collect().head.getInt(0)
    val copies = (0 until n).map { i =>
      val sh = i % dim
      val shifted =
        if (sh == 0) col("embedding")
        else expr(s"concat(slice(embedding, ${sh + 1}, ${dim - sh}), slice(embedding, 1, $sh))")
      e.withColumn("vec_id", col("vec_id") + lit(i.toLong * 10000000L))
        .withColumn("embedding", shifted)
    }
    copies.reduce(_ unionByName _).repartition(32)
      .write.mode(SaveMode.Overwrite).parquet(path)
    println(s"wrote ${n}x embeddings (cyclic-shift copies) to $out")
    path
  }

  /** Join-family rehearsal corpus: dims verbatim, facts N× with a hot
    * custkey — see the object doc.  Key shifts preserve the source
    * column dtypes so the scaled parquet schema is byte-identical. */
  private def joinCorpus(spark: SparkSession, src: String, out: String, n: Int): Unit = {
    for (dim <- Seq("region", "nation", "customer", "supplier", "part"))
      spark.read.parquet(s"$src/$dim.parquet")
        .write.mode(SaveMode.Overwrite).parquet(s"$out/$dim.parquet")
    val orders = spark.read.parquet(s"$src/orders.parquet")
    val lineitem = spark.read.parquet(s"$src/lineitem.parquet")
    val ckType = orders.schema("o_custkey").dataType
    def shifted(df: org.apache.spark.sql.DataFrame, key: String, i: Int) =
      df.withColumn(key, (col(key) + lit(i.toLong * 10000000L)).cast(df.schema(key).dataType))
    val oCopies = (0 until n).map { i =>
      val base = shifted(orders, "o_orderkey", i)
      if (i == 0) base
      else base.withColumn("o_custkey", // hot key: ~1/5 of each extra copy
        when(pmod(col("o_orderkey"), lit(5)) === 0, lit(1).cast(ckType))
          .otherwise(col("o_custkey").cast(ckType)))
    }
    val liCopies = (0 until n).map(i => shifted(lineitem, "l_orderkey", i))
    oCopies.reduce(_ unionByName _).repartition(32)
      .write.mode(SaveMode.Overwrite).parquet(s"$out/orders.parquet")
    liCopies.reduce(_ unionByName _).repartition(32)
      .write.mode(SaveMode.Overwrite).parquet(s"$out/lineitem.parquet")
    println(s"wrote ${n}x join corpus (hot custkey=1 on ${n - 1} copies) to $out")
  }
}
