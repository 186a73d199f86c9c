package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Data-layout clustering for scan pruning at 100 TB — the missing
  * half of predicate pushdown: pushdown only skips data the LAYOUT
  * has separated.  A table range-partitioned and sorted by a Z-order
  * (Morton) key keeps rows that are close in EVERY clustered dimension
  * inside the same files and row groups, so parquet min/max statistics
  * prune multi-dimensional predicates (the technique Delta Lake's
  * `OPTIMIZE ZORDER BY` and Iceberg's sort-order rewrite apply; same
  * bit-interleave family as [[graft.functions.Healpix]]'s nested
  * sphere indexing).
  *
  * Everything here is pure Column arithmetic — the interleave unrolls
  * to shifts/masks inside whole-stage codegen (no UDF), and the
  * cluster write is `repartitionByRange` + `sortWithinPartitions`,
  * i.e. one range-exchange over the sampled key, exactly what it
  * costs at any scale.
  *
  * Reference scope note: ezdata (a single-node analysis layer) has no
  * storage-layout surface; this is part of the beyond-reference
  * large-pipeline extension (SURVEY.md §2 extension rows).
  */
object Layout {

  /** Morton/Z value of pre-quantized non-negative integer coordinates:
    * bit i of dimension j lands at position `i * dims + j`.  All
    * inputs must already be in `[0, 2^bits)` — see [[quantize]] for
    * range normalization.  `dims * bits <= 63` keeps the key in a
    * signed long. */
  def zValue(coords: Seq[Column], bits: Int): Column = {
    require(coords.nonEmpty, "at least one dimension")
    require(bits >= 1 && coords.size * bits <= 63,
      s"dims*bits must fit a signed long, got ${coords.size} x $bits")
    val d = coords.size
    val terms = for {
      (c, j) <- coords.zipWithIndex
      i <- 0 until bits
    } yield shiftleft(shiftright(c.cast(LongType), i).bitwiseAND(lit(1L)), i * d + j)
    terms.reduce(_ + _)
  }

  /** Quantize a numeric column to `[0, 2^bits)` given its value range
    * (inclusive): floor-scaled, clamped at both ends so out-of-range
    * rows cluster at the edges instead of corrupting the key. */
  def quantize(c: Column, min: Double, max: Double, bits: Int): Column = {
    require(max > min, s"degenerate range [$min, $max]")
    val buckets = (1L << bits) - 1
    val scaled = floor((c.cast(DoubleType) - lit(min)) / lit(max - min) * lit((buckets + 1).toDouble))
    least(greatest(scaled, lit(0L)), lit(buckets))
  }

  /** Z-order-cluster `df` for writing: one range exchange on the
    * interleaved key (range bounds from Spark's reservoir sample, the
    * same mechanism a 1000-executor sort uses), rows sorted by the key
    * within each output partition, helper column dropped.  Follow with
    * `.write.parquet(...)` — each file then covers a small hyper-box
    * of the clustered dimensions and min/max stats prune selective
    * predicates on ANY subset of them. */
  def zOrderBy(df: DataFrame, quantized: Seq[Column], bits: Int,
               numPartitions: Int): DataFrame = {
    val key = "__zorder"
    require(!df.columns.contains(key),
      s"input already has a '$key' column — it would be silently overwritten and dropped")
    df.withColumn(key, zValue(quantized, bits))
      .repartitionByRange(numPartitions, col(key))
      .sortWithinPartitions(col(key))
      .drop(key)
  }

  /** Shared compaction guards: a sub-MiB target recreates the
    * small-files problem, and in-place compaction — the SAME physical
    * directory spelled two ways (scheme-qualified vs defaultFS-
    * relative, trailing slash, `..` segments) — would overwrite the
    * table while lazily scanning it.  Paths are fs-qualified and
    * URI-normalized before comparing, so aliases cannot slip past. */
  private def compactionGuard(fs: org.apache.hadoop.fs.FileSystem,
                              inPath: String, outPath: String,
                              targetFileBytes: Long): Unit = {
    require(targetFileBytes >= (1L << 20),
      s"target below 1 MiB recreates the problem: $targetFileBytes")
    def canon(p: String) =
      fs.makeQualified(new org.apache.hadoop.fs.Path(p)).toUri.normalize()
    require(canon(inPath) != canon(outPath),
      "in-place compaction would overwrite the table while scanning it — write to a new path")
  }

  /** Compact a small-files parquet directory into ~`targetFileBytes`
    * files WITHOUT an exchange: the scan packs many small files into
    * each input partition (`spark.sql.files.maxPartitionBytes` plus
    * the per-file `openCostInBytes` padding), and `coalesce` merges
    * those partitions through a narrow dependency — no shuffle, no
    * sort, every row moves at most once from source file to target
    * file.  This is the maintenance pass a 100 TB ingest pipeline runs
    * behind streaming/incremental writers, whose many small output
    * files otherwise tax every later scan with per-file open cost and
    * driver-side listing; measured in ScaleRehearsal's `files` mode.
    * For compaction WITH multi-dimensional clustering, use [[zOrderBy]]
    * and pay its one range exchange instead.
    *
    * Returns the target file count (the byte-derived coalesce width;
    * the writer emits at most this many files).  The driver-side
    * `getContentSummary` is metadata-only — O(files) listing, no data
    * read. */
  def compactSmallFiles(spark: org.apache.spark.sql.SparkSession, inPath: String,
                        outPath: String, targetFileBytes: Long = 128L << 20): Int = {
    val p = new org.apache.hadoop.fs.Path(inPath)
    // per-session cached fs — newHadoopConf() clones the whole
    // Spark conf (~tens of ms) on every call
    val fs = graft.sources.ManifestStore.fs(spark, inPath)
    compactionGuard(fs, inPath, outPath, targetFileBytes)
    val bytes = fs.getContentSummary(p).getLength
    val n = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    spark.read.parquet(inPath).coalesce(n)
      .write.mode("overwrite").parquet(outPath)
    n
  }

  /** Partition-aware compaction — [[compactSmallFiles]] for
    * PARTITIONED tables (the daily-ingest shape: `dt=.../hour=...`
    * directories, each leaking small files from incremental writers).
    * A flat coalesce would erase the physical partitioning, and the
    * naive `repartition(n).write.partitionBy(cols)` re-EXPLODES files
    * (every task writes one file per partition value it holds).  The
    * correct shape, done here: size each partition from a
    * metadata-only listing, give it `ceil(bytes / targetFileBytes)`
    * salt slots, hash-exchange on (partition cols, salt) so one
    * output file's rows land in exactly one task, and write back
    * `partitionBy` the same columns.  One exchange of the data; each
    * partition emits AT MOST its salt budget of files (hash
    * collisions between salt slots merge into fewer, larger files —
    * never the per-task explosion), so skewed partitions get more
    * files instead of skewing one task.
    *
    * @param partitionCols the table's physical partition columns, in
    *        directory order (e.g. `Seq("dt")`)
    * @return partition-value path suffix → target file count */
  def compactPartitioned(spark: org.apache.spark.sql.SparkSession, inPath: String,
                         outPath: String, partitionCols: Seq[String],
                         targetFileBytes: Long = 128L << 20): Map[String, Int] = {
    require(partitionCols.nonEmpty, "use compactSmallFiles for unpartitioned tables")
    val root = new org.apache.hadoop.fs.Path(inPath)
    val fs = graft.sources.ManifestStore.fs(spark, inPath)
    compactionGuard(fs, inPath, outPath, targetFileBytes)
    // walk partition directories depth = partitionCols.size (listing
    // only — O(dirs + files) names, no data reads); the suffix is
    // built from directory NAMES during the walk, never by string-
    // stripping the root (listStatus returns fully-qualified URIs)
    def leaves(p: org.apache.hadoop.fs.Path, suffix: String,
               depth: Int): Seq[(org.apache.hadoop.fs.Path, String)] =
      if (depth == 0) Seq((p, suffix))
      else fs.listStatus(p).toSeq.filter(s => s.isDirectory && s.getPath.getName.contains("="))
        .flatMap { d =>
          val name = d.getPath.getName
          leaves(d.getPath, if (suffix.isEmpty) name else s"$suffix/$name", depth - 1)
        }
    val plan: Map[String, Int] = leaves(root, "", partitionCols.size).map { case (dir, suffix) =>
      // one shallow listing per leaf (data files live at the leaf) —
      // not getContentSummary, whose RECURSIVE walk re-lists on every
      // call and turns 10k partitions into 10k serial deep RPCs on an
      // object store before any work starts
      val bytes = fs.listStatus(dir).filter(_.isFile).map(_.getLen).sum
      suffix -> math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    }.toMap
    require(plan.nonEmpty, s"no partition directories under $inPath")
    // read through a child session with partition-type INFERENCE OFF:
    // the join key below is the directory-derived string, and an
    // inferred type re-rendered to string canonicalizes (hour=03 → 3,
    // score=1.50 → 1.5) — every row of such a partition would then
    // fail the escaped-or-null assert on a perfectly valid table.
    // String partition columns round-trip the directory names exactly
    // (and partitionBy writes the same strings back, preserving the
    // physical layout byte-for-byte).
    val iso = spark.newSession()
    iso.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    import iso.implicits._
    val nFiles = plan.toSeq.map { case (suffix, n) =>
      // dt=2024-01-01/hour=3 → ("2024-01-01", "3", n)
      val values = suffix.split("/").map(_.split("=", 2)(1))
      (values.toSeq, n)
    }.toDF("__pvals", "__nfiles")
    val df = iso.read.parquet(inPath)
    val pvals = array(partitionCols.map(c => col(c).cast(StringType)): _*)
    // LEFT join + in-plan assert, not an inner join: a partition value
    // that Hive-ESCAPES in its directory name (or a null partition)
    // would not match its directory-derived string here, and an inner
    // join would silently DROP those rows from the rewrite — fail loud
    // instead (the caller renames or handles such partitions first)
    val salted = df.join(broadcast(nFiles), pvals === col("__pvals"), "left")
      // salt = per-partition row counter, NOT a content hash: duplicate
      // rows all share one content hash, so a duplicate-heavy partition
      // would collapse into one salt slot — one task, one giant file,
      // the exact skew the salt exists to prevent.  The id is stable
      // per (input split, row order), which is all a rewrite needs.
      .withColumn("__salt",
        when(assert_true(col("__nfiles").isNotNull,
            lit("compactPartitioned: a row's partition value has no matching " +
              "partition directory (escaped or null partition values are not supported)")).isNull,
          pmod(monotonically_increasing_id(), col("__nfiles").cast("long"))))
    // INVARIANT (SPARK-23207 class): the nondeterministic salt feeds a
    // hash repartition, which is only retry-safe while everything
    // BELOW the salt is a narrow, order-deterministic recompute — a
    // parquet scan plus a broadcast join re-reads the same splits in
    // the same order, so the salt reassigns identically on a map-task
    // retry.  Any SHUFFLE under the salt would make retried partitions
    // recompute in a different row order and silently lose/duplicate
    // rows mid-rewrite.  Pin that executably: the pre-salt plan must
    // contain no shuffle exchange (the broadcast exchange is fine —
    // it is replicated, not row-partitioned).
    // under AQE the executed plan is an AdaptiveSparkPlanExec wrapper
    // whose collect() does not descend; initialPlan is the real tree
    // AFTER EnsureRequirements inserted any exchanges
    val physical = salted.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val preSaltShuffles = physical.collect {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => s
    }
    require(preSaltShuffles.isEmpty,
      "compactPartitioned: the plan below the row-position salt acquired a shuffle " +
        "exchange — a retried task would recompute rows in a different order and the " +
        "salted rewrite could silently lose or duplicate rows (SPARK-23207); keep the " +
        s"pre-salt plan shuffle-free: ${preSaltShuffles.map(_.nodeName).mkString(", ")}")
    // explicit exchange width = the total salt-slot budget: the
    // default spark.sql.shuffle.partitions would cap BOTH parallelism
    // and per-partition file counts (800k slots hashed into 200 tasks
    // writes 5 GiB files no matter what the budget says)
    val slots = math.min(plan.values.map(_.toLong).sum, 1L << 20).toInt.max(1)
    salted
      .repartition(slots, partitionCols.map(col) :+ col("__salt"): _*)
      .drop("__pvals", "__nfiles", "__salt")
      .write.mode("overwrite").partitionBy(partitionCols: _*).parquet(outPath)
    plan
  }

  /** Bucketed write: persist `df` hash-partitioned into `buckets` by
    * `key` (and sorted inside each bucket), registered as `table` with
    * data at `path`.  Two tables bucketed the same way JOIN WITH ZERO
    * EXCHANGE — the shuffle was paid once at write time and is reused
    * by every subsequent join/aggregation on the key, the
    * pre-partitioning discipline that turns a recurring 100 TB
    * fact⋈fact shuffle into a scan.  (Spark only honors bucket
    * metadata through the catalog, hence `saveAsTable` + explicit
    * path rather than a bare `.parquet(path)`.) */
  def bucketedWrite(df: DataFrame, table: String, path: String,
                    buckets: Int, key: String, sortCols: Seq[String] = Nil): Unit = {
    require(buckets >= 1 && buckets <= 100000, s"buckets in [1, 100000], got $buckets")
    val w = df.write.mode("overwrite").option("path", path)
      .bucketBy(buckets, key)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .format("parquet").saveAsTable(table)
  }
}
