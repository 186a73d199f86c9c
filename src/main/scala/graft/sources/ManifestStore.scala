package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Atomic, versioned table commits for the incremental ingest stores
  * (the span evidence of q122, the sketch columns of q118–q120, the
  * kept-embedding store of q127): a minimal manifest layer in the
  * Delta/Iceberg family, built from nothing but parquet + one atomic
  * rename.
  *
  * The problem it closes: every store-once/merge-later operator here
  * appends parquet files into a directory, and a reader that lists
  * that directory mid-append sees a TORN table (some of the new
  * files, or a _temporary dir).  At one ingest per day that is a
  * nuisance; at a 100 TB pipeline with writers and readers on
  * different schedules it is silent corruption.
  *
  * Layout:
  * {{{
  * <root>/data/v<version>-<label>-<uuid8>/part-*.parquet  immutable once committed
  * <root>/data/batch<id>/part-*.parquet            streaming micro-batches (unarmed run)
  * <root>/data/batch<id>__<runTag>/part-*.parquet  micro-batches of an armed (runId) stream
  * <root>/_manifests/v%020d.json                   header lines + one line per data file
  * <root>/_manifests/_latest                       version pointer (hint; listing fallback)
  * <root>/_manifests/_batches                      (run, batchId) -> version ledger (hint; header fallback)
  * }}}
  *
  * The commit protocol — classic write-ahead + atomic publish:
  *  1. write the new data files under `data/v<next>-<label>/`
  *     (invisible: no manifest references them yet);
  *  2. write the FULL new file list to `_manifests/.tmp-<next>-<uuid>`;
  *  3. `rename` it to `_manifests/v<next>.json` — atomic on POSIX
  *     and HDFS, and rename-refuses-to-overwrite gives optimistic
  *     concurrency: two racing committers of version N cannot both
  *     win (the loser throws; retry on the new current version).
  *     NOT atomic on bare S3 — front it with a locking catalog there,
  *     the same caveat every manifest design carries.  On the LOCAL
  *     filesystem FileContext's no-overwrite rename is an exists
  *     check followed by rename(2) — a TOCTOU window for two truly
  *     concurrent committers; a per-root JVM lock serializes
  *     same-process publishes (the realistic local case: tests and
  *     local-mode drivers), and cross-PROCESS local races remain the
  *     documented local-fs caveat.
  *
  * Readers resolve ONE manifest (latest or a pinned `version`) and
  * read exactly the files it lists — a torn state is unobservable,
  * and old versions stay readable until [[vacuum]] (time travel).
  * [[compact]] merges the CURRENT file set into ~target-sized files
  * by copying parquet row groups byte for byte (no decode, no
  * re-encode) wherever the inputs came from one writer shape, and
  * publishes a manifest listing only the merged files — data files
  * are never mutated, so concurrent pinned readers are untouched.
  *
  * Discovery is O(1), not O(versions): publishes refresh a
  * `_latest` pointer, [[currentVersion]] reads it and forward-probes
  * the (contiguous) versions above it — the directory listing is
  * only the fallback for a missing/corrupt pointer (counted by
  * [[listingFallbacks]] so the spec can assert commit cost stays
  * flat over long histories).  Likewise [[commitStreamBatch]]'s
  * replay probe is one ledger read on the happy path; the manifest
  * headers (`#batch` lines, written atomically WITH the commit)
  * remain the ground truth the ledger is rebuilt from.
  */
object ManifestStore {

  private def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(hadoopConf(spark))

  // newHadoopConf() clones the WHOLE Spark conf into a fresh Hadoop
  // Configuration (~tens of ms); a commit touches the filesystem
  // handle several times, and for a streaming sink that cost is paid
  // per micro-batch.  Cache per SESSION — sessions can carry their own
  // runtime-set hadoop options (fs.*, credentials), so a context-wide
  // cache would silently serve the first caller's conf to every later
  // session — but through WEAK keys, so the throwaway sessions this
  // codebase mints (newSession() in Dedup.collectPairsIfSmall) are
  // collectable the moment they are unreachable, never pinned by the
  // cache.  A benign double-compute under concurrency beats a lock
  // held across the clone.
  private val confCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, org.apache.hadoop.conf.Configuration]())
  private[graft] def hadoopConf(spark: SparkSession): org.apache.hadoop.conf.Configuration = {
    val cached = confCache.get(spark)
    if (cached != null) cached
    else {
      val fresh = spark.sessionState.newHadoopConf()
      confCache.put(spark, fresh)
      fresh
    }
  }

  // versioned data dirs carry a uuid tail: two racing committers of
  // the same version (or a retry after a crash that left debris) must
  // never collide on the DATA path — only the manifest rename decides
  // the race, and loser/crash dirs are reclaimed (catch blocks below,
  // vacuum's orphan sweep) instead of blocking every future attempt
  // at that version with errorifexists.  Batch dirs stay deterministic
  // on purpose: the batchId-keyed path is how a replay finds and
  // clears its own torn write.
  private def versionedDataDir(root: String, v: Long, label: String): Path =
    new Path(root, s"data/v$v-$label-${java.util.UUID.randomUUID().toString.take(8)}")

  private def manifestDir(root: String) = new Path(root, "_manifests")
  private def manifestPath(root: String, v: Long) =
    new Path(manifestDir(root), f"v$v%020d.json")
  private def pointerPath(root: String) = new Path(manifestDir(root), "_latest")
  private def ledgerPath(root: String) = new Path(manifestDir(root), "_batches")

  /** Listing-fallback counter: every [[currentVersion]] that could
    * not resolve through the `_latest` pointer bumps it.  Spec-level
    * observability for the O(1)-discovery contract — a long commit
    * history must not grow this per commit. */
  private[graft] val listingFallbacks = new java.util.concurrent.atomic.AtomicLong(0L)

  // serializes same-JVM publishes per root (the local-fs TOCTOU note
  // in the publish scaladoc); cross-process races are the fs's problem.
  // Deliberately never evicted: a lock must stay CANONICAL per root
  // for the JVM's life (weak eviction could hand two committers two
  // different locks for one root), and the cost is one bare Object
  // per distinct root string ever touched.
  private val publishLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  // keyed by the fs-QUALIFIED path, never the raw string: '/x/store',
  // '/x/store/' and 'file:/x/store' are one physical root and must
  // share one lock — distinct keys would reopen the TOCTOU the lock
  // closes
  private def lockFor(f: FileSystem, root: String): Object =
    publishLocks.computeIfAbsent(
      f.makeQualified(new Path(root)).toString, _ => new Object)

  /** Newest committed version, None for an empty/uninitialized root.
    * O(1): pointer read + forward-probe of the contiguous versions
    * above it (zero when the pointer is fresh, which every publish
    * keeps it); directory listing only as the fallback. */
  def currentVersion(spark: SparkSession, root: String): Option[Long] = {
    val f = fs(spark, root)
    readPointer(f, root) match {
      case Some(v) if f.exists(manifestPath(root, v)) =>
        var cur = v
        while (f.exists(manifestPath(root, cur + 1))) cur += 1
        Some(cur)
      case _ =>
        listingFallbacks.incrementAndGet()
        listVersions(f, root).lastOption
    }
  }

  /** All committed versions present on disk, ascending (gaps where
    * [[vacuum]] dropped manifests).  One directory listing. */
  private def listVersions(f: FileSystem, root: String): Seq[Long] = {
    val dir = manifestDir(root)
    if (!f.exists(dir)) return Nil
    f.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
      .map(n => n.stripPrefix("v").stripSuffix(".json").toLong).sorted
  }

  // hint files live OUTSIDE the checksum layer: the local
  // ChecksumFileSystem/ChecksumFs pair leaves stale or missing .crc
  // siblings when a file is repeatedly rename-overwritten, turning a
  // perfectly good pointer into intermittent ChecksumExceptions.
  // Hints are self-validating (a parseable long / tsv, with a correct
  // fallback path behind them), so raw bytes + POSIX rename is the
  // honest tier for them.
  private def rawFs(f: FileSystem): FileSystem = f match {
    case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
    case other => other
  }

  private def readPointer(f: FileSystem, root: String): Option[Long] = {
    val p = pointerPath(root)
    val rf = rawFs(f)
    if (!rf.exists(p)) return None
    try {
      val in = rf.open(p)
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim finally in.close()
      Some(s.toLong)
    } catch { case scala.util.control.NonFatal(_) => None } // corrupt hint: fall back
  }

  // hint files are rewritten whole via tmp + rename — atomic overwrite
  // on the raw local fs (rename(2)); on filesystems whose rename
  // refuses an existing target, delete-then-rename (a torn hint just
  // means the correct, slower fallback path)
  private def writeHint(spark: SparkSession, root: String, target: Path, body: String): Unit = {
    val f = rawFs(fs(spark, root))
    f.mkdirs(manifestDir(root))
    val tmp = new Path(manifestDir(root),
      s".hint-${java.util.UUID.randomUUID().toString.take(8)}")
    try {
      val out = f.create(tmp, false)
      try out.write(body.getBytes("UTF-8")) finally out.close()
      if (!f.rename(tmp, target)) {
        // rename refused an existing target: replace via direct
        // overwrite-create rather than delete-then-rename — a second
        // rename failure after the delete would leave NO hint at all
        // (for the ledger that means losing replay entries whose
        // manifests vacuum already dropped, not just a slow listing)
        val direct = f.create(target, true)
        try direct.write(body.getBytes("UTF-8")) finally direct.close()
        f.delete(tmp, false); ()
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        // never leak .hint tmp debris on a failed write (a streaming
        // sink under sustained disk pressure would mint one per
        // micro-batch otherwise)
        try { f.delete(tmp, false); () } catch { case scala.util.control.NonFatal(_) => () }
        throw e
    }
  }

  /** The file list of `version` (default: current).  Paths are the
    * absolute strings the manifest recorded; `#`-prefixed header
    * lines (the committed schema, the batch id) are skipped. */
  def files(spark: SparkSession, root: String, version: Option[Long] = None): Seq[String] =
    manifestLines(spark, root, version).filterNot(_.startsWith("#"))

  /** The schema the table committed (recorded in the manifest header),
    * None for manifests written before schema tracking. */
  def schemaOf(spark: SparkSession, root: String, version: Option[Long] = None): Option[StructType] =
    headerSchema(manifestLines(spark, root, version))

  private def headerSchema(lines: Seq[String]): Option[StructType] =
    lines.find(_.startsWith(SchemaHeader))
      .map(l => DataType.fromJson(l.stripPrefix(SchemaHeader)).asInstanceOf[StructType])

  private val SchemaHeader = "#schema\t"
  private val BatchHeader = "#batch\t"

  /** Path-safe directory tag for a run id: the id itself when it is
    * already path-safe (UUIDs, the common case), else a stable hex
    * digest.  "" (the unarmed single-writer namespace) keeps the
    * legacy `batch<id>` dir shape. */
  private[graft] def runTag(run: String): String =
    if (run.isEmpty || run.matches("[A-Za-z0-9_-]{1,64}")) run
    else {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(run.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    }

  private def batchDirName(run: String, batchId: Long): String =
    if (run.isEmpty) s"batch$batchId" else s"batch${batchId}__${runTag(run)}"

  /** Parse a batch data-dir name back to (batchId, tag): `batch7` →
    * (7, "") and `batch7__<tag>` → (7, tag); None for non-batch dirs. */
  private def parseBatchDirName(name: String): Option[(Long, String)] = {
    if (!name.startsWith("batch")) return None
    val rest = name.stripPrefix("batch")
    val digits = rest.takeWhile(_.isDigit)
    if (digits.isEmpty) return None
    val tail = rest.drop(digits.length)
    val tag = if (tail.isEmpty) "" else if (tail.startsWith("__")) tail.drop(2) else return None
    digits.toLongOption.map(_ -> tag)
  }

  private def manifestLines(spark: SparkSession, root: String, version: Option[Long]): Seq[String] = {
    val v = version.orElse(currentVersion(spark, root)).getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))
    val p = manifestPath(root, v)
    val f = fs(spark, root)
    require(f.exists(p), s"version $v does not exist under $root")
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(_.nonEmpty).toList
    finally in.close()
  }

  /** The (run, batchId) `version` committed, None for non-batch
    * commits; run "" for unarmed (pre-multi-run) headers.  Reads ONLY
    * the header lines (headers precede file lines by construction),
    * so a replay probe over a version delta never pays a full
    * manifest read. */
  private def headerBatchOf(spark: SparkSession, root: String, v: Long): Option[(String, Long)] = {
    val p = manifestPath(root, v)
    val f = fs(spark, root)
    if (!f.exists(p)) return None
    val in = f.open(p)
    // toLongOption: a corrupt '#batch' line degrades to "no batch
    // header" (the readPointer/readLedger convention), never a
    // NumberFormatException that aborts a replay probe or vacuum fold
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(_.nonEmpty)
      .takeWhile(_.startsWith("#"))
      .collectFirst { case l if l.startsWith(BatchHeader) => l.stripPrefix(BatchHeader) }
      .flatMap { body =>
        val parts = body.split('\t') // "<id>" or "<id>\t<run>"
        parts.headOption.map(_.trim).flatMap(_.toLongOption)
          .map(id => (if (parts.length > 1) parts(1) else "") -> id)
      }
    finally in.close()
  }

  /** Loud schema gate for appends: a mismatched batch would not fail
    * here but at some LATER read as missing columns or type errors —
    * name the drift at the commit that introduces it.  Field order is
    * irrelevant (parquet resolves by name); names and types must
    * match exactly. */
  private def requireSameSchema(stored: StructType, incoming: StructType, root: String): Unit = {
    def norm(s: StructType) = s.fields.map(f => (f.name, f.dataType)).sortBy(_._1).toSeq
    if (norm(stored) != norm(incoming)) {
      val a = norm(stored).map { case (n, t) => s"$n: ${t.simpleString}" }.mkString(", ")
      val b = norm(incoming).map { case (n, t) => s"$n: ${t.simpleString}" }.mkString(", ")
      throw new IllegalArgumentException(
        s"schema drift on append to $root — stored [$a] vs incoming [$b]; " +
          "migrate with an explicit rewrite, never a silent append")
    }
  }

  /** Snapshot read: exactly the files `version` (default: current)
    * committed — mid-flight appends are unobservable.  The manifest IS
    * the catalog: when it carries the committed schema (every manifest
    * since schema tracking), the read specifies it and skips the
    * driver-side footer read + schema merge entirely — at scale that
    * is the listing/inference cost a table format exists to remove
    * (guide §6); legacy schema-less manifests fall back to inference. */
  def read(spark: SparkSession, root: String, version: Option[Long] = None): DataFrame = {
    val lines = manifestLines(spark, root, version)
    readFiles(spark, lines.filterNot(_.startsWith("#")), headerSchema(lines))
  }

  private def readFiles(spark: SparkSession, paths: Seq[String],
                        schema: Option[StructType]): DataFrame =
    schema.fold(spark.read)(spark.read.schema(_)).parquet(paths: _*)

  /** Append `df` as a new version (previous files + the new ones).
    * Returns the committed version.  Throws if another committer
    * published the same version first (optimistic concurrency —
    * re-read and retry). */
  def commitAppend(spark: SparkSession, root: String, df: DataFrame,
                   label: String = "append"): Long = {
    require(label.matches("[A-Za-z0-9_-]+"), s"label must be path-safe, got '$label'")
    val prev = currentVersion(spark, root)
    // schema gate BEFORE the data write: fail without spending the job
    prev.flatMap(v => schemaOf(spark, root, Some(v)))
      .foreach(stored => requireSameSchema(stored, df.schema, root))
    val next = prev.map(_ + 1).getOrElse(0L)
    val dataDir = versionedDataDir(root, next, label)
    df.write.mode("errorifexists").parquet(dataDir.toString)
    val newFiles = listParquet(spark, dataDir)
    try publish(spark, root, next, df.schema,
      prev.map(v => files(spark, root, Some(v))).getOrElse(Nil) ++ newFiles)
    catch {
      case e: java.util.ConcurrentModificationException =>
        // the loser's data files are referenced by nothing and never
        // will be — reclaim them now instead of leaking an orphan dir
        fs(spark, root).delete(dataDir, true)
        throw e
    }
    next
  }

  /** Handle returned by [[stageAppend]]: the batch's data files are
    * durably written under `root/data/` but referenced by NO manifest —
    * invisible to every reader until [[commitStaged]] publishes them.
    * `dir` is the staging directory holding the parquet files. */
  final case class Staged(root: String, dir: String,
                          schema: StructType, label: String)

  /** SPLIT commit, phase 1 — write the append's data files WITHOUT
    * publishing.  [[commitAppend]] couples the expensive Spark write
    * job to the serialized manifest publish, so N independent ingests
    * into one root are forced sequential (and an optimistic-concurrency
    * retry re-runs the whole write job).  Staging decouples them:
    * callers run their `stageAppend`s CONCURRENTLY (guide §2.6 — the
    * next ingest's tasks back-fill executors freed by the current
    * one's stragglers), then publish each with [[commitStaged]], which
    * is a manifest rename — cheap, serialized, and retried WITHOUT
    * recomputing data.  Wall time ≈ max of the ingests, not their sum.
    *
    * The schema gate runs here as a fail-fast courtesy (don't spend
    * the write job on a doomed append) and authoritatively again in
    * [[commitStaged]] against whatever is stored at publish time. */
  def stageAppend(spark: SparkSession, root: String, df: DataFrame,
                  label: String = "append"): Staged = {
    require(label.matches("[A-Za-z0-9_-]+"), s"label must be path-safe, got '$label'")
    currentVersion(spark, root).flatMap(v => schemaOf(spark, root, Some(v)))
      .foreach(stored => requireSameSchema(stored, df.schema, root))
    val dir = new Path(new Path(root, "data"),
      s"staged-$label-${java.util.UUID.randomUUID().toString.take(8)}")
    df.write.mode("errorifexists").parquet(dir.toString)
    Staged(root, dir.toString, df.schema, label)
  }

  /** SPLIT commit, phase 2 — publish a [[stageAppend]] batch as the
    * next version (previous files + the staged ones).  The staged dir
    * is renamed to the canonical `v<N>-<label>-<uuid>` shape (so
    * [[vacuum]]'s orphan rules see committed data exactly as
    * [[commitAppend]] leaves it), then the manifest is published.  On
    * a lost optimistic-concurrency race the data is NOT deleted and
    * NOT recomputed: the dir is renamed back to its `staged-` name
    * (a stale `v<N>` name would be fair game for vacuum's orphan
    * sweep) and publish retries on the new current version, up to
    * `maxRetries` races.  After that a [[StagedCommitConflict]]
    * surfaces carrying the handle to commit again later; its dir's
    * modification time is refreshed, so vacuum's age-gated `staged-`
    * sweep gives the caller the same grace period as a fresh stage.
    * Returns the committed version. */
  def commitStaged(spark: SparkSession, root: String, staged: Staged,
                   maxRetries: Int = 10): Long = {
    val f = fs(spark, root)
    require(f.makeQualified(new Path(staged.root)) == f.makeQualified(new Path(root)),
      s"staged handle belongs to ${staged.root}, not $root")
    val home = new Path(staged.dir)
    require(f.exists(home), s"staged dir ${staged.dir} is gone — already committed or vacuumed?")
    var attempt = 0
    var committed = -1L
    while (committed < 0) {
      val prev = currentVersion(spark, root)
      prev.flatMap(v => schemaOf(spark, root, Some(v)))
        .foreach(stored => requireSameSchema(stored, staged.schema, root))
      val next = prev.map(_ + 1).getOrElse(0L)
      val target = versionedDataDir(root, next, staged.label)
      require(f.rename(home, target),
        s"could not move staged data $home to $target")
      try {
        publish(spark, root, next, staged.schema,
          prev.map(v => files(spark, root, Some(v))).getOrElse(Nil) ++
            listParquet(spark, target))
        committed = next
      } catch {
        case e: java.util.ConcurrentModificationException =>
          require(f.rename(target, home),
            s"lost the race for v$next and could not move staged data $target back to $home")
          attempt += 1
          if (attempt > maxRetries) {
            f.setTimes(home, System.currentTimeMillis(), -1)
            throw new StagedCommitConflict(
              s"${e.getMessage} (staged data preserved at $home after $maxRetries retries)", staged)
          }
      }
    }
    committed
  }

  /** [[commitStaged]] lost `maxRetries` optimistic-concurrency races;
    * `staged` is still uncommitted and may be passed to commitStaged
    * again. */
  final class StagedCommitConflict(message: String, val staged: Staged)
    extends java.util.ConcurrentModificationException(message)

  /** Replace the ENTIRE table as a new version: the manifest lists
    * only the new data files; previous files stay readable for pinned
    * versions until [[vacuum]].  This is the EXPLICIT-rewrite
    * migration path the append-time schema gate points at (a store
    * reassignment after a centroid refit, a global re-shuffle, a
    * schema migration) — the schema may legitimately change here and
    * the new one is recorded. */
  def commitReplace(spark: SparkSession, root: String, df: DataFrame,
                    label: String = "replace"): Long = {
    require(label.matches("[A-Za-z0-9_-]+"), s"label must be path-safe, got '$label'")
    val prev = currentVersion(spark, root)
    val next = prev.map(_ + 1).getOrElse(0L)
    val dataDir = versionedDataDir(root, next, label)
    df.write.mode("errorifexists").parquet(dataDir.toString)
    try publish(spark, root, next, df.schema, listParquet(spark, dataDir))
    catch {
      case e: java.util.ConcurrentModificationException =>
        fs(spark, root).delete(dataDir, true)
        throw e
    }
    next
  }

  /** Merge the CURRENT file set into ~targetFileBytes files (the
    * small-files maintenance pass, manifest edition), then publish a
    * new manifest listing ONLY the merged files.  Old versions keep
    * reading the old files until [[vacuum]].
    *
    * The files are packed, in manifest order, into bins of at most
    * `targetFileBytes`, and ONE Spark job merges each bin in its own
    * task by copying parquet row groups — column chunks, page indexes
    * and footer key-value metadata byte for byte ([[mergeBin]]).  A
    * bin whose files do not share one parquet schema and metadata, or
    * whose row groups are too small to keep ([[MinCopyRowsPerGroup]]),
    * is instead re-encoded by a coalesced rewrite that reads with the
    * manifest's recorded schema, so no schema-inference job runs. */
  def compact(spark: SparkSession, root: String,
              targetFileBytes: Long = 128L << 20): Long = {
    require(targetFileBytes >= (1L << 20), s"target below 1 MiB recreates the problem: $targetFileBytes")
    val prev = currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"nothing to compact under $root"))
    val next = prev + 1
    val f = fs(spark, root)
    val lines = manifestLines(spark, root, Some(prev))
    val schema = headerSchema(lines)
    val sized = lines.filterNot(_.startsWith("#"))
      .map(p => p -> f.getFileStatus(new Path(p)).getLen)
    val dataDir = versionedDataDir(root, next, "compact")
    // a schema-less (pre-schema-tracking) manifest has no schema to
    // publish for a copy: it takes the inferring rewrite whole
    val bins = packBins(sized, targetFileBytes)
    val merged = if (schema.isEmpty) bins.map(_ => false) else copyBins(spark, bins, dataDir)
    val declined = bins.zip(merged).collect { case (bin, false) => bin }.flatten
    val published = if (declined.isEmpty) schema.get else {
      val bytes = declined.map(_._2).sum
      val n = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
      val rewritten = readFiles(spark, declined.map(_._1), schema)
      describing(spark, "ManifestStore.compact: rewrite") {
        rewritten.coalesce(n).write.mode("append").parquet(dataDir.toString)
      }
      schema.getOrElse(rewritten.schema)
    }
    try publish(spark, root, next, published, listParquet(spark, dataDir))
    catch {
      case e: java.util.ConcurrentModificationException =>
        // same reclaim as commitAppend: a losing compaction's rewrite
        // is referenced by nothing — without this it would leak
        // permanently (vacuum only reclaims files DROPPED manifests
        // referenced, never never-referenced ones)
        f.delete(dataDir, true)
        throw e
    }
    next
  }

  /** Mean rows per row group below which [[compact]] re-encodes a bin
    * instead of copying its row groups.  A copied file keeps every
    * input row group, and each row group has a fixed scan cost; at
    * this size a merged file's scan stays within 10% of a re-encoded
    * one (ScaleRehearsal's `rowgroups` mode). */
  private[graft] val MinCopyRowsPerGroup = 2000L

  /** Greedy, order-preserving packing of (path, bytes) into bins of at
    * most `target` bytes; a file larger than `target` gets a bin of
    * its own. */
  private def packBins(files: Seq[(String, Long)], target: Long): Seq[Seq[(String, Long)]] = {
    val bins = Seq.newBuilder[Seq[(String, Long)]]
    var bin = Vector.empty[(String, Long)]
    var binBytes = 0L
    files.foreach { case file @ (_, len) =>
      if (bin.nonEmpty && binBytes + len > target) { bins += bin; bin = Vector.empty; binBytes = 0L }
      bin :+= file
      binBytes += len
    }
    if (bin.nonEmpty) bins += bin
    bins.result()
  }

  /** One job, one task per bin: each task merges its bin into
    * `dataDir` ([[mergeBin]]) or declines it.  Returns, per bin,
    * whether it was merged.  Output names carry the task attempt, so a
    * retried or speculative attempt never collides with another;
    * files of attempts whose result the driver did not take are
    * deleted here, so the dir holds exactly the merged bins. */
  private def copyBins(spark: SparkSession, bins: Seq[Seq[(String, Long)]],
                       dataDir: Path): Seq[Boolean] = {
    if (bins.isEmpty) return Nil
    val conf = new org.apache.spark.SerializableWritable(hadoopConf(spark))
    val dir = dataDir.toString
    val outs = describing(spark, "ManifestStore.compact: copy row groups") {
      spark.sparkContext.parallelize(bins.map(_.map(_._1)).zipWithIndex, bins.size)
        .map { case (bin, i) =>
          val attempt = org.apache.spark.TaskContext.get().attemptNumber()
          mergeBin(conf.value, bin, new Path(dir, f"part-$i%05d-a$attempt-compact.parquet"))
            .map(_.getName)
        }.collect().toSeq
    }
    val f = fs(spark, dir)
    val kept = outs.flatten.toSet
    if (f.exists(dataDir))
      f.listStatus(dataDir).map(_.getPath)
        .filter(p => p.getName.endsWith(".parquet") && !kept.contains(p.getName))
        .foreach(f.delete(_, false))
    outs.map(_.isDefined)
  }

  /** Merge `inputs` into `out` by copying their row groups with
    * parquet's `ParquetRewriter`, when every input has the same
    * parquet schema and the same footer key-value metadata (ignoring
    * the rewriter's own `original.created.by`, so a compacted file
    * merges again) and their row groups average at least
    * [[MinCopyRowsPerGroup]] rows.  Returns the written path, or None
    * (nothing written) when a check fails. */
  private def mergeBin(conf: org.apache.hadoop.conf.Configuration,
                       inputs: Seq[String], out: Path): Option[Path] = {
    import org.apache.parquet.hadoop.rewrite.ParquetRewriter
    import scala.jdk.CollectionConverters._
    // one options object for every footer: ParquetFileReader.open
    // without options builds a fresh Configuration per file
    val options = org.apache.parquet.HadoopReadOptions.builder(conf).build()
    val footers = inputs.map { p =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(p), conf), options)
      try reader.getFooter finally reader.close()
    }
    def keyValues(m: org.apache.parquet.hadoop.metadata.FileMetaData) =
      m.getKeyValueMetaData.asScala.toMap - ParquetRewriter.ORIGINAL_CREATED_BY_KEY
    val first = footers.head.getFileMetaData
    val uniform = footers.forall { ft =>
      val m = ft.getFileMetaData
      m.getSchema == first.getSchema && keyValues(m) == keyValues(first)
    }
    val blocks = footers.flatMap(_.getBlocks.asScala)
    if (!uniform || blocks.isEmpty ||
        blocks.map(_.getRowCount).sum < MinCopyRowsPerGroup * blocks.size) None
    else { copyRowGroups(conf, inputs, out); Some(out) }
  }

  /** Concatenates the row groups of `inputs` (one parquet schema) into
    * `out` without decoding them. */
  private[graft] def copyRowGroups(conf: org.apache.hadoop.conf.Configuration,
                                   inputs: Seq[String], out: Path): Unit = {
    import org.apache.parquet.hadoop.rewrite.{ParquetRewriter, RewriteOptions}
    import scala.jdk.CollectionConverters._
    val rewriter = new ParquetRewriter(
      new RewriteOptions.Builder(conf, inputs.map(new Path(_)).asJava, out).build())
    try rewriter.processBlocks() finally rewriter.close()
  }

  /** Runs `body` with its jobs described as `what`, restoring the
    * caller's description after. */
  private def describing[T](spark: SparkSession, what: String)(body: => T): T = {
    val sc = spark.sparkContext
    val saved = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(what)
    try body finally sc.setJobDescription(saved)
  }

  /** Exactly-once streaming sink step: commit one micro-batch,
    * IDEMPOTENT on `batchId`.  Structured Streaming's `foreachBatch`
    * re-delivers a batch after a failure with the SAME batchId; a
    * plain parquet append would duplicate those rows, and a plain
    * [[commitAppend]] would commit them twice.
    *
    * Replay detection is DURABLE, not inferred from data-dir
    * presence: each batch commit records `#batch <id>` in its
    * manifest header (atomic with the commit itself) and mirrors it
    * into the `_batches` ledger.  A replay resolves through the
    * ledger in one read; a ledger missing the id (crash between
    * publish and ledger write, or a rebuilt root) falls back to
    * scanning only the manifest HEADERS of the versions the ledger
    * has not yet covered.  In particular a [[compact]] + [[vacuum]]
    * between a batch's commit and its crash-recovery replay — which
    * rewrites the batch's files and may delete its data dir — no
    * longer misclassifies the replay as a torn write (the failure
    * mode of the r18 data-dir probe): the ledger entry survives both.
    * Retention note: [[vacuum]] folds the `#batch` headers of the
    * manifests it drops INTO the ledger before dropping them, so the
    * replay contract survives any single loss — headers heal a lost
    * ledger hint, the ledger preserves dropped headers.
    *
    * Use as `stream.writeStream.foreachBatch { (df, id) =>
    * ManifestStore.commitStreamBatch(df.sparkSession, root, df, id); () }`.
    *
    * Pass `runId` (the streaming query's `id` — stable across restarts
    * of the SAME checkpoint, fresh for a new one) to give the stream
    * its own batch-id NAMESPACE, the Delta `txnAppId` shape: several
    * pipelines with distinct runIds may then ingest into one root
    * concurrently, each exactly-once on (runId, batchId), their data
    * dirs disambiguated as `data/batch<id>__<runTag>`.  A reset
    * checkpoint mints a new query id and therefore a fresh namespace —
    * its re-read of the source commits as genuinely new data
    * (duplicates of the old run where the reads overlap, the inherent
    * price of a reset) rather than being silently dropped as replays.
    * Do NOT pass a hand-invented constant that survives a checkpoint
    * reset: a reset under an unchanged runId restarts batch ids inside
    * a namespace that already committed them, and those batches ARE
    * dropped as replays (exactly-once is void across a reset by
    * definition).  Unarmed callers (no runId) share the "" namespace —
    * one unarmed streaming writer per root, the legacy contract.
    * Ledger writes from concurrent armed streams are serialized
    * through the same-process per-root lock; cross-PROCESS concurrent
    * streams into one root remain subject to the local-fs/S3 publish
    * caveats above.
    *
    * Arming a root whose batches were previously committed UNARMED
    * (or by the pre-namespace release, whose manifest headers carry no
    * run): run [[adoptUnarmedHistory]] first.  That history is
    * attributed to the "" namespace by headers and ledger alike, so an
    * armed replay of one of its ids misses every classification arm
    * and re-commits the batch — duplicate rows.
    *
    * @return the version holding this batch (new or already present);
    *         for a replay below the run's ledger prune floor — known
    *         committed, exact version aged out — the CURRENT version
    *         (which contains the batch's rows) is returned */
  def commitStreamBatch(spark: SparkSession, root: String, df: DataFrame,
                        batchId: Long, runId: Option[String] = None): Long = {
    val run = runId.getOrElse("")
    require(!run.exists(c => c == '\t' || c == '\n' || c == '\r'),
      "runId must not contain tab/newline (ledger wire format)")
    val f = fs(spark, root)
    val dataDir = new Path(root, s"data/${batchDirName(run, batchId)}")
    val led = readLedger(f, root)
    led.entries.get((run, batchId)) match {
      case Some(v) => return v // already committed — the replay is a no-op
      case None => ()
    }
    // below the run's prune floor = KNOWN COMMITTED (the id was
    // ledgered, then aged off the bounded tail; an in-flight id is
    // always >= the newest ledgered id, never below the floor).  A
    // crash-recovery replay from a very old checkpoint backup must be
    // classified here — the exact version is gone with the pruned
    // entry, but re-committing would duplicate every row of the
    // batch.  The current version contains its rows; return that.
    if (batchId < led.floorOf(run))
      return currentVersion(spark, root).getOrElse(throw new IllegalStateException(
        s"ledger floor exists but no version is committed under $root — corrupt root"))
    val cur = currentVersion(spark, root)
    // the ledger is a hint; manifest headers are truth.  Fold EVERY
    // batch id the uncovered delta contains, not just the one sought:
    // '#through' will claim the whole delta as covered, so an id
    // observed here but discarded would become permanently unledgered
    // — invisible to later replays and unreclaimable by vacuum's
    // sweep.  (The delta is normally empty or a few interleaved
    // non-batch commits; the one full walk is first adoption of a
    // root with a long pre-stream history.)
    val fromV = math.max(led.through + 1, 0L)
    val deltaIds: Map[(String, Long), Long] = cur.toSeq.flatMap(c => fromV to c)
      .flatMap(v => headerBatchOf(spark, root, v).map(_ -> v)).toMap
    deltaIds.get((run, batchId)) match {
      case Some(v) =>
        writeLedger(spark, root, deltaIds, math.max(led.through, cur.getOrElse(v)))
        return v
      case None => ()
    }
    // ledger and header-delta both missed.  Before treating a leftover
    // data dir as a torn pre-publish write, one LAST guard: never
    // delete a dir ANY surviving manifest references.  The ledger can
    // miss a genuinely committed batch (a store written by a release
    // that predates '#batch' headers, or an id pruned past the ledger
    // tail) — and a compaction may have removed the dir's files from
    // the CURRENT manifest while older retained manifests (pinned
    // time-travel readers) still list them, so the guard must scan
    // every surviving version, newest-first.  This is the rare-path
    // cost (paid only when hint + header scan both missed AND the dir
    // exists), and it re-seeds the ledger so the next replay is one
    // read again.
    if (f.exists(dataDir)) {
      val marker = s"/data/${batchDirName(run, batchId)}/"
      val referencedAt = listVersions(f, root).reverse
        .find(v => files(spark, root, Some(v)).exists(_.contains(marker)))
      referencedAt match {
        case Some(v) =>
          writeLedger(spark, root, deltaIds + ((run, batchId) -> v),
            math.max(led.through, cur.getOrElse(v)))
          return v
        case None =>
          // torn pre-publish write: clear and redo
          f.delete(dataDir, true); ()
      }
    }
    cur.flatMap(v => schemaOf(spark, root, Some(v)))
      .foreach(stored => requireSameSchema(stored, df.schema, root))
    df.write.mode("errorifexists").parquet(dataDir.toString)
    val newFiles = listParquet(spark, dataDir)
    // optimistic-retry publish: with several ARMED streams sharing the
    // root, two micro-batches legitimately race for the same version
    // number — the loser must NOT kill its stream (the commitAppend
    // contract) but re-read the new current and publish on top.  The
    // data files are already written and (run, batchId) is uniquely
    // ours, so only the version race is retried; each loss means
    // another committer progressed, so the loop terminates.  Bounded
    // anyway: a pathological publisher should fail loudly, not spin.
    var next = -1L
    var attempts = 0
    while (next < 0) {
      attempts += 1
      val c2 = if (attempts == 1) cur else currentVersion(spark, root)
      if (attempts > 1) // another commit landed: re-gate the schema against it
        c2.flatMap(v => schemaOf(spark, root, Some(v)))
          .foreach(stored => requireSameSchema(stored, df.schema, root))
      val candidate = c2.map(_ + 1).getOrElse(0L)
      try {
        publish(spark, root, candidate, df.schema,
          c2.map(v => files(spark, root, Some(v))).getOrElse(Nil) ++ newFiles,
          batch = Some((run, batchId)))
        next = candidate
      } catch {
        case e: java.util.ConcurrentModificationException =>
          if (attempts >= 1000) { f.delete(dataDir, true); throw e }
      }
    }
    writeLedger(spark, root, deltaIds + ((run, batchId) -> next), next)
    next
  }

  // ledger format v2:
  //   "#through\t<version>"            headers scanned so far
  //   "#n\t<entryCount>"               torn-read guard (see below)
  //   "#floor\t<floor>[\t<run>]"       one per run; no run field = ""
  //   "<batchId>\t<version>[\t<run>]"  entry lines; no run field = ""
  // ~20 bytes/batch; rewritten whole per batch commit via the atomic
  // hint write — and BOUNDED to the most recent MaxLedgerEntries
  // batch ids PER RUN so the per-commit rewrite stays constant-size
  // over an unbounded stream (a year of minute-batches is ~525k
  // batches; an unbounded ledger would make every commit rewrite
  // megabytes).  Pruning is safe because Structured Streaming
  // re-delivers only batches at/after the checkpoint — the crash
  // window is ONE batch wide, and 10k retained ids give ~10k windows
  // of margin; ids below a run's floor are KNOWN COMMITTED (they were
  // ledgered, then aged out), so a below-floor replay is a no-op.
  // The "#n" count makes a ledger truncated at a line boundary (the
  // one torn shape that still parses) read as CORRUPT — a short read
  // with a healthy '#through' would otherwise claim entries that were
  // cut off, and if their manifests were already vacuumed the healing
  // scan could not recover them.
  // var ONLY so the spec can exercise the pruning/floor arms without
  // paying 10k real commits; production never writes it
  private[graft] var MaxLedgerEntries = 10000
  /** (entries, through, floors): `entries` maps (run, batchId) →
    * version (run "" = the unarmed namespace); `through` = highest
    * version whose headers are folded in; `floors(run)` = smallest
    * batchId of that run NOT pruned off the tail (ids below it were
    * once ledgered and then aged out — known committed, and vacuum
    * may reclaim their unreferenced dirs). */
  private final case class BatchLedger(entries: Map[(String, Long), Long], through: Long,
                                       floors: Map[String, Long]) {
    def floorOf(run: String): Long = floors.getOrElse(run, Long.MinValue)
  }
  private val EmptyLedger = BatchLedger(Map.empty, -1L, Map.empty)

  private def readLedger(f0: FileSystem, root: String): BatchLedger = {
    val f = rawFs(f0)
    val p = ledgerPath(root)
    if (!f.exists(p)) return EmptyLedger
    try {
      val in = f.open(p)
      val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .map(_.trim).filter(_.nonEmpty).toList finally in.close()
      val through = lines.collectFirst {
        case l if l.startsWith("#through\t") => l.stripPrefix("#through\t").toLong
      }.getOrElse(-1L)
      // legacy (v1) ledgers carried one optional "#run" naming THE
      // single writer; its bare "#floor" and 2-field entries belong to
      // that run under the v2 model
      val legacyRun = lines.collectFirst {
        case l if l.startsWith("#run\t") => l.stripPrefix("#run\t")
      }.filter(_.nonEmpty).getOrElse("")
      val floors = lines.filter(_.startsWith("#floor\t")).map { l =>
        val parts = l.stripPrefix("#floor\t").split('\t')
        (if (parts.length > 1) parts(1) else legacyRun) -> parts(0).toLong
      }.toMap
      val entryLines = lines.filterNot(_.startsWith("#"))
      // torn-read guard: a count that disagrees with the surviving
      // entry lines means a truncated rewrite — corrupt, fall back
      lines.collectFirst {
        case l if l.startsWith("#n\t") => l.stripPrefix("#n\t").toLong
      }.foreach(n => require(n == entryLines.size.toLong))
      val entries = entryLines.map { l =>
        val parts = l.split('\t')
        ((if (parts.length > 2) parts(2) else legacyRun) -> parts(0).toLong) -> parts(1).toLong
      }.toMap
      BatchLedger(entries, through, floors)
    } catch {
      case scala.util.control.NonFatal(_) => EmptyLedger
    } // corrupt hint: full header scan
  }

  /** Merge `addEntries`/`through`/`addFloors` into the on-disk ledger
    * and rewrite it, all under the per-root lock with a re-read inside
    * — two unsynchronized writers (a live stream's per-batch write and
    * vacuum's load-bearing fold) could otherwise interleave so the
    * stream's stale pre-fold read rewrites the ledger WITHOUT the
    * folded ids just as vacuum destroys the manifests that were their
    * only other record.  Merging (never replacing) means a stale
    * writer can only ADD what it knows, not drop what it missed.
    * Same-process only, like every per-root lock here; cross-process
    * ledger writers remain the documented single-streaming-writer-
    * per-run contract.
    *
    * BEST-EFFORT at the IO layer: the ledger is a hint (manifest
    * headers are truth — a lost write is healed by the next replay's
    * header scan); it is written after a durable publish, so an IO
    * failure must not fail the batch and kill the stream.  (vacuum's
    * fold, where the write IS load-bearing, verifies the result after
    * the call and aborts loudly.) */
  private[graft] def writeLedger(spark: SparkSession, root: String,
                                 addEntries: Map[(String, Long), Long], through: Long,
                                 addFloors: Map[String, Long] = Map.empty): Unit = {
    val f = fs(spark, root)
    lockFor(f, root).synchronized {
      val cur = readLedger(f, root)
      val entries = cur.entries ++ addEntries
      val thr = math.max(cur.through, through)
      var floors = (cur.floors.keySet ++ addFloors.keySet).map { r =>
        r -> math.max(cur.floorOf(r), addFloors.getOrElse(r, Long.MinValue))
      }.toMap
      // prune per run; the floor is monotonic: once ids age off the
      // tail, later writes must keep saying so even though the pruned
      // ids are no longer in the map to count
      val kept = entries.groupBy(_._1._1).flatMap { case (run, m) =>
        val sorted = m.toSeq.sortBy(_._1._2)
        val keptRun = sorted.takeRight(MaxLedgerEntries)
        if (keptRun.size < sorted.size)
          floors += run -> math.max(floors.getOrElse(run, Long.MinValue), keptRun.head._1._2)
        keptRun
      }.toSeq.sortBy(e => (e._1._1, e._1._2))
      val floorLines = floors.toSeq.sorted.map { case (run, fl) =>
        if (run.isEmpty) s"#floor\t$fl\n" else s"#floor\t$fl\t$run\n"
      }.mkString
      val body = s"#through\t$thr\n" + s"#n\t${kept.size}\n" + floorLines +
        kept.map { case ((run, b), v) =>
          if (run.isEmpty) s"$b\t$v" else s"$b\t$v\t$run"
        }.mkString("\n") + "\n"
      try writeHint(spark, root, ledgerPath(root), body)
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** Batch-id → version ledger entries of one run namespace
    * (spec/observability surface); run "" = unarmed. */
  private[graft] def batchLedger(spark: SparkSession, root: String,
                                 run: String = ""): Map[Long, Long] =
    readLedger(fs(spark, root), root).entries.collect {
      case ((r, b), v) if r == run => b -> v
    }

  /** Re-attribute the UNARMED namespace's committed batch history to
    * an armed run — the explicit upgrade/recovery tool for a root
    * whose batches were committed before run namespaces existed (or
    * by an unarmed `foreachBatch` that is now being armed).  Such
    * history is attributed to run "" by both the ledger and the
    * manifest `#batch` headers, so an ARMED replay of one of its
    * batch ids misses every classification arm and would RE-COMMIT
    * the batch — duplicate rows.  Auto-classification is impossible:
    * a header run of "" is indistinguishable from a legitimate
    * concurrent unarmed pipeline's commit (mixing unarmed and armed
    * writers on one root is supported), so the attribution decision
    * must be the operator's.  Call this ONCE, before resuming the
    * stream armed, and only when the root's unarmed batch history IS
    * this stream's pre-arming history (no coexisting genuinely-unarmed
    * pipeline — its batches would be claimed as `runId`'s and their
    * armed-namespace replays dropped).
    *
    * Folds the union of the current ledger's unarmed entries and every
    * surviving manifest's unarmed `#batch` header into the ledger
    * under `runId` (the "" records stay — the unarmed namespace's own
    * replay classification is untouched), carries the unarmed prune
    * floor over to the run, and verifies the write landed (load-
    * bearing, like vacuum's fold — not a best-effort hint).  Ids that
    * aged below a LOST ledger's floor and whose manifests were already
    * vacuumed are unrecoverable here: that is a double loss, outside
    * the single-loss healing contract.
    *
    * @return the number of batch ids attributed to `runId` */
  def adoptUnarmedHistory(spark: SparkSession, root: String, runId: String): Int = {
    require(runId.nonEmpty, "adoptUnarmedHistory attributes history TO an armed run — " +
      "pass the stream's runId")
    require(!runId.exists(c => c == '\t' || c == '\n' || c == '\r'),
      "runId must not contain tab/newline (ledger wire format)")
    val f = fs(spark, root)
    // the WHOLE read-union-write-verify sequence holds the per-root
    // lock (reentrant with writeLedger's own hold): without it, an
    // in-process unarmed committer landing a '' entry between the
    // read and the write would be preserved but NOT attributed to
    // runId — silently requiring a re-run the caller has no way to
    // know about.  Cross-process adoption remains governed by the
    // documented stream-down contract (a JVM monitor cannot fence
    // another process), same as every merge-under-lock ledger write.
    lockFor(f, root).synchronized {
      val led = readLedger(f, root)
      // headers are truth; the ledger may hold ids whose manifests were
      // already vacuumed (its entries outlive the fold) — union both
      val headerIds: Map[(String, Long), Long] = listVersions(f, root)
        .flatMap(v => headerBatchOf(spark, root, v).map(_ -> v)).toMap
      val unarmed = (headerIds ++ led.entries).collect { case (("", b), v) => b -> v }
      val adopted: Map[(String, Long), Long] = unarmed.map { case (b, v) => (runId, b) -> v }
      val thr = math.max(led.through, currentVersion(spark, root).getOrElse(-1L))
      val unarmedFloor = led.floorOf("")
      writeLedger(spark, root, adopted ++ headerIds, thr,
        addFloors = if (unarmedFloor == Long.MinValue) Map.empty
                    else Map(runId -> unarmedFloor))
      val after = readLedger(f, root)
      val lost = adopted.keySet.filterNot { case (r, b) =>
        after.entries.contains((r, b)) || b < after.floorOf(r)
      }
      require(lost.isEmpty,
        s"adoptUnarmedHistory: could not persist adopted batch ids $lost under $root — " +
          "retry when the ledger is writable")
      adopted.size
    }
  }

  /** Delete data files referenced by NO manifest among the newest
    * `keepVersions`, then drop the older manifests, then sweep
    * crash-orphaned data dirs (a committer that died between its data
    * write and its publish, before its own cleanup ran) that no
    * surviving manifest references: versioned dirs older than the
    * oldest retained manifest, and batch dirs whose id the ledger
    * already maps to a version (committed, files since compacted
    * away).  An UNLEDGERED batch dir is never touched — it may be the
    * live stream's in-flight write.  Returns the deleted file paths.
    * Run it only when every reader has moved past the dropped
    * versions and no committer is mid-flight on a version at or below
    * them — the standard retention contract. */
  def vacuum(spark: SparkSession, root: String, keepVersions: Int = 2): Seq[String] = {
    require(keepVersions >= 1, "must keep at least the current version")
    val f = fs(spark, root)
    val all = listVersions(f, root)
    if (all.isEmpty) return Nil
    val keep = all.takeRight(keepVersions)
    val keepFiles = keep.flatMap(v => files(spark, root, Some(v))).toSet
    val dropVs = all.dropRight(keepVersions)
    // BEFORE dropping manifests, fold their '#batch' headers into the
    // ledger: the headers are the durable replay truth, and this is
    // the moment they would otherwise be destroyed.  Without the fold,
    // a lost ledger hint + a vacuum past a batch's manifest + a replay
    // of that batch would re-commit it (duplicate rows); with it, the
    // replay-window contract survives any SINGLE loss — headers heal a
    // lost ledger, the ledger heals dropped headers.
    val led0 = readLedger(f, root)
    val folded = dropVs.flatMap(v => headerBatchOf(spark, root, v).map(_ -> v)).toMap
    if (folded.exists { case (rb, _) => !led0.entries.contains(rb) }) {
      writeLedger(spark, root, folded, led0.through)
      // the fold is LOAD-BEARING here, not a hint: the manifests about
      // to be dropped are the only other record of these batch ids, so
      // a swallowed hint-write failure would silently destroy the
      // replay truth.  Verify the ids landed (or were legitimately
      // pruned below the new floor) and abort the vacuum BEFORE any
      // manifest is deleted otherwise — the caller retries later.
      // (writeLedger itself re-reads and MERGES under the per-root
      // lock, so a live stream's concurrent per-batch write can no
      // longer rewrite the ledger without these ids — it can only add
      // its own.)
      val after = readLedger(f, root)
      val lost = folded.keySet.filterNot { case (run, b) =>
        after.entries.contains((run, b)) || b < after.floorOf(run)
      }
      require(lost.isEmpty,
        s"vacuum aborted: could not fold batch ids $lost of the to-be-dropped manifests " +
          s"into the ledger under $root — retry when the ledger is writable")
    }
    val dropFiles = dropVs.flatMap(v => files(spark, root, Some(v))).distinct
      .filterNot(keepFiles.contains)
    dropFiles.foreach(p => f.delete(new Path(p), false))
    dropVs.foreach(v => f.delete(manifestPath(root, v), false))
    // orphan sweep: data dirs referenced by no surviving manifest.
    // A batch dir is reclaimable when its id is LEDGERED (committed,
    // files since compacted away) or BELOW THE LEDGER FLOOR (was
    // ledgered, then aged off the bounded tail — an in-flight write's
    // id is always >= the newest ledgered id, so never below the
    // floor); an unledgered-above-floor batch dir may be the live
    // stream's in-flight write and is never touched.
    val dataRoot = new Path(root, "data")
    val ledAfter = readLedger(f, root)
    // dir tags → run names the ledger knows (entries + floors); a tag
    // resolving to NO known run may be a brand-new live stream's
    // in-flight write and is never touched
    val knownRuns = ledAfter.entries.keySet.map(_._1) ++ ledAfter.floors.keySet
    val runByTag: Map[String, String] = knownRuns.map(r => runTag(r) -> r).toMap
    val oldestKept = keep.head
    val orphanDirs =
      if (!f.exists(dataRoot)) Nil
      else f.listStatus(dataRoot).toSeq.filter(_.isDirectory).map(_.getPath).filter { d =>
        val referenced = keepFiles.exists(_.startsWith(d.toString + "/"))
        val name = d.getName
        !referenced && (parseBatchDirName(name) match {
          case Some((id, tag)) =>
            runByTag.get(tag).exists(run =>
              ledAfter.entries.contains((run, id)) || id < ledAfter.floorOf(run))
          case None if name.startsWith("v") =>
            name.stripPrefix("v").takeWhile(_.isDigit).toLongOption.exists(_ < oldestKept)
          case None => false
        })
      }
    orphanDirs.foreach(d => f.delete(d, true))
    // sweep stale publish/hint debris (a committer that died between
    // create and rename, a failed hint write).  Age-gated a full hour
    // so a CONCURRENT publisher's in-flight .tmp is never pulled out
    // from under its rename.
    val cutoff = System.currentTimeMillis() - 3600L * 1000
    // staged-append dirs ([[stageAppend]]) are by definition
    // uncommitted — referenced by no manifest ever — so an old one is
    // a crashed stager's debris.  Same age gate: a LIVE stager's
    // in-flight write (or a handle awaiting commitStaged) is recent.
    if (f.exists(dataRoot))
      f.listStatus(dataRoot).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("staged-") &&
          s.getModificationTime < cutoff)
        .foreach(s => f.delete(s.getPath, true))
    val mdir = manifestDir(root)
    if (f.exists(mdir))
      f.listStatus(mdir).toSeq
        .filter { s =>
          val n = s.getPath.getName
          (n.startsWith(".hint-") || n.startsWith(".tmp-")) &&
            s.getModificationTime < cutoff
        }
        .foreach(s => f.delete(s.getPath, false))
    dropFiles
  }

  private def listParquet(spark: SparkSession, dir: Path): Seq[String] = {
    val f = fs(spark, dir.toString)
    f.listStatus(dir).toSeq.map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted
  }

  private[graft] def publish(spark: SparkSession, root: String, version: Long,
                             schema: StructType, fileList: Seq[String],
                             batch: Option[(String, Long)] = None): Unit = {
    val f = fs(spark, root)
    f.mkdirs(manifestDir(root))
    val tmp = new Path(manifestDir(root),
      s".tmp-$version-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = f.create(tmp, false)
    val headers = SchemaHeader + schema.json + "\n" +
      batch.map { case (run, b) =>
        BatchHeader + b + (if (run.isEmpty) "" else "\t" + run) + "\n"
      }.getOrElse("")
    try out.write((headers + fileList.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    val target = manifestPath(root, version)
    // FileContext.rename with no OVERWRITE option REFUSES an existing
    // target — server-side-atomic on HDFS; on the LOCAL fs it is an
    // exists check + rename(2), so the per-root JVM lock closes the
    // same-process TOCTOU window (cross-process local races remain
    // the fs's caveat, like bare S3's)
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      target.toUri, hadoopConf(spark))
    lockFor(f, root).synchronized {
      try fc.rename(tmp, target)
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException |
             _: java.nio.file.FileAlreadyExistsException |
             _: org.apache.hadoop.fs.ParentNotDirectoryException =>
          f.delete(tmp, false)
          throw new java.util.ConcurrentModificationException(
            s"version $version was committed concurrently under $root — re-read and retry")
      }
      // refresh the O(1)-discovery pointer.  BEST-EFFORT by contract:
      // the rename above already committed the version durably, so a
      // hint failure here (disk pressure, permissions on the .hint
      // tmp) must not surface as a failed commit — a caller that
      // retried a "failed" append would double-commit the same rows.
      // A lost hint only costs the next reader one listing.
      try writeHint(spark, root, pointerPath(root), version.toString + "\n")
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }
}
