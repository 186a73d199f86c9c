package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Parquet schema memo behind every corpus read (`EzFrame.readParquet`
  * and the events reader): a bare `spark.read.parquet(path)` pays a
  * driver-side footer read for schema inference (plus merging when the
  * path has several files) — ~50–150 ms of single-threaded driver work.
  * A suite that constructs hundreds of queries over a handful of corpus
  * tables repays that per QUERY; at production scale a catalog would
  * hold the schema.  METADATA only (the StructType, never rows);
  * StructField metadata (units, ez_header, …) rides inside the memoized
  * StructType unchanged, and the user-specified-schema read path
  * preserves it.
  *
  * Keyed on (qualified path, mtime, byte length) so a rewritten file
  * re-infers, plus the values of the session confs schema inference
  * reads, so sessions that read the same file differently (the events
  * reader's nanos-as-long session, a binary-as-string session) never
  * share an entry.  A directory's mtime moves when a direct child is
  * added or removed, NOT when a file inside a nested partition subdir
  * is rewritten in place: the memo assumes corpus tables are replaced
  * whole, never edited below the top level. */
object ParquetSchemaMemo {

  /** Every conf `ParquetFileFormat.mergeSchemasInParallel` hands the
    * Parquet→Spark schema converter (Spark 4.1), plus the two that pick
    * which footers a directory read merges. */
  private val inferenceConfs = Seq(
    SQLConf.PARQUET_BINARY_AS_STRING,
    SQLConf.PARQUET_INT96_AS_TIMESTAMP,
    SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
    SQLConf.LEGACY_PARQUET_NANOS_AS_LONG,
    SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION,
    SQLConf.PARQUET_SCHEMA_MERGING_ENABLED,
    SQLConf.PARQUET_SCHEMA_RESPECT_SUMMARIES).map(_.key)

  /** Entry cap: a full memo is cleared, then refilled by the next reads. */
  private val MaxEntries = 256

  private val memo = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long, Seq[String]), StructType]()

  /** `spark.read.parquet(path)`, with the inferred schema memoized. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val key = try {
      val p = new org.apache.hadoop.fs.Path(path)
      // sparkContext conf, NOT sessionState.newHadoopConf(): the latter
      // clones the whole Spark conf per call (~tens of ms — the exact
      // cost this memo exists to avoid paying per query)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val st = fs.getFileStatus(p)
      Some((fs.makeQualified(p).toString, st.getModificationTime, st.getLen,
        inferenceConfs.map(spark.conf.get)))
    } catch { case scala.util.control.NonFatal(_) => None }
    key match {
      case Some(k) =>
        val cached = memo.get(k)
        if (cached != null) spark.read.schema(cached).parquet(path)
        else {
          val fresh = spark.read.parquet(path)
          if (memo.size >= MaxEntries) memo.clear()
          memo.put(k, fresh.schema)
          fresh
        }
      case None => spark.read.parquet(path) // unsizable path: no memo
    }
  }
}
