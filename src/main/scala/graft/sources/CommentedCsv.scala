package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.immutable.ListMap
import graft.core.{EzFrame, EzMeta}

/** The reference's commented-header ASCII convention
  * (ezdata/simpletable.py:412–547 `_ascii_read_header`, 729–789
  * `_ascii_generate_header`):
  *
  * {{{
  * # NAME\tmytable          table header key/value
  * ## colA\tunit\tdesc      column metadata
  * # alias\tnew=old         alias declarations
  * # colA colB              last comment line = column names
  * 1.0 2.0                  data
  * }}}
  *
  * Header scan is a bounded driver-side read of the file head (comment
  * lines only); the bulk parse is a normal distributed `spark.read.csv`
  * with the scanned schema applied — Catalyst still prunes/pushes into
  * the scan, and a multi-GB CSV parses across executors.
  */
object CommentedCsv {

  final case class Header(
      header: ListMap[String, String],
      units: Map[String, String],
      comments: Map[String, String],
      aliases: ListMap[String, String],
      colNames: Seq[String],
      nHeaderLines: Int)

  /** Read the leading comment block (driver-side; stops at first
    * non-comment line, so cost is O(header), not O(file)). */
  def scanHeader(path: String, commentChar: String = "#"): Header = {
    val src = scala.io.Source.fromFile(path)
    try {
      var header = ListMap.empty[String, String]
      var units = Map.empty[String, String]
      var comments = Map.empty[String, String]
      var aliases = ListMap.empty[String, String]
      var lastCommentLine: String = null
      var n = 0
      val it = src.getLines()
      var done = false
      while (it.hasNext && !done) {
        val line = it.next()
        if (line.startsWith(commentChar)) {
          n += 1
          if (line.startsWith(commentChar * 2)) {
            // ## name\tunit\tcomment
            val parts = line.drop(2).trim.split("\t")
            if (parts.length >= 1 && parts(0).nonEmpty) {
              val name = parts(0)
              if (parts.length >= 2 && parts(1) != "None" && parts(1).nonEmpty) units += name -> parts(1)
              if (parts.length >= 3 && parts(2) != "None" && parts(2).nonEmpty) comments += name -> parts(2)
            }
          } else {
            val body = line.drop(1).trim
            if (body.nonEmpty) {
              val parts = body.split("\t", 2)
              if (parts(0) == "alias" && parts.length == 2 && parts(1).contains("=")) {
                val Array(nw, old) = parts(1).split("=", 2)
                aliases += nw.trim -> old.trim
              } else if (parts.length == 2) {
                header += parts(0) -> parts(1)
              } else {
                lastCommentLine = body // candidate column-name line
              }
            }
          }
        } else done = true
      }
      val cols = Option(lastCommentLine).map(_.split("[ ,\t]+").toSeq).getOrElse(Seq.empty)
      Header(header, units, comments, aliases, cols, n)
    } finally src.close()
  }

  /** Read a commented-header CSV/TSV into an EzFrame.  Types are
    * schema-inferred by Spark's csv reader (the reference infers from
    * NumPy/pandas the same way). */
  def read(spark: SparkSession, path: String, delimiter: String = ","): EzFrame = {
    val h = scanHeader(path)
    val base = spark.read
      .option("comment", "#")
      .option("header", "false")
      .option("inferSchema", "true")
      .option("delimiter", delimiter)
      .option("nullValue", "")
      .csv(path)
    val named =
      if (h.colNames.length == base.columns.length)
        base.toDF(h.colNames: _*)
      else base
    val meta = EzMeta(header = h.header, aliases = h.aliases, units = h.units, comments = h.comments)
      .pruneFor(named.columns.toSeq)
    EzFrame(withFieldMetadata(named, meta), meta)
  }

  /** Tab-delimited variant (.tsv, ezdata/simpletable.py:1498–1522). */
  def readTsv(spark: SparkSession, path: String): EzFrame = read(spark, path, "\t")

  /** Whitespace-run-delimited variant (.dat/.txt — np.loadtxt
    * convention, ezdata/simpletable.py:1498–1522): the csv reader
    * cannot collapse space runs, so rows parse as a distributed text
    * scan + regex split, typed by a driver-side sample. */
  def readWhitespace(spark: SparkSession, path: String, sampleRows: Int = 100): EzFrame = {
    import org.apache.spark.sql.functions.{col, lit, split, trim, try_element_at}
    val h = scanHeader(path)
    val lines = spark.read.text(path)
      .filter(!col("value").startsWith("#") && trim(col("value")) =!= "")
    val parts = split(trim(col("value")), "\\s+")
    // infer column types from a bounded sample (long -> double -> string)
    val sample = lines.limit(sampleRows).collect().map(_.getString(0).trim.split("\\s+"))
    val nCols = sample.headOption.map(_.length)
      .getOrElse(throw new IllegalArgumentException(s"$path has no data rows"))
    def typeOf(i: Int): DataType = {
      val vals = sample.map(_.lift(i).getOrElse(""))
      if (vals.forall(v => scala.util.Try(v.toLong).isSuccess)) LongType
      else if (vals.forall(v => scala.util.Try(v.toDouble).isSuccess)) DoubleType
      else StringType
    }
    val names =
      if (h.colNames.length == nCols) h.colNames else (0 until nCols).map(i => s"_c$i")
    // try_element_at + try_cast: under Spark 4's default ANSI mode a
    // ragged row (fewer fields) or a stray non-numeric value past the
    // typing sample would otherwise kill the whole read — np.loadtxt
    // inputs are exactly the files where that happens
    val cols = (0 until nCols).map { i =>
      try_element_at(parts, lit(i + 1)).try_cast(typeOf(i)).as(names(i))
    }
    val df = lines.select(cols: _*)
    val meta = EzMeta(header = h.header, aliases = h.aliases, units = h.units, comments = h.comments)
      .pruneFor(df.columns.toSeq)
    EzFrame(withFieldMetadata(df, meta), meta)
  }

  /** Regenerate the commented header block
    * (ezdata/simpletable.py:729–789). */
  def generateHeader(ez: EzFrame, delimiter: String = ","): String = {
    val sb = new StringBuilder
    ez.meta.header.foreach { case (k, v) => sb.append(s"# $k\t$v\n") }
    if (ez.meta.units.nonEmpty || ez.meta.comments.nonEmpty) {
      sb.append("#\n")
      ez.columns.foreach { c =>
        val u = ez.meta.units.getOrElse(c, "None")
        val d = ez.meta.comments.getOrElse(c, "None")
        sb.append(s"## $c\t$u\t$d\n")
      }
    }
    if (ez.meta.aliases.nonEmpty) {
      sb.append("#\n")
      ez.meta.aliases.foreach { case (a, t) => sb.append(s"# alias\t$a=$t\n") }
    }
    // always space-joined: a tab-joined name line would be misread as a
    // header key/value pair by the scanner (reader splits on [ ,\t]+)
    sb.append("# " + ez.columns.mkString(" ") + "\n")
    sb.toString
  }

  /** Write a single commented-header CSV file. */
  def write(ez: EzFrame, path: String, delimiter: String = ","): Unit =
    writeWithHeader(ez.df, path, generateHeader(ez, delimiter), "graft_csv",
      Map("delimiter" -> delimiter, "nullValue" -> ""))

  /** Single-file CSV assembly: `df` is written distributed (one part,
    * `options` as CSV writer options) to a `stagingPrefix*` temp dir,
    * then `header` and the part file are streamed to `path` — the format
    * is inherently single-file, so the final concat is IO-bound, not
    * compute-bound.  The staging dir is removed whether or not the write
    * succeeds. */
  private[sources] def writeWithHeader(df: DataFrame, path: String, header: String,
                                       stagingPrefix: String,
                                       options: Map[String, String]): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory(stagingPrefix).toString
    try {
      df.coalesce(1).write.mode("overwrite").options(options).csv(tmp)
      val part = new java.io.File(tmp).listFiles().find(_.getName.startsWith("part-"))
        .getOrElse(throw new IllegalStateException(s"no part file written under $tmp"))
      val out = new java.io.BufferedOutputStream(new java.io.FileOutputStream(path))
      try {
        out.write(header.getBytes("UTF-8"))
        java.nio.file.Files.copy(part.toPath, out)
      } finally out.close()
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
  }

  /** LaTeX tabular emitter (ezdata/simpletable.py:792–844) — driver
    * side over a collected (small or limited) frame. */
  def toLatex(ez: EzFrame, maxRows: Int = 50): String = {
    val cols = ez.columns
    val rows = ez.df.limit(maxRows).collect()
    val sb = new StringBuilder
    sb.append("\\begin{tabular}{" + ("c" * cols.length) + "}\n\\hline\n")
    sb.append(cols.map(_.replace("_", "\\_")).mkString(" & ") + " \\\\\n")
    val unitsRow = cols.map(c => ez.meta.units.getOrElse(c, ""))
    if (unitsRow.exists(_.nonEmpty)) sb.append(unitsRow.mkString(" & ") + " \\\\\n")
    sb.append("\\hline\n")
    rows.foreach { r =>
      sb.append(cols.indices.map(i => Option(r.get(i)).map(_.toString).getOrElse("")).mkString(" & ") + " \\\\\n")
    }
    sb.append("\\hline\n\\end{tabular}\n")
    sb.toString
  }

  /** Stamp units/descriptions into StructField metadata so they survive
    * Catalyst transforms and Parquet round trips. */
  def withFieldMetadata(df: DataFrame, meta: EzMeta): DataFrame = {
    val cols = df.schema.fields.map { f =>
      val mb = new MetadataBuilder()
      meta.units.get(f.name).foreach(mb.putString("unit", _))
      meta.comments.get(f.name).foreach(mb.putString("description", _))
      val m = mb.build()
      if (m == Metadata.empty) col(f.name) else col(f.name).as(f.name, m)
    }
    df.select(cols.toSeq: _*)
  }
}
