package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.immutable.ListMap
import graft.core.{EzFrame, EzMeta}

/** ECSV (Enhanced CSV): YAML header with explicit per-column
  * `datatype` (+ optional `subtype` for array cells), then a plain CSV
  * with a header row (ezdata/ecsv.py:81–117 read_header, 119–172 read,
  * 175–232 write).
  *
  * The YAML subset actually emitted by the reference is a `datatype:`
  * list of flow mappings — parsed here with a contained flow-mapping
  * parser (no YAML dependency exists in the offline environment).
  * Array-typed cells arrive as JSON-ish strings (`"[1.0, null]"`) and
  * are decoded distributed via `from_json` (null → null element,
  * matching the reference's masked values, ecsv.py:68–77).
  */
object Ecsv {

  final case class ColSpec(name: String, datatype: String, unit: Option[String],
                           description: Option[String], subtype: Option[String])

  private[sources] def sparkType(datatype: String): DataType = datatype match {
    case "int8" => ByteType
    case "int16" => ShortType
    case "int32" | "uint8" | "uint16" => IntegerType
    case "int64" | "uint32" | "uint64" => LongType
    case "float32" => FloatType
    case "float64" | "float128" => DoubleType
    case "bool" => BooleanType
    case "string" | "str" => StringType
    case other => throw new IllegalArgumentException(s"unsupported ECSV datatype '$other'")
  }

  private[sources] def ecsvType(dt: DataType): String = dt match {
    case ByteType => "int8"
    case ShortType => "int16"
    case IntegerType => "int32"
    case LongType => "int64"
    case FloatType => "float32"
    case DoubleType => "float64"
    case BooleanType => "bool"
    case StringType => "string"
    case _: TimestampType => "string"
    case ArrayType(e, _) => "string" // array cells serialize as JSON strings
    case other => throw new IllegalArgumentException(s"cannot write $other to ECSV")
  }

  /** Parse a YAML flow mapping like `{name: a, unit: m / s, datatype: int64}`. */
  private[sources] def parseFlowMap(s: String): Map[String, String] = {
    val body = s.trim.stripPrefix("{").stripSuffix("}")
    // split on commas not inside quotes or brackets
    val parts = scala.collection.mutable.ListBuffer.empty[String]
    // quoteCh tracks WHICH character opened the span: a single flag
    // would let an apostrophe inside a double-quoted value flip the
    // state and swallow the following fields
    var depth = 0; var quoteCh: Char = 0; var cur = new StringBuilder
    body.foreach {
      case c @ ('\'' | '"') =>
        if (quoteCh == 0) quoteCh = c else if (quoteCh == c) quoteCh = 0
        cur += c
      case c @ ('[' | '{') if quoteCh == 0 => depth += 1; cur += c
      case c @ (']' | '}') if quoteCh == 0 => depth -= 1; cur += c
      case ',' if depth == 0 && quoteCh == 0 => parts += cur.toString; cur = new StringBuilder
      case c => cur += c
    }
    if (cur.nonEmpty) parts += cur.toString
    parts.flatMap { p =>
      p.split(":", 2) match {
        case Array(k, v) => Some(k.trim -> v.trim.stripPrefix("'").stripSuffix("'").stripPrefix("\"").stripSuffix("\""))
        case _ => None
      }
    }.toMap
  }

  final case class Header(cols: Seq[ColSpec], meta: ListMap[String, String], delimiter: String)

  /** Driver-side scan of the `# `-prefixed YAML header. */
  def readHeader(path: String): Header = {
    val src = scala.io.Source.fromFile(path)
    try {
      val lines = src.getLines().takeWhile(_.startsWith("#")).map(_.stripPrefix("#").drop(1)).toList
      require(lines.headOption.exists(_.contains("%ECSV")), s"$path is not an ECSV file")
      val cols = scala.collection.mutable.ListBuffer.empty[ColSpec]
      var meta = ListMap.empty[String, String]
      var delimiter = ","
      var section = ""
      lines.foreach { line =>
        val t = line.trim
        if (t == "datatype:") section = "datatype"
        else if (t == "meta:") section = "meta"
        else if (t.startsWith("delimiter:")) delimiter = t.drop(10).trim.stripPrefix("'").stripSuffix("'")
        else if (section == "datatype" && t.startsWith("- {")) {
          val m = parseFlowMap(t.stripPrefix("- "))
          require(m.contains("name"),
            s"$path: ECSV datatype entry has no 'name' field: $t")
          cols += ColSpec(m("name"), m.getOrElse("datatype", "string"),
            m.get("unit"), m.get("description"), m.get("subtype"))
        } else if (section == "meta" && t.contains(":") && !t.startsWith("-")) {
          val Array(k, v) = t.split(":", 2)
          meta += k.trim -> v.trim
        }
      }
      Header(cols.toSeq, meta, delimiter)
    } finally src.close()
  }

  /** Read an ECSV file: typed schema from the YAML header; array
    * subtypes decoded with `from_json` in the distributed plan. */
  def read(spark: SparkSession, path: String): EzFrame = {
    val h = readHeader(path)
    val scanSchema = StructType(h.cols.map { c =>
      StructField(c.name, if (c.subtype.isDefined) StringType else sparkType(c.datatype))
    })
    val base = spark.read
      .option("comment", "#")
      .option("header", "true")
      .option("delimiter", h.delimiter)
      .schema(scanSchema)
      .csv(path)
    val decoded = h.cols.foldLeft(base) { (df, c) =>
      c.subtype match {
        case Some(st) =>
          val elem = sparkType(st.takeWhile(_ != '['))
          df.withColumn(c.name, from_json(col(c.name), ArrayType(elem)))
        case None => df
      }
    }
    val meta = EzMeta(
      header = h.meta,
      units = h.cols.flatMap(c => c.unit.map(c.name -> _)).toMap,
      comments = h.cols.flatMap(c => c.description.map(c.name -> _)).toMap)
    EzFrame(CommentedCsv.withFieldMetadata(decoded, meta), meta)
  }

  /** Generate the YAML header block (ezdata/ecsv.py:175–211). */
  /** Quote a flow-map value when it carries YAML metacharacters —
    * astropy always quotes such values; leaving them raw would corrupt
    * the file's own round-trip (a comma truncates the value, a '}'
    * breaks depth tracking). */
  private def fmVal(v: String): String =
    if (v.exists(c => ",:{}[]'\"".contains(c)))
      "\"" + v.replace("\"", "") + "\"" // inner double-quotes dropped: the parser has no escape form
    else v

  def generateHeader(ez: EzFrame): String = {
    val sb = new StringBuilder
    sb.append("# %ECSV 1.0\n# ---\n# datatype:\n")
    ez.schema.fields.foreach { f =>
      val attrs = scala.collection.mutable.ListBuffer(s"name: ${fmVal(f.name)}")
      f.dataType match {
        case ArrayType(e, _) =>
          attrs += "datatype: string"
          attrs += s"subtype: ${ecsvType(e)}[null]"
        case dt => attrs += s"datatype: ${ecsvType(dt)}"
      }
      ez.meta.units.get(f.name).foreach(u => attrs += s"unit: ${fmVal(u)}")
      ez.meta.comments.get(f.name).foreach(d => attrs += s"description: ${fmVal(d)}")
      sb.append("# - {" + attrs.mkString(", ") + "}\n")
    }
    if (ez.meta.header.nonEmpty) {
      sb.append("# meta:\n")
      ez.meta.header.foreach { case (k, v) => sb.append(s"#   $k: $v\n") }
    }
    sb.toString
  }

  /** Write ECSV: array columns serialized to JSON strings distributed,
    * then single-file assembly through [[CommentedCsv.writeWithHeader]]. */
  def write(ez: EzFrame, path: String): Unit = {
    val serialized = ez.schema.fields.foldLeft(ez.df) { (df, f) =>
      f.dataType match {
        case _: ArrayType => df.withColumn(f.name, to_json(col(f.name)))
        case _ => df
      }
    }
    CommentedCsv.writeWithHeader(serialized, path, generateHeader(ez), "graft_ecsv",
      Map("header" -> "true", "nullValue" -> ""))
  }
}
