package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.types.{BinaryType, StringType}
import graft.core.EzFrame

class ParquetSchemaMemoSpec extends SparkSpec {

  /** One un-annotated BINARY column, written by parquet-mr directly: no
    * Spark schema in the footer, so inference goes through the
    * Parquet→Spark converter and its binaryAsString input. */
  private def writeBinaryColumn(dir: java.io.File): String = {
    val schema = MessageTypeParser.parseMessageType("message m { required binary payload; }")
    val conf = spark.sparkContext.hadoopConfiguration
    val path = new Path(new java.io.File(dir, "payload.parquet").toURI)
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(path, conf))
      .withType(schema).withConf(conf).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("payload", "abc"))
    finally w.close()
    path.toString
  }

  test("a session reading binary as string is not served another session's memoized schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft_schema_memo").toFile
    try {
      val f = writeBinaryColumn(dir)
      assert(EzFrame.readParquet(spark, f).df.schema("payload").dataType == BinaryType)
      val asString = spark.newSession()
      asString.conf.set("spark.sql.parquet.binaryAsString", "true")
      val df = EzFrame.readParquet(asString, f).df
      assert(df.schema("payload").dataType == StringType)
      assert(df.collect().map(_.getString(0)).toSeq == Seq("abc"))
      // the shared session keeps its own entry
      assert(EzFrame.readParquet(spark, f).df.schema("payload").dataType == BinaryType)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }
}
