package graft

import org.apache.spark.sql.functions._
import graft.core.EzFrame

/** The reference carries its correctness in docstring examples
  * (SURVEY.md §5 — it has no test suite).  This spec reproduces those
  * documented examples verbatim against this engine.
  */
class DocExamplesSpec extends SparkSpec {
  import spark.implicits._

  test("DictDataFrame.join docstring example (ezdata/dictdataframe.py:696-702)") {
    // df  = {'x': range(10), 'y': [v**2 for v in range(10)]}
    // df2 = {'x': range(4), 'z': [v**3 for v in range(4)]}
    // df.join('x', df2, 'x', columns_other=['z']) -> left outer, missing z masked
    val df = EzFrame((0L until 10L).map(x => (x, x * x)).toDF("x", "y"))
    val df2 = EzFrame((0L until 4L).map(x => (x, x * x * x)).toDF("x", "z"))
    val j = df.join(df2, on = "x", how = "left_outer")
    assert(j.count() == 10)
    val zs = j.df.orderBy("x_l").select("z").collect().map(r => Option(r.get(0)))
    assert(zs.take(4).flatten.map(_.asInstanceOf[Long]).toSeq == Seq(0L, 1L, 8L, 27L))
    assert(zs.drop(4).forall(_.isEmpty)) // reference: NaN/masked; engine: null
  }

  test("simpletable module docstring query (ezdata/simpletable.py:19-33)") {
    // t = SimpleTable('data'); t.selectWhere('*', '(M_ini < 2) & (logTe > 3.7)')
    val t = EzFrame(Seq(
      (1.0, 3.80, 2.1), (1.5, 3.65, 1.2), (2.5, 3.85, 2.8), (0.8, 3.75, 0.9))
      .toDF("M_ini", "logTe", "logL"))
    val q = t.selectWhere("*", "(M_ini < 2) & (logTe > 3.7)")
    assert(q.count() == 2)
    assert(q.columns == Seq("M_ini", "logTe", "logL"))
  }

  test("ECSV docstring example (ezdata/ecsv.py:32-41)") {
    val path = tempFile("doc_ecsv", ".ecsv").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      """# %ECSV 1.0
        |# ---
        |# datatype:
        |# - {name: a, unit: m / s, datatype: int64, format: '%03d'}
        |# - {name: b, unit: km, datatype: int64, description: This is column b}
        |a,b
        |1,2
        |4,3
        |""".stripMargin)
    val ez = graft.sources.Ecsv.read(spark, path)
    assert(ez.count() == 2)
    assert(ez.meta.units == Map("a" -> "m / s", "b" -> "km"))
    assert(ez.meta.comments("b") == "This is column b")
    assert(ez.df.agg(sum("a")).head().getLong(0) == 5L)
  }
}
