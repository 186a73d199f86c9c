package graft

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Row-level regression snapshots: a second check, beside the DuckDB
  * oracle, on the slots whose operators are easiest to break without
  * changing a row count — MinHash-LSH, SimHash, LSH-ANN, healpix
  * aggregation, multimodal metadata, verified dedup, embedding
  * near-dup, BPE merges.  14 of the 15 also have an oracle;
  * `q95d_jpeg_neardup` (lossy JPEG, no closed-form mirror) is the one
  * slot pinned here only.
  *
  * The pin catches such a change inside `sbt test`, without a Verify
  * run and a DuckDB install.  Each query runs on the
  * committed sf0.01 corpus and must reproduce the committed fixture
  * byte-for-byte after canonicalization (columns sorted by name, rows
  * sorted, floats rounded to 6 dp — the same discipline the driver's
  * hash gate applies to oracle-checked queries).
  *
  * To regenerate after an INTENTIONAL semantics change:
  * `GOLDEN_REGEN=1 sbt "testOnly graft.GoldenSnapshotSpec"` and commit
  * the diff under src/test/resources/golden/.
  */
class GoldenSnapshotSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.01"
  private val goldenDir = new File("src/test/resources/golden")
  private val regen = sys.env.contains("GOLDEN_REGEN")

  private def fmt(v: Any): String = v match {
    case null => "None"
    case d: java.lang.Double => "%.6f".format(math.rint(d * 1e6) / 1e6)
    case f: java.lang.Float  => "%.6f".format(math.rint(f.toDouble * 1e6) / 1e6)
    case b: Array[Byte]      => b.map("%02x".format(_)).mkString
    case s: scala.collection.Seq[_] => s.map(x => fmt(x)).mkString("[", ";", "]")
    case other => other.toString
  }

  /** Canonical text form: header of sorted column names, then each row
    * as |-joined formatted values, rows sorted lexicographically. */
  private def canonicalize(df: DataFrame): String = {
    val cols = df.columns.sorted.toSeq
    val proj = df.select(cols.map(col): _*)
    val rows = proj.collect().map(r => cols.indices.map(i => fmt(r.get(i))).mkString("|"))
    (cols.mkString("|") +: rows.sorted.toSeq).mkString("\n") + "\n"
  }

  private val snapshotQueries = Seq(
    "q26_minhash_lsh", "q27_simhash", "q28_ann_lsh", "q32_healpix_agg",
    "q34_multimodal", "q40_dedup_verified", "q49_embedding_neardup",
    "q59_stream_neardup", "q67_simhash_neardup", "q70_neardup_corpus",
    "q86_minhash_index", "q88_span_removal", "q90_bloom_prefilter",
    "q92_bpe_merges", "q95d_jpeg_neardup")

  for (name <- snapshotQueries) {
    test(s"$name matches its committed sf0.01 golden snapshot") {
      assume(new File(sfDir).isDirectory, s"$sfDir not present")
      val actual = canonicalize(SparkEntry.queries(name)(spark, sfDir))
      val fixture: Path = new File(goldenDir, s"$name.psv").toPath
      if (regen) {
        Files.createDirectories(fixture.getParent)
        Files.write(fixture, actual.getBytes(StandardCharsets.UTF_8))
        succeed
      } else {
        assert(Files.exists(fixture), s"missing fixture $fixture — run with GOLDEN_REGEN=1")
        val expected = new String(Files.readAllBytes(fixture), StandardCharsets.UTF_8)
        if (actual != expected) {
          val a = actual.split("\n"); val e = expected.split("\n")
          val firstDiff = a.zip(e).indexWhere { case (x, y) => x != y }
          fail(s"$name drifted from golden snapshot (rows: actual ${a.length - 1}, " +
            s"expected ${e.length - 1}; first differing line $firstDiff: " +
            s"actual='${a.lift(firstDiff).getOrElse("<eof>")}' " +
            s"expected='${e.lift(firstDiff).getOrElse("<eof>")}')")
        }
      }
    }
  }
}
