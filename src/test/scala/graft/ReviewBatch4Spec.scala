package graft

import org.apache.spark.sql.functions._
import graft.core.EzFrame
import graft.functions.MinHash

/** Regressions for the fourth adversarial operator-review batch:
  * null≡NaN consistency of the NumpyExpr classification trio, clip NaN
  * propagation, literal-decimals round, stack default scope, join/rename
  * name-collision loudness, sorted-intersect contract. */
class ReviewBatch4Spec extends SparkSpec {
  import spark.implicits._

  private lazy val nanDf = Seq(
    (1L, Option(1.5)), (2L, Option(Double.NaN)), (3L, None: Option[Double]))
    .toDF("i", "v")
  private lazy val ez = EzFrame(nanDf)

  test("isnan/isfinite/isinf treat null as NaN and return genuine booleans") {
    // null stands for a domain-error NaN (SURVEY §7.1.1): isnan(null)
    // must be TRUE, and ~isfinite(null) must KEEP the row (a null
    // boolean would silently drop it from the filter)
    assert(ez.where("isnan(v)").count() == 2)       // NaN + null
    assert(ez.where("isfinite(v)").count() == 1)    // only 1.5
    assert(ez.where("~isfinite(v)").count() == 2)   // negation stays genuine
    assert(ez.where("isinf(v)").count() == 0)
    assert(ez.where("~isinf(v)").count() == 3)
    val inf = EzFrame(Seq(Double.PositiveInfinity, 1.0).toDF("v"))
    assert(inf.where("isinf(v)").count() == 1)
    assert(inf.where("isfinite(v)").count() == 1)
  }

  test("driver smoke contract: SparkEntry.entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("isnan/isinf/isfinite partition every value exactly (property)") {
    // the classification trio must be a PARTITION under the null≡NaN
    // convention: for every double (incl. null, NaN, ±inf) exactly one
    // of {isnan, isinf, isfinite} holds — so filters and their
    // negations tile the corpus with no dropped rows
    val rnd = new scala.util.Random(11)
    val vals: Seq[Option[Double]] =
      Seq(None, Some(Double.NaN), Some(Double.PositiveInfinity),
        Some(Double.NegativeInfinity), Some(0.0), Some(-0.0)) ++
        Seq.fill(50)(Some(rnd.nextDouble() * 1e12 - 5e11))
    val df = vals.toDF("v")
    val e = EzFrame(df)
    val n = df.count()
    val classes = Seq("isnan(v)", "isinf(v)", "isfinite(v)")
    assert(classes.map(c => e.where(c).count()).sum == n)
    // pairwise disjoint
    assert(e.where("isnan(v) & isinf(v)").count() == 0)
    assert(e.where("isnan(v) & isfinite(v)").count() == 0)
    assert(e.where("isinf(v) & isfinite(v)").count() == 0)
    // negation complements exactly (genuine booleans, no null leak)
    classes.foreach { c =>
      assert(e.where(c).count() + e.where(s"~$c").count() == n, s"negation leak in $c")
    }
  }

  test("clip propagates NaN/null instead of returning hi") {
    // Spark's least/greatest order NaN greatest, so the unguarded form
    // returned hi for a NaN input — numpy clip(NaN, 0, 1) is NaN
    val out = nanDf.select(ez.evalexpr("clip(v, 0, 1)").as("c"))
      .collect().map(r => if (r.isNullAt(0)) Double.NaN else r.getDouble(0))
    assert(out(0) == 1.0 && out(1).isNaN && out(2).isNaN)
    // int clip keeps an integral result type (no NaN branch widening)
    val ints = EzFrame(Seq(5L, -1L).toDF("k"))
    val dt = ints.df.select(ints.evalexpr("clip(k, 0, 3)")).schema.head.dataType
    assert(dt == org.apache.spark.sql.types.LongType)
  }

  test("round(x, decimals) with a literal scale; non-literal stays loud") {
    val df2 = Seq(1.23456, 2.5).toDF("x")
    val e = EzFrame(df2)
    val r = df2.select(e.evalexpr("round(x, 2)").cast("double")).collect().map(_.getDouble(0))
    assert(r.toSeq == Seq(1.23, 2.5))
    assert(df2.select(e.evalexpr("round(x)").cast("double")).collect()
      .map(_.getDouble(0)).toSeq == Seq(1.0, 2.0)) // half-to-even
    val err = intercept[IllegalArgumentException] { e.evalexpr("round(x, x)") }
    assert(err.getMessage.contains("literal"))
  }

  test("stack defaults fill only the missing side, not genuine nulls") {
    val a = EzFrame(Seq((1L, Option("real")), (2L, None: Option[String])).toDF("id", "tag"))
    val b = EzFrame(Seq((3L, 7.0)).toDF("id", "w"))
    val rows = a.stack(b, defaults = Map("tag" -> "NONE", "w" -> 0.0))
      .df.orderBy("id").collect()
    assert(rows(0).getAs[String]("tag") == "real" && rows(0).getAs[Double]("w") == 0.0)
    // id=2's tag is a GENUINE null in a column both sides have after
    // the fill — stack_arrays keeps it; the old whole-union na.fill
    // overwrote it with "NONE"
    assert(rows(1).isNullAt(rows(1).fieldIndex("tag")))
    assert(rows(2).getAs[String]("tag") == "NONE" && rows(2).getAs[Double]("w") == 7.0)
  }

  test("join refuses a frame carrying the reserved internal key column") {
    val l = EzFrame(Seq((1L, 2L)).toDF("k", "_graft_join_key"))
    val r = EzFrame(Seq((1L, 3L)).toDF("k", "v"))
    val e = intercept[IllegalArgumentException] { l.join(r, on = "k") }
    assert(e.getMessage.contains("reserved"))
  }

  test("rename onto an existing column fails loudly instead of duplicating") {
    val f = EzFrame(Seq((1L, 2L)).toDF("a", "b"))
    val e = intercept[IllegalArgumentException] { f.rename("a" -> "b") }
    assert(e.getMessage.contains("already exists"))
    assert(f.rename("a" -> "a").columns == Seq("a", "b")) // self-rename is a no-op
  }

  test("deg2hms/deg2dms render out-of-range fields faithfully (no lpad truncation)") {
    import graft.functions.Astro
    val df = Seq(123.508333333, -100.5, 15.5).toDF("deg")
    val dms = df.select(Astro.deg2dms(col("deg")).as("s")).collect().map(_.getString(0))
    // lpad truncated "123" to "12" — a silently wrong coordinate; the
    // contract is faithful rendering of the given angle
    assert(dms(0).startsWith("+123:"))
    assert(dms(1).startsWith("-100:"))
    assert(dms(2) == "+15:30:00.00")
    val hms = Seq(1500.0).toDF("deg")
      .select(Astro.deg2hms(col("deg")).as("s")).head().getString(0)
    assert(hms.startsWith("100:")) // 1500° = 100 h, kept intact
    // in-range values keep the 2-digit zero pad (q41's pinned shape)
    val pad = Seq(7.5).toDF("deg").select(Astro.deg2hms(col("deg"))).head().getString(0)
    assert(pad == "00:30:00.00")
  }

  test("ang2pix fails loudly on NaN or out-of-range latitude") {
    import graft.functions.Healpix
    val e = intercept[Exception] {
      Seq((0.0, Double.NaN)).toDF("ra", "dec")
        .select(Healpix.ang2pix(4, col("ra"), col("dec"))).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .map(x => String.valueOf(x.getMessage)).toSeq
    assert(messages(e).exists(_.contains("non-NaN")))
    val e2 = intercept[Exception] {
      Seq((0.0, 95.0)).toDF("ra", "dec")
        .select(Healpix.ang2pix(4, col("ra"), col("dec"))).collect()
    }
    assert(messages(e2).exists(_.contains("[-90, 90]")))
    // poles and wrap-around longitudes stay valid
    val ok = Seq((720.5, 90.0), (-10.0, -90.0)).toDF("ra", "dec")
      .select(Healpix.ang2pix(4, col("ra"), col("dec"))).collect()
    assert(ok.length == 2)
  }

  test("Plotter.groupby renders the null group's facet (null-safe filter)") {
    val ez = EzFrame(Seq((Option("a"), 1.0), (None, 2.0), (None, 3.0))
      .toDF("g", "v"))
    val facets = new graft.plot.Plotter(ez).groupby("g").hist("v", bins = 2)
    // distinct() keeps the null group; with `===` its facet silently
    // rendered empty (pivotPlot already used <=> — groupby had missed it)
    val nullFacet = facets.facets.find(_._1 == "g=null").get._2
    assert(nullFacet.data.map(r => r("count").asInstanceOf[Long]).sum == 2L)
  }

  test("colorify maps NaN to null, not the vmax anchor") {
    import graft.functions.Colors
    val df = Seq(Option(0.0), Option(Double.NaN), None, Option(10.0)).toDF("v")
    val out = df.select(Colors.colorify(col("v"), lit(0.0), lit(10.0)).as("c")).collect()
    assert(!out(0).isNullAt(0) && !out(3).isNullAt(0))
    // NaN painted as vmax would silently plot undefined values as hot
    assert(out(1).isNullAt(0) && out(2).isNullAt(0))
  }

  test("DSArtist opens on a constant column (padded home viewport)") {
    // batch 3 made Axis fail loudly on degenerate ranges; a session
    // opened on constant data must pad its DATA-DERIVED home extent
    // (like Plotter.hist) and render one hot pixel, not throw
    val ez = EzFrame(Seq((5.0, 1.0), (5.0, 2.0), (5.0, 3.0)).toDF("cx", "y"))
    val art = graft.plot.DSArtist(new graft.plot.Plotter(ez), "cx", "y",
      widthPx = 4, heightPx = 4)
    val f = art.frame()
    assert(f.data.map(r => r("value").asInstanceOf[Long]).sum == 3L)
    // zoom/pan still compose on the padded viewport
    assert(art.zoom(2.0).pan(0.25, 0.0).frame().data.nonEmpty)
  }

  test("ivfTopK excludes zero-norm corpus vectors from ranking (NaN guard)") {
    import graft.operators.Similarity
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 0.0f)), // zero-norm: cosine NaN — must never rank
      (4L, Array(0.0f, 1.0f))).toDF("id", "vec")
    val cents = Seq((10L, Array(1.0f, 0.0f)), (11L, Array(0.0f, 1.0f))).toDF("id", "vec")
    val probes = Seq((1L, Array(1.0f, 0.0f))).toDF("id", "vec")
    val out = Similarity.ivfTopK(corpus, cents, probes, "id", "vec", k = 3, nprobe = 2)
      .collect()
    // NaN sorted greatest would have put id=3 at rank 1
    assert(!out.exists(_.getAs[Long]("corpus_id") == 3L))
    assert(out.find(_.getAs[Int]("rank") == 1).get.getAs[Long]("corpus_id") == 2L)
  }

  test("ECSV/VOTable readers fail loudly on malformed headers") {
    import graft.sources.{Ecsv, VoTable}
    def tmp(content: String): String = {
      val f = tempFile("graft_bad", ".txt")
      java.nio.file.Files.write(f, content.getBytes("UTF-8"))
      f.toString
    }
    // not an ECSV file at all
    val e1 = intercept[IllegalArgumentException] {
      Ecsv.readHeader(tmp("a,b\n1,2\n"))
    }
    assert(e1.getMessage.contains("not an ECSV"))
    // datatype entry without a name used to die as a cryptic
    // NoSuchElementException("key not found: name")
    val e2 = intercept[IllegalArgumentException] {
      Ecsv.readHeader(tmp("# %ECSV 1.0\n# ---\n# datatype:\n# - {datatype: int64}\n# ---\na\n1\n"))
    }
    assert(e2.getMessage.contains("no 'name'"))
    // malformed XML is a loud parse error, not an empty frame
    intercept[Exception] { VoTable.read(spark, tmp("<VOTABLE><RESOURCE>")) }
  }

  test("span_cut rejects non-positive positions (1-based contract)") {
    val df = Seq(("abcdefghij", Array(0L, 5L))).toDF("t", "pos")
    val e = intercept[Exception] {
      df.select(graft.functions.SpanCut.cutSpans(col("t"), col("pos"), 3)).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .map(x => String.valueOf(x.getMessage)).toSeq
    assert(messages(e).exists(_.contains("1-based")))
  }

  test("sorted_intersect_count fails loudly on unsorted input") {
    val ok = Seq((Array(1L, 3L, 9L), Array(3L, 9L, 11L))).toDF("a", "b")
      .select(MinHash.intersectCount(col("a"), col("b"))).head().getLong(0)
    assert(ok == 2L)
    val bad = Seq((Array(3L, 1L, 9L), Array(1L, 9L))).toDF("a", "b")
    val e = intercept[Exception] {
      bad.select(MinHash.intersectCount(col("a"), col("b"))).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .map(x => String.valueOf(x.getMessage)).toSeq
    assert(messages(e).exists(_.contains("sorted ascending")))
  }
}
