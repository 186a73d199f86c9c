package graft

import org.apache.spark.sql.functions._
import graft.core.EzFrame
import graft.plot.Plotter

class PlotterSpec extends SparkSpec {
  import spark.implicits._

  private lazy val df = Seq(
    (1.0, 10.0, "a"), (2.0, 20.0, "a"), (3.0, 30.0, "b"),
    (4.0, 40.0, "b"), (5.0, 50.0, "b"))
    .toDF("x", "y", "g")
  private lazy val p = Plotter(EzFrame(df))

  test("hist aggregates in cluster and emits binned bar data") {
    val spec = p.hist("x", bins = 5, range = Some((0.0, 5.0)))
    assert(spec.mark == "bar")
    assert(spec.data.length == 5)
    assert(spec.data.map(_("count").asInstanceOf[Long]).sum == 5L)
    val vl = spec.toVegaLite
    assert(vl.contains("\"mark\": \"bar\"") && vl.contains("vega-lite"))
  }

  test("toVegaLite emits parseable JSON even with quotes/NaN in data") {
    val spec = graft.plot.PlotSpec("point",
      Seq(Map[String, Any]("label" -> "say \"hi\"\\path", "v" -> Double.NaN, "w" -> 1.5)),
      Map("x" -> Map("field" -> "v", "type" -> "quantitative")))
    val vl = spec.toVegaLite
    // parse through Spark's JSON reader — throws on malformed JSON
    import spark.implicits._
    val parsed = spark.read.option("mode", "FAILFAST").json(Seq(vl).toDS)
    assert(!parsed.columns.isEmpty)
    assert(vl.contains("null")) // NaN serialized as null, not bare NaN
  }

  test("groupby facets with shared axes; nested groupby; group algebra") {
    val g = p.groupby("g")
    assert(g.size == 2)
    val f = g.hist("x", bins = 5)
    assert(f.facets.map(_._1) == Seq("g=a", "g=b"))
    // shared range: every facet has the same bins
    val counts = f.facets.map(_._2.data.map(_("count").asInstanceOf[Long]).sum)
    assert(counts == Seq(2L, 3L))
    assert((g + g).size == 4)
  }

  test("select builds one plotter per predicate") {
    val g = p.select("low" -> "x < 3", "high" -> "x >= 3")
    assert(g.items.map(_._2.ez.count()) == Seq(2L, 3L))
  }

  test("scatter respects the point budget") {
    val big = EzFrame(spark.range(100000).select(col("id").cast("double").as("x"),
      (col("id") * 2).cast("double").as("y")))
    val spec = new Plotter(big).scatter("x", "y", maxPoints = 500)
    assert(spec.data.length < 2500) // sampled, not collected wholesale
  }

  test("box computes percentile aggregates per variable") {
    val spec = p.box("x", "y")
    assert(spec.data.length == 2)
    val xrow = spec.data.find(_("variable") == "x").get
    assert(xrow("median").asInstanceOf[Double] == 3.0)
    assert(xrow("min").asInstanceOf[Double] == 1.0 && xrow("max").asInstanceOf[Double] == 5.0)
  }

  test("raster viewport re-aggregation") {
    val spec = p.raster("x", "y", 0.0, 5.0, 0.0, 50.0, widthPx = 5, heightPx = 5)
    assert(spec.data.nonEmpty)
    assert(spec.data.map(_("value").asInstanceOf[Long]).sum == 5L)
    val zoomed = p.raster("x", "y", 0.0, 2.5, 0.0, 25.0, 5, 5)
    assert(zoomed.data.map(_("value").asInstanceOf[Long]).sum == 2L)
  }

  test("lagplot pairs x with its lag") {
    val spec = p.lagplot("x", lag = 1, orderBy = "x")
    assert(spec.data.length == 4)
    assert(spec.data.head.contains("x_lag1"))
  }

  test("allAgainst melts every var against the key") {
    val specs = p.allAgainst("x")
    assert(specs.map(_._1).toSet == Set("y", "g"))
  }

  test("pairGrid builds the full panel matrix") {
    val grid = p.pairGrid(Seq("x", "y"), bins = 4)
    assert(grid.size == 4)
    val byKey = grid.toMap
    assert(byKey(("x", "x")).mark == "bar")   // diagonal: 1-D hist
    assert(byKey(("x", "y")).mark == "rect")  // off-diagonal: 2-D hist
  }

  test("corner: lower triangle + diagonal + quantile annotations") {
    val c = p.corner(Seq("x", "y"), bins = 4)
    assert(c.panels.map(_._1).toSet == Set(("x", "x"), ("x", "y"), ("y", "y")))
    val (p16, p50, p84) = c.quantiles("x")
    assert(p16 <= p50 && p50 <= p84)
    assert(p50 == 3.0)
  }

  test("hexbin: points near the same hex center share a cell, distant points don't") {
    val pts = Seq(
      (0.0, 0.0), (0.1, 0.05), (-0.1, -0.05), // cluster at origin
      (10.0, 10.0))                            // far away
      .toDF("x", "y")
    val h = graft.operators.Binned.hexbin(pts, col("x"), col("y"), size = 1.0, aspect = 1.0,
      Seq(count(lit(1)).as("n")))
    val cells = h.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(cells.values.sum == 4L)
    assert(cells((0L, 0L)) == 3L) // the origin cluster lands in cell (0,0)
    assert(cells.size == 2)
    val spec = p.hexbin("x", "y", size = 2.0)
    assert(spec.data.map(_("count").asInstanceOf[Long]).sum == 5L)
  }

  test("raster supports count_cat-style categorical aggregation") {
    val r = graft.operators.Binned.cube(df,
      Seq(graft.operators.Binned.Axis("px", col("x"), 0.0, 5.0, 2)),
      Seq(count(lit(1)).as("n")))
    assert(r.count() == 2)
    // categorical dimension = extra group key (ezdata count_cat)
    val rc = df.groupBy(
        graft.operators.Binned.Axis("px", col("x"), 0.0, 5.0, 2).bucket.as("px_bin"), col("g"))
      .count()
    assert(rc.count() == 2) // cells (0,a) and (1,b); x=5 upper edge joins bin 1
  }

  test("rasterCat pivots bounded categories and rejects high cardinality") {
    val rc = graft.operators.Binned.rasterCat(df, col("x"), col("y"),
      0.0, 5.0, 0.0, 50.0, 2, 2, col("g"))
    assert(rc.columns.toSet == Set("px_bin", "py_bin", "a", "b"))
    val big = spark.range(1000).selectExpr("cast(id as double) x", "cast(id as double) y", "id g")
    val err = intercept[IllegalArgumentException](
      graft.operators.Binned.rasterCat(big, col("x"), col("y"),
        0.0, 1000.0, 0.0, 1000.0, 2, 2, col("g"), maxCategories = 100))
    assert(err.getMessage.contains("maxCategories"))
  }

  test("groupby guards the driver against high-cardinality keys") {
    import org.apache.spark.sql.functions.expr
    val wide = spark.range(50).selectExpr("cast(id as double) as x",
      "cast(id as double) as y", "concat('g', id) as g")
    val pl = new graft.plot.Plotter(graft.core.EzFrame(wide))
    val ex = intercept[IllegalArgumentException] { pl.groupby("g", maxGroups = 10) }
    assert(ex.getMessage.contains("more than 10 groups"))
    assert(pl.groupby("g", maxGroups = 50).items.size == 50)
  }

  test("scatter sampling is one bounded job (TakeOrderedAndProject, no count)") {
    val big = spark.range(20000).selectExpr("cast(id as double) as x", "cast(id % 97 as double) as y")
    val pl = new graft.plot.Plotter(graft.core.EzFrame(big))
    val spec = pl.scatter("x", "y", maxPoints = 500)
    assert(spec.data.size == 500)
    // deterministic: same call, same sample
    assert(pl.scatter("x", "y", maxPoints = 500).data == spec.data)
  }

  test("violin aggregates a density curve per variable (never raw rows)") {
    val spec = p.violin(Seq("x", "y"), bins = 10)
    assert(spec.mark == "area")
    val byVar = spec.data.groupBy(_("variable"))
    assert(byVar.keySet == Set("x", "y"))
    // each curve integrates to ~1 (probability density over the extent)
    byVar.values.foreach { curve =>
      assert(curve.length == 10)
      val xs = curve.map(_("x").asInstanceOf[Double]).sorted
      val width = xs(1) - xs(0)
      val integral = curve.map(_("density").asInstanceOf[Double] * width).sum
      assert(math.abs(integral - 1.0) < 1e-6, s"density integral $integral")
    }
  }

  test("pivotPlot builds the 2-key facet grid with bounded cells") {
    val df2 = Seq(
      (1.0, "a", "u"), (2.0, "a", "v"), (3.0, "b", "u"), (4.0, "b", "v"), (5.0, "b", "v"))
      .toDF("x", "k1", "k2")
    val grid = Plotter(EzFrame(df2)).pivotPlot("k1", "k2",
      cell => cell.hist("x", bins = 4, range = Some((0.0, 6.0))))
    assert(grid.xKeys == Seq("a", "b") && grid.yKeys == Seq("u", "v"))
    assert(grid.cells.size == 4)
    // cell (b, v) holds rows x=4 and x=5 only
    val bv = grid.cells(("b", "v"))
    assert(bv.data.map(_("count").asInstanceOf[Long]).sum == 2L)
    // cardinality guard
    val big = spark.range(200).selectExpr("cast(id as double) x", "id % 20 k1", "id % 20 k2")
    val err = intercept[IllegalArgumentException](
      Plotter(EzFrame(big)).pivotPlot("k1", "k2", _.hist("x", 2), maxCells = 10))
    assert(err.getMessage.contains("maxCells"))
  }

  test("apply hooks hand the frame to an arbitrary function") {
    val n = p(_.count())
    assert(n == 5L)
    val perFacet = p.groupby("g")(_.count())
    assert(perFacet.toMap == Map("g=a" -> 2L, "g=b" -> 3L))
  }

  // ── SVG rendering tier ──────────────────────────────────────────
  // Golden-pinned byte-for-byte on real sf0.001 corpus aggregates:
  // the renderer is pure string assembly over deterministic data, so
  // any drift is a real behavior change.  Regen after an INTENTIONAL
  // change: GOLDEN_REGEN=1 sbt "testOnly graft.PlotterSpec".

  private def pinSvg(name: String, svg: String): Unit = {
    val dir = new java.io.File("src/test/resources/golden/svg")
    val f = new java.io.File(dir, s"$name.svg")
    if (sys.env.contains("GOLDEN_REGEN")) {
      dir.mkdirs()
      java.nio.file.Files.write(f.toPath, svg.getBytes("UTF-8")); ()
    } else {
      assert(f.exists, s"missing golden $f — run with GOLDEN_REGEN=1")
      val want = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      assert(svg == want, s"$name.svg drifted from its golden pin")
    }
  }

  private lazy val realDocs = EzFrame(
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))

  test("hist renders to the golden SVG (bars, axes, ticks)") {
    val svg = Plotter(realDocs).hist("n_chars", bins = 12).toSvg()
    assert(svg.startsWith("<svg") && svg.endsWith("</svg>"))
    assert(svg.sliding(5).count(_ == "<rect") >= 13, "12 bars + frame expected")
    assert(svg.contains("n_chars"))
    pinSvg("hist_n_chars", svg)
  }

  test("scatter renders to the golden SVG (point glyphs)") {
    val svg = Plotter(realDocs).scatter("n_chars", "doc_id", maxPoints = 200).toSvg()
    assert(svg.sliding(8).count(_ == "<circle ") >= 100, "sampled points expected")
    pinSvg("scatter_chars_id", svg)
  }

  test("corner renders the annotated triangle grid to the golden SVG") {
    val c = Plotter(realDocs).corner(Seq("n_chars", "doc_id"), bins = 8)
    val svg = c.toSvg()
    // 2 diagonal hists + 1 lower-triangle hist2d; annotated diagonals
    assert(svg.contains("+") && svg.contains("stroke-dasharray"),
      "percentile annotation lines expected")
    assert(svg.contains("n_chars =") && svg.contains("doc_id ="))
    pinSvg("corner_chars_id", svg)
  }

  test("facet overlay cycles styles deterministically and renders a legend") {
    val f = p.groupby("g").hist("x", bins = 5)
    assert(f.styles().map(_._2) == Seq(
      graft.plot.Theme.classic.styleFor(0), graft.plot.Theme.classic.styleFor(1)))
    assert(f.styles().map(_._2.color) == Seq("#1f77b4", "#ff7f0e"))
    val svg = f.toSvg()
    assert(svg.contains("g=a") && svg.contains("g=b"), "legend labels expected")
    assert(svg.contains("#1f77b4") && svg.contains("#ff7f0e"), "cycled colors expected")
    // the 11th facet wraps the palette; marker and dash cycle at 4/3
    val s10 = graft.plot.Theme.classic.styleFor(10)
    assert(s10.color == "#1f77b4" && s10.marker == "triangle" && s10.dash == "6,3")
  }

  test("DSArtist session re-aggregates per interaction; zoom/pan/reset transform the viewport") {
    val df2 = spark.range(1000).selectExpr(
      "cast(id % 100 as double) as px", "cast(id div 100 as double) as py")
    val sess = graft.plot.DSArtist(Plotter(EzFrame(df2)), "px", "py",
      widthPx = 10, heightPx = 10)
    val (hx0, hx1, hy0, hy1) = sess.viewport
    assert(hx0 == 0.0 && hx1 == 99.0 && hy0 == 0.0 && hy1 == 9.0)
    // frame() = one cluster aggregation bounded by the pixel grid
    val full = sess.frame()
    assert(full.mark == "rect" && full.data.length <= 100)
    assert(full.data.map(_("value").asInstanceOf[Long]).sum == 1000L)
    // zoom in 2x about the center: quarter the area, count shrinks
    val z = sess.zoom(2.0)
    val (zx0, zx1, zy0, zy1) = z.viewport
    assert(math.abs((zx1 - zx0) - (hx1 - hx0) / 2) < 1e-9)
    val zoomed = z.frame()
    assert(zoomed.data.map(_("value").asInstanceOf[Long]).sum < 1000L)
    // the zoomed frame IS the raster of the zoomed viewport (re-issue
    // semantics, datashader.py:183-219)
    val direct = Plotter(EzFrame(df2)).raster("px", "py", zx0, zx1, zy0, zy1, 10, 10)
    assert(zoomed.data.toSet == direct.data.toSet)
    // pan right by half a viewport; reset returns home
    val p2 = z.pan(0.5, 0.0)
    assert(math.abs(p2.viewport._1 - (zx0 + (zx1 - zx0) / 2)) < 1e-9)
    assert(z.reset().viewport == sess.viewport)
    // immutability: interactions never mutate the session they came from
    assert(z.viewport == ((zx0, zx1, zy0, zy1)))
  }

  // ── PNG rendering tier ──────────────────────────────────────────
  // Pinned on the DECODED pixel buffer's md5 (not the compressed PNG
  // bytes) so the pin survives zlib-implementation differences across
  // JDKs; the rasterizer itself is integer math + embedded bitmap
  // font, so pixels are exactly reproducible.

  private def pinPng(name: String, png: Array[Byte]): Unit = {
    val (w, h, rgb) = graft.functions.MediaCodecs.pngDecodeRgb(png)
      .getOrElse(fail(s"$name: PngRender output did not decode as PNG"))
    val md = java.security.MessageDigest.getInstance("MD5").digest(rgb)
    val line = s"$w $h ${md.map("%02x".format(_)).mkString}"
    val dir = new java.io.File("src/test/resources/golden/png")
    val f = new java.io.File(dir, s"$name.pix")
    if (sys.env.contains("GOLDEN_REGEN")) {
      dir.mkdirs()
      java.nio.file.Files.write(f.toPath, line.getBytes("UTF-8")); ()
    } else {
      assert(f.exists, s"missing golden $f — run with GOLDEN_REGEN=1")
      val want = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      assert(line == want, s"$name rendered pixels drifted from their golden pin")
    }
  }

  private def decoded(png: Array[Byte]): (Int, Int, Array[Byte]) =
    graft.functions.MediaCodecs.pngDecodeRgb(png).getOrElse(fail("undecodable PNG"))

  test("hist renders to a decodable, deterministic, golden-pinned PNG") {
    val spec = Plotter(realDocs).hist("n_chars", bins = 12)
    val png = spec.toPng()
    val (w, h, rgb) = decoded(png)
    assert(w == 480 && h == 360)
    // bars drawn in the default palette blue over a white canvas
    val px = rgb.grouped(3).map(p => (p(0) & 0xff, p(1) & 0xff, p(2) & 0xff)).toVector
    assert(px.exists(p => p._3 > p._1 + 30), "blue bar pixels expected")
    assert(px.count(_ == ((255, 255, 255))) > px.size / 4, "white background expected")
    assert(java.util.Arrays.equals(png, spec.toPng()), "render must be deterministic")
    pinPng("hist_n_chars", png)
  }

  test("scatter and corner render to golden-pinned PNGs") {
    pinPng("scatter_chars_id",
      Plotter(realDocs).scatter("n_chars", "doc_id", maxPoints = 200).toPng())
    pinPng("corner_chars_id",
      Plotter(realDocs).corner(Seq("n_chars", "doc_id"), bins = 8).toPng())
  }

  test("facet PNG overlay draws both cycled colors and matches SVG geometry constants") {
    val png = p.groupby("g").hist("x", bins = 5).toPng()
    val (w, h, rgb) = decoded(png)
    assert(w == 480 && h == 360)
    def hasColor(hex: String): Boolean = {
      val c = Integer.parseInt(hex.stripPrefix("#"), 16)
      // legend swatches are drawn opaque, so exact channel bytes appear
      val (r0, g0, b0) = ((c >> 16) & 0xff, (c >> 8) & 0xff, c & 0xff)
      rgb.grouped(3).exists(p => (p(0) & 0xff) == r0 && (p(1) & 0xff) == g0 && (p(2) & 0xff) == b0)
    }
    assert(hasColor("#1f77b4") && hasColor("#ff7f0e"), "both cycled facet colors expected")
    pinPng("facet_overlay", png)
    val err = intercept[IllegalArgumentException](
      graft.plot.PlotSpec("sankey", Seq(Map[String, Any]("x" -> 1.0)),
        Map("x" -> Map("field" -> "x", "type" -> "quantitative"))).toPng())
    assert(err.getMessage.contains("no raster backend"))
  }

  test("boxplot renders whisker+box+median glyphs in both backends, golden-pinned") {
    val spec = Plotter(realDocs).box("n_chars", "doc_id")
    val svg = spec.toSvg()
    // 2 variables: frame + 2 iq boxes; whiskers + caps + medians
    assert(svg.sliding(5).count(_ == "<rect") >= 3, "frame + 2 boxes expected")
    assert(svg.contains("n_chars") && svg.contains("doc_id"), "category labels expected")
    pinSvg("box_chars_id", svg)
    pinPng("box_chars_id", spec.toPng())
  }

  test("rect heatmap renders ramped cells; unknown marks refuse loudly") {
    val svg = Plotter(realDocs).hist2d("n_chars", "doc_id", bins = 6).toSvg()
    assert(svg.sliding(5).count(_ == "<rect") >= 36, "6x6 grid expected")
    assert(svg.contains("#44015") || svg.contains("#fde7") || svg.contains("fill=\"#"),
      "sequential ramp fills expected")
    val err = intercept[IllegalArgumentException](
      graft.plot.PlotSpec("sankey", Seq(Map[String, Any]("x" -> 1.0)),
        Map("x" -> Map("field" -> "x", "type" -> "quantitative"))).toSvg())
    assert(err.getMessage.contains("no SVG backend"))
  }

  // ── log-scale axes (reference plotly/tools.py:105–204) ──────────

  test("logTicks: decade majors, 2-9 minors, short-range mantissa labels") {
    // 3 decades: majors at 1, 10, 100 (labeled); minors at 2..9 x decade
    val t3 = graft.plot.Panel.logTicks(0.0, 2.0)
    assert(t3.filterNot(_._3).map(_._2) == Seq("1", "10", "100"))
    assert(t3.count(_._3) == 16, "2..9 minors for two full decades")
    // under one decade: 2/5 mantissa ticks get labels so the axis reads
    val short = graft.plot.Panel.logTicks(0.05, 0.95)
    assert(short.exists(_._2 == "2") && short.exists(_._2 == "5"))
    // non-positive values have no log position
    assert(graft.plot.Panel.log10pos(0.0).isNaN &&
      graft.plot.Panel.log10pos(-3.0).isNaN)
  }

  test("log-axis scatter renders decade ticks in both backends, golden-pinned") {
    val spec = Plotter(realDocs).scatter("n_chars", "doc_id", maxPoints = 200)
      .logScale("x")
    val svg = spec.toSvg()
    // n_chars spans < 2 decades, so the 2/5 mantissa ticks are labeled
    // alongside the 100 decade: 50 / 100 / 200 / 500
    assert(svg.contains(">100</text>") && svg.contains(">500</text>"),
      "log tick labels expected")
    assert(svg.contains("y2=\"332\""), "short minor tick marks expected")
    pinSvg("scatter_logx", svg)
    pinPng("scatter_logx", spec.toPng())
    // vega-lite passthrough: scale rides the encoding as an object
    val vl = spec.toVegaLite
    assert(vl.contains("\"scale\": {\"type\": \"log\"}"), vl.take(400))
  }

  test("log-y histogram: bars position in log space, zero-count bins drop") {
    val spec = Plotter(realDocs).hist("n_chars", bins = 12).logScale("y")
    val svg = spec.toSvg()
    assert(svg.startsWith("<svg") && svg.endsWith("</svg>"))
    pinSvg("hist_logy", svg)
  }

  // ── colorbars + figure combining (reference plotly/tools.py) ────

  test("combineFigures: 2x2 grid with per-panel colorbars, empty cell, golden-pinned") {
    import graft.plot.SvgRender
    val heat = Plotter(realDocs).hist2d("n_chars", "doc_id", bins = 6)
    val hist = Plotter(realDocs).hist("n_chars", bins = 8)
    val svg = SvgRender.combineFigures(Seq(
      Seq(Some(heat), Some(hist)),
      Seq(None, Some(heat.logScale("c")))))
    assert(svg.startsWith("<svg") && svg.endsWith("</svg>"))
    // two heatmap panels -> two colorbars (24 stripes + boundary each);
    // the hist panel maps no color -> no bar (plus its own rects)
    assert(svg.sliding(5).count(_ == "<rect") >= 2 * 36 + 2 * 25 + 8,
      "grid cells + colorbar stripes expected")
    pinSvg("combined_grid", svg)
  }

  test("colorbar: linear value ticks; log color draws decade labels (10^k)") {
    import graft.plot.SvgRender
    val heat = Plotter(realDocs).hist2d("n_chars", "doc_id", bins = 6)
    val lin = SvgRender.colorbarFor(heat, 0, 0, 300, 240)
      .getOrElse(fail("rect panel must yield a colorbar"))
    assert(lin.contains("<text"), "value tick labels expected")
    // log color channel: counts span >= 1 decade at these bins, so at
    // least one integer-decade tick labeled with the raw value
    val logBar = SvgRender.colorbarFor(heat.logScale("c"), 0, 0, 300, 240)
      .getOrElse(fail("log rect panel must yield a colorbar"))
    assert(logBar.contains(">1</text>") || logBar.contains(">10</text>") ||
      logBar.contains(">100</text>"), s"decade label expected: $logBar")
    // a bare scatter with no color channel has no bar
    assert(SvgRender.colorbarFor(
      Plotter(realDocs).scatter("n_chars", "doc_id", maxPoints = 10), 0, 0, 300, 240).isEmpty)
  }

  // ── colormap legend stripes (reference matplotlib/legend.py:16–130) ──

  test("cmap legend: striped swatch samples the palette, golden-pinned") {
    import graft.plot.{CmapSwatch, SolidSwatch, SvgRender}
    val spec = Plotter(realDocs).scatter("n_chars", "doc_id", maxPoints = 100)
    val svg = SvgRender.renderWithLegend(spec,
      Seq("density" -> CmapSwatch(graft.functions.Colors.viridis),
          "sample" -> SolidSwatch("#1f77b4")))
    // 8 stripes + boundary rect + solid swatch
    assert(svg.sliding(5).count(_ == "<rect") >= 10, "striped cmap swatch expected")
    // stripe colors walk the ramp: first stripe dark violet, last yellow
    assert(svg.contains(SvgRender.paletteHex(graft.functions.Colors.viridis, 0.0625)))
    assert(svg.contains(SvgRender.paletteHex(graft.functions.Colors.viridis, 0.9375)))
    assert(svg.contains(">density</text>") && svg.contains(">sample</text>"))
    pinSvg("legend_cmap", svg)
  }
}
