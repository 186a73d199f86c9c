package graft.plot

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.EzFrame
import graft.operators.Binned
import graft.functions.Astro

/** A render-ready plot: small, already-aggregated data plus encoding
  * metadata.  The cluster does the aggregation; only the aggregate
  * (bin counts, percentiles, pixel grids) is collected — never raw
  * rows (the 100 TB posture of SURVEY.md §7.4).  Rendering is
  * delegated to any Vega-Lite consumer via [[PlotSpec.toVegaLite]];
  * the reference renders with matplotlib/plotly/bokeh backends
  * (ezdata/plotter.py, ezdata/matplotlib, ezdata/plotly), which are
  * presentation concerns outside the engine.
  */
final case class PlotSpec(
    mark: String,
    data: Seq[Map[String, Any]],
    encoding: Map[String, Map[String, String]],
    title: Option[String] = None) {

  private def jsonValue(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => jsonValue(f.toDouble)
    case n: Number => n.toString
    case b: Boolean => b.toString
    case t: java.sql.Timestamp => "\"" + t.toString + "\""
    case other => jsonValue(other.toString)
  }

  /** Normalization transforms applied to an aggregated grid's value
    * field (ezdata/matplotlib/norm.py:6–148: HistEq, Arcsinh, Sqrt,
    * Power, Midpoint).  Operates on the already-small collected data —
    * exactly where the reference applies them. */
  def normalized(field: String, norm: String, power: Double = 2.0): PlotSpec = {
    def num(v: Any): Double = v match {
      case null => Double.NaN
      case n: Number => n.doubleValue()
      case other => other.toString.toDouble
    }
    val values = data.map(r => num(r(field))).filterNot(_.isNaN)
    val transform: Double => Double = norm match {
      case "log" => v => math.log10(math.max(v, 1e-12))
      case "sqrt" => math.sqrt
      case "arcsinh" => v => math.log(v + math.sqrt(v * v + 1))
      case "power" => v => math.pow(v, power)
      case "histeq" => // CDF-rank equalization
        val sorted = values.sorted
        v => {
          val idx = sorted.search(v)(Ordering.Double.TotalOrdering) match {
            case scala.collection.Searching.Found(i) => i
            case scala.collection.Searching.InsertionPoint(i) => i
          }
          if (sorted.isEmpty) 0.0 else idx.toDouble / sorted.length
        }
      case other => throw new IllegalArgumentException(s"unknown norm '$other'")
    }
    copy(data = data.map { r =>
      val v = num(r(field))
      r + (field -> (if (v.isNaN) null else transform(v)))
    })
  }

  /** Request log10 scales: `axes` is any combination of "x", "y" and
    * "c" (e.g. "xy", "c", "xc") — "c" is the COLOR channel, the
    * reference plotly/tools.py:105–204 `logscale(trace)` transform
    * (color data log10'd, colorbar ticks at decades).  Position axes
    * render as decade ticks with 2–9 minors in the SVG/PNG backends
    * and pass through to Vega-Lite as `"scale": {"type": "log"}`. */
  def logScale(axes: String): PlotSpec = {
    require(axes.nonEmpty && axes.forall(c => "xyc".contains(c)),
      s"logScale axes must combine x, y, c — got '$axes'")
    val touched = axes.map { case 'c' => "color"; case ch => ch.toString }
    // a requested channel absent from the encoding would silently render
    // linear — fail loudly instead so the caller learns the spec has no
    // such channel (e.g. .logScale("c") on a spec without color)
    val missing = touched.filterNot(encoding.contains)
    require(missing.isEmpty,
      s"logScale channel(s) ${missing.mkString(", ")} not present in this spec's encoding " +
        s"(has: ${encoding.keys.mkString(", ")})")
    copy(encoding = encoding ++ touched.map { ch =>
      ch -> (encoding(ch) + ("scale" -> "log"))
    })
  }

  def toVegaLite: String = {
    val values = data.map(row =>
      row.map { case (k, v) => jsonValue(k) + ": " + jsonValue(v) }.mkString("{", ", ", "}"))
      .mkString("[", ", ", "]")
    val enc = encoding.map { case (channel, props) =>
      jsonValue(channel) + ": " + props.map {
        // Vega-Lite wants the scale as an object: {"scale": {"type": "log"}}
        case ("scale", v) => "\"scale\": {\"type\": " + jsonValue(v) + "}"
        case (k, v) => jsonValue(k) + ": " + jsonValue(v)
      }.mkString("{", ", ", "}")
    }.mkString("{", ", ", "}")
    val t = title.map(s => s""""title": ${jsonValue(s)}, """).getOrElse("")
    s"""{"$$schema": "https://vega.github.io/schema/vega-lite/v5.json", $t"mark": ${jsonValue(mark)}, "data": {"values": $values}, "encoding": $enc}"""
  }

  /** Standalone SVG render of this spec — see [[SvgRender.render]].
    * `theme` selects a presentation theme ([[Theme.classic]] default;
    * [[Theme.fivethirtyeight]], [[Theme.lightMinimal]], or
    * [[Theme.byName]] for the reference's `template='...'` surface). */
  def toSvg(width: Int = 480, height: Int = 360,
            theme: Theme = Theme.classic): String =
    SvgRender.render(this, width, height, theme = theme)

  /** Raster PNG render of this spec — see [[PngRender.render]]. */
  def toPng(width: Int = 480, height: Int = 360,
            theme: Theme = Theme.classic): Array[Byte] =
    PngRender.render(this, width, height, theme = theme)
}

/** Facet set: one PlotSpec per group/selection, with cycled style
  * labels (the Group/looper machinery of ezdata/plotter.py:130–523
  * reduced to its query semantics). */
final case class FacetSpec(facets: Seq[(String, PlotSpec)]) {
  def toVegaLite: String =
    facets.map { case (label, spec) => spec.copy(title = Some(label)).toVegaLite }
      .mkString("[", ", ", "]")

  /** The deterministic style cycle each facet renders with under
    * `theme` (plotter.py:394–408 marker/color/linestyle cycling): facet
    * i → `theme.styleFor(i)`, pinned in PlotterSpec. */
  def styles(theme: Theme = Theme.classic): Seq[(String, FacetStyle)] =
    facets.zipWithIndex.map { case ((lbl, _), i) => lbl -> theme.styleFor(i) }

  /** Overlay render on shared axes — see [[SvgRender.renderFacets]]. */
  def toSvg(width: Int = 480, height: Int = 360,
            theme: Theme = Theme.classic): String =
    SvgRender.renderFacets(this, width, height, theme)

  /** Raster PNG overlay render — see [[PngRender.renderFacets]]. */
  def toPng(width: Int = 480, height: Int = 360,
            theme: Theme = Theme.classic): Array[Byte] =
    PngRender.renderFacets(this, width, height, theme)
}

/** Query-compiling plotter over an [[EzFrame]]
  * (ezdata/plotter.py:560–1090 `Plotter`).  Every method builds a
  * Spark aggregation, executes it, and wraps the small result. */
final class Plotter(val ez: EzFrame, val label: String = "") {

  private def collectMaps(df: DataFrame): Seq[Map[String, Any]] = {
    val cols = df.columns
    df.collect().toSeq.map(r => cols.zipWithIndex.map { case (c, i) => c -> r.get(i) }.toMap)
  }

  /** Predicate selections → one sub-plotter per predicate
    * (ezdata/plotter.py:650–699). */
  def select(selections: (String, String)*): Group =
    new Group(selections.map { case (lbl, cond) => lbl -> new Plotter(ez.where(cond), lbl) })

  /** Group by a key: the group list is a distinct-sort query; each
    * group becomes a filtered sub-plotter (lazy — no data moves until
    * a plot method aggregates it).  (ezdata/plotter.py:992–1023.)
    *
    * `maxGroups` bounds the driver-side group list (same guard as
    * EzFrame.groupbyIter) — an unbounded distinct-collect on a
    * high-cardinality key would OOM the driver. */
  def groupby(key: String, maxGroups: Int = 1000): Group = {
    val k = ez.resolveAlias(key)
    val values = ez.df.select(col(k)).distinct().orderBy(col(k))
      .limit(maxGroups + 1).collect().map(_.get(0))
    require(values.length <= maxGroups,
      s"more than $maxGroups groups for '$key'; facet on a coarser key or raise maxGroups")
    new Group(values.toSeq.map { v =>
      val lbl = s"$key=$v"
      // null-safe equality (the EzFrame.groupbyIter contract): the
      // distinct group list KEEPS a null group, but `=== lit(null)` is
      // never true — the null facet would silently render empty
      lbl -> new Plotter(EzFrame(ez.df.filter(col(k) <=> lit(v)), ez.meta), lbl)
    })
  }

  /** Deterministic bounded sample in ONE pass: hash-ordered top-k
    * (TakeOrderedAndProject — per-partition heap + merge, O(n log k)).
    * Replaces the count()-then-sample() pattern, which scanned the
    * input twice per plot.
    *
    * Ordering: primary key is the CONTENT hash (stable across runs,
    * retries and partition layouts), with monotonically_increasing_id
    * only as a TIEBREAK among identical rows — so duplicate-heavy data
    * keeps proportional representation (each physical copy competes
    * for a slot) while the tiebreak's layout-dependence is invisible:
    * it only ever chooses between identical rows, so the sample
    * CONTENT is still deterministic.  The temp column name is
    * uniquified against the frame's own columns. */
  private def sampleBounded(df: DataFrame, maxPoints: Int): DataFrame = {
    val sk = Iterator.from(0).map(i => s"_sk$i").find(n => !df.columns.contains(n)).get
    val tk = sk + "t"
    val key = xxhash64(struct(df.columns.map(col).toIndexedSeq: _*))
    df.withColumn(sk, key).withColumn(tk, monotonically_increasing_id())
      .orderBy(col(sk), col(tk)).limit(maxPoints).drop(sk, tk)
  }

  /** 1-D histogram (ezdata/plotter.py:877–896): binned count agg in
    * the cluster, 'bar' spec out. */
  def hist(x: String, bins: Int = 10, range: Option[(Double, Double)] = None,
           weights: Option[String] = None): PlotSpec = {
    val xc = ez.get(x)
    // a data-derived extent of a constant column is degenerate — pad it
    // (numpy.histogram convention); an EXPLICIT degenerate range still
    // fails loudly in Axis
    val (lo, hi) = range.getOrElse {
      val (l, h0) = Binned.extent(ez.df, xc); Binned.padDegenerate(l, h0)
    }
    val h = Binned.histogram(ez.df, xc, lo, hi, bins, weights.map(ez.get))
      .select(col("x_center").as(x), col("value").as("count"))
    PlotSpec("bar", collectMaps(h), Map(
      "x" -> Map("field" -> x, "type" -> "quantitative", "bin" -> "binned"),
      "y" -> Map("field" -> "count", "type" -> "quantitative")))
  }

  /** 2-D histogram / hexbin-equivalent (ezdata/plotter.py:898–941):
    * rect heatmap over a dense 2-D count cube. */
  def hist2d(x: String, y: String, bins: Int = 20,
             xRange: Option[(Double, Double)] = None,
             yRange: Option[(Double, Double)] = None): PlotSpec = {
    val (xc, yc) = (ez.get(x), ez.get(y))
    val (xlo, xhi) = xRange.getOrElse {
      val (l, h) = Binned.extent(ez.df, xc); Binned.padDegenerate(l, h)
    }
    val (ylo, yhi) = yRange.getOrElse {
      val (l, h) = Binned.extent(ez.df, yc); Binned.padDegenerate(l, h)
    }
    val cube = Binned.denseCube(ez.df,
      Seq(Binned.Axis("x", xc, xlo, xhi, bins), Binned.Axis("y", yc, ylo, yhi, bins)),
      Seq(count(lit(1)).as("count")), fill = Map("count" -> 0L))
      .select(col("x_center").as(x), col("y_center").as(y), col("count"))
    PlotSpec("rect", collectMaps(cube), Map(
      "x" -> Map("field" -> x, "type" -> "quantitative", "bin" -> "binned"),
      "y" -> Map("field" -> y, "type" -> "quantitative", "bin" -> "binned"),
      "color" -> Map("field" -> "count", "type" -> "quantitative")))
  }

  /** Hexbin (ezdata/plotter.py:898–941): hexagonal-cell counts
    * aggregated in-cluster; cell centers attached for rendering. */
  def hexbin(x: String, y: String, size: Double = 1.0, aspect: Double = 1.0): PlotSpec = {
    val h = Binned.hexbin(ez.df, ez.get(x), ez.get(y), size, aspect,
      Seq(count(lit(1)).as("count")))
    val (cx, cy) = Binned.hexCenter(col("hex_q"), col("hex_r"), size, aspect)
    val d = h.select(cx.as(x), cy.as(y), col("count"))
    PlotSpec("point", collectMaps(d), Map(
      "x" -> Map("field" -> x, "type" -> "quantitative"),
      "y" -> Map("field" -> y, "type" -> "quantitative"),
      "size" -> Map("field" -> "count", "type" -> "quantitative")))
  }

  /** Scatter with a hard point budget: never collects raw data beyond
    * `maxPoints` (sampled), keeping the driver safe at any input scale
    * (ezdata/plotter.py:829–843 collects everything — deliberately not
    * reproduced). */
  def scatter(x: String, y: String, color: Option[String] = None,
              maxPoints: Int = 5000): PlotSpec = {
    val cols = (Seq(x, y) ++ color.toSeq).map(c => ez.get(c).as(c))
    val sampled = sampleBounded(ez.df.select(cols: _*), maxPoints)
    val enc = Map(
      "x" -> Map("field" -> x, "type" -> "quantitative"),
      "y" -> Map("field" -> y, "type" -> "quantitative")) ++
      color.map(c => "color" -> Map("field" -> c, "type" -> "quantitative"))
    PlotSpec("point", collectMaps(sampled), enc)
  }

  /** Box/violin statistics (ezdata/plotter.py:943–965): percentile +
    * extreme aggregation per column, one row per variable. */
  def box(columns: String*): PlotSpec = {
    // one scan for all variables: flat aggregate list, rows assembled
    // driver-side from the single result row
    val aggs = columns.flatMap { c =>
      val cc = ez.get(c).cast("double")
      Seq(min(cc), percentile_approx(cc, lit(0.25), lit(10000)),
        percentile_approx(cc, lit(0.5), lit(10000)),
        percentile_approx(cc, lit(0.75), lit(10000)), max(cc))
    }
    val r = ez.df.agg(aggs.head, aggs.tail: _*).collect().head
    val rows = columns.zipWithIndex.map { case (c, i) =>
      val base = i * 5
      Map[String, Any]("variable" -> c, "min" -> r.get(base), "q1" -> r.get(base + 1),
        "median" -> r.get(base + 2), "q3" -> r.get(base + 3), "max" -> r.get(base + 4))
    }
    PlotSpec("boxplot", rows, Map(
      "x" -> Map("field" -> "variable", "type" -> "nominal"),
      "y" -> Map("field" -> "median", "type" -> "quantitative")))
  }

  /** Violin plot (ezdata/plotter.py:943–955): distribution *shape* per
    * variable.  The reference ships the raw arrays to matplotlib's KDE
    * client-side; here the density curve itself is the aggregation — a
    * binned count per variable normalized to a probability density, so
    * only `bins` points per variable ever reach the driver, at any
    * input scale. */
  def violin(columns: Seq[String], bins: Int = 40): PlotSpec = {
    // ONE extent pass for every requested column (min/max pairs in a
    // single aggregate), then one histogram job per column — N+1 scans
    // instead of 2N
    val extAggs = columns.flatMap { c =>
      val cc = ez.get(c).cast("double")
      Seq(min(cc), max(cc))
    }
    val extRow = ez.df.agg(extAggs.head, extAggs.tail: _*).collect().head
    val extents = columns.zipWithIndex.map { case (c, i) =>
      require(!extRow.isNullAt(2 * i) && !extRow.isNullAt(2 * i + 1),
        s"violin: column '$c' has no non-null values")
      c -> (extRow.getDouble(2 * i), extRow.getDouble(2 * i + 1))
    }.toMap
    val rows = columns.flatMap { c =>
      val cc = ez.get(c)
      val (lo, hi) = extents(c)
      val h = Binned.histogram(ez.df, cc, lo, hi, bins).collect()
      val total = h.map(_.getAs[Number]("value").doubleValue()).sum
      val width = (hi - lo) / bins
      h.toSeq.map { r =>
        val density =
          if (total <= 0 || width <= 0) 0.0
          else r.getAs[Number]("value").doubleValue() / (total * width)
        Map[String, Any]("variable" -> c,
          "x" -> r.getAs[Number]("x_center").doubleValue(), "density" -> density)
      }
    }
    PlotSpec("area", rows, Map(
      "x" -> Map("field" -> "x", "type" -> "quantitative"),
      "y" -> Map("field" -> "density", "type" -> "quantitative"),
      "color" -> Map("field" -> "variable", "type" -> "nominal")))
  }

  /** pivot_plot (ezdata/plotter.py:1100–1149): a 2-key facet grid.
    * The cell list is ONE bounded distinct aggregation over
    * (key1, key2); each cell hands a lazily-filtered sub-plotter to
    * `plotFn` (the reference's `plotfn(data, ax=...)` callable), so no
    * raw data moves until the per-cell plot aggregates it. */
  def pivotPlot(key1: String, key2: String, plotFn: Plotter => PlotSpec,
                maxCells: Int = 144): PivotGridSpec = {
    val (k1, k2) = (ez.resolveAlias(key1), ez.resolveAlias(key2))
    val combos = ez.df.select(col(k1), col(k2)).distinct()
      .orderBy(col(k1), col(k2)).limit(maxCells + 1).collect()
    require(combos.length <= maxCells,
      s"more than $maxCells ($key1, $key2) cells; facet on coarser keys or raise maxCells")
    val cells = combos.toSeq.map { r =>
      val (v1, v2) = (r.get(0), r.get(1))
      // null-safe <=>: a null facet key is a real cell (=== would make
      // the cell's filter null out every row and crash the plot fn)
      val cell = new Plotter(
        EzFrame(ez.df.filter(col(k1) <=> lit(v1) && col(k2) <=> lit(v2)), ez.meta),
        s"$key1=$v1 | $key2=$v2")
      (String.valueOf(v1), String.valueOf(v2)) -> plotFn(cell)
    }
    PivotGridSpec(cells.map(_._1._1).distinct, cells.map(_._1._2).distinct, cells.toMap)
  }

  /** Arbitrary-function hook (ezdata/plotter.py:757–778 Plotter.apply):
    * hand the underlying frame to `fn` and return whatever it returns.
    * The reference passes the raw ndarray to a user callable; here the
    * callable gets the (lazy, cluster-side) EzFrame. */
  def apply[T](fn: EzFrame => T): T = fn(ez)

  /** Lag plot (ezdata/plotter.py:1059–1090): lag-k self-comparison via
    * a window, sampled like scatter. */
  def lagplot(x: String, lag: Int = 1, orderBy: String, maxPoints: Int = 5000): PlotSpec = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(ez.get(orderBy))
    val df = ez.df
      .withColumn("_lagged", org.apache.spark.sql.functions.lag(ez.get(x), lag).over(w))
      .filter(col("_lagged").isNotNull)
      .select(ez.get(x).as(x), col("_lagged").as(s"${x}_lag$lag"))
    val sampled = sampleBounded(df, maxPoints)
    PlotSpec("point", collectMaps(sampled), Map(
      "x" -> Map("field" -> x, "type" -> "quantitative"),
      "y" -> Map("field" -> s"${x}_lag$lag", "type" -> "quantitative")))
  }

  /** Aitoff all-sky scatter (ezdata/plotter.py:971–990): projection as
    * Column math, sampled collection. */
  def aitoff(lon: String, lat: String, maxPoints: Int = 5000): PlotSpec = {
    val (x, y) = Astro.projectAitoff(ez.get(lon), ez.get(lat))
    val df = ez.df.select(x.as("aitoff_x"), y.as("aitoff_y"))
    val sampled = sampleBounded(df, maxPoints)
    PlotSpec("point", collectMaps(sampled), Map(
      "x" -> Map("field" -> "aitoff_x", "type" -> "quantitative"),
      "y" -> Map("field" -> "aitoff_y", "type" -> "quantitative")))
  }

  /** Datashader-equivalent raster (ezdata/datashader.py:183–219): the
    * viewport is a filter, the pixel grid a 2-D groupBy; re-invoke per
    * zoom/pan with a new viewport — predicate pushdown re-queries only
    * the visible range. */
  def raster(x: String, y: String, xlo: Double, xhi: Double, ylo: Double, yhi: Double,
             widthPx: Int = 256, heightPx: Int = 256, what: String = "count(*)"): PlotSpec = {
    val r = Binned.raster(ez.df, ez.get(x), ez.get(y), xlo, xhi, ylo, yhi, widthPx, heightPx, what)
    PlotSpec("rect", collectMaps(r), Map(
      "x" -> Map("field" -> "px_bin", "type" -> "ordinal"),
      "y" -> Map("field" -> "py_bin", "type" -> "ordinal"),
      "color" -> Map("field" -> "value", "type" -> "quantitative")))
  }

  /** Every variable against one key (ezdata/plotter.py:1025–1057). */
  def allAgainst(key: String, maxPoints: Int = 2000): Seq[(String, PlotSpec)] =
    ez.columns.filter(_ != ez.resolveAlias(key)).map(v => v -> scatter(key, v, maxPoints = maxPoints))

  /** PairGrid (ezdata/plotter.py:1256–1612): pairwise panel matrix —
    * histograms on the diagonal, 2-D density above/below.  Each cell
    * is an independent aggregation; all stay cluster-side. */
  def pairGrid(columns: Seq[String], bins: Int = 20): Seq[((String, String), PlotSpec)] =
    for (cx <- columns; cy <- columns) yield {
      val spec =
        if (cx == cy) hist(cx, bins)
        else hist2d(cx, cy, bins)
      (cx, cy) -> spec
    }

  /** CornerPlot (ezdata/plotter.py:1615–1711): lower-triangle 2-D
    * histograms, diagonal 1-D histograms, and the 16/50/84 percentile
    * annotations of the reference (plotter.py:1685–1701). */
  def corner(columns: Seq[String], bins: Int = 20): CornerSpec = {
    val panels = for {
      (cy, iy) <- columns.zipWithIndex
      (cx, ix) <- columns.zipWithIndex
      if ix <= iy
    } yield (cx, cy) -> (if (ix == iy) hist(cx, bins) else hist2d(cx, cy, bins))
    // one scan for every variable's percentile triple
    val qAggs = columns.flatMap { c =>
      val cc = ez.get(c).cast("double")
      Seq(percentile_approx(cc, lit(0.16), lit(10000)),
        percentile_approx(cc, lit(0.5), lit(10000)),
        percentile_approx(cc, lit(0.84), lit(10000)))
    }
    val qr = ez.df.agg(qAggs.head, qAggs.tail: _*).collect().head
    val quantiles = columns.zipWithIndex.map { case (c, i) =>
      c -> (qr.getDouble(i * 3), qr.getDouble(i * 3 + 1), qr.getDouble(i * 3 + 2))
    }
    CornerSpec(panels, quantiles.toMap)
  }
}

/** Corner-plot bundle: triangular panel set + per-variable
  * (p16, p50, p84) annotations. */
final case class CornerSpec(
    panels: Seq[((String, String), PlotSpec)],
    quantiles: Map[String, (Double, Double, Double)]) {

  /** Grid render with annotated diagonals — see
    * [[SvgRender.renderCorner]]. */
  def toSvg(panel: Int = 220, theme: Theme = Theme.classic): String =
    SvgRender.renderCorner(this, panel, theme)

  /** Raster PNG corner grid — see [[PngRender.renderCorner]]. */
  def toPng(panel: Int = 220, theme: Theme = Theme.classic): Array[Byte] =
    PngRender.renderCorner(this, panel, theme)
}

/** 2-key facet grid (ezdata/plotter.py:1100–1149 pivot_plot): cell
  * specs addressed by (key1 value, key2 value), with the distinct
  * orderings of each axis. */
final case class PivotGridSpec(
    xKeys: Seq[String], yKeys: Seq[String],
    cells: Map[(String, String), PlotSpec])

/** A set of labeled sub-plotters: facet iteration with cycled labels
  * (ezdata/plotter.py:130–353 Group + looper dispatch 390–523). */
final class Group(val items: Seq[(String, Plotter)]) {

  def hist(x: String, bins: Int = 10, range: Option[(Double, Double)] = None): FacetSpec = {
    // shared axes across facets: compute the global extent once
    val globalRange = range.orElse {
      val extents = items.map { case (_, p) => Binned.extent(p.ez.df, p.ez.get(x)) }
      // data-derived: pad a degenerate global extent (all facets constant)
      Some(Binned.padDegenerate(extents.map(_._1).min, extents.map(_._2).max))
    }
    FacetSpec(items.map { case (lbl, p) => lbl -> p.hist(x, bins, globalRange) })
  }

  def hist2d(x: String, y: String, bins: Int = 20): FacetSpec =
    FacetSpec(items.map { case (lbl, p) => lbl -> p.hist2d(x, y, bins) })

  def scatter(x: String, y: String, maxPoints: Int = 2000): FacetSpec =
    FacetSpec(items.map { case (lbl, p) => lbl -> p.scatter(x, y, maxPoints = maxPoints) })

  def box(columns: String*): FacetSpec =
    FacetSpec(items.map { case (lbl, p) => lbl -> p.box(columns: _*) })

  /** Per-facet arbitrary function (ezdata/plotter.py:362–377
    * Group.apply): run `fn` against each facet's frame, keeping the
    * facet labels. */
  def apply[T](fn: EzFrame => T): Seq[(String, T)] =
    items.map { case (lbl, p) => lbl -> fn(p.ez) }

  def violin(columns: Seq[String], bins: Int = 40): FacetSpec =
    FacetSpec(items.map { case (lbl, p) => lbl -> p.violin(columns, bins) })

  /** Nested grouping (ezdata/plotter.py:315–353). */
  def groupby(key: String): Group =
    new Group(items.flatMap { case (lbl, p) =>
      p.groupby(key).items.map { case (lbl2, p2) => s"$lbl | $lbl2" -> p2 }
    })

  /** Group algebra (ezdata/plotter.py:532–546). */
  def +(other: Group): Group = new Group(items ++ other.items)

  def size: Int = items.length
}

object Plotter {
  def apply(ez: EzFrame): Plotter = new Plotter(ez)
}
