package graft.plot

import java.util.Locale

/** The drawing primitives the panel layout ([[Panel]]) needs — one
  * implementation per output format: [[SvgRender.SvgCanvas]] appends
  * SVG elements, [[PngRender.Raster]] rasterizes.  Coordinates are
  * canvas pixels (y down), colours hex strings, dashes SVG dash arrays
  * ("4,3"; "" = solid), text anchors "start" | "middle" | "end". */
private[plot] trait Canvas {
  /** Backend name for error messages: "SVG" or "raster". */
  def backend: String
  def line(x1: Double, y1: Double, x2: Double, y2: Double, stroke: String, dash: String = ""): Unit
  /** Rect between corners (x0, y0) and (x1, y1); an inverted one draws nothing. */
  def fillRect(x0: Double, y0: Double, x1: Double, y1: Double, fill: String,
               opacity: Double = 1.0, stroke: Option[String] = None): Unit
  def strokeRect(x0: Double, y0: Double, x1: Double, y1: Double, stroke: String): Unit
  /** Point marker (circle | square | triangle | diamond) of radius `r`. */
  def glyph(marker: String, x: Double, y: Double, r: Double, fill: String, opacity: Double): Unit
  /** Outlined polyline whose enclosed area is filled at `fillOpacity`. */
  def polyline(pts: Seq[(Double, Double)], color: String, fillOpacity: Double, dash: String): Unit
  /** `y` is the text baseline; `fill` None = black. */
  def text(x: Double, y: Double, s: String, size: Int, anchor: String, fill: Option[String]): Unit
}

/** The one panel layout of the presentation tier — the deterministic
  * core of what the reference gets from matplotlib/plotly/bokeh
  * (ezdata/plotter.py:829–1711).  A `PlotSpec` already carries the
  * AGGREGATED data (bin counts, pixel grids, bounded samples), so a
  * figure is margins, scales, ticks and mark geometry over at most a
  * few thousand rows, drawn once through a [[Canvas]]; [[SvgRender]]
  * and [[PngRender]] only choose the canvas, so the two formats draw
  * the same picture.
  *
  * Marks covered: `bar` (hist, plotter.py:877–896), `point` (scatter/
  * hexbin, :829–843), `rect` (hist2d/raster/healpix grids, :898–941),
  * `area` (violin densities), `boxplot` (:943–955), plus the composed
  * corner grid (:1615–1711) with its diagonal percentile annotations
  * and the facet overlay with the reference's deterministic style
  * cycling (:394–408).
  */
private[graft] object Panel {

  /** Panel margins in px: left, right, top, bottom. */
  val ml = 38; val mr = 8; val mt = 22; val mb = 30

  /** Locale-stable compact number format (axis ticks, annotations). */
  def fmt(d: Double): String = {
    if (d == d.toLong.toDouble && math.abs(d) < 1e12) d.toLong.toString
    else String.format(Locale.ROOT, "%.4g", Double.box(d))
  }

  def num(v: Any): Double = v match {
    case null => Double.NaN
    case n: Number => n.doubleValue()
    case other => try other.toString.toDouble catch { case _: NumberFormatException => Double.NaN }
  }

  /** log10 for axis positioning: non-positive values have no place on
    * a log axis and drop out as NaN (the matplotlib/plotly contract). */
  private[graft] def log10pos(v: Double): Double =
    if (v > 0) math.log10(v) else Double.NaN

  /** Log-axis ticks over a LOG10-SPACE range [lo, hi]: (position in
    * log space, label, isMinor).  Major ticks at integer decades
    * (labeled with the decade value), minor unlabeled ticks at
    * mantissas 2–9 (reference plotly/tools.py:105–204 log tick
    * generation); when the span covers fewer than two decade ticks
    * the 2/5 mantissa ticks get labels so short ranges stay
    * readable. */
  private[graft] def logTicks(lo: Double, hi: Double): Seq[(Double, String, Boolean)] = {
    if (!(hi > lo)) return Seq((lo, fmt(math.pow(10, lo)), false))
    val k0 = math.floor(lo).toInt
    val k1 = math.ceil(hi).toInt
    val nMajors = (k0 to k1).count(k => k >= lo - 1e-9 && k <= hi + 1e-9)
    val labelMinors = nMajors < 2
    val out = Seq.newBuilder[(Double, String, Boolean)]
    var k = k0
    while (k <= k1) {
      var m = 1
      while (m <= 9) {
        val p = k + math.log10(m.toDouble)
        if (p >= lo - 1e-9 && p <= hi + 1e-9) {
          if (m == 1) out += ((p, fmt(math.pow(10, k)), false))
          else if (labelMinors && (m == 2 || m == 5))
            out += ((p, fmt(m * math.pow(10, k)), false))
          else out += ((p, "", true))
        }
        m += 1
      }
      k += 1
    }
    out.result()
  }

  /** Unified tick list for one axis: (position in scale space, label,
    * isMinor).  Linear axes label every tick; log axes delegate to
    * [[logTicks]]. */
  def axisTicks(lo: Double, hi: Double, isLog: Boolean): Seq[(Double, String, Boolean)] =
    if (isLog) logTicks(lo, hi) else ticks(lo, hi).map(t => (t, fmt(t), false))

  /** Whether a channel requests a log scale (`"scale" -> "log"` in the
    * encoding — the [[PlotSpec.logScale]] flag). */
  def isLogChannel(spec: PlotSpec, channel: String): Boolean =
    spec.encoding.get(channel).exists(_.get("scale").contains("log"))

  /** ~`n` "nice" tick positions covering [lo, hi] (1/2/5 steps). */
  def ticks(lo: Double, hi: Double, n: Int = 4): Seq[Double] = {
    if (!(hi > lo)) return Seq(lo)
    val raw = (hi - lo) / n
    val mag = math.pow(10, math.floor(math.log10(raw)))
    val step = (raw / mag) match {
      case r if r <= 1.5 => mag
      case r if r <= 3.5 => 2 * mag
      case r if r <= 7.5 => 5 * mag
      case _ => 10 * mag
    }
    val start = math.ceil(lo / step) * step
    Iterator.iterate(start)(_ + step).takeWhile(_ <= hi + step * 1e-9).toSeq
  }

  /** 5-stop viridis-ish sequential ramp for `color` channels. */
  def ramp(t: Double): String = {
    val stops = Vector((68, 1, 84), (59, 82, 139), (33, 145, 140), (94, 201, 98), (253, 231, 37))
    val x = math.max(0.0, math.min(1.0, t)) * (stops.size - 1)
    val i = math.min(stops.size - 2, x.toInt)
    val f = x - i
    val (r0, g0, b0) = stops(i); val (r1, g1, b1) = stops(i + 1)
    def mix(a: Int, b: Int) = math.round(a + (b - a) * f).toInt
    f"#${mix(r0, r1)}%02x${mix(g0, g1)}%02x${mix(b0, b1)}%02x"
  }

  case class Scale(lo: Double, hi: Double, pixLo: Double, pixHi: Double) {
    def apply(v: Double): Double =
      if (hi == lo) (pixLo + pixHi) / 2
      else pixLo + (v - lo) / (hi - lo) * (pixHi - pixLo)
  }

  def fieldOf(spec: PlotSpec, channel: String): Option[String] =
    spec.encoding.get(channel).flatMap(_.get("field"))

  def extent(vs: Seq[Double], padFrac: Double = 0.0): (Double, Double) = {
    val clean = vs.filterNot(_.isNaN)
    if (clean.isEmpty) (0.0, 1.0)
    else {
      val (lo, hi) = (clean.min, clean.max)
      val pad = if (hi > lo) (hi - lo) * padFrac else math.max(math.abs(lo), 1.0) * 0.05
      (lo - pad, hi + pad)
    }
  }

  // ── figures: each makes its canvas, paints the theme background, draws ──

  def open[C <: Canvas](canvas: (Int, Int) => C, w: Int, h: Int, theme: Theme): C = {
    val c = canvas(w, h)
    theme.background.foreach(bg => c.fillRect(0, 0, w, h, bg))
    c
  }

  /** One spec filling the canvas. */
  def single[C <: Canvas](spec: PlotSpec, w: Int, h: Int, color: String, theme: Theme,
                          canvas: (Int, Int) => C): C = {
    val c = open(canvas, w, h, theme)
    body(c, spec, 0, 0, w, h, color, title = spec.title, theme = theme)
    c
  }

  /** Overlay facets on SHARED axes with the deterministic style cycle
    * (plotter.py:394–408: each group advances the prop cycle). */
  def facets[C <: Canvas](f: FacetSpec, w: Int, h: Int, theme: Theme,
                          canvas: (Int, Int) => C): C = {
    val c = open(canvas, w, h, theme)
    // shared scales: union of every facet's data extent
    val all = f.facets.map(_._2)
    val merged = all.headOption.map(_.copy(data = all.flatMap(_.data)))
    f.facets.zipWithIndex.foreach { case ((label, spec), i) =>
      val st = theme.styleFor(i)
      body(c, spec, 0, 0, w, h, st.color, axesFrom = merged, drawAxes = i == 0,
        marker = st.marker, title = None, theme = theme)
      val lx = w - 110; val ly = 18 + 16 * i
      c.fillRect(lx, ly - 9, lx + 10, ly + 1, st.color)
      c.text(lx + 14, ly, label, 11, "start", None)
    }
    c
  }

  /** Corner grid (plotter.py:1615–1711): lower-triangle panels,
    * diagonal hists annotated `v = p50 (+p84−p50 / −p50−p16)` with
    * dashed percentile lines, shared column ordering. */
  def corner[C <: Canvas](cs: CornerSpec, panel: Int, theme: Theme,
                          canvas: (Int, Int) => C): C = {
    val cols = cs.panels.collect { case ((x, y), _) if x == y => x }
    val idx = cols.zipWithIndex.toMap
    val c = open(canvas, panel * cols.size, panel * cols.size, theme)
    cs.panels.foreach { case ((x, y), spec) =>
      val (ix, iy) = (idx(x), idx(y))
      val q = if (ix == iy) cs.quantiles.get(x) else None
      // U+2212 minus: Font5x7 folds it onto the ASCII hyphen glyph
      val title = q.map { case (p16, p50, p84) =>
        s"$x = ${fmt(p50)} (+${fmt(p84 - p50)} / −${fmt(p50 - p16)})"
      }
      body(c, spec, ix * panel, iy * panel, panel, panel, theme.palette(0),
        title = title, theme = theme)
      q.foreach { case (p16, p50, p84) =>
        val xs = spec.data.map(r => num(r(fieldOf(spec, "x").getOrElse(x))))
        val (lo, hi) = extent(xs, 0.02)
        val sx = Scale(lo, hi, ix * panel + ml.toDouble, ix * panel + panel - mr.toDouble)
        Seq(p16, p50, p84).foreach { v =>
          c.line(sx(v), iy * panel + mt, sx(v), iy * panel + panel - mb, "#555", "4,3")
        }
      }
    }
    c
  }

  // ── one panel ───────────────────────────────────────────────────────

  private def frame(c: Canvas, x0: Int, y0: Int, w: Int, h: Int, theme: Theme): Unit =
    theme.spines match {
      case "box" => c.strokeRect(x0 + ml, y0 + mt, x0 + w - mr, y0 + h - mb, theme.axisColor)
      case "lb" => // left + bottom spines only (light_minimal_theme.py:26–27)
        c.line(x0 + ml, y0 + mt, x0 + ml, y0 + h - mb, theme.axisColor)
        c.line(x0 + ml, y0 + h - mb, x0 + w - mr, y0 + h - mb, theme.axisColor)
      case _ => ()
    }

  private def drawTitle(c: Canvas, title: Option[String], x0: Int, y0: Int, w: Int,
                        theme: Theme): Unit =
    title.foreach(t => c.text(x0 + w / 2, y0 + 14, t, theme.titleFontPx, "middle", None))

  /** One panel's marks + (optionally) axes inside the given rect. */
  def body(c: Canvas, spec: PlotSpec, x0: Int, y0: Int, w: Int, h: Int,
           color: String, axesFrom: Option[PlotSpec] = None,
           drawAxes: Boolean = true, marker: String = "circle",
           title: Option[String], theme: Theme = Theme.classic): Unit = {
    if (spec.mark == "boxplot") return boxBody(c, spec, x0, y0, w, h, color, title, theme)
    val xf = fieldOf(spec, "x").getOrElse(throw new IllegalArgumentException(
      s"${c.backend} render: mark '${spec.mark}' needs an x field"))
    val yf = fieldOf(spec, "y").getOrElse(xf)
    val cf = fieldOf(spec, "color")
    val base = axesFrom.getOrElse(spec)
    // log axes: position EVERYTHING in log10 space (scales, ticks,
    // marks); non-positive values drop out as NaN
    val xlog = isLogChannel(base, "x")
    val ylog = isLogChannel(base, "y")
    def tx(v: Double): Double = if (xlog) log10pos(v) else v
    def ty(v: Double): Double = if (ylog) log10pos(v) else v
    // color-channel log (reference plotly/tools.py:105-204 logscale):
    // ramp normalization runs over log10 of the color data
    val clog = isLogChannel(base, "color")
    def tc(v: Double): Double = if (clog) log10pos(v) else v
    val xs = base.data.map(r => tx(num(r(xf))))
    val ys = base.data.map(r => ty(num(r(yf))))
    val pad = if (spec.mark == "point") 0.03 else 0.02
    val (xlo, xhi) = extent(xs, pad)
    val (ylo0, yhi) = extent(ys, pad)
    val ylo = if (spec.mark == "bar" && !ylog) math.min(0.0, ylo0) else ylo0
    val sx = Scale(xlo, xhi, x0 + ml.toDouble, x0 + w - mr.toDouble)
    val sy = Scale(ylo, yhi, y0 + h - mb.toDouble, y0 + mt.toDouble)
    if (drawAxes) {
      val ac = theme.axisColor
      frame(c, x0, y0, w, h, theme)
      val xticks = axisTicks(xlo, xhi, xlog)
      val yticks = axisTicks(ylo, yhi, ylog)
      theme.gridColor.foreach { gc => // gridlines at MAJOR ticks only
        xticks.filterNot(_._3).foreach { case (t, _, _) =>
          c.line(sx(t), y0 + mt, sx(t), y0 + h - mb, gc)
        }
        yticks.filterNot(_._3).foreach { case (t, _, _) =>
          c.line(x0 + ml, sy(t), x0 + w - mr, sy(t), gc)
        }
      }
      xticks.foreach { case (t, label, minor) =>
        val len = if (minor) math.max(theme.tickLen - 2, 2) else theme.tickLen
        if (theme.tickLen > 0) c.line(sx(t), y0 + h - mb, sx(t), y0 + h - mb + len, ac)
        if (label.nonEmpty)
          c.text(sx(t), y0 + h - mb + 15, label, theme.tickFontPx, "middle", theme.tickLabelColor)
      }
      yticks.foreach { case (t, label, minor) =>
        val len = if (minor) math.max(theme.tickLen - 2, 2) else theme.tickLen
        if (theme.tickLen > 0) c.line(x0 + ml - len, sy(t), x0 + ml, sy(t), ac)
        if (label.nonEmpty)
          c.text(x0 + ml - 6, sy(t) + 3, label, theme.tickFontPx, "end", theme.tickLabelColor)
      }
      c.text(x0 + (ml + w - mr) / 2, y0 + h - 4, xf, theme.labelFontPx, "middle", None)
    }
    drawTitle(c, title, x0, y0, w, theme)
    spec.mark match {
      case "bar" =>
        // per-bar edges at the midpoints between neighboring centers in
        // the (possibly log-transformed) axis space: on a log axis,
        // linearly uniform histogram centers have SHRINKING spacing to
        // the right, so a single global min-spacing width would render
        // every bar at the narrowest width with growing gaps toward the
        // left; midpoint edges keep the bars contiguous on both linear
        // and log axes (identical geometry to the old min-spacing rule
        // when the transformed centers are uniform)
        val centers = spec.data.map(r => tx(num(r(xf)))).filterNot(_.isNaN).distinct.sorted
        val edges: Map[Double, (Double, Double)] =
          if (centers.size >= 2) {
            val mids = centers.sliding(2).map(p => (p(0) + p(1)) / 2).toVector
            val lo = centers.head - (mids.head - centers.head)
            val hi = centers.last + (centers.last - mids.last)
            val all = lo +: mids :+ hi
            centers.indices.map(i => centers(i) -> ((all(i), all(i + 1)))).toMap
          } else {
            val half = math.max(xhi - xlo, 1.0) / 2
            centers.map(m => m -> ((m - half, m + half))).toMap
          }
        spec.data.foreach { r =>
          val cx = tx(num(r(xf))); val cy = ty(num(r(yf)))
          if (!cx.isNaN && !cy.isNaN) {
            // a value below the axis floor inverts the rect, which draws nothing
            val (elo, ehi) = edges(cx)
            c.fillRect(sx(elo), sy(cy), sx(ehi), sy(ylo), color, 0.75)
          }
        }
      case "point" =>
        val sizeF = fieldOf(spec, "size")
        val cs = spec.data.map(r => cf.map(f => tc(num(r(f)))).getOrElse(Double.NaN))
        val (clo, chi) = extent(cs.filterNot(_.isNaN))
        spec.data.foreach { r =>
          val px = tx(num(r(xf))); val py = ty(num(r(yf)))
          if (!px.isNaN && !py.isNaN) {
            val rad = sizeF.map(f => 1.5 + 2.5 * math.sqrt(math.max(num(r(f)), 0.0) /
              math.max(spec.data.map(q => num(q(f))).filterNot(_.isNaN).max, 1.0))).getOrElse(2.5)
            val fill = cf.map(f => ramp((tc(num(r(f))) - clo) / math.max(chi - clo, 1e-300)))
              .getOrElse(color)
            c.glyph(marker, sx(px), sy(py), rad, fill, 0.8)
          }
        }
      case "rect" =>
        val cvs = spec.data.map(r => tc(num(r(cf.getOrElse(yf)))))
        val (clo, chi) = extent(cvs.filterNot(_.isNaN))
        val cxs = spec.data.map(r => tx(num(r(xf)))).filterNot(_.isNaN).distinct.sorted
        val cys = spec.data.map(r => ty(num(r(yf)))).filterNot(_.isNaN).distinct.sorted
        def spacing(cs: Seq[Double], fallback: Double) =
          if (cs.size >= 2) cs.sliding(2).map(p => p(1) - p(0)).min else fallback
        val bwx = spacing(cxs, math.max(xhi - xlo, 1.0))
        val bwy = spacing(cys, math.max(yhi - ylo, 1.0))
        spec.data.foreach { r =>
          val px = tx(num(r(xf))); val py = ty(num(r(yf))); val cv = tc(num(r(cf.getOrElse(yf))))
          if (!px.isNaN && !py.isNaN && !cv.isNaN)
            c.fillRect(sx(px - bwx / 2), sy(py + bwy / 2), sx(px + bwx / 2), sy(py - bwy / 2),
              ramp((cv - clo) / math.max(chi - clo, 1e-300)))
        }
      case "area" =>
        // one polyline per `variable` series (violin densities),
        // style-cycled deterministically by series index
        val varF = fieldOf(spec, "color").orElse(fieldOf(spec, "detail"))
        val series = varF match {
          case Some(f) => spec.data.groupBy(r => String.valueOf(r(f))).toSeq.sortBy(_._1)
          case None => Seq("" -> spec.data)
        }
        series.zipWithIndex.foreach { case ((_, rows), i) =>
          val pts = rows.map(r => (tx(num(r(xf))), ty(num(r(yf)))))
            .filterNot(p => p._1.isNaN || p._2.isNaN).sortBy(_._1)
            .map(p => (sx(p._1), sy(p._2)))
          val st = theme.styleFor(i)
          c.polyline(pts, st.color, 0.25, st.dash)
        }
      case other =>
        throw new IllegalArgumentException(
          s"mark '$other' has no ${c.backend} backend (bar/point/rect/area/boxplot)")
    }
  }

  /** Boxplot panel (ezdata/plotter.py:943–955 `Plotter.box`): one
    * whisker+box+median glyph per `variable` row over a categorical x
    * axis; rows carry the five-number summary computed cluster-side. */
  private def boxBody(c: Canvas, spec: PlotSpec, x0: Int, y0: Int, w: Int, h: Int,
                      color: String, title: Option[String], theme: Theme): Unit = {
    val rows = spec.data
    val k = math.max(rows.size, 1)
    val los = rows.map(r => num(r("min"))); val his = rows.map(r => num(r("max")))
    val (ylo, yhi) = extent(los ++ his, 0.02)
    val sy = Scale(ylo, yhi, y0 + h - mb.toDouble, y0 + mt.toDouble)
    val sx = Scale(0.0, k.toDouble, x0 + ml.toDouble, x0 + w - mr.toDouble)
    frame(c, x0, y0, w, h, theme)
    ticks(ylo, yhi).foreach { t =>
      theme.gridColor.foreach(gc => c.line(x0 + ml, sy(t), x0 + w - mr, sy(t), gc))
      if (theme.tickLen > 0)
        c.line(x0 + ml - theme.tickLen, sy(t), x0 + ml, sy(t), theme.axisColor)
      c.text(x0 + ml - 6, sy(t) + 3, fmt(t), theme.tickFontPx, "end", theme.tickLabelColor)
    }
    drawTitle(c, title, x0, y0, w, theme)
    rows.zipWithIndex.foreach { case (r, i) =>
      val cx = sx(i + 0.5); val half = sx(0.8) - sx(0.5) // 0.3 category units
      val (mn, q1, med, q3, mx) =
        (num(r("min")), num(r("q1")), num(r("median")), num(r("q3")), num(r("max")))
      // whisker with caps
      c.line(cx, sy(mn), cx, sy(mx), "#555")
      Seq(mn, mx).foreach(v => c.line(cx - half / 2, sy(v), cx + half / 2, sy(v), "#555"))
      // interquartile box + median bar
      c.fillRect(cx - half, sy(q3), cx + half, sy(q1), color, 0.6, Some("#555"))
      c.line(cx - half, sy(med), cx + half, sy(med), "#000")
      c.text(cx, y0 + h - mb + 15, String.valueOf(r("variable")), theme.tickFontPx, "middle", None)
    }
  }
}
