package graft.plot

import Panel._

/** SVG output of the presentation tier: the one panel layout
  * ([[Panel]]) drawn onto an [[SvgCanvas]] that appends one SVG element
  * per primitive — pure string assembly, no native dependencies, no
  * display, byte-stable output (golden-pinned in PlotterSpec).
  * [[PngRender]] draws the same layout onto a raster.  The legend,
  * colorbar and figure-combining helpers below are SVG-only.
  */
object SvgRender {

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace("\"", "&quot;")

  /** A standalone SVG document under construction; [[result]] closes it. */
  private[plot] final class SvgCanvas(w: Int, h: Int, fontFamily: String) extends Canvas {
    private val b = new StringBuilder
    b ++= s"""<svg xmlns="http://www.w3.org/2000/svg" width="$w" height="$h" viewBox="0 0 $w $h" font-family="$fontFamily">"""

    def backend: String = "SVG"
    /** Append an already-formed SVG fragment (legend, colorbar). */
    def append(fragment: String): Unit = b ++= fragment
    def result: String = b.toString + "</svg>"

    private def dashAttr(dash: String): String =
      if (dash.nonEmpty) s""" stroke-dasharray="$dash"""" else ""
    private def opacityAttr(opacity: Double): String =
      if (opacity < 1.0) s""" fill-opacity="$opacity"""" else ""

    def line(x1: Double, y1: Double, x2: Double, y2: Double, stroke: String, dash: String): Unit =
      b ++= s"""<line x1="${fmt(x1)}" y1="${fmt(y1)}" x2="${fmt(x2)}" y2="${fmt(y2)}" stroke="$stroke"${dashAttr(dash)}/>"""
    private def rect(x0: Double, y0: Double, x1: Double, y1: Double, attrs: String): Unit =
      b ++= s"""<rect x="${fmt(x0)}" y="${fmt(y0)}" width="${fmt(math.max(x1 - x0, 0.0))}" height="${fmt(math.max(y1 - y0, 0.0))}" $attrs/>"""
    def fillRect(x0: Double, y0: Double, x1: Double, y1: Double, fill: String,
                 opacity: Double, stroke: Option[String]): Unit =
      rect(x0, y0, x1, y1,
        s"""fill="$fill"${opacityAttr(opacity)}${stroke.fold("")(s => s""" stroke="$s"""")}""")
    def strokeRect(x0: Double, y0: Double, x1: Double, y1: Double, stroke: String): Unit =
      rect(x0, y0, x1, y1, s"""fill="none" stroke="$stroke"""")
    def glyph(marker: String, x: Double, y: Double, r: Double, fill: String, opacity: Double): Unit = {
      val paint = s"""fill="$fill"${opacityAttr(opacity)}"""
      b ++= (marker match {
        case "square" =>
          s"""<rect x="${fmt(x - r)}" y="${fmt(y - r)}" width="${fmt(2 * r)}" height="${fmt(2 * r)}" $paint/>"""
        case "triangle" =>
          s"""<polygon points="${fmt(x)},${fmt(y - r)} ${fmt(x - r)},${fmt(y + r)} ${fmt(x + r)},${fmt(y + r)}" $paint/>"""
        case "diamond" =>
          s"""<polygon points="${fmt(x)},${fmt(y - r)} ${fmt(x + r)},${fmt(y)} ${fmt(x)},${fmt(y + r)} ${fmt(x - r)},${fmt(y)}" $paint/>"""
        case _ =>
          s"""<circle cx="${fmt(x)}" cy="${fmt(y)}" r="${fmt(r)}" $paint/>"""
      })
    }
    def polyline(pts: Seq[(Double, Double)], color: String, fillOpacity: Double, dash: String): Unit = {
      val points = pts.map(p => s"${fmt(p._1)},${fmt(p._2)}").mkString(" ")
      b ++= s"""<polyline points="$points" fill="$color"${opacityAttr(fillOpacity)} stroke="$color"${dashAttr(dash)}/>"""
    }
    def text(x: Double, y: Double, s: String, size: Int, anchor: String, fill: Option[String]): Unit = {
      val anchorAttr = if (anchor == "start") "" else s""" text-anchor="$anchor""""
      val fillAttr = fill.fold("")(c => s""" fill="$c"""")
      b ++= s"""<text x="${fmt(x)}" y="${fmt(y)}" font-size="$size"$anchorAttr$fillAttr>${esc(s)}</text>"""
    }
  }

  private def canvas(theme: Theme): (Int, Int) => SvgCanvas =
    new SvgCanvas(_, _, theme.fontFamily)

  /** Render one spec to a standalone SVG document. */
  def render(spec: PlotSpec, width: Int = 480, height: Int = 360,
             color: String = null, theme: Theme = Theme.classic): String =
    single(spec, width, height, Option(color).getOrElse(theme.palette(0)), theme,
      canvas(theme)).result

  /** Overlay facets on shared axes — see [[Panel.facets]]. */
  def renderFacets(f: FacetSpec, width: Int = 480, height: Int = 360,
                   theme: Theme = Theme.classic): String =
    facets(f, width, height, theme, canvas(theme)).result

  /** Corner grid with annotated diagonals — see [[Panel.corner]]. */
  def renderCorner(c: CornerSpec, panel: Int = 220,
                   theme: Theme = Theme.classic): String =
    corner(c, panel, theme, canvas(theme)).result

  // ── legend (reference matplotlib/legend.py:16–130) ──────────────────

  /** Hex color of `palette` at t ∈ [0, 1] — linear anchor
    * interpolation, the driver-side twin of
    * [[graft.functions.Colors.colorify]]'s Column arithmetic. */
  private[graft] def paletteHex(p: graft.functions.Colors.Palette, t: Double): String = {
    val n = p.size
    val x = math.max(0.0, math.min(1.0, t)) * (n - 1)
    val i = math.min(n - 2, x.toInt)
    val f = x - i
    def ch(get: ((Double, Double, Double)) => Double): Int = {
      val v = get(p(i)) + (get(p(i + 1)) - get(p(i))) * f
      math.min(255, math.max(0, math.round(v * 256).toInt))
    }
    f"#${ch(_._1)}%02x${ch(_._2)}%02x${ch(_._3)}%02x"
  }

  private def legendWidth(entries: Seq[(String, LegendSwatch)]): Int =
    40 + entries.map(_._1.length).maxOption.getOrElse(0) * 7

  /** Legend block at (x, y): one row per entry — a 24×12 swatch +
    * label.  A [[CmapSwatch]] renders the reference's striped-colormap
    * legend artist (matplotlib/legend.py:16–130 HandlerColormap: the
    * patch is `stripes` vertical slices sampling the colormap at
    * stripe centers); a [[SolidSwatch]] is the ordinary facet patch. */
  def legend(entries: Seq[(String, LegendSwatch)], x: Int, y: Int,
             theme: Theme = Theme.classic): String = {
    val rowH = 16; val swW = 24; val swH = 12
    val b = new StringBuilder
    b ++= "<g>"
    b ++= s"""<rect x="$x" y="$y" width="${legendWidth(entries)}" height="${entries.size * rowH + 8}" fill="${theme.background.getOrElse("#ffffff")}" fill-opacity="0.85" stroke="${theme.axisColor}"/>"""
    entries.zipWithIndex.foreach { case ((label, sw), i) =>
      val sy = y + 6 + i * rowH
      sw match {
        case SolidSwatch(c) =>
          b ++= s"""<rect x="${x + 5}" y="$sy" width="$swW" height="$swH" fill="$c"/>"""
        case CmapSwatch(p, stripes) =>
          val stripeW = swW.toDouble / stripes
          var s = 0
          while (s < stripes) {
            // tiny overlap so antialiased viewers show no seams
            b ++= s"""<rect x="${fmt(x + 5 + s * stripeW)}" y="$sy" width="${fmt(stripeW + 0.01)}" height="$swH" fill="${paletteHex(p, (s + 0.5) / stripes)}"/>"""
            s += 1
          }
          b ++= s"""<rect x="${x + 5}" y="$sy" width="$swW" height="$swH" fill="none" stroke="${theme.axisColor}"/>"""
      }
      b ++= s"""<text x="${x + 5 + swW + 6}" y="${sy + swH - 2}" font-size="${theme.tickFontPx}">${esc(label)}</text>"""
    }
    b ++= "</g>"
    b.toString
  }

  // ── colorbars + figure combining (reference plotly/tools.py) ────────

  /** Vertical colorbar for a color-mapped panel — the reference's
    * colorbar repositioning and log-tick machinery
    * (plotly/tools.py:19–103 reposition/separate_colorbars, :105–204
    * logscale) re-expressed deterministically: the bar sits at the
    * normalized (`xnorm`, `ynorm`) position of the PANEL's plot-area
    * domain (the reference's domain-fraction convention, ynorm
    * measured bottom-up), spans `barLen` of the domain height, samples
    * the same sequential ramp the rect/point fills use, and draws
    * value ticks from the panel's color extent — integer-decade
    * positions labeled with the VALUE (`ticktext = 10**decades`) when
    * the color channel is log-scaled.  `None` when the spec maps no
    * color (rect marks fall back to their y field, the [[Panel.body]]
    * convention). */
  def colorbarFor(spec: PlotSpec, panelX: Int, panelY: Int, panelW: Int, panelH: Int,
                  xnorm: Double = 1.05, ynorm: Double = 0.5, barLen: Double = 0.8,
                  theme: Theme = Theme.classic): Option[String] = {
    val cfield = fieldOf(spec, "color").orElse(
      if (spec.mark == "rect") fieldOf(spec, "y").orElse(fieldOf(spec, "x")) else None)
    cfield.map { f =>
      val clog = isLogChannel(spec, "color")
      def tc(v: Double): Double = if (clog) log10pos(v) else v
      val (lo, hi) = extent(spec.data.map(r => tc(num(r(f)))))
      val dx0 = panelX + ml; val dx1 = panelX + panelW - mr
      val dy0 = panelY + mt; val dy1 = panelY + panelH - mb
      val x = dx0 + (dx1 - dx0) * xnorm
      val cy = dy1 - (dy1 - dy0) * ynorm
      val len = (dy1 - dy0) * barLen
      val top = cy - len / 2
      val bw = 12
      val stripes = 24
      val b = new StringBuilder
      b ++= "<g>"
      var s = 0
      while (s < stripes) {
        // stripe 0 at the BOTTOM: low values down, matching the y axis
        val sy = top + len * (1.0 - (s + 1).toDouble / stripes)
        b ++= s"""<rect x="${fmt(x)}" y="${fmt(sy)}" width="$bw" height="${fmt(len / stripes + 0.01)}" fill="${ramp((s + 0.5) / stripes)}"/>"""
        s += 1
      }
      b ++= s"""<rect x="${fmt(x)}" y="${fmt(top)}" width="$bw" height="${fmt(len)}" fill="none" stroke="${theme.axisColor}"/>"""
      val tickList =
        if (clog) {
          val k0 = math.ceil(lo - 1e-9).toInt
          val k1 = math.floor(hi + 1e-9).toInt
          (k0 to k1).map(k => (k.toDouble, fmt(math.pow(10, k))))
        } else ticks(lo, hi).map(t => (t, fmt(t)))
      tickList.foreach { case (t, label) =>
        val ty = top + len * (1.0 - (t - lo) / math.max(hi - lo, 1e-300))
        b ++= s"""<line x1="${fmt(x + bw)}" y1="${fmt(ty)}" x2="${fmt(x + bw + 3)}" y2="${fmt(ty)}" stroke="${theme.axisColor}"/>"""
        b ++= s"""<text x="${fmt(x + bw + 5)}" y="${fmt(ty + 3)}" font-size="${theme.tickFontPx}">${esc(label)}</text>"""
      }
      b ++= "</g>"
      b.toString
    }
  }

  /** Combine panels into ONE figure — reference plotly/tools.py:303–
    * 416 `combine_figures`: a 2-D grid of specs (`None` = empty cell),
    * each panel rendered with its OWN axes and title, and — when
    * `colorbars` — each color-mapped panel gets its own colorbar at
    * the reference's separate-colorbars default position (just right
    * of the panel domain, vertically centered).  Deterministic string
    * assembly; golden-pinnable like every other render path. */
  def combineFigures(panels: Seq[Seq[Option[PlotSpec]]],
                     panelW: Int = 300, panelH: Int = 240,
                     colorbars: Boolean = true,
                     theme: Theme = Theme.classic): String = {
    require(panels.nonEmpty && panels.forall(_.size == panels.head.size),
      "combineFigures needs a rectangular, non-empty panel grid")
    val nrows = panels.size
    val ncols = panels.head.size
    val cbW = if (colorbars) 48 else 0 // bar + tick labels gutter
    val svg = open(canvas(theme), ncols * (panelW + cbW), nrows * panelH, theme)
    for ((row, i) <- panels.zipWithIndex; (cell, j) <- row.zipWithIndex; spec <- cell) {
      val x0 = j * (panelW + cbW)
      val y0 = i * panelH
      body(svg, spec, x0, y0, panelW, panelH, theme.palette(0),
        title = spec.title, theme = theme)
      if (colorbars)
        colorbarFor(spec, x0, y0, panelW, panelH, theme = theme).foreach(svg.append)
    }
    svg.result
  }

  /** Render a spec with a legend overlaid in the top-right corner. */
  def renderWithLegend(spec: PlotSpec, entries: Seq[(String, LegendSwatch)],
                       width: Int = 480, height: Int = 360,
                       color: String = null, theme: Theme = Theme.classic): String = {
    val svg = single(spec, width, height, Option(color).getOrElse(theme.palette(0)), theme,
      canvas(theme))
    svg.append(legend(entries, width - legendWidth(entries) - 12, 26, theme))
    svg.result
  }
}

/** Deterministic facet style (the plotter.py:394–408 prop cycle entry
  * for facet index i — see [[Theme.styleFor]]). */
final case class FacetStyle(color: String, marker: String, dash: String)

/** Legend swatch: a solid patch, or the reference's striped-colormap
  * patch ([[SvgRender.legend]]). */
sealed trait LegendSwatch
final case class SolidSwatch(color: String) extends LegendSwatch
final case class CmapSwatch(palette: graft.functions.Colors.Palette,
                            stripes: Int = 8) extends LegendSwatch
