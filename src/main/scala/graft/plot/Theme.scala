package graft.plot

/** Presentation theme for the SVG and PNG rendering tiers — the
  * deterministic core of the reference's per-backend theme modules
  * (ezdata/plotly/fivethirtyeight_theme.py, ezdata/plotly/
  * light_minimal_theme.py, ezdata/matplotlib/light_minimal_theme.py,
  * ezdata/bokeh/light_minimal_theme.py): color cycle, axis/grid/tick
  * styling, font family and the matplotlib font-size scaling ladder,
  * reduced to the attributes a static SVG can honor.  Interactive
  * concerns (hover, toolbars, margins-in-figure-coords) have no
  * deterministic-SVG counterpart and are out of scope.
  *
  * [[Theme.classic]] reproduces the renderer's original hard-coded
  * look byte-for-byte, so it is the default everywhere and the
  * existing golden pins stay valid.
  */
final case class Theme(
    name: String,
    /** mark color cycle (facet i → palette(i % n)) */
    palette: IndexedSeq[String],
    fontFamily: String,
    /** canvas fill behind everything; None = transparent */
    background: Option[String],
    /** frame/spine + tick-mark stroke */
    axisColor: String,
    /** tick-label fill; None = SVG default (black) */
    tickLabelColor: Option[String],
    /** Some(color) draws gridlines across the plot area at every tick */
    gridColor: Option[String],
    /** "box" = full frame, "lb" = left+bottom spines only, "none" */
    spines: String,
    /** outward tick-mark length in px; 0 = no tick marks */
    tickLen: Int,
    tickFontPx: Int,
    labelFontPx: Int,
    titleFontPx: Int) {
  require(spines == "box" || spines == "lb" || spines == "none",
    s"spines must be box|lb|none, got $spines")

  /** Deterministic style for facet i (the plotter.py:394–408 cycling
    * rule): color `palette(i % n)` from this theme, marker and dash
    * from the cycles every theme shares. */
  def styleFor(i: Int): FacetStyle =
    FacetStyle(palette(i % palette.size),
      Theme.markers(i % Theme.markers.size), Theme.dashes(i % Theme.dashes.size))
}

object Theme {

  /** The reference's matplotlib default prop cycle (tab10). */
  private val tab10: IndexedSeq[String] = Vector(
    "#1f77b4", "#ff7f0e", "#2ca02c", "#d62728", "#9467bd",
    "#8c564b", "#e377c2", "#7f7f7f", "#bcbd22", "#17becf")
  val markers: IndexedSeq[String] = Vector("circle", "square", "triangle", "diamond")
  val dashes: IndexedSeq[String] = Vector("", "6,3", "2,3")

  /** The matplotlib-default look the renderer always had (tab10 cycle,
    * #999 frame, black labels, sans-serif) — byte-identical to the
    * pre-theme output. */
  val classic: Theme = Theme(
    name = "classic",
    palette = tab10,
    fontFamily = "sans-serif",
    background = None,
    axisColor = "#999",
    tickLabelColor = None,
    gridColor = None,
    spines = "box",
    tickLen = 4,
    tickFontPx = 10,
    labelFontPx = 11,
    titleFontPx = 12)

  /** FiveThirtyEight (ezdata/plotly/fivethirtyeight_theme.py:13–70):
    * 6-color colorway (:44), #cbcbcb gridlines of width 1 (:27–28),
    * no frame/zeroline, ticklen 0, #808080 tick labels at 14 (:32),
    * axis titles 18 (:31), titles 20 (:68), white background (:49). */
  val fivethirtyeight: Theme = Theme(
    name = "fivethirtyeight",
    palette = Vector("#008fd5", "#fc4f30", "#e5ae38", "#6d904f", "#8b8b8b", "#810f7c"),
    fontFamily = "sans-serif",
    background = Some("#ffffff"),
    axisColor = "#cbcbcb",
    tickLabelColor = Some("#808080"),
    gridColor = Some("#cbcbcb"),
    spines = "none",
    tickLen = 0,
    tickFontPx = 14,
    labelFontPx = 18,
    titleFontPx = 20)

  /** Light-minimal publication theme (ezdata/matplotlib/
    * light_minimal_theme.py:7–28; ezdata/plotly/light_minimal_theme.py:
    * 46–97): serif, #666666 spines/ticks/labels, top+right spines off,
    * outward ticks (plotly ticklen=5 :69), no grid, white background;
    * font sizes from the matplotlib scaling ladder at normal=12pt —
    * small=⌊12·0.833⌋=9 ticks, large=⌊12·1.2⌋=14 labels,
    * x-large=⌊12·1.44⌋=17 titles (plotly/light_minimal_theme.py:24–34). */
  val lightMinimal: Theme = Theme(
    name = "light-minimal",
    palette = tab10,
    fontFamily = "serif",
    background = Some("#ffffff"),
    axisColor = "#666666",
    tickLabelColor = Some("#666666"),
    gridColor = None,
    spines = "lb",
    tickLen = 5,
    tickFontPx = 9,
    labelFontPx = 14,
    titleFontPx = 17)

  /** Named lookup (the `template='fivethirtyeight'` surface). */
  def byName(name: String): Theme = name match {
    case "classic" => classic
    case "fivethirtyeight" | "538" => fivethirtyeight
    case "light-minimal" | "light_minimal" | "lightminimal" => lightMinimal
    case other => throw new IllegalArgumentException(
      s"unknown theme '$other' (classic | fivethirtyeight | light-minimal)")
  }
}
