package graft.plot

import graft.core.EzFrame
import graft.functions.MediaCodecs

/** SVG/PNG parity: the same spec rendered to both formats places its
  * marks at the same coordinates.  Each case reads the geometry from
  * the SVG and checks the pixels the PNG drew there — log-x bar edges,
  * log-colour cells, and bars over a repeated x value. */
class RenderParitySpec extends graft.SparkSpec {

  private lazy val docs = EzFrame(
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))

  private final case class SvgRect(x: Double, y: Double, w: Double, h: Double, fill: String)

  private val RectEl =
    """<rect x="([^"]+)" y="([^"]+)" width="([^"]+)" height="([^"]+)" fill="(#[0-9a-f]{6})"([^>]*)/>""".r

  /** Filled rects with (`opacity` Some) or without (None) a fill-opacity. */
  private def rects(svg: String, opacity: Option[String]): Seq[SvgRect] =
    RectEl.findAllMatchIn(svg).collect {
      case m if opacity.fold(m.group(6).isEmpty)(o => m.group(6) == s""" fill-opacity="$o"""") =>
        SvgRect(m.group(1).toDouble, m.group(2).toDouble, m.group(3).toDouble,
          m.group(4).toDouble, m.group(5))
    }.toSeq

  /** Decoded PNG as a pixel lookup: (x, y) → 0xRRGGBB, -1 off canvas. */
  private def pixels(png: Array[Byte]): (Int, Int) => Int = {
    val (w, h, rgb) = MediaCodecs.pngDecodeRgb(png).getOrElse(fail("undecodable PNG"))
    (x, y) =>
      if (x < 0 || x >= w || y < 0 || y >= h) -1
      else {
        val p = (y * w + x) * 3
        ((rgb(p) & 0xff) << 16) | ((rgb(p + 1) & 0xff) << 8) | (rgb(p + 2) & 0xff)
      }
  }

  private def px(v: Double): Int = math.round(v).toInt

  /** Every bar's PNG run on its mid-height row spans exactly
    * [round(x), round(x + width)] of its SVG rect: each column inside is
    * bar-coloured, and the column just outside is bar-coloured only
    * where a neighbouring bar's own span covers it (columns off the
    * canvas are skipped). */
  private def assertBarSpans(spec: PlotSpec): Unit = {
    val bars = rects(spec.toSvg(), Some("0.75")).filter(_.h >= 2)
    assert(bars.nonEmpty, "the SVG must draw bars")
    val pix = pixels(spec.toPng())
    val onCanvas = (c: Int) => pix(c, 0) >= 0
    def barColoured(c: Int): Boolean = (c & 0xff) > ((c >> 16) & 0xff) + 30 // blue over white
    def rows(b: SvgRect) = px(b.y) to px(b.y + b.h)
    def cols(b: SvgRect) = px(b.x) to px(b.x + b.w)
    bars.zipWithIndex.foreach { case (b, i) =>
      val row = px(b.y + b.h / 2)
      val others = bars.patch(i, Nil, 1).filter(o => rows(o).contains(row))
      assert(b.w > 0, s"bar $i has zero width in the SVG")
      cols(b).filter(onCanvas).foreach { col =>
        assert(barColoured(pix(col, row)),
          s"bar $i: column $col of SVG span ${cols(b)} is not drawn on row $row")
      }
      Seq(cols(b).start - 1, cols(b).end + 1).filterNot(c => others.exists(cols(_).contains(c)))
        .filter(onCanvas).foreach { col =>
          assert(!barColoured(pix(col, row)),
            s"bar $i: column $col outside SVG span ${cols(b)} is drawn on row $row")
        }
    }
  }

  test("log-x histogram: PNG bars span the SVG bars' midpoint edges") {
    assertBarSpans(graft.plot.Plotter(docs).hist("n_chars", bins = 12).logScale("x"))
  }

  test("log-colour heatmap: each PNG cell centre has its SVG cell's fill") {
    val spec = graft.plot.Plotter(docs).hist2d("n_chars", "doc_id", bins = 6).logScale("c")
    val cells = rects(spec.toSvg(), None)
    assert(cells.size >= 20, s"heatmap cells expected, got ${cells.size}")
    assert(cells.map(_.fill).distinct.size > 1, "cells must span the colour ramp")
    val pix = pixels(spec.toPng())
    cells.foreach { c =>
      val (cx, cy) = (px(c.x + c.w / 2), px(c.y + c.h / 2))
      assert(pix(cx, cy) == Integer.parseInt(c.fill.drop(1), 16),
        f"cell at ($cx, $cy): PNG 0x${pix(cx, cy)}%06x, SVG ${c.fill}")
    }
  }

  test("bars over a repeated x value keep their width in both formats") {
    val enc = Map("x" -> Map("field" -> "x"), "y" -> Map("field" -> "y"))
    val rows = Seq(1.0 -> 4.0, 2.0 -> 7.0, 2.0 -> 3.0, 3.0 -> 9.0, 4.0 -> 5.0)
      .map { case (x, y) => Map[String, Any]("x" -> x, "y" -> y) }
    assertBarSpans(PlotSpec("bar", rows, enc))
  }
}
