package graft.plot

import org.scalatest.funsuite.AnyFunSuite

/** Raster-tier edge behavior pinned after the round-10 advice items:
  * the SvgRender/PngRender parity contract for negative bars and the
  * Font5x7 handling of typographic (non-ASCII) codepoints.  Lives in
  * package graft.plot so it can exercise the `private[plot]` seams
  * directly.
  */
class PngRenderEdgeSpec extends AnyFunSuite {

  private def rasterOf(w: Int, h: Int)(draw: PngRender.Raster => Unit): Array[Byte] = {
    val r = new PngRender.Raster(w, h)
    draw(r)
    graft.functions.MediaCodecs.pngDecodeRgb(r.png)
      .getOrElse(fail("undecodable PNG")) ._3
  }

  test("Font5x7: U+2212 minus renders the exact pixels of ASCII '-'") {
    val a = rasterOf(16, 12)(r => r.text(2, 9, "-", 0x000000, PngRender.Anchor.Start))
    val b = rasterOf(16, 12)(r => r.text(2, 9, "−", 0x000000, PngRender.Anchor.Start))
    assert(java.util.Arrays.equals(a, b), "minus-sign glyph must fold onto the hyphen")
    assert(a.exists(_ != -1), "glyph must draw some non-white pixels")
  }

  test("Font5x7: en/em dash and curly quotes fold onto ASCII twins") {
    for ((typo, ascii) <- Seq("–" -> "-", "—" -> "-",
                              "‘" -> "'", "’" -> "'",
                              "“" -> "\"", "”" -> "\"")) {
      val a = rasterOf(16, 12)(r => r.text(2, 9, ascii, 0x000000, PngRender.Anchor.Start))
      val b = rasterOf(16, 12)(r => r.text(2, 9, typo, 0x000000, PngRender.Anchor.Start))
      assert(java.util.Arrays.equals(a, b), s"U+${typo.charAt(0).toInt.toHexString} should fold onto '$ascii'")
    }
  }

  test("Font5x7: unmapped non-ASCII draws the hollow-box fallback, not blank") {
    val px = rasterOf(16, 12)(r => r.text(2, 9, "é", 0x000000, PngRender.Anchor.Start))
    assert(px.exists(_ != -1), "non-ASCII must render a visible fallback glyph")
  }

  test("bar mark clamps values below the axis floor to nothing (SvgRender parity)") {
    // Axes framed by a [0, 10] series; the drawn spec carries a value
    // far below the floor.  SvgRender emits height=max(ph,0)=0 (draws
    // nothing); the raster twin must not draw a flipped rect either.
    val enc = Map("x" -> Map("field" -> "x"), "y" -> Map("field" -> "y"))
    val axes = PlotSpec("bar",
      Seq(Map[String, Any]("x" -> 1.0, "y" -> 0.0), Map[String, Any]("x" -> 2.0, "y" -> 10.0)), enc)
    val below = PlotSpec("bar", Seq(Map[String, Any]("x" -> 1.5, "y" -> -100.0)), enc)
    val blank = rasterOf(120, 100) { r => () }
    val drawn = rasterOf(120, 100) { r =>
      Panel.body(r, below, 0, 0, 120, 100, "#1f77b4",
        axesFrom = Some(axes), drawAxes = false, title = None)
    }
    assert(java.util.Arrays.equals(blank, drawn),
      "a bar whose value sits below the axis floor must render no pixels")
  }

  test("bar mark still draws in-range bars after the clamp") {
    val enc = Map("x" -> Map("field" -> "x"), "y" -> Map("field" -> "y"))
    val spec = PlotSpec("bar",
      Seq(Map[String, Any]("x" -> 1.0, "y" -> 4.0), Map[String, Any]("x" -> 2.0, "y" -> 10.0)), enc)
    val drawn = rasterOf(120, 100) { r =>
      Panel.body(r, spec, 0, 0, 120, 100, "#1f77b4", drawAxes = false, title = None)
    }
    assert(drawn.exists(_ != -1), "in-range bars must still rasterize")
  }
}
