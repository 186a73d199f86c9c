package graft.plot

import graft.functions.MediaCodecs

/** Raster (PNG) output of the presentation tier: the one panel layout
  * ([[Panel]]) drawn onto a [[Raster]] — a pure-Scala scanline
  * rasterizer feeding the repo's own standards-valid PNG encoder,
  * [[MediaCodecs.pngEncodeRgb]] (the reference renders through
  * matplotlib's Agg backend, ezdata/plotter.py:829–1711).  Because
  * [[SvgRender]] draws the same layout, the two formats place every
  * mark, tick and label at the same coordinates; the raster rounds each
  * to the nearest pixel.
  *
  * Deterministic by construction: integer/IEEE-double math only, no
  * java2d, no fonts from the OS (text uses the embedded [[Font5x7]]
  * bitmap face), no antialiasing — so output bytes are golden-pinnable
  * across JVMs exactly like the SVG tier.
  */
object PngRender {

  private[plot] def hexColor(s: String): Int = {
    val h = s.stripPrefix("#")
    val full = if (h.length == 3) h.flatMap(c => s"$c$c") else h // #999 → #999999
    Integer.parseInt(full, 16)
  }

  private val raster: (Int, Int) => Raster = new Raster(_, _)

  /** Render one spec to PNG bytes. */
  def render(spec: PlotSpec, width: Int = 480, height: Int = 360,
             color: String = null, theme: Theme = Theme.classic): Array[Byte] =
    Panel.single(spec, width, height, Option(color).getOrElse(theme.palette(0)), theme,
      raster).png

  /** Overlay facets on shared axes — see [[Panel.facets]]. */
  def renderFacets(f: FacetSpec, width: Int = 480, height: Int = 360,
                   theme: Theme = Theme.classic): Array[Byte] =
    Panel.facets(f, width, height, theme, raster).png

  /** Corner grid with annotated diagonals — see [[Panel.corner]]. */
  def renderCorner(c: CornerSpec, panel: Int = 220,
                   theme: Theme = Theme.classic): Array[Byte] =
    Panel.corner(c, panel, theme, raster).png

  private[plot] object Anchor extends Enumeration { val Start, Middle, End = Value }

  /** Minimal deterministic RGB24 scanline rasterizer: white canvas,
    * integer alpha blending, no antialiasing, bounds-checked writes.
    * As a [[Canvas]] it rounds every coordinate to the nearest pixel;
    * rect corners are inclusive. */
  private[plot] final class Raster(val w: Int, val h: Int) extends Canvas {
    require(w > 0 && h > 0 && w.toLong * h <= (1L << 24),
      s"PngRender: canvas ${w}x$h exceeds the 2^24-pixel cap")
    private val buf = Array.fill[Byte](w * h * 3)(0xff.toByte)

    private def blend(x: Int, y: Int, rgb: Int, a: Double): Unit =
      if (x >= 0 && x < w && y >= 0 && y < h) {
        val p = (y * w + x) * 3
        def mix(old: Int, nw: Int) = math.round(old + (nw - old) * a).toInt
        buf(p) = mix(buf(p) & 0xff, (rgb >> 16) & 0xff).toByte
        buf(p + 1) = mix(buf(p + 1) & 0xff, (rgb >> 8) & 0xff).toByte
        buf(p + 2) = mix(buf(p + 2) & 0xff, rgb & 0xff).toByte
      }

    private def hLine(x0: Int, x1: Int, y: Int, rgb: Int, a: Double = 1.0): Unit = {
      var x = math.min(x0, x1); val xe = math.max(x0, x1)
      while (x <= xe) { blend(x, y, rgb, a); x += 1 }
    }
    private def vLine(x: Int, y0: Int, y1: Int, rgb: Int): Unit = {
      var y = math.min(y0, y1); val ye = math.max(y0, y1)
      while (y <= ye) { blend(x, y, rgb, 1.0); y += 1 }
    }
    private def dashedVLine(x: Int, y0: Int, y1: Int, rgb: Int, on: Int, off: Int): Unit = {
      var y = math.min(y0, y1); val ye = math.max(y0, y1); var k = 0
      while (y <= ye) { if (k % (on + off) < on) blend(x, y, rgb, 1.0); y += 1; k += 1 }
    }
    private def strokeBox(x0: Int, y0: Int, x1: Int, y1: Int, rgb: Int): Unit = {
      hLine(x0, x1, y0, rgb); hLine(x0, x1, y1, rgb)
      vLine(x0, y0, y1, rgb); vLine(x1, y0, y1, rgb)
    }
    private def fillBox(x0: Int, y0: Int, x1: Int, y1: Int, rgb: Int, a: Double): Unit = {
      var y = math.min(y0, y1); val ye = math.max(y0, y1)
      while (y <= ye) { hLine(x0, x1, y, rgb, a); y += 1 }
    }
    private def fillCircle(cx: Double, cy: Double, rad: Double, rgb: Int, a: Double): Unit = {
      var y = math.ceil(cy - rad).toInt; val ye = math.floor(cy + rad).toInt
      while (y <= ye) {
        val dy = y - cy
        val half = math.sqrt(math.max(rad * rad - dy * dy, 0.0))
        hLine(math.ceil(cx - half).toInt, math.floor(cx + half).toInt, y, rgb, a)
        y += 1
      }
    }
    /** Even-odd scanline polygon fill (closed implicitly). */
    private def fillPolygon(pts: Seq[(Double, Double)], rgb: Int, a: Double): Unit = {
      if (pts.size < 3) return
      val ymin = math.ceil(pts.map(_._2).min).toInt
      val ymax = math.floor(pts.map(_._2).max).toInt
      var y = ymin
      while (y <= ymax) {
        val yc = y + 0.5
        val crossings = pts.indices.flatMap { i =>
          val (xa, ya) = pts(i); val (xb, yb) = pts((i + 1) % pts.size)
          if ((ya <= yc && yb > yc) || (yb <= yc && ya > yc))
            Some(xa + (yc - ya) / (yb - ya) * (xb - xa))
          else None
        }.sorted
        crossings.grouped(2).foreach {
          case Seq(l, rr) => hLine(math.ceil(l).toInt, math.floor(rr).toInt, y, rgb, a)
          case _ => ()
        }
        y += 1
      }
    }
    /** DDA line with an on/off dash counter — deterministic stepping. */
    private def dashedLine(x0: Double, y0: Double, x1: Double, y1: Double,
                           rgb: Int, on: Int, off: Int): Unit = {
      val steps = math.max(math.abs(x1 - x0), math.abs(y1 - y0)).toInt + 1
      var i = 0
      while (i <= steps) {
        if (off == 0 || i % (on + off) < on) {
          val t = if (steps == 0) 0.0 else i.toDouble / steps
          blend(math.round(x0 + (x1 - x0) * t).toInt,
            math.round(y0 + (y1 - y0) * t).toInt, rgb, 1.0)
        }
        i += 1
      }
    }

    // ── Canvas ──
    private def px(v: Double): Int = math.round(v).toInt
    private def dashPattern(dash: String): (Int, Int) = dash match {
      case "" => (Int.MaxValue, 0)
      case d => val p = d.split(","); (p(0).toInt, p(1).toInt)
    }

    def backend: String = "raster"
    def line(x1: Double, y1: Double, x2: Double, y2: Double, stroke: String, dash: String): Unit = {
      val rgb = hexColor(stroke); val (on, off) = dashPattern(dash)
      if (x1 == x2) dashedVLine(px(x1), px(y1), px(y2), rgb, on, off)
      else if (y1 == y2 && off == 0) hLine(px(x1), px(x2), px(y1), rgb)
      else dashedLine(x1, y1, x2, y2, rgb, on, off)
    }
    def fillRect(x0: Double, y0: Double, x1: Double, y1: Double, fill: String,
                 opacity: Double, stroke: Option[String]): Unit = {
      val (l, t, r, b) = (px(x0), px(y0), px(x1), px(y1))
      if (r >= l && b >= t) {
        fillBox(l, t, r, b, hexColor(fill), opacity)
        stroke.foreach(s => strokeBox(l, t, r, b, hexColor(s)))
      }
    }
    def strokeRect(x0: Double, y0: Double, x1: Double, y1: Double, stroke: String): Unit =
      strokeBox(px(x0), px(y0), px(x1), px(y1), hexColor(stroke))
    def glyph(marker: String, x: Double, y: Double, r: Double, fill: String, opacity: Double): Unit = {
      val rgb = hexColor(fill)
      marker match {
        case "square" => fillBox(px(x - r), px(y - r), px(x + r), px(y + r), rgb, opacity)
        case "triangle" =>
          fillPolygon(Seq((x, y - r), (x - r, y + r), (x + r, y + r)), rgb, opacity)
        case "diamond" =>
          fillPolygon(Seq((x, y - r), (x + r, y), (x, y + r), (x - r, y)), rgb, opacity)
        case _ => fillCircle(x, y, r, rgb, opacity)
      }
    }
    def polyline(pts: Seq[(Double, Double)], color: String, fillOpacity: Double, dash: String): Unit = {
      val rgb = hexColor(color)
      fillPolygon(pts, rgb, fillOpacity)
      val (on, off) = dashPattern(dash)
      pts.sliding(2).foreach {
        case Seq(a, b) => dashedLine(a._1, a._2, b._1, b._2, rgb, on, off)
        case _ => ()
      }
    }
    /** The embedded face has one size; `size` is ignored. */
    def text(x: Double, y: Double, s: String, size: Int, anchor: String, fill: Option[String]): Unit =
      text(px(x), px(y), s, fill.fold(0x000000)(hexColor), anchor match {
        case "middle" => Anchor.Middle
        case "end" => Anchor.End
        case _ => Anchor.Start
      })

    /** Draw `s` with the embedded 5×7 face, `y` = text baseline. */
    def text(x: Int, y: Int, s: String, rgb: Int, anchor: Anchor.Value): Unit = {
      val width = if (s.isEmpty) 0 else s.length * 6 - 1
      val x0 = anchor match {
        case Anchor.Middle => x - width / 2
        case Anchor.End => x - width
        case _ => x
      }
      var i = 0
      while (i < s.length) {
        Font5x7.draw(this, x0 + i * 6, y - 7, s.charAt(i), rgb)
        i += 1
      }
    }
    private[PngRender] def put(x: Int, y: Int, rgb: Int): Unit = blend(x, y, rgb, 1.0)

    def png: Array[Byte] = MediaCodecs.pngEncodeRgb(w, h, buf)
  }

  /** Classic 5×7 dot-matrix face (the public-domain LCD/HD44780
    * lineage), 5 column bytes per glyph, LSB = top row, 6-px advance.
    * Covers printable ASCII 0x20–0x7e; anything else renders blank. */
  private[plot] object Font5x7 {
    private val cols: Array[Int] = Array(
      0x00,0x00,0x00,0x00,0x00,  0x00,0x00,0x5f,0x00,0x00,  0x00,0x07,0x00,0x07,0x00,
      0x14,0x7f,0x14,0x7f,0x14,  0x24,0x2a,0x7f,0x2a,0x12,  0x23,0x13,0x08,0x64,0x62,
      0x36,0x49,0x55,0x22,0x50,  0x00,0x05,0x03,0x00,0x00,  0x00,0x1c,0x22,0x41,0x00,
      0x00,0x41,0x22,0x1c,0x00,  0x08,0x2a,0x1c,0x2a,0x08,  0x08,0x08,0x3e,0x08,0x08,
      0x00,0x50,0x30,0x00,0x00,  0x08,0x08,0x08,0x08,0x08,  0x00,0x60,0x60,0x00,0x00,
      0x20,0x10,0x08,0x04,0x02,  0x3e,0x51,0x49,0x45,0x3e,  0x00,0x42,0x7f,0x40,0x00,
      0x42,0x61,0x51,0x49,0x46,  0x21,0x41,0x45,0x4b,0x31,  0x18,0x14,0x12,0x7f,0x10,
      0x27,0x45,0x45,0x45,0x39,  0x3c,0x4a,0x49,0x49,0x30,  0x01,0x71,0x09,0x05,0x03,
      0x36,0x49,0x49,0x49,0x36,  0x06,0x49,0x49,0x29,0x1e,  0x00,0x36,0x36,0x00,0x00,
      0x00,0x56,0x36,0x00,0x00,  0x00,0x08,0x14,0x22,0x41,  0x14,0x14,0x14,0x14,0x14,
      0x41,0x22,0x14,0x08,0x00,  0x02,0x01,0x51,0x09,0x06,  0x32,0x49,0x79,0x41,0x3e,
      0x7e,0x11,0x11,0x11,0x7e,  0x7f,0x49,0x49,0x49,0x36,  0x3e,0x41,0x41,0x41,0x22,
      0x7f,0x41,0x41,0x22,0x1c,  0x7f,0x49,0x49,0x49,0x41,  0x7f,0x09,0x09,0x09,0x01,
      0x3e,0x41,0x41,0x51,0x32,  0x7f,0x08,0x08,0x08,0x7f,  0x00,0x41,0x7f,0x41,0x00,
      0x20,0x40,0x41,0x3f,0x01,  0x7f,0x08,0x14,0x22,0x41,  0x7f,0x40,0x40,0x40,0x40,
      0x7f,0x02,0x0c,0x02,0x7f,  0x7f,0x04,0x08,0x10,0x7f,  0x3e,0x41,0x41,0x41,0x3e,
      0x7f,0x09,0x09,0x09,0x06,  0x3e,0x41,0x51,0x21,0x5e,  0x7f,0x09,0x19,0x29,0x46,
      0x46,0x49,0x49,0x49,0x31,  0x01,0x01,0x7f,0x01,0x01,  0x3f,0x40,0x40,0x40,0x3f,
      0x1f,0x20,0x40,0x20,0x1f,  0x3f,0x40,0x38,0x40,0x3f,  0x63,0x14,0x08,0x14,0x63,
      0x03,0x04,0x78,0x04,0x03,  0x61,0x51,0x49,0x45,0x43,  0x00,0x7f,0x41,0x41,0x00,
      0x02,0x04,0x08,0x10,0x20,  0x00,0x41,0x41,0x7f,0x00,  0x04,0x02,0x01,0x02,0x04,
      0x40,0x40,0x40,0x40,0x40,  0x00,0x01,0x02,0x04,0x00,  0x20,0x54,0x54,0x54,0x78,
      0x7f,0x48,0x44,0x44,0x38,  0x38,0x44,0x44,0x44,0x20,  0x38,0x44,0x44,0x48,0x7f,
      0x38,0x54,0x54,0x54,0x18,  0x08,0x7e,0x09,0x01,0x02,  0x08,0x14,0x54,0x54,0x3c,
      0x7f,0x08,0x04,0x04,0x78,  0x00,0x44,0x7d,0x40,0x00,  0x20,0x40,0x44,0x3d,0x00,
      0x00,0x7f,0x10,0x28,0x44,  0x00,0x41,0x7f,0x40,0x00,  0x7c,0x04,0x18,0x04,0x78,
      0x7c,0x08,0x04,0x04,0x78,  0x38,0x44,0x44,0x44,0x38,  0x7c,0x14,0x14,0x14,0x08,
      0x08,0x14,0x14,0x18,0x7c,  0x7c,0x08,0x04,0x04,0x08,  0x48,0x54,0x54,0x54,0x20,
      0x04,0x3f,0x44,0x40,0x20,  0x3c,0x40,0x40,0x20,0x7c,  0x1c,0x20,0x40,0x20,0x1c,
      0x3c,0x40,0x30,0x40,0x3c,  0x44,0x28,0x10,0x28,0x44,  0x0c,0x50,0x50,0x50,0x3c,
      0x44,0x64,0x54,0x4c,0x44,  0x00,0x08,0x36,0x41,0x00,  0x00,0x00,0x7f,0x00,0x00,
      0x00,0x41,0x36,0x08,0x00,  0x08,0x08,0x2a,0x1c,0x08)

    /** Draw one glyph with its top-left at (x, y).  A few common
      * typographic codepoints fold onto their ASCII twins (U+2212
      * minus → '-', so SvgRender/PngRender can share annotation
      * strings with identical pixels); any other non-ASCII char draws
      * a hollow-box fallback instead of silently vanishing. */
    def draw(r: PngRender.Raster, x: Int, y: Int, ch: Char, rgb: Int): Unit = {
      val code = ch.toInt match {
        case 0x2212 => '-'.toInt // MINUS SIGN
        case 0x2013 | 0x2014 => '-'.toInt // en/em dash
        case 0x2018 | 0x2019 => '\''.toInt
        case 0x201c | 0x201d => '"'.toInt
        case c => c
      }
      if (code < 0x20 || code > 0x7e) { // fallback: 5×7 hollow box
        var c = 0
        while (c < 5) {
          r.put(x + c, y, rgb); r.put(x + c, y + 6, rgb)
          if (c == 0 || c == 4) { var row = 1; while (row < 6) { r.put(x + c, y + row, rgb); row += 1 } }
          c += 1
        }
        return
      }
      val base = (code - 0x20) * 5
      var c = 0
      while (c < 5) {
        val bits = cols(base + c)
        var row = 0
        while (row < 7) {
          if ((bits & (1 << row)) != 0) r.put(x + c, y + row, rgb)
          row += 1
        }
        c += 1
      }
    }
  }
}
