package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}
import org.apache.spark.sql.functions.{col, lit}

/** HEALPix NESTED-scheme `ang2pix` (the reference calls healpy's
  * `ang2pix(order2nside(level), θ, φ, nest=True)`,
  * ezdata/astro/astro.py:178–211).  No Spark builtin exists, so this is
  * the engine's custom Catalyst `Expression` (SURVEY.md §4.3): ~60
  * lines of bit math, implemented from the published HEALPix geometry
  * (Górski et al. 2005, ApJ 622, 759) — z-longitude face mapping plus
  * bit interleave.  `doGenCode` emits a static call so the expression
  * participates in whole-stage codegen.
  */
object Healpix {

  /** Interleave the low 32 bits of v into even bit positions. */
  def spreadBits(v: Long): Long = {
    var x = v & 0xffffffffL
    x = (x | (x << 16)) & 0x0000ffff0000ffffL
    x = (x | (x << 8)) & 0x00ff00ff00ff00ffL
    x = (x | (x << 4)) & 0x0f0f0f0f0f0f0f0fL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }

  /** (face, ix, iy) → nested pixel index. */
  def xyf2nest(nside: Long, ix: Long, iy: Long, face: Long): Long =
    face * nside * nside + spreadBits(ix) + (spreadBits(iy) << 1)

  /** Nested ang2pix from z = sin(lat) and φ = lon in radians. */
  def ang2pixNestZPhi(order: Int, z: Double, phi: Double): Long = {
    val nside = 1L << order
    val za = math.abs(z)
    val twoPi = 2.0 * math.Pi
    val phiN = {
      val p = phi % twoPi
      if (p < 0) p + twoPi else p
    }
    val tt = phiN / (0.5 * math.Pi) // in [0, 4)
    if (za <= 2.0 / 3.0) {
      // equatorial region
      val temp1 = nside * (0.5 + tt)
      val temp2 = nside * (z * 0.75)
      val jp = (temp1 - temp2).toLong // ascending edge line index
      val jm = (temp1 + temp2).toLong // descending edge line index
      val ifp = jp >> order
      val ifm = jm >> order
      val face =
        if (ifp == ifm) (ifp & 3) + 4
        else if (ifp < ifm) ifp & 3
        else (ifm & 3) + 8
      val ix = jm & (nside - 1)
      val iy = nside - (jp & (nside - 1)) - 1
      xyf2nest(nside, ix, iy, face)
    } else {
      // polar caps
      val nttRaw = tt.toLong
      val ntt = if (nttRaw >= 4) 3L else nttRaw
      val tp = tt - ntt
      val tmp = nside * math.sqrt(3.0 * (1.0 - za))
      val jpRaw = (tp * tmp).toLong
      val jmRaw = ((1.0 - tp) * tmp).toLong
      val jp = math.min(jpRaw, nside - 1)
      val jm = math.min(jmRaw, nside - 1)
      if (z >= 0)
        xyf2nest(nside, nside - jm - 1, nside - jp - 1, ntt)
      else
        xyf2nest(nside, jp, jm, ntt + 8)
    }
  }

  /** Astronomy convention entry: lon/lat (ra/dec) in degrees.
    * Longitude wraps mod 360; latitude beyond ±90 (or any NaN) fails
    * LOUDLY — NaN.toLong is 0 in the face math, so a NaN coordinate
    * would otherwise land silently in a valid-looking polar pixel
    * (healpy raises on theta outside [0, π] the same way). */
  def ang2pixNestLonLat(order: Int, lonDeg: Double, latDeg: Double): Long = {
    if (lonDeg.isNaN || latDeg.isNaN || latDeg < -90.0 || latDeg > 90.0)
      throw new IllegalArgumentException(
        s"ang2pix: latitude must be in [-90, 90] and coordinates non-NaN, got lon=$lonDeg lat=$latDeg")
    ang2pixNestZPhi(order, math.sin(math.toRadians(latDeg)), math.toRadians(lonDeg))
  }

  /** Column surface: `healpix(order, lon, lat)` in degrees. */
  def ang2pix(order: Int, lonDeg: Column, latDeg: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(HealpixAng2Pix(order,
      GraftBridge.expression(lonDeg.cast(DoubleType)),
      GraftBridge.expression(latDeg.cast(DoubleType))))
  }

  // ---- inverse transform (pix2ang) + cell-cover cone geometry ----
  // Same published geometry as the forward pass (Górski et al. 2005,
  // ApJ 622, 759; the healpy/healpix-cxx reference algorithms).  The
  // round-trip against our OWN ang2pix is the correctness pin.

  /** Inverse of [[spreadBits]]: gather even-position bits. */
  def compressBits(v: Long): Long = {
    var x = v & 0x5555555555555555L
    x = (x | (x >> 1)) & 0x3333333333333333L
    x = (x | (x >> 2)) & 0x0f0f0f0f0f0f0f0fL
    x = (x | (x >> 4)) & 0x00ff00ff00ff00ffL
    x = (x | (x >> 8)) & 0x0000ffff0000ffffL
    x = (x | (x >> 16)) & 0x00000000ffffffffL
    x
  }

  private val jrll = Array(2, 2, 2, 2, 3, 3, 3, 3, 4, 4, 4, 4)
  private val jpll = Array(1, 3, 5, 7, 0, 2, 4, 6, 1, 3, 5, 7)

  /** Nested pixel center as (z = sin lat, φ in radians). */
  def pix2angNestZPhi(order: Int, pix: Long): (Double, Double) = {
    val nside = 1L << order
    val npix = 12L * nside * nside
    require(pix >= 0 && pix < npix, s"pix $pix out of [0, $npix) at order $order")
    val face = (pix >> (2 * order)).toInt
    val p = pix & (nside * nside - 1)
    val ix = compressBits(p)
    val iy = compressBits(p >> 1)
    val jr = jrll(face) * nside - ix - iy - 1 // ring index, 1..4nside-1
    val fact2 = 4.0 / npix
    val (z, nr, kshift) =
      if (jr < nside) { // north polar cap
        val nr = jr
        (1.0 - nr * nr * fact2, nr, 0L)
      } else if (jr > 3 * nside) { // south polar cap
        val nr = 4 * nside - jr
        (nr * nr * fact2 - 1.0, nr, 0L)
      } else { // equatorial belt
        val fact1 = (nside << 1) * fact2
        ((2 * nside - jr) * fact1, nside, (jr - nside) & 1L)
      }
    var jp = (jpll(face) * nr + ix - iy + 1 + kshift) / 2
    if (jp > 4 * nr) jp -= 4 * nr
    if (jp < 1) jp += 4 * nr
    val phi = (jp - (kshift + 1) * 0.5) * (math.Pi / 2) / nr
    (z, phi)
  }

  /** Nested pixel center in astronomy convention (lonDeg, latDeg). */
  def pix2angNestLonLat(order: Int, pix: Long): (Double, Double) = {
    val (z, phi) = pix2angNestZPhi(order, pix)
    (math.toDegrees(phi), math.toDegrees(math.asin(z)))
  }

  /** Great-circle distance in degrees between (z, φ) points. */
  private def angDistDeg(z1: Double, p1: Double, z2: Double, p2: Double): Double = {
    val s1 = math.sqrt(math.max(0.0, 1 - z1 * z1)); val s2 = math.sqrt(math.max(0.0, 1 - z2 * z2))
    val c = z1 * z2 + s1 * s2 * math.cos(p1 - p2)
    math.toDegrees(math.acos(math.max(-1.0, math.min(1.0, c))))
  }

  /** Max center-to-corner distance over all cells at `order`, degrees
    * (healpix-cxx `max_pixrad`: the corner pair straddling the first
    * polar-cap ring realizes the maximum). */
  def maxPixRadDeg(order: Int): Double = {
    val nside = (1L << order).toDouble
    val za = 2.0 / 3.0; val pa = math.Pi / (4.0 * nside)
    val t = 1.0 - 1.0 / nside
    val zb = 1.0 - t * t / 3.0
    angDistDeg(za, pa, zb, 0.0)
  }

  /** Driver-side cell cover of a spherical cap: every cell at `order`
    * whose CELL (not just center) can intersect the cap — center
    * within r + maxPixRad.  A guaranteed superset, sized for coarse
    * orders (enumeration over 12·4^order centers; order ≤ 8 keeps it
    * under 786k driver-side iterations, microseconds each).  Pair
    * with the exact haversine residual: the cover prunes, the
    * residual decides. */
  def coneCells(order: Int, lonDeg: Double, latDeg: Double, radiusDeg: Double): Array[Long] = {
    require(order >= 0 && order <= 8, s"cell-cover enumeration is for coarse orders (0..8), got $order")
    require(radiusDeg >= 0, s"radius must be >= 0, got $radiusDeg")
    val npix = 12L << (2 * order)
    val z0 = math.sin(math.toRadians(latDeg)); val p0 = math.toRadians(lonDeg)
    val bound = radiusDeg + maxPixRadDeg(order) * (1 + 1e-12) + 1e-12
    val out = Array.newBuilder[Long]
    var pix = 0L
    while (pix < npix) {
      val (z, phi) = pix2angNestZPhi(order, pix)
      if (angDistDeg(z, phi, z0, p0) <= bound) out += pix
      pix += 1
    }
    out.result()
  }
}

/** Codegen-friendly nested ang2pix over (lonDeg, latDeg). */
case class HealpixAng2Pix(order: Int, left: Expression, right: Expression)
    extends BinaryExpression {
  require(order >= 0 && order <= 29, s"healpix order $order out of [0, 29]")

  override def dataType: DataType = LongType
  override def prettyName: String = "healpix_ang2pix"

  override def nullSafeEval(lon: Any, lat: Any): Any =
    Healpix.ang2pixNestLonLat(order, lon.asInstanceOf[Double], lat.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (lon, lat) =>
      s"${ev.value} = graft.functions.Healpix.ang2pixNestLonLat($order, $lon, $lat);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
