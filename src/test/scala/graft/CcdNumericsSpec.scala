package graft

import java.time.LocalDate
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{PixelTimeseries, Segment}
import graft.ops.HarmonicCcd

/** Differential numerics check of the CCD kernel: each segment's fit,
  * which the kernel builds incrementally from normal equations with the
  * SSE recovered algebraically, is refitted here from scratch by
  * Householder QR on the same centred design, and the fitted values and
  * RMSEs are compared. The series has a real observation count (1,300
  * acquisitions, about 1,100 clear) at reflectance scale, duplicate and
  * unsorted dates, saturated values (20000) in one band and one band
  * held at the fill value -9999.
  *
  * Tolerances, from the conditioning of the design X (m rows, k terms;
  * sigma = singular values of X, taken from the QR factor R):
  *  - fitted values: the normal equations square the condition number,
  *    so their forward error is about kappa(X)^2 * eps relative to the
  *    data scale max|y|; sqrt(m) covers the accumulated rounding of the
  *    m-term sums in X'X and X'y. The kernel's ridge (1e-6 on the
  *    diagonal) moves the fit by at most 1e-6 * |beta| / sigma_min, and
  *    re-basing the intercept to ordinal 0 costs a few eps * |slope| *
  *    tRef:
  *      tolFit = sqrt(m) * kappa^2 * eps * max|y|
  *               + 1.1e-6 * |beta| / sigma_min + 4 * eps * |slope| * tRef
  *  - RMSE: SSE = y'y - 2 b.X'y + b.X'X.b subtracts three terms of size
  *    y'y, so its absolute error is about 4 * sqrt(m) * eps * y'y; an
  *    error in beta moves the least-squares SSE only to second order:
  *      |rmse^2 - rmseQR^2| * m <= 4 * sqrt(m) * eps * y'y + m * tolFit^2
  *
  * On this series (two segments of 715 and 398 obs, kappa(X) 6.8e3 and
  * 3.7e3) the fitted values differed by at most 1.0e-4 against
  * tolerances of 2e-4 to 6e-3, and the SSEs by at most 2.7e-6.
  */
class CcdNumericsSpec extends AnyFunSuite {
  private val Eps = math.ulp(1.0)
  private val W = 2 * math.Pi / 365.25

  private def ordinal(d: LocalDate): Int = (d.toEpochDay + 719163L).toInt

  /** The kernel's model: intercept, slope on t - tRef, then harmonic
    * pairs cos/sin(W h t) at absolute phase, truncated to k terms. */
  private def design(t: Double, tRef: Double, k: Int): Array[Double] =
    Array.tabulate(k) { c =>
      val h = c / 2
      if (c == 0) 1.0 else if (c == 1) t - tRef
      else if (c % 2 == 0) math.cos(W * h * t) else math.sin(W * h * t)
    }

  /** Least squares by Householder QR: (beta, R). */
  private def lstsq(x: Array[Array[Double]], y: Array[Double])
      : (Array[Double], Array[Array[Double]]) = {
    val m = x.length
    val k = x.head.length
    val a = Array.tabulate(m)(i => x(i) :+ y(i)) // y rides as column k
    for (j <- 0 until k) {
      val norm = math.sqrt((j until m).map(i => a(i)(j) * a(i)(j)).sum)
      val v = Array.tabulate(m)(i => if (i < j) 0.0 else a(i)(j))
      v(j) -= (if (a(j)(j) > 0) -norm else norm)
      val vv = v.map(z => z * z).sum
      if (vv > 0) for (c <- j to k) {
        val s = 2 * (j until m).map(i => v(i) * a(i)(c)).sum / vv
        for (i <- j until m) a(i)(c) -= s * v(i)
      }
    }
    val r = Array.tabulate(k, k)((i, c) => if (c >= i) a(i)(c) else 0.0)
    val beta = new Array[Double](k)
    for (i <- k - 1 to 0 by -1)
      beta(i) = (a(i)(k) -
        (i + 1 until k).map(c => r(i)(c) * beta(c)).sum) / r(i)(i)
    (beta, r)
  }

  /** (sigma_min, sigma_max) of R, hence of X: power iteration on R'R
    * and on its inverse (two triangular solves). */
  private def sigmaRange(r: Array[Array[Double]]): (Double, Double) = {
    val k = r.length
    def rtr(v: Array[Double]): Array[Double] = {
      val w = Array.tabulate(k)(i => (i until k).map(c => r(i)(c) * v(c)).sum)
      Array.tabulate(k)(c => (0 to c).map(i => r(i)(c) * w(i)).sum)
    }
    def rtrInv(v: Array[Double]): Array[Double] = {
      val z = new Array[Double](k)
      for (i <- 0 until k)
        z(i) = (v(i) - (0 until i).map(p => r(p)(i) * z(p)).sum) / r(i)(i)
      val w = new Array[Double](k)
      for (i <- k - 1 to 0 by -1)
        w(i) = (z(i) - (i + 1 until k).map(c => r(i)(c) * w(c)).sum) / r(i)(i)
      w
    }
    def top(op: Array[Double] => Array[Double]): Double = {
      var v = Array.fill(k)(1.0 / math.sqrt(k))
      var lambda = 0.0
      for (_ <- 0 until 500) {
        val w = op(v)
        lambda = math.sqrt(w.map(z => z * z).sum)
        v = w.map(_ / lambda)
      }
      lambda
    }
    (math.sqrt(1 / top(rtrInv)), math.sqrt(top(rtr)))
  }

  /** 1,150 acquisition dates about 8 days apart from 1985 plus 150
    * same-day repeats, ~15% non-clear QA, a step in six bands at 2001,
    * red saturated at 20000 in ~3% of acquisitions, thermal at -9999
    * throughout; all arrays shuffled by one permutation. */
  private def series(): PixelTimeseries = {
    val rng = new java.util.Random(4242)
    val day0 = ordinal(LocalDate.parse("1985-01-05"))
    val distinct = Array.tabulate(1150)(i => day0 + 8 * i + rng.nextInt(4))
    val dates = distinct ++ Array.fill(150)(distinct(rng.nextInt(1150)))
    val n = dates.length
    val step = ordinal(LocalDate.parse("2001-03-01"))
    def band(base: Double, amp: Double, shift: Double): Array[Int] =
      Array.tabulate(n) { i =>
        val s = if (dates(i) >= step) shift else 0.0
        (base + amp * StrictMath.sin(W * dates(i)) + s +
          rng.nextGaussian() * 40).toInt
      }
    val reds = band(800, 200, 700).map(v =>
      if (rng.nextDouble() < 0.03) 20000 else v)
    val qas = Array.fill(n)(if (rng.nextDouble() < 0.15) 4 else 0)
    val perm = new scala.util.Random(new java.util.Random(9))
      .shuffle((0 until n).toVector).toArray
    def shuffled(a: Array[Int]): Array[Int] = perm.map(a(_))
    PixelTimeseries(0, 0, 0, 0, shuffled(dates),
      shuffled(band(450, 120, 600)), shuffled(band(700, 170, 650)),
      shuffled(reds), shuffled(band(3000, 600, -1500)),
      shuffled(band(2000, 350, 900)), shuffled(band(1400, 260, 700)),
      Array.fill(n)(-9999), shuffled(qas))
  }

  private def fields(s: Segment, b: Int): (Array[Double], Double, Double) =
    b match {
      case 0 => (s.blcoef, s.blint, s.blrmse)
      case 1 => (s.grcoef, s.grint, s.grrmse)
      case 2 => (s.nicoef, s.niint, s.nirmse)
      case 3 => (s.recoef, s.reint, s.rermse)
      case 4 => (s.s1coef, s.s1int, s.s1rmse)
      case 5 => (s.s2coef, s.s2int, s.s2rmse)
      case 6 => (s.thcoef, s.thint, s.thrmse)
    }

  test("incremental fit matches an independent QR fit at 1,300 obs") {
    val px = series()
    val det = HarmonicCcd().detect(px)
    // the kernel's band order is the segment field order
    val bands = Array(px.blues, px.greens, px.nirs, px.reds, px.swir1s,
      px.swir2s, px.thermals)
    val clear = px.qas.indices.filter(px.qas(_) == 0).sortBy(px.dates(_))
    val t = clear.map(px.dates(_).toDouble).toArray
    val segs = det.segments
    assert(segs.size >= 2 && segs.forall(_.blcoef.nonEmpty),
      s"${segs.size} segments")

    var p = 0 // first clear obs of the current segment
    var compared = 0
    var k = 0
    // a segment's obs are those from p through its end day; if the next
    // segment starts on that same (duplicated) day the split inside the
    // day is not recoverable from the dates, so comparison stops there
    while (k < segs.size &&
        (k == segs.size - 1 ||
          segs(k).eday.compareTo(segs(k + 1).sday) < 0)) {
      val s = segs(k)
      val sday = ordinal(s.sday.toLocalDate)
      val eday = ordinal(s.eday.toLocalDate)
      assert(t(p) == sday)
      var q = p
      while (q < t.length && t(q) <= eday) q += 1
      val m = q - p
      val tRef = t(p)
      val terms = if (m >= 33) 8 else if (m >= 24) 6 else 4
      val x = Array.tabulate(m)(j => design(t(p + j), tRef, terms))
      val full = Array.tabulate(m)(j => design(t(p + j), 0.0, 8))
      for (b <- 0 until 7) {
        val y = Array.tabulate(m)(j => bands(b)(clear(p + j)).toDouble)
        val (beta, r) = lstsq(x, y)
        val (sMin, sMax) = sigmaRange(r)
        val (coef, int, rmse) = fields(s, b)
        assert(coef.drop(terms - 1).forall(_ == 0.0))
        val betaNorm = math.sqrt(beta.map(z => z * z).sum)
        val tolFit = math.sqrt(m) * math.pow(sMax / sMin, 2) * Eps *
          y.map(math.abs).max + 1.1e-6 * betaNorm / sMin +
          4 * Eps * math.abs(coef(0)) * tRef
        var worst = 0.0
        var sse = 0.0
        for (j <- 0 until m) {
          // the stored contract: int + slope * t + harmonics
          val kernel = int + coef(0) * t(p + j) +
            (2 until 8).map(c => coef(c - 1) * full(j)(c)).sum
          val qr = (0 until terms).map(c => beta(c) * x(j)(c)).sum
          worst = math.max(worst, math.abs(kernel - qr))
          sse += (y(j) - qr) * (y(j) - qr)
        }
        assert(worst <= tolFit,
          s"segment $k band $b: fitted values differ by $worst > $tolFit")
        val tolSse = 4 * math.sqrt(m) * Eps * y.map(v => v * v).sum +
          m * tolFit * tolFit
        val gap = math.abs(rmse * rmse - sse / m) * m
        assert(gap <= tolSse, s"segment $k band $b: SSE differs by $gap " +
          s"> $tolSse (rmse $rmse vs ${math.sqrt(sse / m)})")
      }
      compared += 1
      p = q
      k += 1
    }
    assert(compared >= 2, s"only $compared segments compared")
  }
}
