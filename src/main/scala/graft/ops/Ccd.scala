package graft.ops

import java.sql.Date
import java.time.LocalDate
import graft.core.{PixelDetection, PixelTimeseries, Segment}

/** Per-pixel change detection behind a pluggable trait
  * (SURVEY.md §7.4 hard part 1): the reference calls the external PyCCD
  * library per pixel over a process pool
  * (ref: blackmagic/blueprints/segment.py:107-116,189-195). We implement
  * the CCDC recurrence directly — harmonic OLS fit per band + consecutive
  * -outlier break detection — as a pure Scala kernel invoked from
  * mapPartitions, so Spark tasks replace the Pool and the heavy per-key
  * compute stays off the codegen path by design (SURVEY §2.12).
  *
  * Contract preserved exactly where downstream logic depends on it:
  * - input: (dates, 7 band arrays, qas) per pixel
  * - output: 37-field segment rows; a single "default" row with
  *   sday=eday=bday=0001-01-01 and empty coefs when no model can be fit
  *   (ref: blackmagic/blueprints/segment.py:52-53,61-104) — the sentinel
  *   that F4/G1/U1 route on.
  * - 7 coefficients per band: slope + 3 annual-harmonic pairs; intercept
  *   kept separate so averageReflectance = int + coef(0)*ordinal (C1).
  *
  * Scale note: the fit is incremental. All 7 bands share the design
  * rows, so one X'X per segment is rank-1-updated per observation next
  * to each band's X'y and y'y, and SSE is recovered algebraically. One
  * step (extend the segment by an observation, refit) costs one 8x8
  * elimination carrying the 7 bands' right-hand sides plus 7 SSE
  * evaluations, O(terms^3 + 7 * terms^2), with no allocation; the
  * harmonic columns are computed once per pixel. One pixel with n clear
  * obs costs O(n * (8^3 + 7 * 8^2)) flops total.
  */
trait ChangeDetector extends Serializable {
  def detect(ts: PixelTimeseries): PixelDetection
}

/** CCDC-style detector.
  *
  * @param qaClear      QA values treated as clear observations
  * @param minObs       observations needed to fit a model (CCDC uses 12)
  * @param minSpanDays  minimum time span of the initial fit before change
  *                     tests begin (CCDC initializes on >= 1 year so the
  *                     harmonic terms are constrained over a full cycle)
  * @param peekWindow   consecutive outliers that declare a break (CCDC: 6)
  * @param changeThresh residual threshold in units of band RMSE
  * @param minBands     bands that must exceed the threshold together
  */
final case class HarmonicCcd(
    qaClear: Set[Int] = Set(0),
    minObs: Int = 12,
    minSpanDays: Double = 365.25,
    peekWindow: Int = 6,
    changeThresh: Double = 3.0,
    minBands: Int = 4) extends ChangeDetector {

  import HarmonicCcd._

  override def detect(ts: PixelTimeseries): PixelDetection = {
    requireLengths(ts)
    val n = ts.dates.length
    // band order bl, gr, ni, re, s1, s2, th — the training-matrix order
    // (ref: blackmagic/segaux.py:248-275)
    val bands = Array(ts.blues, ts.greens, ts.nirs, ts.reds,
      ts.swir1s, ts.swir2s, ts.thermals)
    val mask = Array.tabulate(n)(i => if (qaClear(ts.qas(i))) 1 else 0)
    val idx = clearByDate(ts.dates, mask)
    val m = idx.length
    val t = Array.tabulate(m)(j => ts.dates(idx(j)).toDouble)
    val y = bands.map(b => Array.tabulate(m)(j => b(idx(j)).toDouble))
    val fit = new Fit(t, y)

    val segs = scala.collection.mutable.ArrayBuffer.empty[Segment]
    var start = 0
    while (m - start >= minObs) {
      // center the linear term at the segment start: raw ordinals
      // (~7e5) make the intercept/slope Gram catastrophically
      // ill-conditioned; with t-tRef the solve is well-posed and the
      // stored intercept is re-based afterwards (toSegment) so the
      // ar = int + slope*ordinal contract is unchanged
      val tRef = t(start)
      fit.restart(start)
      var end = start
      // initialization: at least minObs obs AND a full seasonal cycle, so
      // the harmonic terms are constrained before we test for change
      while (end < m &&
          (end - start < minObs || t(end - 1) - t(start) < minSpanDays)) {
        fit.add(end); end += 1
      }
      fit.solve(termsFor(end - start))
      var break_ = -1
      while (end < m && break_ < 0) {
        if (end + peekWindow <= m && outliers(fit, end, end + peekWindow))
          break_ = end
        else {
          fit.add(end)
          end += 1
          fit.solve(termsFor(end - start))
        }
      }
      val broke = break_ >= 0
      val eIdx = if (broke) break_ - 1 else m - 1
      val bIdx = if (broke) break_ else eIdx
      val mags =
        if (broke)
          magnitudes(fit, break_, math.min(break_ + peekWindow, m))
        else new Array[Double](NumBands)
      segs += toSegment(ts, fit, mags, tRef,
        sday = t(start).toInt, eday = t(eIdx).toInt, bday = t(bIdx).toInt,
        chprob = if (broke) 1.0 else 0.0, curqa = if (broke) 8 else 0)
      start = if (broke) break_ else m
    }

    val out =
      if (segs.isEmpty) Seq(Segment.default(ts.cx, ts.cy, ts.px, ts.py))
      else segs.toSeq
    PixelDetection(ts.cx, ts.cy, ts.px, ts.py, ts.dates, mask, out)
  }

  /** Every observation in [from, until) exceeds the change threshold in
    * at least minBands bands. */
  private def outliers(fit: Fit, from: Int, until: Int): Boolean = {
    var j = from
    while (j < until) {
      var exceeded = 0
      var b = 0
      while (b < NumBands) {
        val rmse = math.max(fit.rmse(b), 1e-9)
        if (math.abs(fit.residual(b, j)) > changeThresh * rmse)
          exceeded += 1
        b += 1
      }
      if (exceeded < minBands) return false
      j += 1
    }
    true
  }

  /** Change magnitude: mean absolute prediction error over the peek
    * window per band (PyCCD reports per-band magnitudes at the break). */
  private def magnitudes(fit: Fit, from: Int, until: Int): Array[Double] =
    Array.tabulate(NumBands) { b =>
      var s = 0.0
      var j = from
      while (j < until) {
        s += math.abs(fit.residual(b, j))
        j += 1
      }
      if (until > from) s / (until - from) else 0.0
    }

  private def toSegment(ts: PixelTimeseries, fit: Fit,
      mags: Array[Double], tRef: Double, sday: Int, eday: Int, bday: Int,
      chprob: Double, curqa: Int): Segment = {
    // coef = [slope, cos1, sin1, cos2, sin2, cos3, sin3]
    def coef(b: Int): Array[Double] =
      java.util.Arrays.copyOfRange(fit.beta, b * Terms + 1, (b + 1) * Terms)
    // re-base the centered intercept to ordinal 0: the fit is
    // y = a + b*(t - tRef) + harmonics, the contract is int + slope*t
    def int(b: Int): Double =
      fit.beta(b * Terms) - fit.beta(b * Terms + 1) * tRef
    val rmse = fit.rmse
    Segment(
      ts.cx, ts.cy, ts.px, ts.py,
      dateOfOrdinal(sday), dateOfOrdinal(eday), dateOfOrdinal(bday),
      chprob, curqa,
      coef(0), int(0), mags(0), rmse(0),
      coef(1), int(1), mags(1), rmse(1),
      coef(2), int(2), mags(2), rmse(2),
      coef(3), int(3), mags(3), rmse(3),
      coef(4), int(4), mags(4), rmse(4),
      coef(5), int(5), mags(5), rmse(5),
      coef(6), int(6), mags(6), rmse(6))
  }
}

object HarmonicCcd {
  private[ops] val NumBands = 7
  private[ops] val Terms = 8 // intercept + slope + 3 harmonic pairs

  /** CCDC's adaptive model complexity: more observations unlock more
    * harmonic pairs (12->4 terms, 24->6, 33->8), which keeps a short
    * window from overfitting and extrapolating spurious breaks. */
  private[ops] def termsFor(nObs: Int): Int =
    if (nObs >= 33) 8 else if (nObs >= 24) 6 else 4
  private val W = 2.0 * math.Pi / 365.25
  /** Python date(1970,1,1).toordinal() */
  private val EpochOrdinal = 719163L

  private[ops] def dateOfOrdinal(ordinal: Int): Date =
    Date.valueOf(LocalDate.ofEpochDay(ordinal - EpochOrdinal))

  /** ARD comes from outside the program: every band and the QA array
    * must hold one entry per date. */
  private def requireLengths(ts: PixelTimeseries): Unit = {
    val n = ts.dates.length
    Seq("blues" -> ts.blues, "greens" -> ts.greens, "reds" -> ts.reds,
      "nirs" -> ts.nirs, "swir1s" -> ts.swir1s, "swir2s" -> ts.swir2s,
      "thermals" -> ts.thermals, "qas" -> ts.qas)
      .find { case (_, a) => a == null || a.length != n }
      .foreach { case (field, a) =>
        val has = if (a == null) "null" else s"${a.length} entries"
        throw new IllegalArgumentException(
          s"ARD pixel (cx, cy, px, py) = (${ts.cx}, ${ts.cy}, ${ts.px}, " +
            s"${ts.py}): $field has $has, dates has $n")
      }
  }

  /** Indices of the clear observations in date order, ties in input
    * order (a stable sort): each key packs (date, index) into one
    * Long, so the unboxed sort sees no equal keys. */
  private def clearByDate(dates: Array[Int], mask: Array[Int]): Array[Int] = {
    val keys = new Array[Long](mask.count(_ == 1))
    var k = 0
    var i = 0
    while (i < mask.length) {
      if (mask(i) == 1) { keys(k) = (dates(i).toLong << 32) | i; k += 1 }
      i += 1
    }
    java.util.Arrays.sort(keys)
    keys.map(_.toInt) // the low 32 bits: the index
  }

  /** One pixel's incremental least-squares fit of all 7 bands.
    *
    * The design is an m x Terms row-major array: the harmonic columns
    * (absolute phase, raw t) are filled once per pixel and only the
    * centred slope column t - tRef is refilled per segment. The bands
    * share X'X; X'y and y'y are per band. `solve` runs one Gauss-Jordan
    * elimination with partial pivoting on a scratch copy of X'X and
    * carries the 7 right-hand sides along: the pivots depend on X'X
    * only, so each band's vector gets the row operations a separate
    * solve would give it. betas (band-major, Terms per band) and RMSEs
    * are overwritten in place. */
  private final class Fit(t: Array[Double], y: Array[Array[Double]]) {
    private val m = t.length
    private val x = new Array[Double](m * Terms)
    private val xtx = new Array[Double](Terms * Terms)
    private val xty = new Array[Double](NumBands * Terms)
    private val yty = new Array[Double](NumBands)
    private var n = 0
    private val a = new Array[Double](Terms * Terms)
    private val v = new Array[Double](Terms * NumBands) // row-major
    private val sse = new Array[Double](NumBands)
    val beta = new Array[Double](NumBands * Terms)
    val rmse = new Array[Double](NumBands)

    locally {
      var j = 0
      while (j < m) {
        val ti = t(j)
        val r = j * Terms
        x(r) = 1.0
        var h = 1
        while (h <= 3) {
          x(r + 2 * h) = math.cos(W * h * ti)
          x(r + 2 * h + 1) = math.sin(W * h * ti)
          h += 1
        }
        j += 1
      }
    }

    /** Empty the accumulators for a segment starting at obs `start`. */
    def restart(start: Int): Unit = {
      val tRef = t(start)
      var j = start
      while (j < m) { x(j * Terms + 1) = t(j) - tRef; j += 1 }
      java.util.Arrays.fill(xtx, 0.0)
      java.util.Arrays.fill(xty, 0.0)
      java.util.Arrays.fill(yty, 0.0)
      n = 0
    }

    /** Rank-1 update with obs `j`. X'X is exactly symmetric (IEEE
      * products commute, sums run in the same order), so only its upper
      * triangle is accumulated here and `solve` mirrors it. */
    def add(j: Int): Unit = {
      val r = j * Terms
      var p = 0
      while (p < Terms) {
        val xp = x(r + p)
        var q = p
        while (q < Terms) { xtx(p * Terms + q) += xp * x(r + q); q += 1 }
        p += 1
      }
      var b = 0
      while (b < NumBands) {
        val obs = y(b)(j)
        val o = b * Terms
        var k = 0
        while (k < Terms) { xty(o + k) += x(r + k) * obs; k += 1 }
        yty(b) += obs * obs
        b += 1
      }
      n += 1
    }

    /** Solve using only the leading `terms` columns (adaptive model
      * complexity); trailing coefficients stay 0. */
    def solve(terms: Int): Unit = {
      var p = 1
      while (p < Terms) {
        var q = 0
        while (q < p) { xtx(p * Terms + q) = xtx(q * Terms + p); q += 1 }
        p += 1
      }
      var i = 0
      while (i < terms) {
        System.arraycopy(xtx, i * Terms, a, i * Terms, terms)
        var b = 0
        while (b < NumBands) {
          v(i * NumBands + b) = xty(b * Terms + i); b += 1
        }
        val d = i * Terms + i
        a(d) += 1e-6 * (1.0 + a(d) * 1e-12)
        i += 1
      }
      eliminate(terms)
      java.util.Arrays.fill(beta, 0.0)
      i = 0
      while (i < terms) {
        val d = a(i * Terms + i)
        var b = 0
        while (b < NumBands) {
          beta(b * Terms + i) =
            if (math.abs(d) > 1e-300) v(i * NumBands + b) / d else 0.0
          b += 1
        }
        i += 1
      }
      // SSE = y'y - 2 b.X'y + b.X'X.b. Each band's sum runs in k, l
      // order; the bands are interleaved innermost so their independent
      // chains overlap.
      System.arraycopy(yty, 0, sse, 0, NumBands)
      var k = 0
      while (k < Terms) {
        var b = 0
        while (b < NumBands) {
          sse(b) -= 2.0 * beta(b * Terms + k) * xty(b * Terms + k)
          b += 1
        }
        var l = 0
        while (l < Terms) {
          val g = xtx(k * Terms + l)
          b = 0
          while (b < NumBands) {
            val o = b * Terms
            sse(b) += beta(o + k) * g * beta(o + l)
            b += 1
          }
          l += 1
        }
        k += 1
      }
      var b = 0
      while (b < NumBands) {
        rmse(b) = math.sqrt(math.max(0.0, sse(b)) / math.max(1, n))
        b += 1
      }
    }

    /** Gauss-Jordan elimination with partial pivoting on the leading
      * terms x terms block of `a`, applied to all 7 columns of `v`. */
    private def eliminate(terms: Int): Unit = {
      var col = 0
      while (col < terms) {
        var p = col
        var r = col + 1
        while (r < terms) {
          if (math.abs(a(r * Terms + col)) > math.abs(a(p * Terms + col)))
            p = r
          r += 1
        }
        if (p != col) {
          swap(a, col * Terms, p * Terms, terms)
          swap(v, col * NumBands, p * NumBands, NumBands)
        }
        val pr = col * Terms
        val pv = a(pr + col)
        if (math.abs(pv) > 1e-300) {
          r = 0
          while (r < terms) {
            if (r != col) {
              val rr = r * Terms
              val f = a(rr + col) / pv
              var c = 0
              while (c < terms) { a(rr + c) -= f * a(pr + c); c += 1 }
              val vr = r * NumBands
              val vc = col * NumBands
              var b = 0
              while (b < NumBands) { v(vr + b) -= f * v(vc + b); b += 1 }
            }
            r += 1
          }
        }
        col += 1
      }
    }

    private def swap(arr: Array[Double], i: Int, j: Int, len: Int): Unit = {
      var k = 0
      while (k < len) {
        val tmp = arr(i + k); arr(i + k) = arr(j + k); arr(j + k) = tmp
        k += 1
      }
    }

    /** Band b's observation j minus the current model's prediction. */
    def residual(b: Int, j: Int): Double = {
      val o = b * Terms
      val r = j * Terms
      var s = 0.0
      var k = 0
      while (k < Terms) { s += beta(o + k) * x(r + k); k += 1 }
      y(b)(j) - s
    }
  }
}
