// golden-fit coefficient recovery added below the behavioral tests
package graft

import java.security.MessageDigest
import java.sql.Date
import java.time.LocalDate
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{PixelDetection, PixelTimeseries}
import graft.ops.HarmonicCcd

/** CCD kernel contract tests (SURVEY §7.4 hard part 1): segment
  * structure, break detection, default-sentinel semantics. */
class CcdSpec extends AnyFunSuite {

  private def ordinal(iso: String): Int =
    (LocalDate.parse(iso).toEpochDay + 719163L).toInt

  /** 16-day cadence series with an annual harmonic + deterministic noise;
    * optional step change of `step` at observation index `breakAt`. */
  private def synth(n: Int = 230, step: Double = 0.0, breakAt: Int = -1)
      : PixelTimeseries = {
    val t0 = ordinal("1985-01-03")
    val dates = Array.tabulate(n)(i => t0 + 16 * i)
    def band(base: Double, amp: Double): Array[Int] =
      Array.tabulate(n) { i =>
        val t = dates(i).toDouble
        val noise = ((i % 7) - 3) * 4.0
        val shift = if (breakAt >= 0 && i >= breakAt) step else 0.0
        (base + amp * math.sin(2 * math.Pi * t / 365.25) + noise + shift).toInt
      }
    PixelTimeseries(
      cx = -2061585L, cy = 1922805L, px = 0L, py = 0L,
      dates = dates,
      blues = band(800, 120), greens = band(900, 140), reds = band(1000, 160),
      nirs = band(3000, 500), swir1s = band(2000, 300),
      swir2s = band(1500, 250), thermals = band(2800, 400),
      qas = Array.fill(n)(0))
  }

  test("stable series -> one segment, 7 coefs/band, chprob 0") {
    val det = HarmonicCcd().detect(synth())
    assert(det.segments.size == 1)
    val s = det.segments.head
    assert(s.chprob == 0.0)
    assert(s.blcoef.length == 7 && s.thcoef.length == 7)
    assert(s.sday.toString == "1985-01-03")
    assert(s.sday.compareTo(s.eday) < 0 && s.eday == s.bday)
    // harmonic fit should recover the series: rmse ~ noise scale
    assert(s.blrmse > 0 && s.blrmse < 50, s"blrmse=${s.blrmse}")
    // intercept + slope*t ~ base level at mid-series
    val mid = ordinal("1990-01-01").toDouble
    val level = s.niint + s.nicoef(0) * mid
    assert(math.abs(level - 3000) < 200, s"ni level=$level")
  }

  test("step change -> two segments with a break") {
    val det = HarmonicCcd().detect(synth(step = 900.0, breakAt = 115))
    assert(det.segments.size == 2, s"got ${det.segments.size}")
    val first = det.segments.head
    val second = det.segments(1)
    assert(first.chprob == 1.0 && second.chprob == 0.0)
    assert(first.bday == second.sday) // break day starts the next segment
    assert(first.blmag > 0.0)
    assert(first.eday.compareTo(second.sday) < 0)
  }

  test("all observations masked -> single default segment") {
    val ts = synth().copy(qas = Array.fill(230)(1)) // nothing clear
    val det = HarmonicCcd().detect(ts)
    assert(det.segments.size == 1)
    val s = det.segments.head
    assert(s.sday.toString == "0001-01-01" && s.eday == s.sday &&
      s.bday == s.sday)
    assert(s.blcoef.isEmpty && s.chprob == 0.0 && s.blrmse == 0.0)
    assert(det.mask.forall(_ == 0))
  }

  test("too few clear observations -> default segment") {
    val full = synth(n = 8)
    val det = HarmonicCcd().detect(full)
    assert(det.segments.size == 1)
    assert(det.segments.head.sday.toString == "0001-01-01")
  }

  test("mask marks exactly the non-clear observations") {
    val ts = synth()
    val qas = ts.qas.clone()
    qas(3) = 4; qas(10) = 4
    val det = HarmonicCcd().detect(ts.copy(qas = qas))
    assert(det.mask.count(_ == 0) == 2)
    assert(det.mask(3) == 0 && det.mask(10) == 0)
  }

  test("harmonic fit recovers known coefficients on a noiseless series") {
    // y = base + slope*t + amp*sin(wt) exactly; the solved model must
    // reproduce (intercept, slope, first sin coefficient) to high
    // precision — a golden check on the normal-equation math itself.
    val t0 = ordinal("1985-01-03")
    val n = 230
    val dates = Array.tabulate(n)(i => t0 + 16 * i)
    val w = 2.0 * math.Pi / 365.25
    val base = 500000.0; val slope = 0.6; val amp = 2000.0
    def series: Array[Int] = dates.map(t =>
      math.round(base + slope * t + amp * math.sin(w * t)).toInt)
    val flat = Array.fill(n)(1000)
    val ts = PixelTimeseries(0, 0, 0, 0, dates,
      series, flat, flat, flat, flat, flat, flat, Array.fill(n)(0))
    val seg = HarmonicCcd().detect(ts).segments.head
    // blue band carries the synthetic signal
    // tolerance floor set by the series' integer quantization (±0.5)
    assert(math.abs(seg.blcoef(0) - slope) < 5e-3,
      s"slope ${seg.blcoef(0)}")
    // re-based intercept: slope error is amplified by tRef (~7e5), so
    // the bound is tolerance(slope) * tRef
    assert(math.abs(seg.blint - base) < 4000, s"intercept ${seg.blint}")
    assert(math.abs(seg.blcoef(2) - amp) < 20, s"sin1 ${seg.blcoef(2)}")
    assert(seg.blrmse < 5, s"rmse ${seg.blrmse}") // rounding noise only
  }

  test("band or QA arrays whose length differs from dates are rejected") {
    val ts = synth()
    def msg(bad: PixelTimeseries): String =
      intercept[IllegalArgumentException](HarmonicCcd().detect(bad)).getMessage
    val short = msg(ts.copy(reds = ts.reds.init))
    assert(short.contains("(-2061585, 1922805, 0, 0)") &&
      short.contains("reds has 229 entries, dates has 230"), short)
    // a longer array is no longer silently truncated
    assert(msg(ts.copy(qas = ts.qas :+ 0)).contains("qas has 231 entries"))
    // the first offending field in PixelTimeseries order is named
    assert(msg(ts.copy(thermals = ts.thermals.init, greens = null))
      .contains("greens has null"))
  }

  // --- golden digest: the kernel's output, bit for bit -----------------

  /** SHA-256 over the raw IEEE bits of every field of every segment,
    * plus each pixel's mask and segment count. Any change to the
    * kernel's arithmetic or its order moves it. */
  private def digest(dets: Seq[PixelDetection]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(8)
    def long(v: Long): Unit = {
      buf.clear(); buf.putLong(v); md.update(buf.array())
    }
    def dbl(v: Double): Unit = long(java.lang.Double.doubleToRawLongBits(v))
    dets.foreach { d =>
      long(d.mask.length); d.mask.foreach(long(_))
      long(d.segments.size)
      d.segments.foreach(_.productIterator.foreach {
        case v: Long => long(v)
        case v: Int => long(v)
        case v: Double => dbl(v)
        case v: Date => long(v.toLocalDate.toEpochDay)
        case v: Array[Double] => long(v.length); v.foreach(dbl)
        case v => fail(s"unhashed segment field $v")
      })
    }
    md.digest().map("%02x".format(_)).mkString
  }

  private val W = 2 * math.Pi / 365.25

  /** Seeded pixels: 7 bands of base + annual harmonic + Gaussian noise,
    * an optional step at `breakAt`. StrictMath keeps the inputs
    * platform-independent; only the kernel's own math is under test. */
  private def pixel(rng: java.util.Random, px: Long, dates: Array[Int],
      qas: Array[Int], sd: Double, breakAt: Int = Int.MaxValue)
      : PixelTimeseries = {
    def band(base: Double, amp: Double, step: Double): Array[Int] =
      Array.tabulate(dates.length) { i =>
        val s = if (dates(i) >= breakAt) step else 0.0
        (base + amp * StrictMath.sin(W * dates(i)) + s +
          rng.nextGaussian() * sd).toInt
      }
    PixelTimeseries(-2061585L, 1922805L, px / 8, px % 8, dates,
      band(600, 150, 700), band(800, 170, 650), band(900, 200, 800),
      band(3200, 600, -1500), band(2100, 350, 900), band(1400, 260, 700),
      band(2900, 420, 300), qas)
  }

  /** The reference shape (as perfbench's `Inputs.referenceGrid`): 750
    * acquisitions 1985-2017 with jitter, about 30% non-clear QA, a step
    * in about half the pixels. */
  private def referencePixels(n: Int): Seq[PixelTimeseries] = {
    val rng = new java.util.Random(2024)
    val day0 = ordinal("1985-01-01")
    val dates = Array.tabulate(750)(i => day0 + 16 * i + rng.nextInt(8))
    val nonClear = Array(1, 2, 4, 8, 255)
    (0 until n).map { p =>
      val breakAt =
        if (rng.nextBoolean())
          dates.head + ((7 + rng.nextDouble() * 20) * 365.25).toInt
        else Int.MaxValue
      val qas = Array.fill(750)(
        if (rng.nextDouble() < 0.3) nonClear(rng.nextInt(nonClear.length))
        else 0)
      pixel(rng, p, dates, qas, 25.0, breakAt)
    }
  }

  /** The t2 shape: 120 clear observations 16 days apart. */
  private def t2Pixels(n: Int): Seq[PixelTimeseries] = {
    val rng = new java.util.Random(120)
    val day0 = ordinal("1985-01-03")
    val dates = Array.tabulate(120)(i => day0 + 16 * i)
    (0 until n).map(p => pixel(rng, p, dates, Array.fill(120)(0), 6.0))
  }

  /** Inputs at the edges of the kernel's contract. */
  private def edgePixels: Seq[PixelTimeseries] = {
    val rng = new java.util.Random(7)
    val day0 = ordinal("1986-02-11")
    val clear = (k: Int) => Array.fill(k)(0)
    val cadence = Array.tabulate(230)(i => day0 + 16 * i)
    // two acquisitions per date
    val dup = pixel(rng, 0, Array.tabulate(400)(i => day0 + 16 * (i / 2)),
      clear(400), 20.0, breakAt = day0 + 16 * 120)
    // the same kind of series, shuffled
    val sorted = pixel(rng, 1, cadence, clear(230), 20.0,
      breakAt = day0 + 16 * 130)
    val perm = new scala.util.Random(new java.util.Random(8))
      .shuffle((0 until 230).toVector).toArray
    def shuffled(a: Array[Int]): Array[Int] = perm.map(a(_))
    val unsorted = sorted.copy(px = 2, dates = shuffled(sorted.dates),
      blues = shuffled(sorted.blues), greens = shuffled(sorted.greens),
      reds = shuffled(sorted.reds), nirs = shuffled(sorted.nirs),
      swir1s = shuffled(sorted.swir1s), swir2s = shuffled(sorted.swir2s),
      thermals = shuffled(sorted.thermals))
    val masked = pixel(rng, 3, cadence, Array.fill(230)(4), 20.0)
    val eleven = pixel(rng, 4, cadence.take(11), clear(11), 20.0)
    val twelve = pixel(rng, 5, cadence.take(12), clear(12), 20.0)
    val base = pixel(rng, 6, cadence, clear(230), 20.0)
    val saturated = base.copy(px = 7, blues = Array.fill(230)(20000))
    val spikes = base.copy(px = 8,
      reds = base.reds.zipWithIndex.map { case (v, i) =>
        if (i % 9 == 4) 20000 else v })
    val fill = base.copy(px = 9, thermals = Array.fill(230)(-9999))
    Seq(dup, sorted, unsorted, masked, eleven, twelve, base, saturated,
      spikes, fill)
  }

  test("golden digest: segments and masks are bit-identical to the " +
      "pinned kernel") {
    // Digests of the kernel as first pinned (JDK 17 HotSpot, x86_64:
    // strict IEEE arithmetic; math.cos/sin use the JVM's libm stubs).
    // A deliberate change to the fit's results must update them and
    // say why in CHANGES.md.
    val ccd = HarmonicCcd()
    def run(ps: Seq[PixelTimeseries]) = digest(ps.map(ccd.detect))
    val got = Seq(run(referencePixels(64)), run(t2Pixels(64)), run(edgePixels))
    assert(got == Seq(
      "900372033f2ec0132f33abad8e04ee941f8db64df0a8919c8205a885a14f04bd",
      "57f2396eafb74c17b44521cdebeed386e097c952cd18a76dd8949d9e21b824df",
      "3c79e1a9e7336ae80d19bc58d5c7be0cf6680a4faa69195b152945cd0952d676"))
  }
}
