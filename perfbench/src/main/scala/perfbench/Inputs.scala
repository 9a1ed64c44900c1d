package perfbench

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import graft.core.{AuxRow, PixelTimeseries}

/** One chip grid's generated inputs: the pixel series and aux labels of
  * every chip, held on the driver so that no timed phase generates data.
  * The program only ever sees them through [[ardSource]] and [[auxSource]].
  */
final class Grid(
    val chips: IndexedSeq[(Long, Long)],
    val side: Int,
    val pixels: Map[(Long, Long), Array[PixelTimeseries]],
    val aux: Array[AuxRow]) {

  def pixelCount: Int = side * side

  /** A fresh dataset per call, sliced the way `SyntheticTile.chip`
    * slices its fixture: about 500 pixels per slice, capped at the
    * session's default parallelism. */
  def ardSource(spark: SparkSession)(cx: Long, cy: Long)
      : Dataset[PixelTimeseries] = {
    val rows = pixels((cx, cy))
    spark.createDataset(spark.sparkContext.parallelize(rows.toSeq,
      Inputs.slices(spark, rows.length, 500)))(
      Encoders.product[PixelTimeseries])
  }

  /** The aux frame over the whole grid, sliced like `SyntheticTile.aux`
    * (about 2,500 rows per slice). */
  def auxSource(spark: SparkSession)(): DataFrame =
    spark.createDataset(spark.sparkContext.parallelize(aux.toSeq,
      Inputs.slices(spark, aux.length, 2500)))(
      Encoders.product[AuxRow]).toDF()
}

/** Seeded input generator. The same seed gives the same inputs. */
object Inputs {
  val Cx0 = -2061585L
  val Cy0 = 1922805L
  /** 100 px × 30 m: one reference chip edge. */
  val ChipMeters = 3000L
  /** 1985-01-01 as a Python ordinal (the pipeline's date encoding). */
  val Day0: Int = (java.time.LocalDate.parse("1985-01-01").toEpochDay +
    719163L).toInt
  /** The tile every generated chip belongs to. */
  val Tx = -2115585L
  val Ty = 1964805L

  def slices(spark: SparkSession, rows: Int, perSlice: Int): Int =
    math.max(1, math.min(spark.sparkContext.defaultParallelism,
      (rows + perSlice - 1) / perSlice))

  /** Chip centres along row `row` of a 16-row band chosen by the seed,
    * so that each row, and each seed, has keys of its own. */
  def chipKeys(seed: Long, row: Int, n: Int): IndexedSeq[(Long, Long)] = {
    require(row >= 0 && row < 16, s"row $row outside the seed's band")
    val cy = Cy0 - (math.floorMod(seed, 1000L) * 16 + row) * ChipMeters
    (0 until n).map(k => (Cx0 + k * ChipMeters, cy))
  }

  /** The t2 shape: `side`×`side` pixels, `obs` observations 16 days
    * apart, all clear, one seasonal harmonic plus seeded noise per band,
    * so the detector fits one segment per pixel. */
  def smallGrid(seed: Long, row: Int, nChips: Int, side: Int = 10,
      obs: Int = 120, classes: Int = 4): Grid = {
    val rng = new java.util.Random(seed * 31 + row)
    val noise = new Noise(rng)
    val keys = chipKeys(seed, row, nChips)
    val dates = Array.tabulate(obs)(i => Day0 + 2 + 16 * i)
    val pixels = keys.map { case (cx, cy) =>
      (cx, cy) -> Array.tabulate(side * side) { p =>
        val (px, py) = (p / side, p % side)
        val shift = rng.nextInt(97)
        val cls = classOf(px, py, side, classes)
        def band(k: Int, base: Double, amp: Double): Array[Int] = {
          val e = noise.series(6.0)
          val b = base + shift + classShift(cls, k)
          Array.tabulate(obs)(i =>
            (b + amp * seasonal(dates(i)) + e(i)).toInt)
        }
        PixelTimeseries(cx, cy, cx / 30 + px, cy / 30 - py, dates,
          band(0, 800, 120), band(1, 900, 140), band(2, 1000, 160),
          band(3, 3000, 500), band(4, 2000, 300), band(5, 1500, 250),
          band(6, 2800, 400), Array.fill(obs)(0))
      }
    }.toMap
    new Grid(keys, side, pixels, auxRows(rng, keys, side, classes))
  }

  /** The reference shape in everything but pixel count: ~750
    * acquisitions from 1985 to 2017, about 30% of QA values non-clear,
    * and a step disturbance in about half the pixels so the detector
    * emits multi-segment pixels. */
  def referenceGrid(seed: Long, row: Int, nChips: Int, side: Int,
      obs: Int = 750, classes: Int = 9): Grid = {
    val rng = new java.util.Random(seed * 31 + row)
    val noise = new Noise(rng)
    val keys = chipKeys(seed, row, nChips)
    // ~750 acquisitions over 1985-2017: 16-day cadence, seeded jitter
    val dates = Array.tabulate(obs)(i => Day0 + 16 * i + rng.nextInt(8))
    val years = (dates.last - dates.head) / 365.25
    val NonClear = Array(1, 2, 4, 8, 255)
    val pixels = keys.map { case (cx, cy) =>
      (cx, cy) -> Array.tabulate(side * side) { p =>
        val (px, py) = (p / side, p % side)
        val shift = rng.nextInt(300)
        val cls = classOf(px, py, side, classes)
        // disturbance: a step in every band at a date between 1992
        // and 2012 (years 7..27 of the record)
        val breakAt =
          if (rng.nextBoolean()) dates.head + ((7 + rng.nextDouble() * 20)
            * 365.25).toInt
          else Int.MaxValue
        val qas = Array.fill(obs)(
          if (rng.nextDouble() < 0.3) NonClear(rng.nextInt(NonClear.length))
          else 0)
        def band(k: Int, base: Double, amp: Double, step: Double)
            : Array[Int] = {
          val e = noise.series(25.0)
          val b = base + shift + classShift(cls, k)
          Array.tabulate(obs) { i =>
            val s = if (dates(i) >= breakAt) step else 0.0
            (b + amp * seasonal(dates(i)) + s + e(i)).toInt
          }
        }
        PixelTimeseries(cx, cy, cx / 30 + px, cy / 30 - py, dates,
          band(0, 600, 150, 700), band(1, 800, 170, 650),
          band(2, 900, 200, 800), band(3, 3200, 600, -1500),
          band(4, 2100, 350, 900), band(5, 1400, 260, 700),
          band(6, 2900, 420, 300), qas)
      }
    }.toMap
    require(years > 30, s"reference record spans only $years years")
    new Grid(keys, side, pixels, auxRows(rng, keys, side, classes))
  }

  /** Land-cover class 1..classes-1 of a pixel, in blocks. */
  private def classOf(px: Int, py: Int, side: Int, classes: Int): Int =
    (px * (classes - 1) / side + py * 3 / side) % (classes - 1) + 1

  /** A class's reflectance offset in band `k` (up to ±240): the classes
    * overlap through the per-pixel shift and noise, so the classifier has
    * something to learn but needs many rounds to learn it. */
  private def classShift(cls: Int, k: Int): Double =
    ((cls * 7 + k * 3) % 9 - 4) * 60.0

  /** Aux rows carrying each pixel's class as its label; about 2% of
    * pixels unlabeled. */
  private def auxRows(rng: java.util.Random, keys: Seq[(Long, Long)],
      side: Int, classes: Int): Array[AuxRow] =
    keys.flatMap { case (cx, cy) =>
      (0 until side * side).map { p =>
        val (px, py) = (p / side, p % side)
        val label =
          if (rng.nextDouble() < 0.02) 0 else classOf(px, py, side, classes)
        AuxRow(cx, cy, cx / 30 + px, cy / 30 - py, Array(label),
          Array(rng.nextInt(360)), Array(rng.nextDouble()),
          Array(rng.nextDouble() * 30), Array(rng.nextInt(10)),
          Array(200 + rng.nextDouble() * 800))
      }
    }.toArray

  /** Standard-normal noise: a seeded table read from a random offset,
    * far cheaper than one `nextGaussian` per observation. */
  final class Noise(rng: java.util.Random) {
    private val table = Array.fill(1 << 16)(rng.nextGaussian())
    def series(sd: Double): Int => Double = {
      val off = rng.nextInt(table.length)
      val stride = 1 + 2 * rng.nextInt(1 << 10)
      i => table((off + i * stride) & (table.length - 1)) * sd
    }
  }

  private def seasonal(ordinal: Int): Double =
    math.sin(2 * math.Pi * ordinal / 365.25)
}
