package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.core.PixelTimeseries
import graft.ops.SegmentPipeline
import graft.store.ParquetStore

/** The reference's end-to-end count contract at full chip size
  * (test/test_A_segment.py:50-52): one 100x100 chip -> 1 chip record,
  * 10,000 pixel records, >= 10,000 segments; plus the partition-pruned
  * keyed read-back (the store's key-addressed layout).
  */
class FullChipSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val Cx = -2061585L
  private val Cy = 1922805L

  private def fullChip(): Seq[PixelTimeseries] = {
    val fx = new PipelineFixtures(spark)
    val t0 = fx.ordinal("1985-01-03")
    val n = 120
    val dates = Array.tabulate(n)(i => t0 + 32 * i)
    for (px <- 0 until 100; py <- 0 until 100) yield {
      val base = (px * 100 + py) % 500
      def band(b: Double): Array[Int] =
        Array.tabulate(n)(i => (b + base +
          60 * math.sin(2 * math.Pi * dates(i) / 365.25) +
          ((i % 5) - 2) * 3.0).toInt)
      PixelTimeseries(Cx, Cy, Cx / 30 + px, Cy / 30 - py, dates,
        band(800), band(900), band(1000), band(3000),
        band(2000), band(1500), band(2800), Array.fill(n)(0))
    }
  }

  test("full 100x100 chip: 1 chip / 10,000 pixels / >= 10,000 segments," +
      " then train + predict end-to-end") {
    val root = Files.createTempDirectory("graft-fullchip").toString
    val store = new ParquetStore(root)
    val res = SegmentPipeline.run(spark,
      spark.createDataset(fullChip()).repartition(8), store)
    assert(res.chips == 1L)
    assert(res.pixels == 10000L)
    assert(res.segments >= 10000L)

    // keyed read-back prunes to the chip partition (S3/S12 mapping)
    val read = store.read("segment", spark)
      .filter($"cx" === Cx && $"cy" === Cy)
    read.collect()
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(cx"), plan)
    assert(read.count() == res.segments)

    // B/tile at full chip: aux labels per pixel, bounded-sample train
    val aux = (for (px <- 0 until 100; py <- 0 until 100) yield
      graft.core.AuxRow(Cx, Cy, Cx / 30 + px, Cy / 30 - py,
        Array((px / 34) + 1), Array(px), Array(py * 0.5), Array(1.0),
        Array(px % 7), Array(300.0 + py))).toSeq
    val auxDf = spark.createDataset(aux).toDF()
    val clf = new graft.ml.SoftmaxClassifier(numClasses = 4, epochs = 15)
    val train = graft.ops.TrainingPipeline.run(spark,
      store.read("segment", spark), auxDf, store, clf,
      tx = -2115585L, ty = 1964805L,
      graft.ops.TrainingPipeline.Params(date = "1990-07-01",
        targetSamples = 5000, classMin = 100, classMax = 2000))
    assert(train.model.nonEmpty)
    assert(store.read("tile", spark).count() == 1) // "1 and only 1" model

    // C/prediction at full chip: the 30,000-predictions analog — one
    // row per (segment, annual 07-01 inside span); count must equal the
    // independently-computed explode total
    val modelBytes = store.read("tile", spark)
      .select($"model").as[Array[Byte]].head()
    val n = graft.ops.PredictionPipeline.run(spark,
      store.read("segment", spark), auxDf, store, clf, modelBytes,
      month = 7, day = 1)
    val expected = store.read("segment", spark)
      .select($"sday", $"eday").as[(java.sql.Date, java.sql.Date)]
      .collect().map { case (s, e) =>
        val (sd, ed) = (s.toLocalDate, e.toLocalDate)
        math.max(
          (sd.getYear to ed.getYear).count { y =>
            val p = java.time.LocalDate.of(y, 7, 1)
            !p.isBefore(sd) && !p.isAfter(ed)
          }, 0)
      }.sum
    assert(n == expected, s"predictions $n vs exploded-span total $expected")
    assert(n >= res.segments) // multi-year spans -> at least 1 row/segment
  }
}
