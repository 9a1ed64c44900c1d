package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.ml.SoftmaxClassifier
import graft.ops._
import graft.store.ParquetStore

/** End-to-end segment → tile → prediction jobs on a synthetic 5x5 chip,
  * mirroring the reference's behavioral tests (counts + sentinel routing,
  * test/test_A_segment.py:50-52, test/test_D_prediction.py:125-127) plus
  * the golden statistics/sample semantics (test/test_B_tile.py:233-274).
  */
class PipelinesSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val root = Files.createTempDirectory("graft-store").toString
  private val store = new ParquetStore(root)
  private lazy val fixtures = new PipelineFixtures(spark)
  import fixtures.{Cx, Cy, Side, chip, aux}

  test("A/segment: counts and sentinel contract") {
    val ts = spark.createDataset(chip())
    val res = SegmentPipeline.run(spark, ts, store)
    assert(res.chips == 1)
    assert(res.pixels == Side * Side)
    assert(res.segments >= Side * Side) // >= 1 per pixel
    val segs = store.read("segment", spark)
    assert(segs.filter($"sday" === lit("0001-01-01").cast("date")).count() == 0)
    // partition-pruned read: one chip key
    val pruned = segs.filter($"cx" === Cx && $"cy" === Cy)
    assert(pruned.count() == res.segments)
  }

  test("segment job refuses an empty scan (F3 nodata guard)") {
    val empty = spark.createDataset(Seq.empty[PixelTimeseries])
    intercept[IllegalStateException] {
      SegmentPipeline.run(spark, empty, store)
    }
  }

  test("B/tile: train on segments ⋈ aux with stratified sample") {
    val segments = store.read("segment", spark)
    val auxDf = spark.createDataset(aux()).toDF()
    val res = TrainingPipeline.run(spark, segments, auxDf, store,
      new SoftmaxClassifier(numClasses = 4, epochs = 30),
      tx = -2115585L, ty = 1964805L,
      TrainingPipeline.Params(date = "1990-07-01",
        targetSamples = 100, classMin = 1, classMax = 1000))
    assert(res.model.nonEmpty)
    // labels 1..3 present, 0 filtered out by F1
    assert(res.statistics.map(_._1).sorted.toSeq == Seq(1, 2, 3))
    assert(res.trainRows > 0)
    val model = store.read("tile", spark)
    assert(model.count() == 1)
  }

  test("C/prediction: explode + score + default union") {
    val segments = store.read("segment", spark)
    // add one default segment to exercise G1/U1 routing
    val withDefault = segments.unionByName(
      spark.createDataset(Seq(Segment.default(Cx, Cy, Cx / 30, Cy / 30 - 4)))
        .toDF())
    val auxDf = spark.createDataset(aux()).toDF()
    val modelBytes = store.read("tile", spark)
      .select($"model").as[Array[Byte]].head()

    val n = PredictionPipeline.run(spark, withDefault, auxDf, store,
      new SoftmaxClassifier(numClasses = 4), modelBytes, month = 7, day = 1)

    val preds = store.read("prediction", spark)
    assert(n == preds.count())
    // default segment -> exactly one sentinel row with empty prob
    val defaults = preds
      .filter($"pday" === lit("0001-01-01").cast("date"))
    assert(defaults.count() == 1)
    assert(defaults.select(size($"prob")).as[Int].head() == 0)
    // scored rows: one per (segment, year with 07-01 inside span),
    // probabilities sum to 1
    val scored = preds.filter($"pday" =!= lit("0001-01-01").cast("date"))
    assert(scored.count() > 0)
    val probSums = scored
      .select(aggregate($"prob", lit(0.0d), (a, x) => a + x).as("s"))
      .as[Double].collect()
    assert(probSums.forall(s => math.abs(s - 1.0) < 1e-4))
    // prob vector has numClasses entries
    assert(scored.select(size($"prob")).distinct().as[Int].collect()
      .toSeq == Seq(4))
    // 1985..1995 spans: every scored pday is 07-01
    assert(scored.filter(month($"pday") =!= 7 || dayofmonth($"pday") =!= 1)
      .count() == 0)
  }

  test("statistics golden: pcts 0.2/0.3/0.5 (ref test_B_tile.py:233-248)") {
    val data = (Seq.fill(20)(0) ++ Seq.fill(30)(1) ++ Seq.fill(50)(2))
      .toDF("label")
    val got = Features.statistics(data).orderBy($"label")
      .select($"label", round($"pct", 6)).as[(Int, Double)].collect()
    assert(got.toSeq == Seq((0, 0.2), (1, 0.3), (2, 0.5)))
  }

  test("stratified sample golden: caps + availability " +
      "(ref test_B_tile.py:255-274)") {
    // labels [0]*5 + [1] + [2]*2, target 50, min 2, max 3 -> [0,0,0,1,2,2]
    val data = (Seq.fill(5)(0) ++ Seq(1) ++ Seq.fill(2)(2)).toDF("label")
    val got = Features.stratifiedSample(data, 50, 2, 3)
      .select($"label").as[Int].collect().sorted
    assert(got.toSeq == Seq(0, 0, 0, 1, 2, 2))
  }
}
