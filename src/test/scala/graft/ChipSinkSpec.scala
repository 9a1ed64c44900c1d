package graft

import java.nio.file.Files
import java.time.LocalDate
import org.scalatest.funsuite.AnyFunSuite
import graft.core.PixelTimeseries
import graft.ops.{SegmentPipeline, SegmentResult, SyntheticTile}
import graft.store.{ParquetStore, Store}

/** Contents of the segment job's chip sink (the reference's
  * `insert_chip`, ceph.py:150-161: one provenance row per chip whose
  * `dates` are the chip's acquisition dates), for both write paths: the
  * keyed single-chip commit JobQueue uses and the generic multi-chip
  * overwrite. Also pins the returned [[SegmentResult]] to what the
  * pixel and segment sinks actually hold.
  */
class ChipSinkSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val Side = 6
  private val Obs = 80

  private def chipDates(cx: Long, n: Int): Seq[String] =
    SyntheticTile.chipRows(cx, SyntheticTile.Cy, 1, n).head.dates
      .map(o => LocalDate.ofEpochDay(o - 719163L).toString).toSeq

  /** Every chip row of `store`, as (cx, cy) -> ISO dates. */
  private def chipRows(store: Store): Seq[((Long, Long), Seq[String])] =
    store.read("chip", spark)
      .select($"cx".cast("long"), $"cy".cast("long"),
        $"dates".cast("array<string>"))
      .as[(Long, Long, Seq[String])].collect().toSeq
      .map { case (cx, cy, d) => (cx, cy) -> d }

  private def assertCounts(store: Store, r: SegmentResult): Unit = {
    val pixels = store.read("pixel", spark)
    assert(r.pixels == pixels.count())
    assert(r.segments == store.read("segment", spark).count())
    assert(r.chips == pixels.select($"cx", $"cy").distinct().count())
  }

  /** The chip entity's stored data columns: the key columns live in
    * the partition path, so the files hold `dates` alone. */
  private def assertChipSchema(store: Store): Unit = {
    val dates = store.read("chip", spark).schema("dates").dataType
    assert(dates.sql == "ARRAY<DATE>", dates.sql)
    assert(store.read("chip", spark).schema.fieldNames.toSet ==
      Set("cx", "cy", "dates"))
  }

  test("keyed segment request: one chip row holding the chip's dates") {
    val store = new ParquetStore(
      Files.createTempDirectory("graft-chip-keyed").toString)
    val cx = SyntheticTile.cxOf(0)
    val r = SegmentPipeline.run(spark,
      SyntheticTile.chip(spark, cx, SyntheticTile.Cy, Side, Obs), store,
      keyHint = Some(Seq("cx" -> cx, "cy" -> SyntheticTile.Cy)))
    assert(r == SegmentResult(chips = 1, pixels = Side * Side,
      segments = r.segments))
    assert(chipRows(store) ==
      Seq((cx, SyntheticTile.Cy) -> chipDates(cx, Obs)))
    assertChipSchema(store)
    assertCounts(store, r)
  }

  test("generic 4-chip run: exactly one chip row per chip, each with " +
    "its own dates") {
    implicit val tsEnc =
      org.apache.spark.sql.Encoders.product[PixelTimeseries]
    val store = new ParquetStore(
      Files.createTempDirectory("graft-chip-generic").toString)
    val cxs = (0 until 4).map(SyntheticTile.cxOf)
    // chips differ in observation count, so a row carrying another
    // chip's dates would show
    val rows = cxs.zipWithIndex.flatMap { case (cx, k) =>
      SyntheticTile.chipRows(cx, SyntheticTile.Cy, Side, Obs + 4 * k) }
    val r = SegmentPipeline.run(spark,
      spark.createDataset(spark.sparkContext.parallelize(rows, 3)), store)
    assert(r.chips == 4 && r.pixels == 4L * Side * Side)
    val expected = cxs.zipWithIndex.map { case (cx, k) =>
      (cx, SyntheticTile.Cy) -> chipDates(cx, Obs + 4 * k) }
    assert(chipRows(store).sortBy(_._1) == expected.sortBy(_._1))
    assertChipSchema(store)
    assertCounts(store, r)
  }
}
