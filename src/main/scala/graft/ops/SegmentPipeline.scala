package graft.ops

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.core._
import graft.store.Store

/** The /segment job (SURVEY.md §3.1): ARD chip scan → per-pixel CCD →
  * 37-col projection → chip/pixel/segment sinks.
  *
  * Spark shape: `read ARD → [limit] → mapPartitions(ccd) → cache`, then
  * four jobs over the cache and no shuffle: a per-partition tally
  * collected to the driver (the counts, the F3 guard and the chip
  * rows), then the segment, pixel and chip writes, the last from the
  * tally's small local rows. Chip-parallelism is the partitioning (one
  * task works one chip's pixels when the source is partitioned by
  * (cx, cy)); pixel-parallelism inside a chip comes free because rows
  * are pixels.
  * The reference's multiprocessing.Pool (segment.py:189-195) maps to
  * Spark tasks; its empty-scan guard (F3) and limit (L1) are preserved.
  */
object SegmentPipeline {

  /** M1: per-pixel change detection as a typed partition map — the
    * canonical per-key heavy UDF placement (SURVEY §2.12: NOT an
    * Expression; too heavy for codegen, perfect for mapPartitions). */
  def detect(ts: Dataset[PixelTimeseries], detector: ChangeDetector)
      : Dataset[PixelDetection] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[PixelDetection]
    ts.mapPartitions(_.map(detector.detect))
  }

  /** Full job for one (or many) chips.
    *
    * @param limit    optional pixel cap (L1, ref segment.py:195 `take`)
    * @param acquired optional "YYYY/YYYY" observation window — the
    *                 reference's acquired request param, applied at the
    *                 scan by its upstream (segment.py:146-175)
    * @param keyHint  when the request IS one chip (JobQueue's per-chip
    *                 dispatch), the (cx, cy) of every ard row — each of
    *                 the three sinks then takes the single-partition
    *                 [[graft.store.Store.writeKeyed]] commit (one task
    *                 reading the detection cache, one rename) instead
    *                 of a keys-hash exchange plus the dynamic-overwrite
    *                 staging walk, 3x per chip (guide §2.2/§5)
    */
  def run(spark: SparkSession, ard: Dataset[PixelTimeseries], store: Store,
      detector: ChangeDetector = HarmonicCcd(), limit: Option[Int] = None,
      acquired: Option[String] = None,
      keyHint: Option[Seq[(String, Any)]] = None): SegmentResult = {
    import spark.implicits._
    implicit val tsEnc = org.apache.spark.sql.Encoders.product[PixelTimeseries]

    val windowed = acquired.map { a =>
      val (from, to) = AcquiredWindow.parse(a)
      ard.map(AcquiredWindow.clip(_, from, to))
    }.getOrElse(ard)
    val capped = limit.map(windowed.limit).getOrElse(windowed)

    val detections = detect(capped, detector).cache()

    // S9: segment sink — explode per-pixel segment lists to rows
    val segments = detections.flatMap(_.segments)

    // S8: pixel sink — one mask record per pixel
    val pixels = detections
      .map(d => PixelRecord(d.cx, d.cy, d.px, d.py, d.mask))

    // try/finally: the nodata throw, a detector failure surfacing in
    // the tally, or a failed write must all still release the cache —
    // a long-running JobQueue answering repeated failing requests
    // would otherwise accumulate CacheManager entries until executor
    // storage memory is gone
    try {
      // The tally FIRST, as ONE shuffle-free action over the cache: it
      // forces detection, so a detector failure surfaces before any
      // sink is touched — the nothing-persisted half of the
      // reference's error contract (ref: test/test_A_segment.py:
      // 159-194). Each partition reports, per chip it holds, its pixel
      // and segment counts and the dates of the first pixel it sees;
      // the driver merges the few rows. That yields all three counts,
      // the F3 nodata guard (ref segment.py:178-184: zero pixels means
      // the scan was empty) and the chip sink's rows (A3: the
      // reference's insert_chip takes the first pixel's dates in
      // memory, ceph.py:150-161) without an aggregate's exchanges.
      val tally = detections.mapPartitions { it =>
        val byChip =
          scala.collection.mutable.HashMap.empty[(Long, Long), ChipTally]
        it.foreach { d =>
          val t = byChip.getOrElseUpdate((d.cx, d.cy),
            ChipTally(d.cx, d.cy, d.dates, 0L, 0L))
          byChip((d.cx, d.cy)) = t.copy(pixels = t.pixels + 1,
            segments = t.segments + d.segments.size)
        }
        byChip.valuesIterator
      }.collect()
      // collect keeps partition order: each chip's first tally row
      // holds the first pixel's dates
      val firstPerChip =
        tally.groupBy(t => (t.cx, t.cy)).values.map(_.head).toSeq
      val counts = SegmentResult(chips = firstPerChip.size,
        pixels = tally.map(_.pixels).sum,
        segments = tally.map(_.segments).sum)
      if (counts.pixels == 0L)
        throw new IllegalStateException("No timeseries data available")
      // S7: chip sink — one row per chip from the tally
      val chips = spark.createDataset(firstPerChip.map(t =>
        ChipRecord(t.cx, t.cy, t.dates.map(HarmonicCcd.dateOfOrdinal))))
      def sink(entity: String, df: org.apache.spark.sql.DataFrame): Unit =
        keyHint match {
          case Some(kv) => store.writeKeyed(entity, df, Seq("cx", "cy"), kv)
          case None => store.write(entity, df, Seq("cx", "cy"))
        }
      sink("segment", segments.toDF())
      sink("pixel", pixels.toDF())
      sink("chip", chips.toDF())
      counts
    } finally detections.unpersist()
  }

  /** One partition's share of one chip: its pixel and segment counts
    * and the dates of the first pixel the partition saw. */
  private[ops] final case class ChipTally(cx: Long, cy: Long,
      dates: Array[Int], pixels: Long, segments: Long)
}

final case class SegmentResult(chips: Long, pixels: Long, segments: Long)
