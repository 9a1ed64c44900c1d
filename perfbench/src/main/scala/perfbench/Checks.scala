package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.store.Store

/** Output checks on a store after a lifecycle. Each failure names the
  * request it convicts, so that failures count against attempts. */
object Checks {
  /** sday = eday = 0001-01-01 marks a default ("no model fit") segment. */
  val Default: java.time.LocalDate = java.time.LocalDate.of(1, 1, 1)

  /** Rows a prediction request must write for a chip: one per annual
    * `month`/`day` date inside each segment's [sday, eday], and one
    * sentinel row per default segment — the explode rule, computed here
    * independently from the stored segments. */
  def expectedPredictions(spans: Seq[(java.time.LocalDate,
      java.time.LocalDate)], month: Int, day: Int): Long = {
    spans.map { case (s, e) =>
      if (s == Default && e == Default) 1L
      else (s.getYear to e.getYear).count { y =>
        val d = java.time.LocalDate.of(y, month, day)
        !d.isBefore(s) && !d.isAfter(e)
      }.toLong
    }.sum
  }

  /** @param segmented chips whose segments must be in the store
    * @param predicted chips (with the rows their request reported) whose
    *                  predictions must be in the store
    * @return (request key, message) per failed check */
  def store(spark: SparkSession, store: Store, pixelsPerChip: Int,
      segmented: Seq[(Long, Long)], predicted: Seq[((Long, Long), Long)],
      tile: Option[(Long, Long)], numClass: Int, month: Int, day: Int)
      : Seq[(String, String)] = {
    import spark.implicits._
    val fails = Seq.newBuilder[(String, String)]
    val pixelCounts = store.read("pixel", spark).groupBy($"cx", $"cy")
      .agg(count(lit(1)).as("n")).as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val segs = store.read("segment", spark)
      .select($"cx", $"cy", $"px", $"py",
        expr("unix_date(sday)").cast("long"), expr("unix_date(eday)").cast("long"))
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .groupBy(r => (r._1, r._2))
    segmented.foreach { c =>
      val k = s"segment:${c._1}:${c._2}"
      val n = pixelCounts.getOrElse(c, 0L)
      if (n != pixelsPerChip)
        fails += k -> s"$n pixel records, expected $pixelsPerChip"
      val withSegment = segs.getOrElse(c, Array.empty)
        .map(r => (r._3, r._4)).distinct.length
      if (withSegment != pixelsPerChip)
        fails += k -> s"$withSegment pixels with a segment of $pixelsPerChip"
    }
    if (predicted.nonEmpty) {
      // per chip: rows, rows with an empty probability vector, and rows
      // whose vector is not numClass entries summing to 1 ± 1e-4
      val psum = aggregate($"prob", lit(0.0), (a, x) => a + x.cast("double"))
      val stats = store.read("prediction", spark)
        .groupBy($"cx", $"cy")
        .agg(count(lit(1)).as("n"),
          sum(when(size($"prob") === 0, 1).otherwise(0)).cast("long"),
          sum(when(size($"prob") > 0 && (size($"prob") =!= numClass ||
            abs(psum - 1.0) > 1e-4), 1).otherwise(0)).cast("long"))
        .as[(Long, Long, Long, Long, Long)].collect()
        .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
      predicted.foreach { case (c, reported) =>
        val k = s"prediction:${c._1}:${c._2}"
        val chipSegs = segs.getOrElse(c, Array.empty)
        val spans = chipSegs.map(r => (java.time.LocalDate.ofEpochDay(r._5),
          java.time.LocalDate.ofEpochDay(r._6))).toSeq
        val expected = expectedPredictions(spans, month, day)
        val defaults = spans.count(_ == Default -> Default)
        val (n, empty, bad) = stats.getOrElse(c, (0L, 0L, 0L))
        if (n != expected || reported != expected)
          fails += k -> (s"$n rows stored, $reported reported, " +
            s"$expected expected from the stored segments")
        if (empty != defaults)
          fails += k -> (s"$empty empty probability vectors for " +
            s"$defaults default segments")
        if (bad != 0)
          fails += k -> (s"$bad probability vectors are not $numClass " +
            "entries summing to 1")
      }
    }
    tile.foreach { case (tx, ty) =>
      val models = store.read("tile", spark).filter($"tx" === tx && $"ty" === ty)
        .count()
      if (models != 1) fails += "tile" -> s"$models model rows for the tile"
    }
    fails.result()
  }
}
