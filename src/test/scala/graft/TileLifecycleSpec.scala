package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.ml.{BoostConfig, GradientBoostedClassifier}
import graft.ops.{HarmonicCcd, SegmentPipeline, SyntheticTile}
import graft.store.ParquetStore
import graft.streaming.{JobQueue, JobRequest}

/** Multi-chip tile lifecycle (the reference's own suite ordering:
  * A segment -> B tile -> D prediction, test/test_B_tile.py:51-54)
  * driven through the job queue over a chip GRID, with the per-chip
  * partition economy asserted in the plans: detection never shuffles
  * across chips, and keyed read-back prunes to one chip partition no
  * matter how many chips the store holds. The 25-chip wall-time twin
  * of this spec runs in Bench as t1_tile_lifecycle.
  */
class TileLifecycleSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val NChips = 9
  private val Side = 6
  private val Obs = 80

  test("chip-grid lifecycle: detection shuffle-free, keyed reads " +
    "prune to one chip, all stages green through the queue") {
    implicit val reqEnc = org.apache.spark.sql.Encoders.product[JobRequest]
    val root = Files.createTempDirectory("graft-tile-life").toString
    val store = new ParquetStore(root)
    val jq = new JobQueue(spark, store,
      ardSource = (cx, cy) => SyntheticTile.chip(spark, cx, cy, Side, Obs),
      auxSource = () => SyntheticTile.aux(spark, NChips, Side),
      classifier = new GradientBoostedClassifier(
        BoostConfig(numRound = 10, numClass = 4, maxDepth = 3)))

    // the detection stage maps over the source's own partitioning —
    // the chip-parallelism IS the partitioning, so there is no
    // cross-chip exchange anywhere in the per-pixel plan
    val det = SegmentPipeline.detect(
      SyntheticTile.chip(spark, SyntheticTile.cxOf(0), SyntheticTile.Cy,
        Side, Obs), HarmonicCcd())
    val detPlan = det.queryExecution.executedPlan.toString
    assert(!detPlan.contains("Exchange"), detPlan)

    // and the property is grid-size-independent: a MULTI-chip source
    // (the t2_tile_lifecycle_100 shape) detects with zero cross-chip
    // exchange too — chip parallelism rides the source partitioning,
    // so 4x/100x the chips never introduces a shuffle
    implicit val ptsEnc =
      org.apache.spark.sql.Encoders.product[graft.core.PixelTimeseries]
    val grid = spark.createDataset((0 until 4).flatMap(k =>
      SyntheticTile.chipRows(SyntheticTile.cxOf(k), SyntheticTile.Cy,
        Side, Obs)))
    val gridPlan = SegmentPipeline.detect(grid, HarmonicCcd())
      .queryExecution.executedPlan.toString
    assert(!gridPlan.contains("Exchange"), gridPlan)

    // A: one segment request per chip
    jq.dispatch(spark.createDataset((0 until NChips).map(k =>
      JobRequest("segment", SyntheticTile.cxOf(k), SyntheticTile.Cy,
        0, 0, "", 0, 0))))
    val seg = jq.results.filter(_.kind == "segment")
    assert(seg.length == NChips && seg.forall(_.ok),
      seg.filterNot(_.ok).toString)

    // the store holds NChips chip partitions; a keyed read prunes the
    // scan to ONE of them (S3 semantics at multi-chip scale)
    val one = store.read("segment", spark)
      .filter($"cx" === SyntheticTile.cxOf(3) && $"cy" === SyntheticTile.Cy)
    val onePlan = one.queryExecution.executedPlan.toString
    assert(onePlan.contains("PartitionFilters: [isnotnull(cx"), onePlan)
    assert(one.count() >= Side.toLong * Side)
    assert(store.read("segment", spark)
      .select($"cx").distinct().count() == NChips)

    // B: train one tile model over every chip's segments
    jq.dispatch(spark.createDataset(Seq(
      JobRequest("tile", 0, 0, 7, 9, "1987-07-01", 0, 0))))
    val tile = jq.results.find(_.kind == "tile").get
    assert(tile.ok, tile.error)
    assert(store.read("tile", spark)
      .filter($"tx" === 7 && $"ty" === 9).count() == 1)

    // D: one prediction request per chip against the persisted model
    jq.dispatch(spark.createDataset((0 until NChips).map(k =>
      JobRequest("prediction", SyntheticTile.cxOf(k), SyntheticTile.Cy,
        7, 9, "", 7, 1))))
    val pred = jq.results.filter(_.kind == "prediction")
    assert(pred.length == NChips && pred.forall(_.ok),
      pred.filterNot(_.ok).toString)
    // every chip produced predictions, keyed by its own partition
    assert(store.read("prediction", spark)
      .select($"cx").distinct().count() == NChips)
  }

  /** Store wrapper counting full-entity vs keyed reads, so the test
    * below pins the serving path's READ PATTERN — the thing that made
    * the r7 100-chip prediction stage super-linear (0.19 → 0.71
    * s/chip): every full `read` lists every partition in the store,
    * so N requests × N partitions is O(N²) metadata. */
  private final class CountingStore(inner: graft.store.Store)
      extends graft.store.Store {
    val fullReads =
      new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val keyedReads =
      new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    private def bump(m: java.util.concurrent.ConcurrentHashMap[
        String, Integer], e: String): Unit =
      m.merge(e, 1, (a, b) => a + b)
    def reset(): Unit = { fullReads.clear(); keyedReads.clear() }
    override def write(entity: String,
        df: org.apache.spark.sql.DataFrame, keys: Seq[String]): Unit =
      inner.write(entity, df, keys)
    override def read(entity: String,
        spark: org.apache.spark.sql.SparkSession) = {
      bump(fullReads, entity); inner.read(entity, spark)
    }
    override def readKeyed(entity: String,
        keyValues: Seq[(String, Any)],
        spark: org.apache.spark.sql.SparkSession) = {
      bump(keyedReads, entity); inner.readKeyed(entity, keyValues, spark)
    }
    override def delete(entity: String,
        keyValues: Seq[(String, Any)]): Unit =
      inner.delete(entity, keyValues)
  }

  test("prediction serving path is key-addressed: zero full-store " +
    "reads per request, one model fetch and one aux evaluation " +
    "per batch") {
    implicit val reqEnc = org.apache.spark.sql.Encoders.product[JobRequest]
    val root = Files.createTempDirectory("graft-tile-keyed").toString
    val store = new CountingStore(new ParquetStore(root))
    val auxCalls = new java.util.concurrent.atomic.AtomicInteger(0)
    val jq = new JobQueue(spark, store,
      ardSource = (cx, cy) => SyntheticTile.chip(spark, cx, cy, Side, Obs),
      auxSource = () => {
        auxCalls.incrementAndGet()
        SyntheticTile.aux(spark, NChips, Side)
      },
      classifier = new GradientBoostedClassifier(
        BoostConfig(numRound = 5, numClass = 4, maxDepth = 3)))
    jq.dispatch(spark.createDataset((0 until NChips).map(k =>
      JobRequest("segment", SyntheticTile.cxOf(k), SyntheticTile.Cy,
        0, 0, "", 0, 0))))
    jq.dispatch(spark.createDataset(Seq(
      JobRequest("tile", 0, 0, 7, 9, "1987-07-01", 0, 0))))
    assert(jq.results.forall(_.ok), jq.results.filterNot(_.ok).toString)

    // the serving stage: every read of tile/segment must be keyed —
    // a full read here is what turns a tile of requests O(chips²)
    store.reset()
    val auxBefore = auxCalls.get()
    jq.dispatch(spark.createDataset((0 until NChips).map(k =>
      JobRequest("prediction", SyntheticTile.cxOf(k), SyntheticTile.Cy,
        7, 9, "", 7, 1))))
    val pred = jq.results.filter(_.kind == "prediction")
    assert(pred.length == NChips && pred.forall(_.ok),
      pred.filterNot(_.ok).toString)
    assert(store.fullReads.isEmpty,
      s"full-store reads in the serving path: ${store.fullReads}")
    assert(store.keyedReads.get("segment") == NChips,
      s"keyed segment reads: ${store.keyedReads}")
    // one tile of requests = ONE model fetch (per-batch memo), not one
    // driver head() job per chip
    assert(store.keyedReads.get("tile") == 1,
      s"keyed tile reads: ${store.keyedReads}")
    // ...and ONE aux evaluation (per-batch memo): re-building the full
    // grid's aux frame per chip is what made 400-chip prediction cost
    // 3x per chip vs 100 chips (the r9 scaling-pin catch)
    assert(auxCalls.get() - auxBefore == 1,
      s"aux evaluated ${auxCalls.get() - auxBefore} times in one " +
        "prediction batch")
  }

  test("a warm keyed segment request runs at most 4 jobs, no shuffle " +
    "stage, and compiles no new code") {
    val store = new ParquetStore(
      Files.createTempDirectory("graft-tile-pin").toString)
    def segment(k: Int): Unit = {
      val cx = SyntheticTile.cxOf(k)
      SegmentPipeline.run(spark,
        SyntheticTile.chip(spark, cx, SyntheticTile.Cy, Side, Obs), store,
        keyHint = Some(Seq("cx" -> cx, "cy" -> SyntheticTile.Cy)))
    }
    segment(0) // warm: plans compiled and cached
    // count only this thread's jobs: tag them with a local property
    val tag = "graft.test.segmentPin"
    def tagged(p: java.util.Properties): Boolean =
      p != null && p.getProperty(tag) != null
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val shuffleStages = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (tagged(j.properties)) jobs.incrementAndGet()
      // shuffleDepId is private[spark] (bytecode-public): defined
      // exactly for shuffle-map stages
      override def onStageSubmitted(
          s: org.apache.spark.scheduler.SparkListenerStageSubmitted)
          : Unit = if (tagged(s.properties)) {
        val dep = s.stageInfo.getClass.getMethod("shuffleDepId")
          .invoke(s.stageInfo).asInstanceOf[Option[_]]
        if (dep.isDefined) shuffleStages.incrementAndGet()
      }
    }
    val compiles =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    spark.sparkContext.addSparkListener(l)
    try {
      val compiled0 = compiles.getCount
      spark.sparkContext.setLocalProperty(tag, "1")
      try segment(1) // a chip the session has not seen
      finally spark.sparkContext.setLocalProperty(tag, null)
      val compiled = compiles.getCount - compiled0
      org.apache.spark.sql.graftbridge.ColumnBridge.flushListenerBus(spark)
      assert(jobs.get() <= 4, s"${jobs.get()} jobs for one segment request")
      assert(shuffleStages.get() == 0,
        s"${shuffleStages.get()} shuffle stages for one segment request")
      assert(compiled == 0, s"$compiled classes compiled on a warm request")
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
