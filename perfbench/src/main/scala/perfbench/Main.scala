package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{Encoders, SparkSession}
import graft.ml.{BoostConfig, Classifier, GradientBoostedClassifier}
import graft.ops.{ChangeDetector, HarmonicCcd}
import graft.store.{ParquetStore, Store}
import graft.streaming.{JobQueue, JobRequest}

/** Entry point of the benchmark's measuring process:
  * `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  * --work DIR --out FILE`. It writes the raw measurements (request
  * times, batch walls, set-up episodes, check failures and, when traced,
  * spans) to FILE; `perfbench/run.py` turns them into metrics. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: String, out: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", need("--work"), need("--out"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w: Workload = a.workload match {
      case "tile_lifecycle" => new Lifecycle(a, small = true)
      case "full_chip" => new Lifecycle(a, small = false)
      case "request_stream" => new RequestStream(a)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val out = w.run()
    java.nio.file.Files.write(java.nio.file.Paths.get(a.out),
      Json(out).getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

/** Fixed single-thread loops in the benchmark's own code: the program
  * cannot move them, so they tell a slow box from slow code. */
object Anchors {
  def cpuMs(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var i = 0
    while (i < 40000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    if (x == 42L) println("")
    (System.nanoTime() - t0) / 1e6
  }

  def memMs(): Double = {
    val a = new Array[Long](8 << 20) // 64 MiB
    var s = 0L
    val t0 = System.nanoTime()
    var pass = 0
    while (pass < 8) {
      var i = 0
      while (i < a.length) { s += a(i); a(i) = s; i += 1 }
      pass += 1
    }
    if (s == 42L) println("")
    (System.nanoTime() - t0) / 1e6
  }
}

/** What every workload shares: the session, the set-up, the request
  * bookkeeping, the traced/untraced program wiring and the raw output. */
abstract class Workload(val a: Main.Args) {
  protected var spark: SparkSession = _
  protected val reqs = mutable.ArrayBuffer.empty[Req]
  /** (kind, start, end, requests, traced, iteration) per batch. */
  protected val batches = mutable.ArrayBuffer.empty[Map[String, Any]]
  protected val iterations = mutable.ArrayBuffer.empty[Map[String, Any]]
  protected val failures = mutable.ArrayBuffer.empty[(String, String)]
  protected val heapMb = mutable.ArrayBuffer.empty[Double]
  protected val extra = mutable.LinkedHashMap.empty[String, Any]
  private var storeSeq = 0

  val cores: Int = Runtime.getRuntime.availableProcessors()
  /** The job-queue parallelism `Bench` gives the lifecycle. */
  val parallelism: Int = math.max(4, cores * 3 / 4)

  /** Generate the seeded inputs (fixture time). */
  def generate(): Unit
  /** Warm the session on the workload's shape; the stream fills the
    * store it serves from. */
  def warm(): Unit
  /** The measured part; `trace` interleaves traced iterations. */
  def timed(deadlineUs: Long): Unit
  /** Output checks that need the store; failures go to `failures`. */
  def check(): Unit
  /** Pixels for the single-threaded detector probe. */
  def probePixels: Seq[graft.core.PixelTimeseries]

  def startSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def freshStore(): (String, Store) = {
    storeSeq += 1
    val root = s"${a.work}/store-$storeSeq"
    (root, new ParquetStore(root))
  }

  /** The program under test, wired with timing decorators when traced. */
  def queue(store: Store, grid: Grid, classifier: Classifier,
      traced: Boolean): JobQueue = {
    val ard = grid.ardSource(spark) _
    val aux = grid.auxSource(spark) _
    val detector: ChangeDetector = HarmonicCcd()
    if (traced)
      new JobQueue(spark, new TracedStore(store), TracedSources.ard(ard),
        TracedSources.aux(aux), new TracedClassifier(classifier),
        new TracedDetector(detector), parallelism)
    else new JobQueue(spark, store, ard, aux, classifier, detector,
      parallelism)
  }

  /** Closed loop: hand one batch to `dispatch` and wait for it. */
  def dispatch(jq: JobQueue, watch: ResultWatch, kind: String,
      rs: Seq[JobRequest], iteration: Int, traced: Boolean): Unit = {
    val ds = spark.createDataset(rs)(Encoders.product[JobRequest])
    val mine = rs.map(r => new Req(r, iteration, traced))
    val t0 = Trace.nowUs()
    mine.foreach { r => r.due = t0; r.sent = t0; watch.expect(r) }
    reqs ++= mine
    jq.dispatch(ds)
    val t1 = Trace.nowUs()
    watch.poll()
    if (traced) Trace.record("streaming.batch", t0, t1, "",
      Map("requests" -> rs.size.toDouble), parent = 0L)
    batches += Map("kind" -> kind, "start" -> t0, "end" -> t1,
      "requests" -> rs.size, "traced" -> traced, "iteration" -> iteration)
  }

  /** (JIT compile ms, GC ms, generated classes compiled) so far. */
  def jvmBusyMs(): (Long, Long, Long) = {
    import java.lang.management.ManagementFactory
    import scala.jdk.CollectionConverters._
    (ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
      ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).sum,
      org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount)
  }

  def heapAfterGc(): Unit = {
    System.gc()
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    heapMb += mx.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private var listeners: Option[(TraceListener, PlanningListener)] = None

  /** Turn span collection on or off. Listener events arrive on an
    * asynchronous bus, so switching off waits for the bus to catch up
    * with the jobs already submitted. */
  def tracing(on: Boolean): Unit = (listeners, on) match {
    case (None, true) =>
      val l = new TraceListener
      val p = new PlanningListener
      spark.sparkContext.addSparkListener(l)
      spark.listenerManager.register(p)
      listeners = Some((l, p))
      Trace.on = true
    case (Some((l, p)), false) =>
      val deadline = System.nanoTime() + 5000000000L
      while (!l.quiet && System.nanoTime() < deadline) Thread.sleep(20)
      spark.sparkContext.removeSparkListener(l)
      spark.listenerManager.unregister(p)
      listeners = None
      Trace.on = false
    case _ => ()
  }

  def run(): Map[String, Any] = {
    val anchors = Map("cpu_anchor_ms" -> Anchors.cpuMs(),
      "mem_anchor_ms" -> Anchors.memMs())
    // set-up: session start, input generation and a warm-up lifecycle
    // (the stream also fills the store it serves), measured once per
    // process: a repeat in the same process would find the JIT and the
    // generated code warm, and so would miss the first-use costs that
    // work moved into set-up adds
    val t0 = System.nanoTime()
    spark = startSession()
    val t1 = System.nanoTime()
    generate()
    val t2 = System.nanoTime()
    warm()
    val t3 = System.nanoTime()
    val setup = Map("session_ms" -> (t1 - t0) / 1e6,
      "fixture_ms" -> (t2 - t1) / 1e6, "warmup_ms" -> (t3 - t2) / 1e6,
      "total_s" -> (t3 - t0) / 1e9)
    heapAfterGc()
    val timedT0 = Trace.nowUs()
    timed(timedT0 + a.seconds * 1000000L)
    val wall = (Trace.nowUs() - timedT0) / 1e6
    tracing(false)
    val checkT0 = System.nanoTime()
    check()
    reqs.filter(r => r.iteration >= 0 && r.status != 200).foreach(r => failures +=
      s"${r.request.kind}:${r.request.cx}:${r.request.cy}" ->
        s"status ${r.status} ${r.error}".trim)
    val checkS = (System.nanoTime() - checkT0) / 1e9
    val probe = if (a.trace) singleThreadProbe() else 0.0
    val spans = Trace.drain()
    val spansFile = s"${a.out}.spans.jsonl"
    if (a.trace) {
      val w = java.nio.file.Files.newBufferedWriter(
        java.nio.file.Paths.get(spansFile))
      try spans.foreach { s =>
        w.write(Json(Map("id" -> s.id, "name" -> s.name, "start" -> s.start,
          "end" -> s.end, "parent" -> s.parent, "req" -> s.req,
          "attrs" -> s.attrs)))
        w.newLine()
      } finally w.close()
    }
    val env = Map("cores" -> cores,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "jdk" -> System.getProperty("java.version"),
      "spark" -> org.apache.spark.SPARK_VERSION,
      "parallelism" -> parallelism)
    val counters = Seq("spark.stages", "spark.tasks", "spark.executor_run_ms",
      "spark.executor_cpu_us", "spark.gc_ms", "spark.shuffle_read_bytes",
      "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.queries",
      "spark.planning_us", "store.bytes_written", "streaming.aux_builds").map(k => k -> Trace.counter(k)).toMap
    spark.stop()
    Map("workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "env" -> env, "anchors" -> anchors, "setup" -> setup,
      "timed_s" -> wall, "check_s" -> checkS,
      "requests" -> reqs.map(_.json), "batches" -> batches,
      "iterations" -> iterations, "heap_mb" -> heapMb,
      "failures" -> failures.map { case (k, m) => Map("req" -> k, "msg" -> m) },
      "counters" -> counters, "ccd_single_thread_px_per_s" -> probe,
      "spans" -> (if (a.trace) spansFile else ""), "extra" -> extra)
  }

  /** The detector called directly, outside Spark, on one thread. */
  def singleThreadProbe(): Double = {
    val det = HarmonicCcd()
    val px = probePixels
    px.take(20).foreach(det.detect) // JIT
    val t0 = System.nanoTime()
    var n = 0
    val it = px.iterator
    while (it.hasNext && (n < 50 || System.nanoTime() - t0 < 500000000L)) {
      det.detect(it.next()); n += 1
    }
    n / ((System.nanoTime() - t0) / 1e9)
  }
}

/** tile_lifecycle (`small`: the t2 chip shape) and full_chip (the
  * reference observation depth): closed-loop iterations of a segment
  * burst, one tile train and a prediction burst on a fresh store. */
final class Lifecycle(a0: Main.Args, small: Boolean) extends Workload(a0) {
  private val trainDate = if (small) "1987-07-01" else "1988-07-01"
  private val numClass = if (small) 4 else 9
  private def classifier(): Classifier = new GradientBoostedClassifier(
    if (small) BoostConfig(numRound = 15, numClass = 4, maxDepth = 3)
    else BoostConfig())
  /** (store, grid, iteration) of every timed iteration, for the checks. */
  private val stores = mutable.ArrayBuffer.empty[(Store, Grid, Int)]
  private val tracedStores = mutable.ArrayBuffer.empty[String]

  /** About how long one iteration takes on a 4-core box. */
  private val nominalIterationS = 5.0
  /** Untimed lifecycles before timing. After a single one the small
    * shape's first timed iterations still run 10-30% slower while the
    * JIT settles, and the median request lands on whichever iteration
    * is in the middle. */
  private val warmups = if (small) 2 else 1
  /** Timed iterations: fixed per run length, so that every run of a
    * workload takes the same number of samples. Traced runs alternate
    * untraced and traced iterations, starting and ending untraced, so
    * that a trend across iterations cancels out of the tracing overhead
    * (traced minus untraced). */
  private val n = {
    val k = math.max(1, math.round(a.seconds / nominalIterationS).toInt)
    math.min(15 - warmups, if (a.trace) math.max(3, k | 1) else k)
  }

  // Every lifecycle runs on chips the session has not seen: a real tile
  // is 2,500 distinct chips, and repeated keys would let Spark's
  // generated-code cache serve later iterations. One chip per job-queue
  // worker, so that every burst is a single wave and the requests of a
  // burst share one latency mode.
  private var grids: IndexedSeq[Grid] = _

  def generate(): Unit = grids = (0 until warmups + n).map { row =>
    if (small) Inputs.smallGrid(a.seed, row, parallelism)
    // the warm-up needs the reference shape's plans, not its volume
    else Inputs.referenceGrid(a.seed, row, parallelism,
      side = if (row < warmups) 8 else 16)
  }

  def probePixels: Seq[graft.core.PixelTimeseries] =
    grids.last.chips.flatMap(grids.last.pixels(_))

  private def lifecycle(g: Grid, store: Store, iteration: Int,
      traced: Boolean): Unit = {
    val jq = queue(store, g, classifier(), traced)
    val watch = new ResultWatch(jq)
    try {
      dispatch(jq, watch, "segment", g.chips.map { case (cx, cy) =>
        JobRequest("segment", cx, cy, 0, 0, "", 0, 0) }, iteration, traced)
      dispatch(jq, watch, "tile", Seq(JobRequest("tile", 0, 0, Inputs.Tx,
        Inputs.Ty, trainDate, 0, 0)), iteration, traced)
      dispatch(jq, watch, "prediction", g.chips.map { case (cx, cy) =>
        JobRequest("prediction", cx, cy, Inputs.Tx, Inputs.Ty, "", 7, 1) },
        iteration, traced)
    } finally { watch.stop(); jq.close() }
  }

  def warm(): Unit = (0 until warmups).foreach(w =>
    lifecycle(grids(w), freshStore()._2, -1, traced = false))

  def timed(deadlineUs: Long): Unit = {
    for (i <- 0 until n) {
      val traced = a.trace && i % 2 == 1
      val grid = grids(warmups + i)
      tracing(traced)
      val (root, store) = freshStore()
      if (traced) tracedStores += root
      val jvm0 = jvmBusyMs()
      val t0 = Trace.nowUs()
      lifecycle(grid, store, i, traced)
      val t1 = Trace.nowUs()
      val jvm1 = jvmBusyMs()
      tracing(false)
      iterations += Map("iteration" -> i, "start" -> t0, "end" -> t1,
        "traced" -> traced, "jit_ms" -> (jvm1._1 - jvm0._1),
        "gc_ms" -> (jvm1._2 - jvm0._2), "codegen" -> (jvm1._3 - jvm0._3))
      stores += ((store, grid, i))
      heapAfterGc()
    }
    extra("traced_stores") = tracedStores.toSeq
  }

  def check(): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    // one store per iteration, checked side by side
    val found = stores.toSeq.map { case (store, g, i) =>
      val predicted = reqs.filter(r => r.iteration == i &&
        r.request.kind == "prediction")
        .map(r => (r.request.cx, r.request.cy) -> r.rows).toSeq
      Future(Checks.store(spark, store, g.pixelCount, g.chips, predicted,
        Some((Inputs.Tx, Inputs.Ty)), numClass, 7, 1)
        .map { case (k, m) => (s"$k@$i", m) })
    }
    found.foreach(f => failures ++= Await.result(f, Duration.Inf))
  }
}

/** request_stream: an open loop through `JobQueue.start` at a fixed
  * 1 request/s onto a store filled during set-up. Re-segment requests
  * overwrite one half of the chips; predictions read the other half. */
final class RequestStream(a0: Main.Args) extends Workload(a0) {
  private var grid: Grid = _
  private var store: Store = _
  private val numClass = 4
  private def classifier(): Classifier = new GradientBoostedClassifier(
    BoostConfig(numRound = 15, numClass = 4, maxDepth = 3))
  private def halfA = grid.chips.take(grid.chips.size / 2)
  private def halfB = grid.chips.drop(grid.chips.size / 2)
  private var backlogMax = 0
  private val progress = mutable.ArrayBuffer.empty[Map[String, Any]]

  def generate(): Unit = grid = Inputs.smallGrid(a.seed, 0, 8)
  def probePixels: Seq[graft.core.PixelTimeseries] =
    grid.chips.flatMap(grid.pixels(_))

  def warm(): Unit = {
    val (root, s) = freshStore()
    store = s
    extra("traced_stores") = Seq(root)
    val jq = queue(store, grid, classifier(), traced = false)
    val watch = new ResultWatch(jq)
    try {
      dispatch(jq, watch, "segment", grid.chips.map { case (cx, cy) =>
        JobRequest("segment", cx, cy, 0, 0, "", 0, 0) }, -1, false)
      dispatch(jq, watch, "tile", Seq(JobRequest("tile", 0, 0, Inputs.Tx,
        Inputs.Ty, "1987-07-01", 0, 0)), -1, false)
      dispatch(jq, watch, "prediction", halfB.map { case (cx, cy) =>
        JobRequest("prediction", cx, cy, Inputs.Tx, Inputs.Ty, "", 7, 1) },
        -1, false)
    } finally { watch.stop(); jq.close() }
  }

  private def segReq(k: Int) = {
    val (cx, cy) = halfA(k % halfA.size)
    JobRequest("segment", cx, cy, 0, 0, "", 0, 0)
  }
  private def predReq(k: Int) = {
    val (cx, cy) = halfB(k % halfB.size)
    JobRequest("prediction", cx, cy, Inputs.Tx, Inputs.Ty, "", 7, 1)
  }

  /** One stream over [now, untilUs): a pair of requests (one re-segment,
    * one prediction) every two seconds, half a second after a whole
    * second — the trigger fires on whole seconds, so each pair waits
    * the same half second for its batch. A pair's batch takes 1.3-2.3 s
    * on a 4-core box, so one pair a second would build a backlog. */
  private def stream(untilUs: Long, traced: Boolean, part: Int): Unit = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    implicit val enc: org.apache.spark.sql.Encoder[JobRequest] =
      Encoders.product[JobRequest]
    tracing(traced)
    val jq = queue(store, grid, classifier(), traced)
    val watch = new ResultWatch(jq)
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[JobRequest]
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      def onQueryStarted(e: QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0) progress.synchronized {
          progress += Map("part" -> part, "batch" -> p.batchId,
            "rows" -> p.numInputRows, "traced" -> traced,
            "trigger_start_ms" -> java.time.Instant.parse(p.timestamp)
              .toEpochMilli,
            "add_batch_ms" -> Option(p.durationMs.get("addBatch"))
              .map(_.longValue).getOrElse(0L))
        }
      }
    }
    spark.streams.addListener(listener)
    val q = jq.start(in.toDS(), s"${a.work}/checkpoint-$part")
    try {
      // lead-in pair, untimed: the first micro-batch pays query start-up
      val lead = Seq(segReq(0), predReq(0)).map(new Req(_, -1, traced))
      lead.foreach(watch.expect)
      in.addData(lead.map(_.request))
      val leadDeadline = System.nanoTime() + 60000000000L
      while (lead.exists(_.seen < 0) && System.nanoTime() < leadDeadline)
        Thread.sleep(5)
      var k = 1
      var slot = (Trace.nowUs() / 1000000L + 1) * 1000000L + 500000L
      var sent = 0
      while (slot < untilUs) {
        val now = Trace.nowUs()
        if (slot > now) Thread.sleep((slot - now) / 1000L, 0)
        val pair = Seq(segReq(k), predReq(k)).map(new Req(_, part, traced))
        val t = Trace.nowUs()
        pair.foreach { r => r.due = slot; r.sent = t; watch.expect(r) }
        reqs ++= pair
        in.addData(pair.map(_.request))
        sent += pair.size
        backlogMax = math.max(backlogMax,
          sent - (watch.answeredCount - lead.size))
        k += 1
        slot += 2000000L
      }
      // drain: every request gets its result or the stream is stuck
      val drainDeadline = System.nanoTime() + 60000000000L
      while (reqs.exists(r => r.iteration == part && r.seen < 0) &&
          System.nanoTime() < drainDeadline) Thread.sleep(5)
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
      watch.stop()
      jq.close()
      tracing(false)
    }
  }

  def timed(deadlineUs: Long): Unit = {
    val t0 = Trace.nowUs()
    if (!a.trace) stream(deadlineUs, traced = false, part = 0)
    else {
      // traced runs measure an untraced half, then a traced half
      stream(t0 + (deadlineUs - t0) / 2, traced = false, part = 0)
      stream(deadlineUs, traced = true, part = 1)
    }
    iterations += Map("iteration" -> 0, "start" -> t0,
      "end" -> Trace.nowUs(), "traced" -> a.trace)
    heapAfterGc()
    extra ++= Seq("backlog_max" -> backlogMax, "progress" -> progress.toSeq)
  }

  def check(): Unit = {
    // exactly one result per request
    reqs.filter(_.seen < 0).foreach(r => failures +=
      s"${r.request.kind}:${r.request.cx}:${r.request.cy}" -> "no result")
    val predicted = halfB.map { c =>
      c -> reqs.filter(r => r.request.kind == "prediction" &&
        (r.request.cx, r.request.cy) == c && r.seen >= 0).lastOption
        .map(_.rows).getOrElse(-1L)
    }.filter(_._2 >= 0)
    failures ++= Checks.store(spark, store, grid.pixelCount, grid.chips,
      predicted, Some((Inputs.Tx, Inputs.Ty)), numClass, 7, 1)
  }
}
