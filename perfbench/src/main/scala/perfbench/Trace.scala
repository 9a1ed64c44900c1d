package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import org.apache.spark.TaskContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import graft.core.{PixelDetection, PixelTimeseries}
import graft.ml.Classifier
import graft.ops.ChangeDetector
import graft.store.Store

/** One traced interval. Times are epoch microseconds so that driver
  * spans (nanoTime), listener events (epoch ms) and task spans share one
  * axis. `req` is the request the work belongs to ("" when unknown). */
final case class Span(id: Long, name: String, start: Long, end: Long,
    parent: Long, req: String, attrs: Map[String, Double])

/** In-memory span buffer and counters; written out once, at the end.
  * Local mode runs executors in this JVM, so task-side decorators record
  * into the same buffer. */
object Trace {
  val ReqProp = "perfbench.request"

  @volatile var on = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val reqIds = new ConcurrentHashMap[String, java.lang.Long]()
  private val counters = new ConcurrentHashMap[String, LongAdder]()
  private val offsetUs =
    System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L

  def nowUs(): Long = System.nanoTime() / 1000L + offsetUs
  def usOfNanos(ns: Long): Long = ns / 1000L + offsetUs

  /** The span id standing for a whole request, so that its children can
    * name it as their parent before the request span itself is closed. */
  def requestSpanId(req: String): Long =
    if (req.isEmpty) 0L
    else reqIds.computeIfAbsent(req, _ => ids.incrementAndGet())

  def record(name: String, start: Long, end: Long, req: String,
      attrs: Map[String, Double] = Map.empty, parent: Long = -1L,
      id: Long = -1L): Long = {
    val sid = if (id >= 0) id else ids.incrementAndGet()
    val p = if (parent >= 0) parent else requestSpanId(req)
    spans.add(Span(sid, name, start, end, p, req, attrs))
    sid
  }

  def count(name: String, n: Long = 1L): Unit =
    if (on) counters.computeIfAbsent(name, _ => new LongAdder()).add(n)

  def counter(name: String): Long =
    Option(counters.get(name)).map(_.sum()).getOrElse(0L)

  def drain(): Vector[Span] = {
    val out = Vector.newBuilder[Span]
    var s = spans.poll()
    while (s != null) { out += s; s = spans.poll() }
    out.result()
  }

  /** The request of the current thread or task. */
  def currentRequest(): String = {
    val tc = TaskContext.get()
    val v =
      if (tc != null) tc.getLocalProperty(ReqProp)
      else SparkSession.active.sparkContext.getLocalProperty(ReqProp)
    if (v == null) "" else v
  }

  /** Marks the current (dispatching) thread as working on `req`; the
    * jobs it submits carry the id as a local property, and their tasks
    * read it back through `TaskContext`. A change of request is recorded
    * as a zero-length "claim" span: the start of that request's wall. */
  def claim(req: String): Unit = {
    val sc = SparkSession.active.sparkContext
    if (req != sc.getLocalProperty(ReqProp)) {
      sc.setLocalProperty(ReqProp, req)
      val t = nowUs()
      record("claim", t, t, req)
    }
  }

  def timed[T](name: String, req: String,
      attrs: T => Map[String, Double] = (_: T) => Map.empty[String, Double])(
      f: => T): T = {
    val t0 = nowUs()
    val r = f
    record(name, t0, nowUs(), req, attrs(r))
    r
  }
}

/** Per-task kernel tally: one span per task and kernel, carrying the
  * busy time and work counts, instead of one span per pixel or row. */
private object KernelTally {
  final class Tally(val req: String) {
    var first = Long.MaxValue; var last = 0L; var busyNs = 0L
    val n = new scala.collection.mutable.HashMap[String, Double]()
    def add(t0: Long, t1: Long, counts: (String, Double)*): Unit = {
      if (t0 < first) first = t0
      if (t1 > last) last = t1
      busyNs += t1 - t0
      counts.foreach { case (k, v) => n(k) = n.getOrElse(k, 0.0) + v }
    }
  }
  private val live = new ConcurrentHashMap[(Long, String), Tally]()

  def apply(kernel: String): Tally = {
    val tc = TaskContext.get()
    if (tc == null) new Tally("") // called outside a task: not recorded
    else live.computeIfAbsent((tc.taskAttemptId(), kernel), key => {
      val t = new Tally(Trace.currentRequest())
      tc.addTaskCompletionListener[Unit] { _ =>
        live.remove(key)
        if (t.last > 0L)
          Trace.record(kernel, Trace.usOfNanos(t.first),
            Trace.usOfNanos(t.last), t.req,
            t.n.toMap + ("busy_ms" -> t.busyNs / 1e6))
      }
      t
    })
  }
}

final class TracedDetector(inner: ChangeDetector) extends ChangeDetector {
  override def detect(ts: PixelTimeseries): PixelDetection = {
    val t0 = System.nanoTime()
    val d = inner.detect(ts)
    KernelTally("ops.detect").add(t0, System.nanoTime(),
      "pixels" -> 1.0, "clear_obs" -> d.mask.sum.toDouble,
      "segments" -> d.segments.size.toDouble)
    d
  }
}

final class TracedClassifier(inner: Classifier) extends Classifier {
  override def train(rows: Array[(Int, Array[Float])]): Array[Byte] =
    Trace.timed("ml.train", Trace.currentRequest(), (m: Array[Byte]) =>
      Map("rows" -> rows.length.toDouble, "model_bytes" -> m.length.toDouble,
        "trees" -> (inner match {
          case g: graft.ml.GradientBoostedClassifier => g.treeCount(m)
          case _ => 0
        }).toDouble)) {
      inner.train(rows)
    }

  override def scoreBatch(model: Array[Byte],
      rows: Iterator[Array[Float]]): Iterator[Array[Float]] = {
    val tally = KernelTally("ml.score")
    val t0 = System.nanoTime()
    val it = inner.scoreBatch(model, rows)
    tally.add(t0, System.nanoTime(), "calls" -> 1.0)
    new Iterator[Array[Float]] {
      def hasNext: Boolean = it.hasNext
      def next(): Array[Float] = {
        val s = System.nanoTime()
        val r = it.next()
        tally.add(s, System.nanoTime(), "rows" -> 1.0)
        r
      }
    }
  }
}

/** Store decorator: one span per call, and the request claim that ties
  * the calling pool thread's jobs to a request. */
final class TracedStore(inner: Store) extends Store {
  private def req(entity: String, kv: Seq[(String, Any)]): String = {
    def key = kv.map(_._2).mkString(":")
    entity match {
      // a keyed segment read opens a prediction request
      case "segment" if kv.nonEmpty => s"prediction:$key"
      case _ => Trace.currentRequest()
    }
  }
  private def call[T](op: String, entity: String, req: String)(f: => T): T =
    Trace.timed(s"store.$op", req,
      (_: T) => Map("entity_" + entity -> 1.0))(f)

  override def write(entity: String, df: DataFrame, keys: Seq[String]): Unit =
    call("write", entity, Trace.currentRequest())(inner.write(entity, df, keys))

  override def writeKeyed(entity: String, df: DataFrame, keys: Seq[String],
      keyValues: Seq[(String, Any)]): Unit =
    call("write_keyed", entity, Trace.currentRequest())(
      inner.writeKeyed(entity, df, keys, keyValues))

  override def read(entity: String, spark: SparkSession): DataFrame = {
    // the tile request is the only one that reads a whole entity
    if (entity == "segment") Trace.claim("tile")
    call("read", entity, Trace.currentRequest())(inner.read(entity, spark))
  }

  override def readKeyed(entity: String, keyValues: Seq[(String, Any)],
      spark: SparkSession): DataFrame = {
    val r = entity match {
      case "tile" => "model-fetch"
      case _ => req(entity, keyValues)
    }
    Trace.claim(r)
    call("read_keyed", entity, r)(inner.readKeyed(entity, keyValues, spark))
  }

  override def delete(entity: String, keyValues: Seq[(String, Any)]): Unit =
    call("delete", entity, Trace.currentRequest())(
      inner.delete(entity, keyValues))
}

object TracedSources {
  def ard(inner: (Long, Long) => Dataset[PixelTimeseries])
      : (Long, Long) => Dataset[PixelTimeseries] = (cx, cy) => {
    val r = s"segment:$cx:$cy"
    Trace.claim(r)
    Trace.timed[Dataset[PixelTimeseries]]("source.ard", r)(inner(cx, cy))
  }

  def aux(inner: () => DataFrame): () => DataFrame = () => {
    Trace.count("streaming.aux_builds")
    Trace.timed[DataFrame]("source.aux", Trace.currentRequest())(inner())
  }
}

/** Job, stage and task accounting from the listener bus. */
final class TraceListener extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, (Long, String)]()
  @volatile private var lastEventNs = System.nanoTime()

  /** No job open and no event for 50 ms: the bus has caught up. */
  def quiet: Boolean =
    jobs.isEmpty && System.nanoTime() - lastEventNs > 50000000L

  override def onOtherEvent(e: SparkListenerEvent): Unit =
    lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val req = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Trace.ReqProp))).getOrElse("")
    lastEventNs = System.nanoTime()
    jobs.put(e.jobId, (e.time, req))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    lastEventNs = System.nanoTime()
    Option(jobs.remove(e.jobId)).foreach { case (t0, req) =>
      Trace.record("spark.job", t0 * 1000L, e.time * 1000L, req,
        Map("job" -> e.jobId.toDouble))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Trace.count("spark.stages")

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    lastEventNs = System.nanoTime()
    Trace.count("spark.tasks")
    val m = e.taskMetrics
    if (m != null) {
      Trace.count("spark.executor_run_ms", m.executorRunTime)
      Trace.count("spark.executor_cpu_us", m.executorCpuTime / 1000L)
      Trace.count("spark.gc_ms", m.jvmGCTime)
      Trace.count("spark.shuffle_read_bytes",
        m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead)
      Trace.count("spark.shuffle_write_bytes",
        m.shuffleWriteMetrics.bytesWritten)
      Trace.count("spark.spill_bytes",
        m.memoryBytesSpilled + m.diskBytesSpilled)
      Trace.count("store.bytes_written", m.outputMetrics.bytesWritten)
    }
  }
}

/** Planning time of every query, from `QueryExecution`'s phase tracker. */
final class PlanningListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    Trace.count("spark.queries")
    Trace.count("spark.planning_us",
      phases.values.map(p => p.durationMs).sum * 1000L)
  }
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}
