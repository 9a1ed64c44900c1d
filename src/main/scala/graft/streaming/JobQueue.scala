package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.core.PixelTimeseries
import graft.ml.Classifier
import graft.ops._
import graft.store.Store

/** One pipeline request — the streaming replacement for the reference's
  * three HTTP POST bodies (ref: blackmagic/blueprints/segment.py:146-163,
  * tile.py:149-170, prediction.py:245-281). `kind` selects the pipeline;
  * unused fields are ignored per kind.
  */
final case class JobRequest(
    kind: String, // segment | tile | prediction
    cx: Long, cy: Long, tx: Long, ty: Long,
    date: String, month: Int, day: Int)

/** The result record appended to the job log for each processed
  * request. `status` carries the reference's HTTP contract: 200 ok,
  * 400 invalid request (failed validation, nothing ran), 500 pipeline
  * failure (nothing persisted, unless `error` also names a compensating
  * delete that failed: that entity's key may hold a partial sink). */
final case class JobResult(kind: String, cx: Long, cy: Long,
    tx: Long, ty: Long, ok: Boolean, rows: Long, error: String,
    status: Int)

/** Job-queue stream driver (SURVEY §2.11 / §7.1 module 7): requests
  * arrive on any streaming source; `foreachBatch` dispatches the
  * corresponding batch pipeline. Exactly-once story: checkpointing
  * makes batch replay possible, and every sink is an idempotent keyed
  * overwrite (S12 semantics), so replays converge.
  *
  * Error contract, matching the reference stage tests
  * (ref: test/test_A_segment.py:55-87,159-194):
  *  - requests missing required fields are rejected with a
  *    400-equivalent JobResult BEFORE any pipeline runs — the store is
  *    never touched;
  *  - a pipeline failure yields a 500-equivalent JobResult; if the
  *    request had reached its save stage, its key partitions end up
  *    EMPTY (the observable state the reference's delete-before-write
  *    produces on a failed save) via compensating keyed deletes (a
  *    delete that itself fails is named in the result's `error`), and
  *    if it failed while still reading, previously-persisted data at
  *    those keys is left byte-for-byte untouched.
  */
final class JobQueue(
    spark: SparkSession,
    store: Store,
    ardSource: (Long, Long) => Dataset[PixelTimeseries],
    auxSource: () => DataFrame,
    classifier: Classifier,
    detector: ChangeDetector = HarmonicCcd(),
    parallelism: Int = 4) extends Serializable {

  private var log = List.empty[JobResult]
  def results: List[JobResult] = synchronized(log)
  private def append(r: JobResult): Unit = synchronized { log = r :: log }

  // ---- loose-Row field access. ONE definition of "present and
  // non-null" (and of wrong-typed fallbacks), shared by validation,
  // the 400-response echo, and the memo-reset scan — three call sites
  // that previously each re-implemented it and could drift.
  private def hasField(r: Row, f: String): Boolean =
    r.schema.fieldNames.contains(f) && !r.isNullAt(r.fieldIndex(f))
  /** String value; "" when absent, null, or wrong-typed. */
  private def strField(r: Row, f: String): String =
    if (hasField(r, f)) r.get(r.fieldIndex(f)) match {
      case s: String => s
      case _ => ""
    } else ""
  /** Numeric value as Long; 0 when absent, null, or wrong-typed. */
  private def longField(r: Row, f: String): Long =
    if (hasField(r, f)) r.get(r.fieldIndex(f)) match {
      case n: Number => n.longValue()
      case _ => 0L
    } else 0L

  /** Per-field request validation (the reference's parameters() check,
    * ref: blackmagic/blueprints/segment.py:146-163): names every
    * missing/invalid field so the caller can fix the request. Rows come
    * from the loose schema a JSON request source delivers, where any
    * field may be null. */
  private[streaming] def parameters(r: Row): Either[String, JobRequest] = {
    def has(f: String) = hasField(r, f)
    def str(f: String) = strField(r, f)
    if (!has("kind")) return Left("kind is a required parameter")
    if (!r.get(r.fieldIndex("kind")).isInstanceOf[String])
      return Left("kind has an invalid type")
    val kind = str("kind")
    val required: Seq[String] = kind match {
      case "segment" => Seq("cx", "cy")
      case "tile" => Seq("tx", "ty", "date")
      case "prediction" => Seq("tx", "ty", "cx", "cy", "month", "day")
      case other => return Left(s"unknown kind: $other")
    }
    val missing = required.filterNot(has)
    if (missing.nonEmpty)
      return Left(s"${missing.mkString(", ")} " +
        s"${if (missing.size == 1) "is a required parameter"
        else "are required parameters"}")
    // type checks: a JSON client sending "12" where 12 is expected (or
    // a non-string date) must get a 400 naming the field, not a
    // ClassCastException that kills the micro-batch. EVERY present
    // known field is checked, not just the required set — the request
    // construction below reads all of them
    val numeric = Seq("cx", "cy", "tx", "ty", "month", "day")
    val badTypes = (numeric ++ Seq("date")).filter(has).filter { f =>
      val v = r.get(r.fieldIndex(f))
      if (numeric.contains(f)) !v.isInstanceOf[Number]
      else !v.isInstanceOf[String]
    }
    if (badTypes.nonEmpty)
      return Left(s"${badTypes.mkString(", ")} " +
        s"${if (badTypes.size == 1) "has an invalid type"
        else "have invalid types"}")
    // value-range checks run in handle(), which answers 400 for them
    Right(JobRequest(kind, longField(r, "cx"), longField(r, "cy"),
      longField(r, "tx"), longField(r, "ty"), str("date"),
      longField(r, "month").toInt, longField(r, "day").toInt))
  }

  /** Value-range validation shared by both entry points. */
  private[streaming] def domainCheck(r: JobRequest): Option[String] =
    r.kind match {
      case "tile" =>
        if (scala.util.Try(java.time.LocalDate.parse(r.date)).isFailure)
          Some(s"date must be ISO yyyy-MM-dd, got '${r.date}'")
        else None
      case "prediction" =>
        if (r.month < 1 || r.month > 12) Some(s"month out of range: ${r.month}")
        else if (r.day < 1 || r.day > 31) Some(s"day out of range: ${r.day}")
        else None
      case _ => None
    }

  /** Entities (and their key values) a request writes — the rollback
    * set for the nothing-persisted guarantee. */
  private def touched(r: JobRequest): Seq[(String, Seq[(String, Any)])] =
    r.kind match {
      case "segment" => Seq("segment", "pixel", "chip")
        .map(_ -> Seq("cx" -> r.cx, "cy" -> r.cy))
      case "tile" => Seq("tile" -> Seq("tx" -> r.tx, "ty" -> r.ty))
      case "prediction" =>
        Seq("prediction" -> Seq("cx" -> r.cx, "cy" -> r.cy))
      case _ => Seq.empty
    }

  /** Store wrapper that records whether this request's pipeline ever
    * REACHED its write stage. Compensation must be scoped to that: the
    * reference's delete-before-write clears a key only on the save
    * path, so a request that fails while still reading (a missing
    * model, an empty scan) must leave previously-persisted good data
    * at its keys untouched — deleting on ANY exception would let a
    * malformed retry destroy an earlier successful run's output. */
  private final class RecordingStore(inner: Store) extends Store {
    @volatile var wrote = false
    override def write(entity: String, df: org.apache.spark.sql.DataFrame,
        keys: Seq[String]): Unit = {
      wrote = true // set BEFORE delegating: a failed write still counts
      inner.write(entity, df, keys)
    }
    override def writeKeyed(entity: String,
        df: org.apache.spark.sql.DataFrame, keys: Seq[String],
        keyValues: Seq[(String, Any)]): Unit = {
      wrote = true // same save-stage marker as write()
      inner.writeKeyed(entity, df, keys, keyValues)
    }
    override def read(entity: String, spark: SparkSession) =
      inner.read(entity, spark)
    override def readKeyed(entity: String, keyValues: Seq[(String, Any)],
        spark: SparkSession) =
      inner.readKeyed(entity, keyValues, spark)
    override def delete(entity: String, keyValues: Seq[(String, Any)]): Unit =
      inner.delete(entity, keyValues)
  }

  /** Per-dispatch-batch tile-model memo: a tile of prediction requests
    * (the reference's real unit is 2,500 chips) references ONE model —
    * fetch its bytes once per batch instead of one driver `head()` job
    * per chip. Cleared at every batch boundary so a retrained model is
    * picked up by the next batch (ordering between batches is the
    * queue's contract; within a batch requests are independent).
    *
    * A MIXED batch (any tile retrain alongside predictions) disables
    * the memo for that whole batch: under the worker pool there is no
    * in-batch ordering, so memoizing could pin pre-retrain bytes for
    * a prediction dispatched after the retrain — with the memo off,
    * every prediction reads the store directly, exactly the pre-memo
    * behavior. Pure-prediction batches (the hot path) keep the memo. */
  @transient private lazy val modelMemo =
    new java.util.concurrent.ConcurrentHashMap[(Long, Long), Array[Byte]]()
  @volatile private var memoOff = false

  /** Per-dispatch-batch aux memo: the aux raster is static for the
    * duration of one batch (the model memo's consistency contract),
    * and a tile of prediction requests must NOT materialize the full
    * grid's aux frame once per chip — the 400-chip scaling pin caught
    * exactly that: per-chip prediction cost tripled from 100 to 400
    * chips because every request re-built and re-broadcast the whole
    * grid's aux. One evaluation per batch, CACHED so per-request
    * chip filters scan in-memory columnar batches with min/max stat
    * pruning; each prediction then joins only ITS chip's aux slice
    * (chip-sized broadcast). Released at the next batch boundary. */
  @transient @volatile private var auxMemo: DataFrame = _
  private def batchAux(): DataFrame = {
    var a = auxMemo
    if (a == null) synchronized {
      a = auxMemo
      if (a == null) { a = auxSource().cache(); auxMemo = a }
    }
    a
  }

  private def resetMemo(batchHasTile: Boolean): Unit = {
    modelMemo.clear()
    memoOff = batchHasTile
    val oldAux = auxMemo
    auxMemo = null
    if (oldAux != null)
      try oldAux.unpersist(blocking = false)
      catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Release batch-scoped state (the cached aux frame, the model
    * memo). The LAST batch's aux cache otherwise stays pinned until
    * the next dispatch — which in a long-lived serving session may
    * never come. Call when the queue goes idle or shuts down;
    * dispatching again after close() is fine (the next batch simply
    * re-memoizes). */
  def close(): Unit = resetMemo(false)

  /** Run one validated request through its pipeline. */
  private def handle(r: JobRequest): JobResult =
    domainCheck(r) match {
      case Some(err) =>
        JobResult(r.kind, r.cx, r.cy, r.tx, r.ty, ok = false, 0, err, 400)
      case None =>
        val rs = new RecordingStore(store)
        try {
          r.kind match {
            case "segment" =>
              // the request IS the chip: the three sinks take the
              // single-partition keyed commit (Store.writeKeyed)
              val out = SegmentPipeline.run(spark, ardSource(r.cx, r.cy),
                rs, detector,
                keyHint = Some(Seq("cx" -> r.cx, "cy" -> r.cy)))
              JobResult(r.kind, r.cx, r.cy, r.tx, r.ty, ok = true,
                out.segments, "", 200)
            case "tile" =>
              val out = TrainingPipeline.run(spark,
                store.read("segment", spark), batchAux(), rs,
                classifier, r.tx, r.ty,
                TrainingPipeline.Params(date = r.date,
                  targetSamples = 1000000, classMin = 1, classMax = 1000000),
                keyHint = Some(Seq("tx" -> r.tx, "ty" -> r.ty)))
              JobResult(r.kind, r.cx, r.cy, r.tx, r.ty, ok = true,
                out.trainRows, "", 200)
            case "prediction" =>
              import org.apache.spark.sql.functions.col
              import spark.implicits._
              // keyed point reads: the model is one GET per BATCH (memo
              // above), the chip's segments one partition listing per
              // request — per-request cost is O(1) in the store size,
              // where the old full-store read + filter made a tile of
              // requests O(chips²) in listing work (measured: the r7
              // 100-chip prediction stage ran 0.71 s/chip vs 0.19 at
              // 25 chips from exactly this)
              def fetchModel(): Array[Byte] =
                store.readKeyed("tile",
                    Seq("tx" -> r.tx, "ty" -> r.ty), spark)
                  .select(col("model")).as[Array[Byte]].head()
              val modelBytes =
                if (memoOff) fetchModel() // mixed batch: no memo
                else modelMemo.computeIfAbsent((r.tx, r.ty),
                  _ => fetchModel())
              val n = PredictionPipeline.run(spark,
                store.readKeyed("segment",
                  Seq("cx" -> r.cx, "cy" -> r.cy), spark),
                batchAux()
                  .filter(col("cx") === r.cx && col("cy") === r.cy),
                rs, classifier, modelBytes, r.month, r.day,
                keyHint = Some(Seq("cx" -> r.cx, "cy" -> r.cy)))
              JobResult(r.kind, r.cx, r.cy, r.tx, r.ty, ok = true, n, "", 200)
            case other =>
              JobResult(other, r.cx, r.cy, r.tx, r.ty, ok = false, 0,
                s"unknown kind: $other", 400)
          }
        } catch {
          case e: Exception =>
            // nothing-persisted: once the save stage started, a failed
            // request's key partitions end up empty, exactly as after
            // the reference's delete-first + failed save
            // (ref: test/test_A_segment.py:159-194). A failure BEFORE
            // any write leaves the store byte-for-byte untouched.
            // A delete that itself fails may leave a partial sink at
            // its key, so the error names it instead of implying an
            // empty key.
            val failedDeletes =
              if (!rs.wrote) Nil
              else touched(r).flatMap { case (entity, keys) =>
                try { store.delete(entity, keys); None }
                catch { case d: Exception =>
                  Some(s"compensating delete of $entity failed: " +
                    d.getMessage)
                }
              }
            JobResult(r.kind, r.cx, r.cy, r.tx, r.ty, ok = false, 0,
              (String.valueOf(e.getMessage) +: failedDeletes).mkString("; "),
              500)
        }
    }

  /** Run one action per item on up to `parallelism` driver threads —
    * the Spark mapping of the reference's per-request worker Pool
    * (ref: blackmagic/__init__.py:29-30, segment.py:189-195), shared
    * by both dispatch forms: each request's jobs are small relative
    * to cluster capacity, so sequential dispatch would starve the
    * executors between the many tiny per-chip stages. */
  private def parallelEach[T](items: Array[T])(f: T => Unit): Unit =
    if (items.length <= 1 || parallelism <= 1) items.foreach(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(parallelism, items.length))
      try pool.invokeAll(java.util.Arrays.asList(items.map(it =>
        new java.util.concurrent.Callable[Unit] {
          def call(): Unit = f(it)
        }): _*)).forEach(_.get())
      finally pool.shutdown()
    }

  /** Process one micro-batch of typed requests on the worker pool.
    * Request batches are tiny control messages (the reference's HTTP
    * bodies) — collecting them to the driver is the sanctioned
    * pattern; the DATA work each one triggers stays fully
    * distributed. Requests within a batch are independent by the
    * queue's contract (ordering exists BETWEEN batches, via the
    * stream trigger); each writes its own key partitions, so
    * concurrent keyed overwrites never collide. */
  def dispatch(batch: Dataset[JobRequest]): Unit = {
    val reqs = batch.collect()
    resetMemo(reqs.exists(_.kind == "tile"))
    parallelEach(reqs)(r => append(handle(r)))
  }

  /** Process one micro-batch of RAW rows (any nullable schema, e.g.
    * parsed JSON requests) on the worker pool: per-field validation
    * runs first, and a request that fails it is answered 400 without
    * any pipeline (or store) involvement. */
  def dispatchRaw(batch: DataFrame): Unit = {
    val rows = batch.collect()
    resetMemo(rows.exists(strField(_, "kind") == "tile"))
    parallelEach(rows) { row =>
      val res = parameters(row) match {
        case Left(err) =>
          // echo what the request DID carry (wrong-typed kind still
          // answers 400 with kind = "", numerics echo 0)
          JobResult(strField(row, "kind"), longField(row, "cx"),
            longField(row, "cy"), longField(row, "tx"),
            longField(row, "ty"), ok = false, 0, err, 400)
        case Right(req) => handle(req)
      }
      append(res)
    }
  }

  /** Start the streaming dispatcher over a request stream. */
  def start(requests: Dataset[JobRequest], checkpoint: String)
      : StreamingQuery =
    requests.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime("1 second"))
      .foreachBatch { (batch: Dataset[JobRequest], _: Long) =>
        dispatch(batch)
      }
      .start()
}
