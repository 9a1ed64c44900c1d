package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming._

/** Structured Streaming behavior: the job-queue dispatcher (SURVEY
  * §2.11) and the persisted-index ingest streams and monitors.
  * MemoryStream drives deterministic micro-batches.
  */
class StreamingSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  // ---- request-validation / nothing-persisted error contract
  // (ref: test/test_A_segment.py:55-87 bad parameters -> 400 + empty
  // store; :159-194 stage exception -> 500 + empty store)

  private def jobQueue(store: graft.store.Store,
      detector: graft.ops.ChangeDetector = graft.ops.HarmonicCcd()) = {
    val fixtures = new PipelineFixtures(spark)
    (fixtures, new JobQueue(spark, store,
      ardSource = (_, _) => spark.createDataset(fixtures.chip()),
      auxSource = () => spark.createDataset(fixtures.aux()).toDF(),
      classifier = new graft.ml.SoftmaxClassifier(numClasses = 4),
      detector = detector))
  }

  private def countFor(store: graft.store.Store, entity: String): Long =
    try store.read(entity, spark).count()
    catch { case _: Exception => 0L } // entity never written

  test("requests missing required fields get 400 and never run") {
    val root = Files.createTempDirectory("graft-jobq-400").toString
    val store = new graft.store.ParquetStore(root)
    val (_, jq) = jobQueue(store)
    // the loose rows a JSON request source delivers: any field nullable
    val raw = Seq[(String, Option[Long], Option[Long], Option[Long],
        Option[Long], Option[String], Option[Int], Option[Int])](
      ("segment", None, Some(20L), None, None, None, None, None),
      ("tile", None, None, Some(7L), Some(9L), None, None, None),
      ("prediction", Some(1L), Some(2L), Some(7L), Some(9L), None, None,
        Some(1)))
      .toDF("kind", "cx", "cy", "tx", "ty", "date", "month", "day")
    jq.dispatchRaw(raw)
    // raw dispatch runs on the worker pool, so the log is completion-
    // ordered: match results by kind, not position
    val res = jq.results
    assert(res.length == 3 && res.forall(r => r.status == 400 && !r.ok))
    assert(res.exists(r => r.kind == "segment" && r.error.contains("cx")))
    assert(res.exists(r => r.kind == "tile" && r.error.contains("date")))
    assert(res.exists(r =>
      r.kind == "prediction" && r.error.contains("month")))
    // 400s happen BEFORE any pipeline: no entity was ever created
    Seq("segment", "pixel", "chip", "tile", "prediction").foreach { e =>
      assert(!Files.exists(java.nio.file.Paths.get(root, e)),
        s"$e written by a rejected request")
    }
  }

  test("out-of-range values get 400 through the typed path too") {
    val root = Files.createTempDirectory("graft-jobq-rng").toString
    val store = new graft.store.ParquetStore(root)
    val (f, jq) = jobQueue(store)
    jq.dispatch(spark.createDataset(Seq(
      JobRequest("prediction", f.Cx, f.Cy, 7, 9, "", 13, 1), // month 13
      JobRequest("tile", 0, 0, 7, 9, "not-a-date", 0, 0))))
    assert(jq.results.forall(r => r.status == 400 && !r.ok))
    assert(!Files.exists(java.nio.file.Paths.get(root, "prediction")))
    assert(!Files.exists(java.nio.file.Paths.get(root, "tile")))
  }

  test("a detection failure answers 500 and persists nothing") {
    val root = Files.createTempDirectory("graft-jobq-det").toString
    val store = new graft.store.ParquetStore(root)
    val boom = new graft.ops.ChangeDetector {
      def detect(ts: graft.core.PixelTimeseries) =
        throw new RuntimeException("test_detection_exception")
    }
    val (f, jq) = jobQueue(store, boom)
    jq.dispatch(spark.createDataset(Seq(
      JobRequest("segment", f.Cx, f.Cy, 0, 0, "", 0, 0))))
    val r = jq.results.head
    assert(!r.ok && r.status == 500 && r.error.nonEmpty)
    Seq("segment", "pixel", "chip").foreach { e =>
      assert(countFor(store, e) == 0, s"$e persisted after failure")
    }
  }

  test("ARD with a band shorter than its dates answers 500 naming the " +
      "field and persists nothing") {
    val root = Files.createTempDirectory("graft-jobq-len").toString
    val store = new graft.store.ParquetStore(root)
    val fixtures = new PipelineFixtures(spark)
    val ard = fixtures.chip().zipWithIndex.map { case (p, i) =>
      if (i == 3) p.copy(nirs = p.nirs.init) else p }
    val jq = new JobQueue(spark, store,
      ardSource = (_, _) => spark.createDataset(ard),
      auxSource = () => spark.createDataset(fixtures.aux()).toDF(),
      classifier = new graft.ml.SoftmaxClassifier(numClasses = 4))
    jq.dispatch(spark.createDataset(Seq(
      JobRequest("segment", fixtures.Cx, fixtures.Cy, 0, 0, "", 0, 0))))
    val r = jq.results.head
    assert(!r.ok && r.status == 500)
    assert(r.error.contains("IllegalArgumentException") &&
      r.error.contains("nirs has"), r.error)
    Seq("segment", "pixel", "chip").foreach { e =>
      assert(countFor(store, e) == 0, s"$e persisted after failure")
    }
  }

  test("a read-path failure leaves previously persisted data untouched") {
    val root = Files.createTempDirectory("graft-jobq-read").toString
    val store = new graft.store.ParquetStore(root)
    val (f, jq) = jobQueue(store)
    // an earlier successful run persisted predictions at this chip
    store.write("prediction",
      Seq((f.Cx, f.Cy, 0.9)).toDF("cx", "cy", "prob"), Seq("cx", "cy"))
    // this request fails READING the (nonexistent) tile model — before
    // any write — so compensation must NOT fire
    jq.dispatch(spark.createDataset(Seq(
      JobRequest("prediction", f.Cx, f.Cy, 99, 99, "", 7, 1))))
    val r = jq.results.head
    assert(!r.ok && r.status == 500)
    assert(countFor(store, "prediction") == 1,
      "pre-existing predictions destroyed by a read-path failure")
  }

  test("wrong-typed raw fields get 400, not a crashed micro-batch") {
    val root = Files.createTempDirectory("graft-jobq-typ").toString
    val store = new graft.store.ParquetStore(root)
    val (_, jq) = jobQueue(store)
    // cx arrives as a JSON string — a routine client bug
    val raw = Seq(("segment", "12", 20L))
      .toDF("kind", "cx", "cy")
    jq.dispatchRaw(raw)
    val r = jq.results.head
    assert(!r.ok && r.status == 400, r.toString)
    assert(r.error.contains("cx"), r.error)
    // wrong-typed OPTIONAL field: construction reads every field, so a
    // string tx on a segment request must 400 too, not crash
    jq.dispatchRaw(Seq(("segment", 12L, 20L, "99"))
      .toDF("kind", "cx", "cy", "tx"))
    val r2 = jq.results.head
    assert(!r2.ok && r2.status == 400 && r2.error.contains("tx"),
      r2.toString)
    // non-string kind
    jq.dispatchRaw(Seq((7L, 12L, 20L)).toDF("kind", "cx", "cy"))
    val r3 = jq.results.head
    assert(!r3.ok && r3.status == 400 && r3.error.contains("kind"),
      r3.toString)
  }

  /** A store whose chip write fails — the LAST of the three
    * segment-stage writes, so the first two have already landed and
    * must be rolled back — and whose delete of `undeletable` fails. */
  private def chipWriteFailing(root: String,
      undeletable: Set[String] = Set.empty): graft.store.Store = {
    val inner = new graft.store.ParquetStore(root)
    new graft.store.Store {
      override def write(entity: String,
          df: org.apache.spark.sql.DataFrame, keys: Seq[String]): Unit = {
        if (entity == "chip")
          throw new RuntimeException("test_save_exception")
        inner.write(entity, df, keys)
      }
      override def read(entity: String,
          s: org.apache.spark.sql.SparkSession) = inner.read(entity, s)
      override def delete(entity: String,
          keyValues: Seq[(String, Any)]): Unit = {
        if (undeletable(entity))
          throw new RuntimeException("test_delete_exception")
        inner.delete(entity, keyValues)
      }
    }
  }

  test("a save failure is compensated: touched keys end up empty") {
    val store = chipWriteFailing(
      Files.createTempDirectory("graft-jobq-save").toString)
    val (f, jq) = jobQueue(store)
    jq.dispatch(spark.createDataset(Seq(
      JobRequest("segment", f.Cx, f.Cy, 0, 0, "", 0, 0))))
    val r = jq.results.head
    assert(!r.ok && r.status == 500)
    assert(r.error.contains("test_save_exception"))
    Seq("segment", "pixel", "chip").foreach { e =>
      assert(countFor(store, e) == 0,
        s"$e still holds rows after the compensating delete")
    }
  }

  test("a failed compensating delete is named in the 500's error") {
    val store = chipWriteFailing(
      Files.createTempDirectory("graft-jobq-del").toString,
      undeletable = Set("segment"))
    val (f, jq) = jobQueue(store)
    jq.dispatch(spark.createDataset(Seq(
      JobRequest("segment", f.Cx, f.Cy, 0, 0, "", 0, 0))))
    val r = jq.results.head
    assert(!r.ok && r.status == 500)
    assert(r.error == "test_save_exception; compensating delete of " +
      "segment failed: test_delete_exception", r.error)
    // the partial sink the error names is really there; the deletes
    // that succeeded emptied their keys
    assert(countFor(store, "segment") > 0)
    Seq("pixel", "chip").foreach { e =>
      assert(countFor(store, e) == 0,
        s"$e still holds rows after the compensating delete")
    }
  }

  test("job queue dispatches segment requests and logs errors") {
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft-jobq").toString
    val store = new graft.store.ParquetStore(root)
    val fixtures = new PipelineFixtures(spark)
    val jq = new JobQueue(spark, store,
      ardSource = (_, _) => spark.createDataset(fixtures.chip()),
      auxSource = () => spark.createDataset(fixtures.aux()).toDF(),
      classifier = new graft.ml.SoftmaxClassifier(numClasses = 4))

    val in = MemoryStream[JobRequest]
    val q = jq.start(in.toDS(),
      Files.createTempDirectory("graft-ckpt").toString)
    try {
      in.addData(
        JobRequest("segment", fixtures.Cx, fixtures.Cy, 0, 0, "", 0, 0),
        JobRequest("bogus", 0, 0, 0, 0, "", 0, 0))
      q.processAllAvailable()
      val byKind = jq.results.groupBy(_.kind)
      assert(byKind("segment").head.ok)
      assert(byKind("segment").head.rows >= 25)
      assert(!byKind("bogus").head.ok)
      assert(store.read("segment", spark).count() >= 25)

      // the full reference lifecycle through the queue (its test order
      // A segment -> B tile -> D prediction): train on the persisted
      // segments, then score against the persisted model
      in.addData(JobRequest("tile", 0, 0, 7, 9, "1990-07-01", 0, 0))
      q.processAllAvailable()
      val tile = jq.results.find(_.kind == "tile").get
      assert(tile.ok, tile.error)
      assert(store.read("tile", spark)
        .filter($"tx" === 7 && $"ty" === 9).count() == 1)

      in.addData(JobRequest("prediction", fixtures.Cx, fixtures.Cy,
        7, 9, "", 7, 1))
      q.processAllAvailable()
      val pred = jq.results.find(_.kind == "prediction").get
      assert(pred.ok, pred.error)
      assert(pred.rows > 0)
      assert(store.read("prediction", spark).count() == pred.rows)
    } finally q.stop()
  }

  test("ANN ingest stream: micro-batches encode against the persisted " +
    "books and the stored-corpus search matches one-shot x43") {
    import graft.queries.VectorOps
    import graft.store.ParquetStore
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.01"
    val tmp = Files.createTempDirectory("graft-annstream").toString
    val store = new ParquetStore(s"$tmp/ann")
    VectorOps.persistAnnBooks(spark, dir, store)
    // raw rows exactly as a feed would deliver them (float embeddings;
    // AnnIngest casts + normalizes per batch)
    val raw = graft.Tables(spark, dir, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
    val in = MemoryStream[(Long, Seq[Double])]
    val q = AnnIngest.start(in.toDF().toDF("vec_id", "embedding"),
      store, s"$tmp/ckpt")
    try {
      // day 0: even ids; day 1: odd ids — two independent micro-batches
      in.addData(raw.filter(_._1 % 2 == 0).toIndexedSeq)
      q.processAllAvailable()
      in.addData(raw.filter(_._1 % 2 == 1).toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "nid", "adc", "rn").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3))).toSeq
    val got = rows(VectorOps.annIvfPqSearchStored(spark, dir, store))
    assert(got.nonEmpty)
    assert(got == rows(VectorOps.annIvfPqTrained(spark, dir)),
      "streamed-corpus search diverged from one-shot x43")
    // both micro-batches landed as their own partitions (the
    // delete-before-write unit)
    val batches = store.read("ann_corpus", spark)
      .select($"batch".cast("long")).distinct().collect()
      .map(_.getLong(0)).sorted
    assert(batches.sameElements(Array(0L, 1L)), batches.mkString(","))
  }
  test("k-NN graph ingest stream: micro-batches re-edge only touched " +
    "cells and the stored graph matches the one-shot x86 build") {
    import graft.queries.VectorOps
    import graft.store.ParquetStore
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.01"
    val tmp = Files.createTempDirectory("graft-graphstream").toString
    val store = new ParquetStore(s"$tmp/g")
    VectorOps.persistAnnBooks(spark, dir, store)
    val raw = graft.Tables(spark, dir, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
    val in = MemoryStream[(Long, Seq[Double])]
    val q = GraphIngest.start(in.toDF().toDF("vec_id", "embedding"),
      store, s"$tmp/ckpt")
    try {
      in.addData(raw.filter(_._1 % 2 == 0).toIndexedSeq)
      q.processAllAvailable()
      in.addData(raw.filter(_._1 % 2 == 1).toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("src", "dst", "cos", "rn").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3))).toSeq
    val got = rows(VectorOps.knnGraphStored(spark, store))
    assert(got.nonEmpty)
    // the streamed two-batch graph is row-identical to a one-shot
    // build over the SAME persisted quantizer — cells depend only on
    // the book, in-cell edges only on cell members
    val (coarse, _) = VectorOps.loadAnnBooks(spark, store)
    val one = rows(VectorOps.knnEdges(
        VectorOps.assignCells(
          VectorOps.normalizedEmbeddings(spark, dir), coarse)
          .select($"vec_id", $"v", $"cell"))
      .select($"src", $"dst", $"cos", $"rn").orderBy($"src", $"rn"))
    assert(got == one, "streamed graph diverged from one-shot")
    // both micro-batches landed as their own vector partitions
    val batches = store.read("knn_vectors", spark)
      .select($"batch".cast("long")).distinct().collect()
      .map(_.getLong(0)).sorted
    assert(batches.sameElements(Array(0L, 1L)), batches.mkString(","))
  }

  test("walk-corpus ingest stream: micro-batches maintain graph AND " +
    "walks; the streamed corpus matches a one-shot walk over the " +
    "final graph") {
    import graft.queries.VectorOps
    import graft.store.ParquetStore
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.01"
    val tmp = Files.createTempDirectory("graft-walkstream").toString
    val store = new ParquetStore(s"$tmp/w")
    VectorOps.persistAnnBooks(spark, dir, store)
    val raw = graft.Tables(spark, dir, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
    val in = MemoryStream[(Long, Seq[Double])]
    val q = WalkIngest.start(in.toDF().toDF("vec_id", "embedding"),
      store, s"$tmp/ckpt")
    try {
      in.addData(raw.filter(_._1 % 2 == 0).toIndexedSeq)
      q.processAllAvailable()
      in.addData(raw.filter(_._1 % 2 == 1).toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3))).toSeq
    val got = rows(VectorOps.walkCorpusStored(spark, store))
    assert(got.nonEmpty)
    assert(got == rows(VectorOps.walkCorpusOneShot(spark, store)),
      "streamed walk corpus diverged from one-shot over final graph")
  }

  test("version-drift monitor: a retrain between micro-batches lands " +
    "the SAME drift rows as the batch verb, stamped with its versions") {
    import graft.queries.VectorOps
    import graft.store.ParquetStore
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.01"
    val tmp = Files.createTempDirectory("graft-driftstream").toString
    val store = new ParquetStore(s"$tmp/d")
    VectorOps.persistAnnBooks(spark, dir, store)
    val raw = graft.Tables(spark, dir, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
    val in = MemoryStream[(Long, Seq[Double])]
    val q = WalkIngest.startMonitored(
      in.toDF().toDF("vec_id", "embedding"), store, s"$tmp/ckpt")
    try {
      // batch 0: corpus lands, no model trained yet — monitor silent
      in.addData(raw.filter(_._1 % 3 == 0).toIndexedSeq)
      q.processAllAvailable()
      VectorOps.trainStoredEmbeddings(spark, store) // version A
      // batch 1: first stamp (version A), no predecessor → no drift
      in.addData(raw.filter(_._1 % 3 == 1).toIndexedSeq)
      q.processAllAvailable()
      VectorOps.trainStoredEmbeddings(spark, store) // version B
      // batch 2: stamp flips A→B → the drift report lands
      in.addData(raw.filter(_._1 % 3 == 2).toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    // the serving log: batch 0 unstamped (no model), 1=A, 2=B
    val stamps = store.read("embed_serving", spark)
      .select($"batch".cast("long"), $"trained_at".cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stamps.keySet == Set(1L, 2L), s"stamps: $stamps")
    val (verA, verB) = (stamps(1L), stamps(2L))
    assert(verA != verB, s"retrain did not change the version: $stamps")
    // drift landed ONLY at the flip batch, tagged with its versions
    def driftRows(df: org.apache.spark.sql.DataFrame) =
      df.select($"qid", $"n_a", $"n_b", $"overlap", $"jaccard6")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq
    val landed = store.read("embed_version_drift", spark)
    assert(landed.select($"batch".cast("long")).distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(2L), "drift at wrong batch")
    assert(landed.select($"ver_a".cast("long"), $"ver_b".cast("long"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq == Seq((verA, verB)), "drift version tags wrong")
    // ...and the rows are bit-identical to the batch verb between the
    // same two versions — the monitor IS the batch drift, on a clock
    val want = driftRows(
      VectorOps.embedVersionDrift(spark, store, verA, verB))
    assert(driftRows(landed) == want && want.nonEmpty,
      "streamed drift rows diverged from the batch verb")
  }

  test("version-drift monitor survives a vacuumed predecessor: the " +
    "flip stamps the new version, skips the unavailable report, and " +
    "the stream stays ALIVE (no poison batch)") {
    import graft.queries.VectorOps
    import graft.store.ParquetStore
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.01"
    val tmp = Files.createTempDirectory("graft-driftvac").toString
    val store = new ParquetStore(s"$tmp/d")
    VectorOps.persistAnnBooks(spark, dir, store)
    val raw = graft.Tables(spark, dir, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
    val in = MemoryStream[(Long, Seq[Double])]
    val q = WalkIngest.startMonitored(
      in.toDF().toDF("vec_id", "embedding"), store, s"$tmp/ckpt")
    try {
      in.addData(raw.filter(_._1 % 3 == 0).toIndexedSeq)
      q.processAllAvailable()
      VectorOps.trainStoredEmbeddings(spark, store) // version A
      in.addData(raw.filter(_._1 % 3 == 1).toIndexedSeq)
      q.processAllAvailable() // batch 1 stamps A
      VectorOps.trainStoredEmbeddings(spark, store) // version B
      val vers = store.read("node_embeddings", spark)
        .select($"trained_at".cast("long")).distinct().collect()
        .map(_.getLong(0)).sorted
      assert(vers.length == 2, s"expected two versions, got $vers")
      // retention drops version A — the exact version batch 2's flip
      // report would need as its ver_a (vacuum protects only the
      // newest, which is precisely the one a flip replaces)
      assert(VectorOps.vacuumEmbeddingVersions(spark, store,
        keepFrom = vers.last) == 1)
      // batch 2: flip A -> B with A gone. Before the degrade fix this
      // refusal failed the micro-batch and TERMINATED the ingest
      // stream (and every checkpoint replay re-hit it — poison batch);
      // processAllAvailable rethrows a stream failure, so not throwing
      // here IS the liveness assertion.
      in.addData(raw.filter(_._1 % 3 == 2).toIndexedSeq)
      q.processAllAvailable()
      // ...and the stream keeps processing SUBSEQUENT batches (fresh
      // vec_ids so batch 3 is genuinely new corpus)
      in.addData(raw.take(16).map { case (id, v) =>
        (id + 100000L, v)
      }.toIndexedSeq)
      q.processAllAvailable()
      val stamps = store.read("embed_serving", spark)
        .select($"batch".cast("long"), $"trained_at".cast("long"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // batch 1 stamped A; batches 2 and 3 stamp B (the flip batch
      // still stamps — only the report is unavailable)
      assert(stamps.keySet == Set(1L, 2L, 3L), s"stamps: $stamps")
      assert(stamps(1L) == vers.head && stamps(2L) == vers.last &&
        stamps(3L) == vers.last, s"stamps: $stamps vs $vers")
      // no drift report landed: ver_a was vacuumed, and retention
      // guarantees nothing at-or-below it survives for the as-of read
      // to silently substitute
      val driftRows =
        try store.read("embed_version_drift", spark).count()
        catch {
          case _: org.apache.spark.sql.AnalysisException => 0L
        }
      assert(driftRows == 0L,
        s"drift report landed despite vacuumed ver_a ($driftRows rows)")
    } finally q.stop()
  }

  test("ANN-book version monitor: a legal retrain between ticks lands " +
    "the batch annVersionDrift rows; on an ingest store the flip " +
    "cannot happen because the retrain itself refuses") {
    import graft.queries.VectorOps
    import graft.store.ParquetStore
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.01"
    val tmp = Files.createTempDirectory("graft-annmon").toString
    // a BOOK store (train + serve against the dir corpus, the x43
    // shape): retrains are legal here, so versions can flip mid-stream
    val store = new ParquetStore(s"$tmp/books")
    VectorOps.persistAnnBooks(spark, dir, store) // version 0
    val in = MemoryStream[Long]
    val q = DriftMonitor.annMonitor(in.toDF(), dir, store, s"$tmp/ckpt")
    try {
      in.addData(0L); q.processAllAvailable() // tick 0: stamps v0
      // a coarser-geometry retrain lands version 1 (no coded
      // dependents in this store, so the guard allows it)
      VectorOps.persistAnnBooks(spark, dir, store, cells = 8,
        trainedAt = 1L)
      in.addData(1L); q.processAllAvailable() // tick 1: flip → drift
    } finally q.stop()
    val stamps = store.read("ann_serving", spark)
      .select($"batch".cast("long"), $"trained_at".cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stamps == Map(0L -> 0L, 1L -> 1L), s"stamps: $stamps")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"qid", $"n_a", $"n_b", $"overlap", $"jaccard6")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq
    val landed = store.read("ann_version_drift", spark)
    assert(landed.select($"ver_a".cast("long"), $"ver_b".cast("long"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq == Seq((0L, 1L)))
    val want = rows(VectorOps.annVersionDrift(spark, dir, store, 0L, 1L))
    assert(rows(landed) == want && want.nonEmpty,
      "streamed ANN drift rows diverged from the batch verb")
    // ...and the reason this monitor does NOT ride AnnIngest: on a
    // store whose corpus the stream PQ-coded, the retrain that would
    // flip the version refuses outright (the desync guard)
    val ingestStore = new ParquetStore(s"$tmp/ingest")
    VectorOps.persistAnnBooks(spark, dir, ingestStore)
    VectorOps.appendAnnCorpus(spark,
      VectorOps.normalizedEmbeddings(spark, dir).limit(32), 0L,
      ingestStore)
    val e = intercept[IllegalArgumentException] {
      VectorOps.persistAnnBooks(spark, dir, ingestStore, trainedAt = 1L)
    }
    assert(e.getMessage.contains("desync"), e.getMessage)
  }

  test("sparse-index ingest stream: streamed postings reproduce the " +
    "one-shot BM25 rank over the same corpus") {
    import graft.queries.TextOps
    import graft.store.ParquetStore
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.01"
    val tmp = Files.createTempDirectory("graft-sparsestream").toString
    val store = new ParquetStore(s"$tmp/sp")
    val raw = graft.Tables.spread(spark, dir, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val in = MemoryStream[(Long, String)]
    val q = SparseIndexStream.start(in.toDF().toDF("doc_id", "text"),
      store, s"$tmp/ckpt")
    try {
      in.addData(raw.filter(_._1 % 2 == 0).toIndexedSeq)
      q.processAllAvailable()
      in.addData(raw.filter(_._1 % 2 == 1).toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    val qs = TextOps.tokenized(
        graft.Tables.spread(spark, dir, "documents")
          .filter($"doc_id" < 4))
      .select($"doc_id", $"tk").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).distinct.toSeq)
      .toSeq
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "doc_id", "bm25", "rn").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq
    val got = rows(TextOps.bm25SearchStored(spark, store, qs))
    assert(got.nonEmpty &&
      got == rows(TextOps.bm25TopK(spark, dir)),
      "streamed sparse index diverged from one-shot x47")
  }

  test("sparse-index ingest stream: a micro-batch RE-INGESTING a " +
    "changed doc becomes its live version (streamed update semantics)") {
    import graft.queries.TextOps
    import graft.store.ParquetStore
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.01"
    val tmp = Files.createTempDirectory("graft-sparsestream-upd").toString
    val store = new ParquetStore(s"$tmp/sp")
    val docs = graft.Tables.spread(spark, dir, "documents")
      .select($"doc_id", $"text")
    val raw = docs.as[(Long, String)].collect()
    val changed = raw.filter(_._1 % 10 == 0)
      .map { case (id, t) => (id, t + " revised edition text") }
    val in = MemoryStream[(Long, String)]
    val q = SparseIndexStream.start(in.toDF().toDF("doc_id", "text"),
      store, s"$tmp/ckpt")
    try {
      in.addData(raw.toIndexedSeq) // batch 0: everything, original
      q.processAllAvailable()
      in.addData(changed.toIndexedSeq) // batch 1: revised re-ingests
      q.processAllAvailable()
    } finally q.stop()
    val qs = TextOps.tokenized(docs.filter($"doc_id" < 4))
      .select($"doc_id", $"tk").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).distinct.toSeq)
      .toSeq
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "doc_id", "bm25", "rn").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq
    val latest = docs.filter($"doc_id" % 10 =!= 0)
      .unionByName(spark.createDataset(changed.toIndexedSeq)
        .toDF("doc_id", "text"))
    assert(rows(TextOps.bm25SearchStored(spark, store, qs)) ==
      rows(TextOps.bm25SearchOver(spark, latest, qs)),
      "streamed re-ingest did not supersede the original version")
  }

  test("data-drift MONITOR: per-batch PSI/TV verdicts land under the " +
    "batch's own partition at ingest time, row-identical to the " +
    "batch x126 over the same prefix — including across a mid-stream " +
    "distribution shift") {
    import graft.queries.TextOps
    import graft.store.ParquetStore
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.01"
    val tmp = Files.createTempDirectory("graft-datadrift").toString
    val store = new ParquetStore(s"$tmp/d")
    val docs = graft.Tables.spread(spark, dir, "documents")
      .select($"doc_id", $"source", $"text")
      .as[(Long, String, String)].collect()
    // the injected shift: a flood of DEGRADED candidate-half docs
    // (odd ids — qualityBucketCounts' candidate side) on one source,
    // ids disjoint from the corpus
    val shiftSrc = docs.map(_._2).min
    val shift = (0 until 100).map(k =>
      (200001L + 2 * k, shiftSrc, "the the the the the"))
    val in = MemoryStream[(Long, String, String)]
    val q = DriftMonitor.dataDriftMonitor(
      in.toDF().toDF("doc_id", "source", "text"), store, s"$tmp/ckpt")
    def landed(batch: Long) =
      store.read("quality_drift", spark)
        .filter($"batch".cast("long") === batch)
        .select($"source", $"n_ref", $"n_cand", $"tv_ppm", $"psi6")
        .collect().map(r => (r.getString(0), r.getLong(1),
          r.getLong(2), r.getLong(3), r.getLong(4)))
        .sortBy(_._1).toSeq
    def batchOver(d: org.apache.spark.sql.DataFrame) =
      TextOps.psiDriftOver(TextOps.qualityBucketCounts(d))
        .select($"source", $"n_ref", $"n_cand", $"tv_ppm", $"psi6")
        .collect().map(r => (r.getString(0), r.getLong(1),
          r.getLong(2), r.getLong(3), r.getLong(4)))
        .sortBy(_._1).toSeq
    try {
      in.addData(docs.toIndexedSeq)
      q.processAllAvailable()
      // batch 0's verdicts are on disk ALREADY — ingest-time flagging,
      // not the next batch report — and row-identical to the batch
      // x126 body over the same corpus
      val v0 = landed(0L)
      assert(v0.nonEmpty && v0 == batchOver(
        graft.Tables.spread(spark, dir, "documents")), "batch-0 drift")
      in.addData(shift.toIndexedSeq)
      q.processAllAvailable()
      // batch 1's verdicts integrate the shift and stay row-identical
      // to a batch build over the full prefix
      val v1 = landed(1L)
      val want = batchOver(
        graft.Tables.spread(spark, dir, "documents")
          .select($"doc_id", $"source", $"text")
          .unionByName(spark.createDataset(shift.toIndexedSeq)
            .toDF("doc_id", "source", "text")))
      assert(v1 == want, "batch-1 drift diverged from the batch build")
      // ...and the monitor actually FLAGS the shift: the flooded
      // source's PSI jumps at the shift batch
      val p0 = v0.find(_._1 == shiftSrc).get._5
      val p1 = v1.find(_._1 == shiftSrc).get._5
      assert(p1 > p0, s"psi did not move on the shift: $p0 -> $p1")
    } finally q.stop()
  }

  test("data-drift count-table compaction: landed batches fold to ONE " +
    "partition, the folded verdict is bit-identical, the same-" +
    "checkpoint monitor continues above the horizon, and a replayed " +
    "batch below it refuses loudly") {
    import graft.queries.TextOps
    import graft.store.ParquetStore
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.01"
    val tmp = Files.createTempDirectory("graft-driftcompact").toString
    val store = new ParquetStore(s"$tmp/d")
    val docs = graft.Tables.spread(spark, dir, "documents")
      .select($"doc_id", $"source", $"text")
      .as[(Long, String, String)].collect()
    def counts() = store.read("quality_bucket_counts", spark)
    def batches() = counts().select($"batch".cast("long"))
      .distinct().collect().map(_.getLong(0)).sorted.toSeq
    def verdictOf(c: org.apache.spark.sql.DataFrame) =
      TextOps.psiDriftOver(
          c.select($"source", $"bucket".cast("long").as("bucket"),
            $"r".cast("long").as("r"), $"c".cast("long").as("c"))
            .groupBy($"source", $"bucket")
            .agg(org.apache.spark.sql.functions.sum($"r").as("r"),
              org.apache.spark.sql.functions.sum($"c").as("c")))
        .collect().map(r => (r.getString(0), r.getLong(1),
          r.getLong(2), r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq
    val in = MemoryStream[(Long, String, String)]
    val q = DriftMonitor.dataDriftMonitor(
      in.toDF().toDF("doc_id", "source", "text"), store, s"$tmp/ckpt")
    try {
      in.addData(docs.filter(_._1 % 2 == 0).toIndexedSeq)
      q.processAllAvailable()
      in.addData(docs.filter(_._1 % 2 == 1).toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    assert(batches() == Seq(0L, 1L))
    val before = verdictOf(counts())
    def landedV(b: Long) = store.read("quality_drift", spark)
      .filter($"batch".cast("long") === b)
      .select($"source", $"n_ref", $"n_cand", $"tv_ppm", $"psi6")
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq
    def asOfV(b: Long) = TextOps.psiDriftAsOf(spark, store, b)
      .select($"source", $"n_ref", $"n_cand", $"tv_ppm", $"psi6")
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq
    // the as-of snapshot verb: the report as of batch 0 reproduces the
    // verdict the monitor landed AT batch 0; latest matches batch 1
    assert(asOfV(0L) == landedV(0L) && asOfV(0L).nonEmpty)
    assert(asOfV(Long.MaxValue) == landedV(1L))
    TextOps.compactQualityCounts(spark, store)
    // history below the fold is physically consolidated — the as-of
    // read refuses rather than serving folded state under an old id
    val eh = intercept[IllegalArgumentException] {
      TextOps.psiDriftAsOf(spark, store, 0L).collect()
    }
    assert(eh.getMessage.contains("maintenance horizon"), eh.getMessage)
    assert(asOfV(Long.MaxValue) == before,
      "post-fold latest as-of diverged from the folded cumulative")
    // all history folded into the newest batch id's one partition...
    assert(batches() == Seq(1L), s"fold left ${batches()}")
    // ...reproducing the pre-fold cumulative verdict exactly (counts
    // are a merge-by-sum sketch; the fold IS the merge rule)
    assert(verdictOf(counts()) == before && before.nonEmpty)
    // idempotent: a re-run over the already-compact table no-ops
    TextOps.compactQualityCounts(spark, store)
    assert(batches() == Seq(1L) && verdictOf(counts()) == before)
    // the SAME checkpoint continues above the horizon: the restarted
    // monitor's next micro-batch id (2) clears the guard, and its
    // verdict reads base + tail = a batch build over the full prefix
    val q2 = DriftMonitor.dataDriftMonitor(
      in.toDF().toDF("doc_id", "source", "text"), store, s"$tmp/ckpt")
    try {
      in.addData(docs.take(50).map { case (id, src, t) =>
        (id + 300000L, src, t)
      }.toIndexedSeq)
      q2.processAllAvailable()
    } finally q2.stop()
    val v2 = store.read("quality_drift", spark)
      .filter($"batch".cast("long") === 2L)
      .select($"source", $"n_ref", $"n_cand", $"tv_ppm", $"psi6")
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq
    val full = graft.Tables.spread(spark, dir, "documents")
      .select($"doc_id", $"source", $"text")
      .unionByName(spark.createDataset(docs.take(50).map {
        case (id, src, t) => (id + 300000L, src, t)
      }.toIndexedSeq).toDF("doc_id", "source", "text"))
    assert(v2 == TextOps.psiDriftOver(TextOps.qualityBucketCounts(full))
      .select($"source", $"n_ref", $"n_cand", $"tv_ppm", $"psi6")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq,
      "post-compaction verdict diverged from the full-prefix build")
    // a replayed batch at/below the horizon refuses loudly instead of
    // delete-before-writing the consolidated partition
    val e = intercept[IllegalArgumentException] {
      DriftMonitor.dataDriftBatch(store,
        spark.createDataset(docs.take(5).toIndexedSeq)
          .toDF("doc_id", "source", "text"), 0L)
    }
    assert(e.getMessage.contains("compaction horizon"), e.getMessage)
  }

  test("streaming sparse-index stats (df + corpus totals) are " +
    "bit-identical to the batch BM25 statistics over the same docs") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (0L, "The quick brown fox jumps over the lazy dog"),
      (1L, "the quick red fox runs past the sleepy cat"),
      (2L, "a slow green turtle walks under the busy bridge"),
      (3L, "the lazy dog sleeps while the quick fox watches"),
      (4L, "every quick animal outruns the slow turtle easily"))
    val in = MemoryStream[(Long, String)]
    val src = in.toDF().toDF("doc_id", "text")
    val qDf = SparseIndexStream.termDf(src)
      .writeStream.format("memory").queryName("sidx_df")
      .outputMode(OutputMode.Complete).start()
    val qSt = SparseIndexStream.corpusTotals(src)
      .writeStream.format("memory").queryName("sidx_st")
      .outputMode(OutputMode.Complete).start()
    try {
      in.addData(docs.take(2): _*)
      qDf.processAllAvailable(); qSt.processAllAvailable()
      in.addData(docs.drop(2): _*)
      qDf.processAllAvailable(); qSt.processAllAvailable()
      val batchTk = queries.TextOps.tokenized(docs.toDF("doc_id", "text"))
      val streamedDf = spark.table("sidx_df")
        .as[(String, Long)].collect().toSet
      val batchDf = queries.TextOps.termDf(batchTk)
        .as[(String, Long)].collect().toSet
      assert(streamedDf == batchDf)
      // state bound: exactly the vocabulary, nothing more
      assert(streamedDf.size == batchDf.size)
      // df semantics: "the" appears in every doc but counts once each
      assert(streamedDf.contains(("the", 5L)))
      val streamedSt = spark.table("sidx_st")
        .as[(Long, Double)].collect().toSeq
      val batchSt = queries.TextOps.corpusTotals(batchTk)
        .as[(Long, Double)].collect().toSeq
      assert(streamedSt == batchSt)
      assert(streamedSt == Seq((5L,
        docs.map(_._2.split(" ").length).sum.toDouble)))
    } finally { qDf.stop(); qSt.stop() }
  }

}
