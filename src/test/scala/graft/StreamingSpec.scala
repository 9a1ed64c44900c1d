package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming._

/** Structured Streaming behavior: windowed counts under a watermark,
  * gap sessionization with event-time timeout, and the job-queue
  * dispatcher (SURVEY §2.11). MemoryStream drives deterministic
  * micro-batches.
  */
class StreamingSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  private def ev(id: Long, minute: Int, user: Long, v: Double) =
    Event(id, ts(minute), user, "click", v, "{}")

  test("windowed counts aggregate by tumbling hour under a watermark") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStream.windowedCounts(in.toDF(), "10 minutes", "1 hour")
      .writeStream.format("memory").queryName("win")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(ev(1, 5, 1, 1.0), ev(2, 30, 1, 2.0), ev(3, 70, 2, 4.0))
      q.processAllAvailable()
      // watermark now 70-10=60 -> hour-0 window [0,60) closes
      in.addData(ev(4, 200, 1, 8.0)) // advances watermark past hour 1
      q.processAllAvailable()
      val rows = spark.table("win")
        .select($"win".cast("string"), $"n", $"total")
        .as[(String, Long, Double)].collect().sortBy(_._1)
      assert(rows.length == 2)
      assert(rows(0) == ("2024-01-01 00:00:00", 2L, 3.0)) // hour 0
      assert(rows(1) == ("2024-01-01 01:00:00", 1L, 4.0)) // hour 1
    } finally q.stop()
  }

  test("sessionize closes sessions on gap and on event-time timeout") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStream.sessionize(in.toDS(), gapMs = 30L * 60 * 1000,
      watermark = "1 minute")
      .writeStream.format("memory").queryName("sess")
      .outputMode(OutputMode.Append).start()
    try {
      // user 1: events at minute 0, 10 (one session), then 60 (gap>30 ->
      // second session); user 2: single event at 0
      in.addData(ev(1, 0, 1, 1.0), ev(2, 10, 1, 2.0), ev(3, 0, 2, 5.0))
      q.processAllAvailable()
      in.addData(ev(4, 60, 1, 3.0))
      q.processAllAvailable()
      // push watermark far ahead so open sessions time out
      in.addData(ev(5, 600, 9, 0.0))
      q.processAllAvailable()
      in.addData(ev(6, 1200, 9, 0.0))
      q.processAllAvailable()
      val rows = spark.table("sess").as[Session].collect()
        .sortBy(s => (s.user_id, s.start_ts.getTime))
      val u1 = rows.filter(_.user_id == 1)
      assert(u1.length == 2)
      assert(u1(0).n_events == 2 && u1(0).total == 3.0)
      assert(u1(0).end_ts == ts(10))
      assert(u1(1).n_events == 1 && u1(1).total == 3.0)
      val u2 = rows.filter(_.user_id == 2)
      assert(u2.length == 1 && u2(0).n_events == 1 && u2(0).total == 5.0)
    } finally q.stop()
  }

  test("hopping windows land each event in exactly two windows") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStream.hoppingCounts(in.toDF(), "10 minutes",
      "1 hour", "30 minutes")
      .writeStream.format("memory").queryName("hop")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(ev(1, 45, 1, 2.0)) // windows [23:30..0:30) is pre-epoch-
      q.processAllAvailable()       // day start: [0:00,1:00) and [0:30,1:30)
      in.addData(ev(2, 400, 9, 0.0)) // advance watermark, close both
      q.processAllAvailable()
      val rows = spark.table("hop")
        .select($"win".cast("string"), $"n", $"total")
        .as[(String, Long, Double)].collect().sorted
      assert(rows.toSeq == Seq(
        ("2024-01-01 00:00:00", 1L, 2.0),
        ("2024-01-01 00:30:00", 1L, 2.0)))
    } finally q.stop()
  }

  test("stream-static enrich broadcasts the dimension, no stream state") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val q = EventStream.enrich(in.toDF(), dim)
      .select($"event_id", $"tier")
      .writeStream.format("memory").queryName("enr")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(ev(1, 0, 1, 1.0), ev(2, 0, 2, 1.0), ev(3, 0, 7, 1.0))
      q.processAllAvailable()
      val rows = spark.table("enr").as[(Long, Option[String])]
        .collect().sortBy(_._1)
      assert(rows.toSeq == Seq((1L, Some("gold")), (2L, Some("basic")),
        (3L, None)))
      assert(q.lastProgress.stateOperators.isEmpty) // join holds no state
    } finally q.stop()
  }

  test("streaming transitions fold late cross-batch arrivals in " +
    "exact (ts, event_id) order, matching batch e6") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    def typed(id: Long, minute: Int, user: Long, tpe: String) =
      Event(id, ts(minute), user, tpe, 0.0, "{}")
    val q = EventStream.transitions(in.toDS(), "30 minutes")
      .writeStream.format("memory").queryName("trans")
      .outputMode(OutputMode.Append).start()
    try {
      // user 1's click arrives one batch AFTER its ts-successor
      // purchase, still inside the 30-minute watermark; the buffered
      // fold must order it between view and purchase exactly as e6's
      // lag() OVER (ORDER BY ts, event_id) would — the unbuffered fold
      // would emit the inverted (purchase, click) pair instead
      in.addData(typed(1, 0, 1, "view"), typed(2, 40, 1, "purchase"),
        typed(90, 45, 9, "click")) // u9 = watermark driver
      q.processAllAvailable()
      in.addData(typed(3, 20, 1, "click"), typed(91, 100, 9, "click"))
      q.processAllAvailable()
      in.addData(typed(92, 300, 9, "click")) // ripen everything of u1
      q.processAllAvailable()
      val rows = spark.table("trans")
        .as[EventStream.Transition].collect()
        .filter(_.user_id == 1L)
        .map(t => (t.prev, t.next)).sorted
      assert(rows.toSeq == Seq(("click", "purchase"), ("view", "click")))
    } finally q.stop()
  }

  test("streaming dedup drops duplicate keys within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStream.dedupWithinWatermark(in.toDF(), Seq("event_id"),
      "30 minutes")
      .writeStream.format("memory").queryName("dedup")
      .outputMode(OutputMode.Append).start()
    try {
      // event 1 arrives twice in one batch; event 2 once
      in.addData(ev(1, 0, 1, 1.0), ev(1, 1, 1, 1.0), ev(2, 5, 2, 2.0))
      q.processAllAvailable()
      // a later batch re-sends event 2 while still inside the
      // watermark horizon -> dropped
      in.addData(ev(2, 10, 2, 2.0), ev(3, 20, 3, 3.0))
      q.processAllAvailable()
      val ids = spark.table("dedup").select($"event_id")
        .as[Long].collect().sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("streaming funnel tracks view -> click -> purchase per user, " +
    "anchoring on a late view exactly as batch e4 does") {
    implicit val sqlCtx = spark.sqlContext
    def tev(id: Long, minute: Int, user: Long, typ: String) =
      Event(id, ts(minute), user, typ, 1.0, "{}")
    val in = MemoryStream[Event]
    val q = EventStream.funnelStages(in.toDS(), "10 minutes")
      .writeStream.format("memory").queryName("funnel")
      .outputMode(OutputMode.Update).start()
    try {
      // user 1 completes the funnel in order; user 2's purchase comes
      // BEFORE any click and must not advance the stage; user 3's
      // view arrives one batch LATE (but inside the watermark) — the
      // buffered fold still anchors t1 = 18 < click ts = 20, so user 3
      // reaches stage 2 exactly as e4's min-based windows compute it
      // (the unbuffered fold lost the click forever: stage 1)
      in.addData(tev(1, 0, 1, "view"), tev(2, 5, 1, "click"),
        tev(3, 0, 2, "view"), tev(4, 2, 2, "purchase"),
        tev(5, 8, 1, "purchase"), tev(6, 9, 2, "click"),
        tev(7, 20, 3, "click"), tev(90, 25, 9, "view"))
      q.processAllAvailable()
      in.addData(tev(8, 18, 3, "view"), tev(91, 100, 9, "view"))
      q.processAllAvailable()
      in.addData(tev(92, 300, 9, "view")) // ripen everything
      q.processAllAvailable()
      val last = spark.table("funnel")
        .groupBy($"user_id").agg(org.apache.spark.sql.functions
          .max($"stage").as("stage"))
        .as[(Long, Int)].collect().toMap
      assert(last(1L) == 3) // view -> click -> purchase
      assert(last(2L) == 2) // purchase-before-click never counted
      assert(last(3L) == 2) // late view anchors BEFORE the click
    } finally q.stop()
  }

  test("streaming ingest gates quality and dedups content across " +
    "micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String)]
    val docs = in.toDF().toDF("doc_id", "ts", "text")
    val q = IngestStream.ingest(docs,
      IngestStream.Gates(minTokens = 3, minAlphaRatio = 0.4,
        maxStopRatio = 0.8), "30 minutes")
      .writeStream.format("memory").queryName("ingest")
      .outputMode(OutputMode.Append).start()
    try {
      val good = "the quick brown fox jumps over the lazy dog"
      in.addData(
        (1L, ts(0), good),
        (2L, ts(1), "to be"), // too few tokens -> gated
        (3L, ts(2), "1 2 3 4 5 6 7 8 9"), // no letters -> gated
        (4L, ts(3), good)) // same content as doc 1 -> deduped
      q.processAllAvailable()
      // a later batch re-sends the same content within the watermark
      in.addData((5L, ts(10), good),
        (6L, ts(11), "a completely different sentence about spark"))
      q.processAllAvailable()
      val rows = spark.table("ingest")
        .select($"doc_id", $"n_tokens", $"content_key")
        .as[(Long, Long, Long)].collect().sortBy(_._1)
      // exactly one survivor per content key, gates dropped 2 and 3
      assert(rows.map(_._1).toSeq == Seq(1L, 6L), rows.toSeq)
      assert(rows(0)._2 == 9L) // x2's token count expression
      // the annotated columns ride along for downstream mixture/filter
      val cols = spark.table("ingest").columns.toSet
      assert(Set("n_tokens", "stop_ratio", "alpha_ratio",
        "content_key", "split").subsetOf(cols))
      // the split stamp is x59's deterministic assignment: re-deriving
      // it from doc_id alone reproduces what the stream assigned
      val splits = spark.table("ingest")
        .select($"doc_id", $"split").as[(Long, String)].collect()
      splits.foreach { case (id, sp) =>
        val b = java.lang.Long.parseLong(
          java.security.MessageDigest.getInstance("MD5")
            .digest(s"${id}_split".getBytes("UTF-8"))
            .take(6).map("%02x".format(_)).mkString, 16) % 100
        val want = if (b < 80) "train" else if (b < 90) "val" else "test"
        assert(sp == want, s"doc $id split $sp != $want")
      }
    } finally q.stop()
  }

  test("streaming ingest gates on LM quality: gibberish drops, " +
    "reference-like text passes, zero extra state") {
    implicit val sqlCtx = spark.sqlContext
    // reference corpus: repeated natural phrases -> seen bigrams score
    // high; gibberish full of unseen bigrams backs off to ~ln(1/V)
    val ref = Seq.fill(4)(
      "the quick brown fox jumps over the lazy dog every day")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val gate = IngestStream.lmGate(ref, minScore = -1.5)
    assert(gate.vocab > 0 && gate.lp.nonEmpty)
    val in = MemoryStream[(Long, Timestamp, String)]
    val docs = in.toDF().toDF("doc_id", "ts", "text")
    val q = IngestStream.ingest(docs,
      IngestStream.Gates(minTokens = 1, minAlphaRatio = 0.4,
        maxStopRatio = 0.9), "30 minutes", lm = Some(gate))
      .writeStream.format("memory").queryName("ingest_lm")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(
        (1L, ts(0), "the quick brown fox jumps over the lazy dog"),
        (2L, ts(1), "zxq vbn wklm pqrs ttuv abcd efgh ijkl mnop"),
        // 1-token doc: no bigrams — must drop cleanly (the guarded
        // bigram window returns empty), never crash the query
        (3L, ts(2), "hello"))
      q.processAllAvailable()
      val kept = spark.table("ingest_lm").select($"doc_id", $"lm_score")
        .as[(Long, Double)].collect().toMap
      assert(kept.keySet == Set(1L), kept.toString)
      assert(kept(1L) >= -1.5, kept.toString)
      val prog = q.lastProgress
      assert(prog == null || prog.stateOperators.length <= 1)
    } finally q.stop()
  }

  test("streaming ingest repetition gate drops the loop-y doc the " +
    "quality ratios can't see, statelessly, via the batch x88 folds") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String)]
    val docs = in.toDF().toDF("doc_id", "ts", "text")
    val q = IngestStream.ingest(docs,
      IngestStream.Gates(minTokens = 3, minAlphaRatio = 0.4,
        maxStopRatio = 0.9, repetition = true), "30 minutes")
      .writeStream.format("memory").queryName("ingest_rep")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(
        // healthy prose: passes ratios AND coverage
        (1L, ts(0), "the quick brown fox jumps over a lazy dog near the quiet river bank today"),
        // model-loop pathology: alpha/stop ratios look fine, but one
        // 2-gram owns most characters and 3-grams repeat end to end
        (2L, ts(1), "buy now buy now buy now buy now buy now buy now"))
      q.processAllAvailable()
      val kept = spark.table("ingest_rep").select($"doc_id")
        .as[Long].collect().toSet
      assert(kept == Set(1L), s"kept $kept")
      // the streaming verdict IS the batch verdict: same folds
      val batch = graft.queries.TextOps.withCoverage(
        Seq((1L, "the quick brown fox jumps over a lazy dog near the quiet river bank today"),
          (2L, "buy now buy now buy now buy now buy now buy now"))
          .toDF("doc_id", "text")
          .select($"doc_id",
            graft.functions.TextExprs.wsTokens(
              org.apache.spark.sql.functions.lower($"text")).as("tk")))
        .select($"doc_id", $"rep_keep").as[(Long, Boolean)]
        .collect().toMap
      assert(batch(1L) && !batch(2L), batch.toString)
      // stateless: no extra state operator beyond the dedup
      val prog = q.lastProgress
      assert(prog == null || prog.stateOperators.length <= 1)
    } finally q.stop()
  }

  test("streaming ingest drops documents matching the decontamination " +
    "bloom, statelessly") {
    implicit val sqlCtx = spark.sqlContext
    // reference list: one benchmark sentence; bloom built batch-side
    val ref = Seq("the quick brown fox jumps over the lazy dog")
      .toDF("text")
    val bits = IngestStream.contaminationBloom(ref)
    val in = MemoryStream[(Long, Timestamp, String)]
    val docs = in.toDF().toDF("doc_id", "ts", "text")
    val q = IngestStream.ingest(docs,
      IngestStream.Gates(minTokens = 3, minAlphaRatio = 0.4,
        maxStopRatio = 0.8), "30 minutes",
      decontam = Some(IngestStream.Decontam(bits)))
      .writeStream.format("memory").queryName("ingest_dc")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(
        // shares the reference's 4-token prefix -> contaminated
        (1L, ts(0), "the quick brown fox is a benchmark sentence now"),
        (2L, ts(1), "a completely different sentence about spark jobs"))
      q.processAllAvailable()
      val kept = spark.table("ingest_dc").select($"doc_id")
        .as[Long].collect().sorted.toSeq
      assert(kept == Seq(2L), kept)
      // decontamination adds no streaming state beyond the dedup store
      val prog = q.lastProgress
      assert(prog == null || prog.stateOperators.length <= 1)
    } finally q.stop()
  }

  test("streaming retention emits each (cohort, week, user) once " +
    "across micro-batches, cohort-anchoring late arrivals like e7") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStream.retentionPairs(in.toDS())
      .writeStream.format("memory").queryName("ret")
      .outputMode(OutputMode.Append).start()
    val wk = 7 * 24 * 60 // minutes per week; minute 0 = Mon 2024-01-01
    try {
      // week 0: users 1 and 2 join the 2024-01-01 cohort; user 1
      // returns in week 1 (second week-1 event must NOT re-emit);
      // user 3's first ARRIVAL is a week-1 event...
      in.addData(ev(1, 5, 1, 1.0), ev(2, 60, 2, 1.0), ev(3, 90, 1, 1.0),
        ev(4, wk + 10, 1, 1.0), ev(5, wk + 20, 3, 1.0),
        ev(6, wk + 30, 1, 1.0))
      q.processAllAvailable()
      // ...but user 3's true FIRST event (Sunday 23:50, week 0) arrives
      // a batch late, inside the 1-hour watermark. The buffered fold
      // anchors user 3's cohort at week 0 — exactly e7's min(ts) —
      // where the unbuffered fold had already mis-anchored week 1 and
      // emitted a stale (week-1-cohort, 0) pair that never retracts
      in.addData(ev(7, wk - 10, 3, 1.0), ev(90, wk + 120, 9, 1.0))
      q.processAllAvailable()
      in.addData(ev(91, wk + 600, 9, 1.0)) // ripen everything
      q.processAllAvailable()
      val pairs = spark.table("ret")
        .select($"cohort".cast("string"), $"week_offset", $"user_id")
        .as[(String, Long, Long)].collect().toSet
        .filter(_._3 != 9L)
      assert(pairs == Set(
        ("2024-01-01", 0L, 1L), ("2024-01-01", 0L, 2L),
        ("2024-01-01", 1L, 1L), ("2024-01-01", 0L, 3L),
        ("2024-01-01", 1L, 3L)))
      // grouping the unique pairs IS e7's n_users matrix
      val matrix = pairs.toSeq.groupBy(p => (p._1, p._2))
        .view.mapValues(_.size).toMap
      assert(matrix == Map(("2024-01-01", 0L) -> 3,
        ("2024-01-01", 1L) -> 2))
    } finally q.stop()
  }

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

  test("stream-stream interval join pairs views with purchases inside " +
    "the window, across batches") {
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val q = EventStream
      .intervalJoin(views.toDF(), purchases.toDF(),
        watermark = "10 minutes", joinWindow = "1 hour")
      .writeStream.format("memory").queryName("ivj")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: views only — nothing can join yet
      views.addData(ev(1, 0, 1, 0.0), ev(2, 0, 2, 0.0))
      q.processAllAvailable()
      assert(spark.table("ivj").count() == 0)
      // batch 2: user 1 purchase at +30min (inside the 1h window; joins
      // the view buffered in state from batch 1), user 2 purchase at
      // +90min (outside the window — no pair)
      purchases.addData(ev(10, 30, 1, 5.0), ev(11, 90, 2, 7.0))
      q.processAllAvailable()
      val rows = spark.table("ivj")
        .select($"user_id", $"view_id", $"purchase_id", $"lag_s", $"amount")
        .as[(Long, Long, Long, Long, Double)].collect().sorted
      assert(rows.toSeq == Seq((1L, 1L, 10L, 1800L, 5.0)))
      // a purchase at exactly the view timestamp does NOT join (strict >)
      purchases.addData(ev(12, 0, 2, 9.0))
      q.processAllAvailable()
      assert(spark.table("ivj").count() == 1)
    } finally q.stop()
  }

  test("left-outer interval join emits unmatched views only after the " +
    "watermark proves no purchase can arrive") {
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val q = EventStream
      .intervalJoinOuter(views.toDF(), purchases.toDF(),
        watermark = "10 minutes", joinWindow = "1 hour")
      .writeStream.format("memory").queryName("ivjo")
      .outputMode(OutputMode.Append).start()
    try {
      // user 1's view gets a purchase at +30min; user 2's never does
      views.addData(ev(1, 0, 1, 0.0), ev(2, 0, 2, 0.0))
      purchases.addData(ev(10, 30, 1, 5.0))
      q.processAllAvailable()
      // user 2's view must NOT have emitted yet: a purchase inside its
      // window could still arrive
      val early = spark.table("ivjo")
        .filter($"purchase_id".isNull).count()
      assert(early == 0, s"null row emitted before the horizon: $early")
      // advance both watermarks far past view+window+watermark
      views.addData(ev(3, 600, 9, 0.0))
      purchases.addData(ev(11, 600, 9, 0.0))
      q.processAllAvailable()
      val rows = spark.table("ivjo")
        .select($"user_id", $"view_id", $"purchase_id", $"lag_s")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).sorted.toSeq
      // user 1 matched; user 2 emitted unmatched exactly once
      assert(rows.contains((1L, 1L, 10L)), rows.toString)
      assert(rows.count(_ == ((2L, 2L, -1L))) == 1, rows.toString)
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

  test("streaming data-drift counts are bit-identical to the batch " +
    "build, bounded at sources x 10 rows, and the composed report " +
    "matches the oracle-checked x126 body") {
    import graft.queries.TextOps
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.01"
    val docs = graft.Tables.spread(spark, dir, "documents")
      .select($"doc_id", $"source", $"text")
      .as[(Long, String, String)].collect()
    val in = MemoryStream[(Long, String, String)]
    val q = SketchStream.qualityBucketCounts(
        in.toDF().toDF("doc_id", "source", "text"))
      .writeStream.format("memory").queryName("drift")
      .outputMode(OutputMode.Complete).start()
    try {
      in.addData(docs.filter(_._1 % 2 == 0).toIndexedSeq)
      q.processAllAvailable()
      in.addData(docs.filter(_._1 % 2 == 1).toIndexedSeq)
      q.processAllAvailable()
      val live = spark.table("drift")
      def counts(df: org.apache.spark.sql.DataFrame) =
        df.select($"source", $"bucket", $"r", $"c")
          .as[(String, Long, Long, Long)].collect().toSet
      val streamed = counts(live)
      val batch = counts(TextOps.qualityBucketCounts(
        graft.Tables.spread(spark, dir, "documents")))
      assert(streamed == batch && streamed.nonEmpty,
        "streamed drift counts diverged from the batch build")
      // bounded-state guarantee: ≤ |sources|×10 rows however much
      // corpus has passed
      assert(streamed.size <= 10 * streamed.map(_._1).size)
      // the composed report over the live table is row-identical to
      // the oracle-checked registry body
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select($"source", $"n_ref", $"n_cand", $"tv_ppm", $"psi6")
          .collect().map(r => (r.getString(0), r.getLong(1),
            r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
      assert(rows(SketchStream.psiDriftVerdicts(live)) ==
        rows(graft.SparkEntry.queries("x126_psi_drift")(spark, dir)),
        "streamed drift report diverged from the x126 body")
    } finally q.stop()
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

  test("substring-dedup ingest stream: per-batch audits land at ingest " +
    "time row-identical to the batch-built expectation (batch 1 == the " +
    "oracle-checked x134), replays are idempotent, and compaction + " +
    "horizon protect folded hashes") {
    import graft.queries.TextOps
    import graft.store.ParquetStore
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.01"
    val tmp = Files.createTempDirectory("graft-substr-ingest").toString
    val store = new ParquetStore(s"$tmp/s")
    val docs = graft.Tables.spread(spark, dir, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    // ingest even docs as batch 0, odd as batch 1 — exactly x134's
    // history/batch convention, so batch 1's landed audit must equal
    // the oracle-checked registry body
    val b0 = docs.filter(_._1 % 2 == 0)
    val b1 = docs.filter(_._1 % 2 == 1)
    def dfOf(rows: Array[(Long, String)]) =
      spark.createDataset(rows.toIndexedSeq).toDF("doc_id", "text")
    def auditRows(df: org.apache.spark.sql.DataFrame) = df
      .select($"doc_id", $"n_tokens", $"dup_tokens", $"dup_spans",
        $"dup_ppm")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq
    def landed(batch: Long) = auditRows(
      store.read("substr_audit", spark)
        .filter($"batch".cast("long") === batch))
    val in = MemoryStream[(Long, String)]
    val q = SubstrIngest.start(in.toDF().toDF("doc_id", "text"),
      store, s"$tmp/ckpt")
    try {
      in.addData(b0.toIndexedSeq)
      q.processAllAvailable()
      // batch 0 has no history: its audit is the whole-corpus x129
      // body over the batch alone (dup = within-batch repeats)
      assert(landed(0L).nonEmpty && landed(0L) == auditRows(
        TextOps.substrDedupOf(dfOf(b0), TextOps.SubstrW)), "batch-0")
      in.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      // batch 1 audits against batch 0's hashes + its own repeats —
      // the x134 definition exactly
      assert(landed(1L) == auditRows(
        SparkEntry.queries("x134_incremental_substr")(spark, dir)),
        "batch-1 diverged from x134")
    } finally q.stop()
    // a replayed batch recomputes against batch < id and overwrites
    // itself — idempotent through retries
    val before1 = landed(1L)
    TextOps.substrIngestBatch(spark, dfOf(b1), 1L, store)
    assert(landed(1L) == before1, "replay was not idempotent")
    // compaction folds the hash partitions to ONE and the horizon
    // refuses replays below the fold
    TextOps.compactSubstrHashes(spark, store)
    val hb = store.read("substr_hashes", spark)
      .select($"batch".cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(hb == Seq(1L), s"fold left $hb")
    val e = intercept[IllegalArgumentException] {
      TextOps.substrIngestBatch(spark, dfOf(b0), 0L, store)
    }
    assert(e.getMessage.contains("horizon"), e.getMessage)
    // a post-fold batch still audits correctly against the folded
    // index: re-ingesting an even doc's text under a NEW id makes it
    // a full duplicate of history
    val dupDoc = Array((900001L, b0.find(
      _._2.trim.split("\\s+").length >= TextOps.SubstrW).get._2))
    TextOps.substrIngestBatch(spark, dfOf(dupDoc), 2L, store)
    val v2 = landed(2L)
    assert(v2.length == 1 && v2.head._5 == 1000000L,
      s"post-fold full-dup audit: $v2")
  }

  test("streaming CMS matrix is bit-identical to the batch build and " +
    "its state never exceeds the D x W geometry") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick red fox runs past the sleepy cat"),
      (2L, "a slow green turtle walks under the busy bridge"),
      (3L, "the lazy dog sleeps while the quick fox watches"),
      (4L, "every quick animal outruns the slow turtle easily"))
    val in = MemoryStream[(Long, String)]
    val q = SketchStream.cmsCounters(in.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("cms")
      .outputMode(OutputMode.Complete).start()
    try {
      in.addData(docs.take(2): _*)
      q.processAllAvailable()
      in.addData(docs.drop(2): _*)
      q.processAllAvailable()
      val streamed = spark.table("cms")
        .select($"d", $"b", $"c").as[(Int, Long, Long)].collect().toSet
      val batch = queries.SketchOps.cmsCounters(
          queries.SketchOps.tokensOf(
            docs.toDF("doc_id", "text")))
        .select($"d", $"b", $"c").as[(Int, Long, Long)].collect().toSet
      assert(streamed == batch)
      // bounded-state guarantee: at most D x W counter cells, however
      // long the stream runs
      assert(streamed.size <= queries.SketchOps.D * queries.SketchOps.W)
      val total = streamed.toSeq.filter(_._1 == 0).map(_._3).sum
      val words = docs.map(_._2.split(" ").length).sum
      assert(total == words, s"row-0 mass $total != $words tokens")
    } finally q.stop()
  }

  test("streaming quantile-sketch bins are bit-identical to the batch " +
    "x115 build and the composed p50/p90/p99 report matches batch") {
    implicit val sqlCtx = spark.sqlContext
    // token counts 4..13: two octaves, several sub-bins
    val docs = (0L until 10L).map(i =>
      (i, Seq.fill(4 + i.toInt)("w").mkString(" ")))
    val in = MemoryStream[(Long, String)]
    val q = SketchStream.quantileHist(in.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("qsk")
      .outputMode(OutputMode.Complete).start()
    try {
      in.addData(docs.take(4): _*)
      q.processAllAvailable()
      in.addData(docs.drop(4): _*)
      q.processAllAvailable()
      val live = spark.table("qsk")
      val streamedBins = live
        .select($"qbin", $"c").as[(Long, Long)].collect().toSet
      def nOf(d: org.apache.spark.sql.DataFrame) = d.select(
        org.apache.spark.sql.functions.size(
          graft.functions.TextExprs.wsTokens($"text"))
          .cast("long").as("n"))
      val batchBins = queries.SketchOps
        .quantileHist(nOf(docs.toDF("doc_id", "text")))
        .select($"qbin", $"c").as[(Long, Long)].collect().toSet
      assert(streamedBins == batchBins)
      val streamedReport = SketchStream.quantileReport(live)
        .select($"q_pct", $"qbin", $"est8", $"n_le", $"n_total")
        .as[(Long, Long, Long, Long, Long)].collect().toSeq
      val batchReport = queries.SketchOps
        .quantileReport(queries.SketchOps
          .quantileHist(nOf(docs.toDF("doc_id", "text"))))
        .select($"q_pct", $"qbin", $"est8", $"n_le", $"n_total")
        .as[(Long, Long, Long, Long, Long)].collect().toSeq
      assert(streamedReport == batchReport)
      // sketch guarantee: each estimate's bin brackets the exact
      // quantile — in x8 scale the bin is [est8, est8 + 2^e) with
      // 2^e recoverable from est8 itself (est8 = (8+m)*2^e)
      val ns = docs.map(_._2.split(" ").length.toLong).sorted
      streamedReport.foreach { case (qp, _, est8, _, nTot) =>
        val exact = ns((math.ceil(qp * nTot / 100.0) - 1).toInt)
        val width8 = java.lang.Long.highestOneBit(est8) >> 3
        assert(est8 <= exact * 8 && exact * 8 < est8 + width8,
          s"p$qp est8=$est8 exact=$exact")
      }
    } finally q.stop()
  }

  test("streaming HLL registers are bit-identical to the batch x90 " +
    "build and state never exceeds the m-register geometry") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick red fox runs past the sleepy cat"),
      (2L, "a slow green turtle walks under the busy bridge"),
      (3L, "the lazy dog sleeps while the quick fox watches"),
      (4L, "every quick animal outruns the slow turtle easily"))
    val in = MemoryStream[(Long, String)]
    val q = SketchStream.hllRegisters(in.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("hll")
      .outputMode(OutputMode.Complete).start()
    try {
      in.addData(docs.take(2): _*)
      q.processAllAvailable()
      in.addData(docs.drop(2): _*)
      q.processAllAvailable()
      val streamed = spark.table("hll")
        .select($"bucket", $"r").as[(Long, Int)].collect().toSet
      val batch = queries.SketchOps.hllRegisters(
          queries.SketchOps.tokensOf(docs.toDF("doc_id", "text")))
        .select($"bucket", $"r").as[(Long, Int)].collect().toSet
      assert(streamed == batch)
      assert(streamed.size <= 256, s"${streamed.size} registers")
      // the live estimate runs off the sink table through the SAME
      // batch estimator
      val est = queries.SketchOps.hllEstimate(spark.table("hll"))
        .head().getDouble(2)
      val distinct = docs.flatMap(_._2.split(" ")).distinct.length
      assert(est > 0 && math.abs(est - distinct) / distinct < 0.25,
        s"est $est vs $distinct")
    } finally q.stop()
  }

  test("streaming grouped HLL registers match the batch x96 build and " +
    "stay bounded per group") {
    implicit val sqlCtx = spark.sqlContext
    val evs = Seq(
      (1L, "view"), (2L, "view"), (3L, "view"), (1L, "click"),
      (2L, "click"), (1L, "view"), (4L, "purchase"), (2L, "purchase"))
    val in = MemoryStream[(Long, String)]
    val q = SketchStream.hllRegistersByType(
        in.toDF().toDF("user_id", "event_type"))
      .writeStream.format("memory").queryName("hll_grp")
      .outputMode(OutputMode.Complete).start()
    try {
      in.addData(evs.take(4): _*)
      q.processAllAvailable()
      in.addData(evs.drop(4): _*)
      q.processAllAvailable()
      val streamed = spark.table("hll_grp")
        .select($"event_type", $"bucket", $"r")
        .as[(String, Long, Int)].collect().toSet
      val batch = queries.SketchOps.hllRegistersBy(
          evs.toDF("user_id", "event_type")
            .select($"event_type", $"user_id".cast("string").as("w")),
          Seq("event_type"))
        .select($"event_type", $"bucket", $"r")
        .as[(String, Long, Int)].collect().toSet
      assert(streamed == batch)
      streamed.groupBy(_._1).foreach { case (t, rs) =>
        assert(rs.size <= 256, s"$t registers ${rs.size}") }
    } finally q.stop()
  }

  test("streaming hourly series + batch z-test reproduce the x94 burst " +
    "verdicts bit for bit; state is the time-bounded series") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    // 30 hours at 3 events/hour with a 40-event spike at hour 28
    val evs = (0 until 30).flatMap { h =>
      val n = if (h == 28) 40 else 3
      (0 until n).map(i =>
        (h * 100L + i, new java.sql.Timestamp(
          base + h * 3600000L + i * 60000L)))
    }
    val in = MemoryStream[(Long, java.sql.Timestamp)]
    val q = SketchStream.hourlyCounts(in.toDF().toDF("event_id", "ts"))
      .writeStream.format("memory").queryName("hourly")
      .outputMode(OutputMode.Complete).start()
    try {
      in.addData(evs.take(40): _*)
      q.processAllAvailable()
      in.addData(evs.drop(40): _*)
      q.processAllAvailable()
      val live = spark.table("hourly")
      assert(live.count() == 30, "state is not the 30-row series")
      val streamed = SketchStream.burstVerdicts(live).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getBoolean(5)))
      val batch = queries.EventOps.burstVerdicts(
          queries.EventOps.hourlyCounts(evs.toDF("event_id", "ts")))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getBoolean(5)))
      assert(streamed.toSeq == batch.toSeq)
      // full windows only: hours 24..29 report; the spike fires
      assert(streamed.length == 6)
      assert(streamed.count(_._3) == 1 &&
        streamed.find(_._3).get._2 == 40L)
    } finally q.stop()
  }

  test("streaming hourly-type series + batch rank reproduce the e10 " +
    "trending top-k bit for bit") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    // 3 hours x mixed types; hour 1 has a clear leader change
    val types = Seq("view", "click", "purchase", "view", "view",
      "click", "purchase", "purchase", "purchase", "view", "click",
      "view")
    val evs = types.zipWithIndex.map { case (t, i) =>
      (i.toLong, new java.sql.Timestamp(
        base + (i % 3) * 3600000L + i * 60000L), t)
    }
    val in = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = SketchStream.hourlyTypeCounts(
        in.toDF().toDF("event_id", "ts", "event_type"))
      .writeStream.format("memory").queryName("trending")
      .outputMode(OutputMode.Complete).start()
    try {
      in.addData(evs.take(5): _*)
      q.processAllAvailable()
      in.addData(evs.drop(5): _*)
      q.processAllAvailable()
      val streamed = SketchStream
        .trendingVerdicts(spark.table("trending")).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3)))
      val batch = queries.EventOps.trendingVerdicts(
          queries.EventOps.hourlyTypeCounts(
            evs.toDF("event_id", "ts", "event_type"))).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3)))
      assert(streamed.toSeq == batch.toSeq && streamed.nonEmpty)
      // state is the series, not the stream
      assert(spark.table("trending").count() <= 3 * 3)
    } finally q.stop()
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

  test("streaming DSIR model (bucket counts) is bit-identical to the " +
    "batch build and its state never exceeds B buckets") {
    implicit val sqlCtx = spark.sqlContext
    // doc 0 and 10 land in the target slice (doc_id % 10 == 0), the
    // rest in the raw pool — both slices cross the batch boundary
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick red fox runs past the sleepy cat"),
      (10L, "a slow green turtle walks under the busy bridge"),
      (3L, "the lazy dog sleeps while the quick fox watches"),
      (4L, "every quick animal outruns the slow turtle easily"))
    val in = MemoryStream[(Long, String)]
    val q = SelectStream.dsirCounts(in.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("dsir")
      .outputMode(OutputMode.Complete).start()
    try {
      in.addData(docs.take(2): _*)
      q.processAllAvailable()
      in.addData(docs.drop(2): _*)
      q.processAllAvailable()
      val streamed = spark.table("dsir")
        .as[(Long, Long, Long)].collect().toSet
      val batch = queries.SelectOps.dsirCounts(docs.toDF("doc_id", "text"))
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed == batch)
      // bounded-state guarantee: at most B bucket rows however long
      // the stream runs
      assert(streamed.size <= queries.SelectOps.B)
      // both slices accumulated mass across batch boundaries
      val (tMass, rMass) = (streamed.toSeq.map(_._2).sum,
        streamed.toSeq.map(_._3).sum)
      assert(tMass == docs.filter(_._1 % 10 == 0)
        .map(_._2.split(" ").length).sum)
      assert(rMass == docs.filter(_._1 % 10 != 0)
        .map(_._2.split(" ").length).sum)
    } finally q.stop()
  }
}
