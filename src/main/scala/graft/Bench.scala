package graft

import BenchPins.{Stages, f2, f3}
import Harness.Canaries

/** The registry bench: the t1/t2 tile lifecycle, the registry sweep, the
  * warm re-timing of the heavy set and the pins, in that order. Prints
  * one compact JSON headline line and writes the full record to a
  * sidecar (`SPARK_GRAFT_DETAILS`, default `BENCH_DETAILS_<cpus>c.json`).
  */
object Bench {

  /** Lifecycle grid sizes; the [[BenchPins]] bars are calibrated at these
    * two. Per-chip jobs are independent partitions, so 4x the chips
    * should cost ~4x the work on a fixed-core box, not a super-linear
    * shuffle blowup. */
  val T1Chips = 25
  val T2Chips = 100

  /** Second pass over the heaviest text/vector queries: warm timings
    * separate one-time JIT/codegen warm-up (which lands on whichever
    * heavy query runs first in the cold sweep) from plan cost (the r4
    * x19/x21 "regressions" were exactly this attribution noise). Every
    * query whose cold sweep exceeded ~1-1.5 s at sf0.1. */
  val WarmSet = Seq("x19_components", "x21_bigrams", "x14_tfidf",
    "x6_ngram_jaccard", "x7_minhash_lsh", "x10_embed_neardup",
    "x26_contamination", "x28_winnow", "x11_ann_lsh",
    "x30_span_dedup", "x31_decontam_bloom", "x33_incremental_dedup",
    "x27_filter_report", "x20_dedup_resolve", "x29_ann_nprobe",
    "x34_ann_pq", "x37_ann_ivfpq", "x38_ann_ivfpq_nprobe",
    "x39_kmeans_train", "x40_ann_ivf_trained", "x41_pq_train",
    "x42_ann_pq_trained", "x43_ann_ivfpq_trained",
    "x44_ann_ivfpq_residual", "x45_ann_ivfpq_residual_probe",
    "x46_kmeans_train_seeded", "x47_bm25", "x50_rrf_fusion",
    "x51_ann_ivf_sq8", "x52_ann_pq_refine", "x53_mmr_diversify",
    "x55_corpus_prep", "m2_train_score",
    "x56_ann_recall_report", "x60_winnow_overlap", "x61_prf_expansion",
    "x62_bpe_train", "x63_bpe_encode", "x64_cms_counts",
    "x66_graph_pagerank", "x67_pmi_cooccur", "x69_retrieval_ndcg",
    "x70_ppjoin", "x71_density_prune", "x72_mink_prob",
    "x73_dsir_weights", "x74_nb_classifier", "x75_bm25_wand",
    "x76_embed_topdir", "x77_abtt_search", "x78_label_prop",
    "x81_simhash_dedup",
    "x49_semantic_dedup", "x86_knn_graph", "x87_nn_descent",
    "x97_cc_contract", "x98_triangles", "x100_containment",
    "x101_ann_drift", "x107_release_manifest",
    "x109_tokenizer_fertility", "x110_rerank_cross",
    "x111_hard_negatives",
    "x112_edit_neardup",
    // multi-round hop bodies pay checkpoint job overhead cold; the warm
    // number is the honest plan cost
    "x113_phrase_search", "x114_graph_search", "x116_graph_walks",
    "x117_proximity_rank",
    "x118_late_interaction",
    "x119_lm_dirichlet",
    "x120_skipgram_pairs",
    "x121_node2vec_walks",
    "x122_embed_train", "x123_embed_neighbors",
    // the d=4 trainer over the fixture pair relation (pure ladder
    // scheduler cost) and its serve-shaped consumer
    "x124_embed_train_d4", "x127_embed_serve_d4")

  /** Machine-checked query pins, name -> bar in seconds. x124's bar
    * derives from its anchored scheduler-job budget: ScaleGuardsSpec's
    * 3·(d+1)·iters + 40 = 160 jobs at a ~40 ms clean per-job budget
    * ≈ 6.4 s, rounded to 6.5 (its wall is pure scheduler latency: 130
    * stages, 3.3 s stage-sum). */
  val PinnedQueries: Seq[(String, Double)] = Seq(
    "x107_release_manifest" -> 3.5,
    "x124_embed_train_d4" -> 6.5)

  /** The lifecycle stage block: per grid, the per-stage minima and the
    * raw runs, each value rendered by `fmt`. */
  def stagesJson(grids: Seq[(String, Stages, Seq[Stages])],
      fmt: Double => String): String = {
    def one(t: Stages): String =
      s"""{"segment":${fmt(t._2)},"tile":${fmt(t._3)},""" +
        s""""prediction":${fmt(t._4)}}"""
    grids.map { case (k, min, runs) =>
      s""""$k":${one(min).dropRight(1)},""" +
        s""""runs":[${runs.map(one).mkString(",")}]}"""
    }.mkString("{", ",", "}")
  }

  /** The compact stdout line, the record of the run: the per-query dict
    * rides inline at 2 decimals, because readers of the line do not
    * open the sidecar, and at full precision the 188-entry line outgrew
    * a ~12 KB capture window. */
  def headline(results: Seq[(String, Double)], stages: String,
      canary: String, canary2: String, contended: Boolean, pins: String,
      details: String, sf: String): String =
    s"""{"metric":"total","value":${f3(results.map(_._2).sum)},""" +
      s""""unit":"sec","queries":${Harness.dict(results, f2)},""" +
      s""""stages":$stages,"canary":$canary,"canary2":$canary2,""" +
      s""""contended":$contended,"pins":$pins,"details":"$details",""" +
      s""""sf":"$sf"}"""

  /** The full-precision record, with the warm dict. */
  def sidecar(results: Seq[(String, Double)], warm: Seq[(String, Double)],
      stages: String, canary: String, canary2: String, contended: Boolean,
      pins: String, sf: String): String =
    s"""{"metric":"total","value":${results.map(_._2).sum},"unit":"sec",""" +
      s""""queries":${Harness.dict(results, _.toString)},""" +
      s""""warm":${Harness.dict(warm, _.toString)},"stages":$stages,""" +
      s""""canary":$canary,"canary2":$canary2,""" +
      s""""contended":$contended,"pins":$pins,"sf":"$sf"}"""

  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir
    val spark = Harness.session()
    Harness.warmup(spark, sfDir)
    val canaries = new Canaries(spark, sfDir)
    // per-query hygiene, untimed: evict after every query, collect
    // every 10th
    var sinceGc = 0
    def bestOf(n: Int, name: String): Double =
      Harness.bestOf(n, name, {
        sinceGc += 1
        Harness.isolate(spark, gc = sinceGc % 10 == 0)
      })(Harness.query(spark, sfDir, name))
    // segment -> tile -> prediction over a chip grid through the job
    // queue (the reference's own suite ordering, test/test_B_tile.py:
    // 51-54), timed end to end and per stage, so a lifecycle
    // regression is attributable to a stage
    def lifecycle(name: String, nChips: Int): Stages = {
      import graft.ops.SyntheticTile
      import graft.streaming.{JobQueue, JobRequest}
      implicit val reqEnc =
        org.apache.spark.sql.Encoders.product[JobRequest]
      val stages = scala.collection.mutable.ArrayBuffer.empty[Double]
      val wall = Harness.time(name) {
        val root = java.nio.file.Files
          .createTempDirectory("graft-tile-bench").toString
        val jq = new JobQueue(spark, new store.ParquetStore(root),
          ardSource = (cx, cy) => SyntheticTile.chip(spark, cx, cy),
          auxSource = () => SyntheticTile.aux(spark, nChips),
          classifier = new ml.GradientBoostedClassifier(
            ml.BoostConfig(numRound = 15, numClass = 4, maxDepth = 3)),
          // 3/4 of cores: the r12 A/B read t2-segment mins
          // 42.9/31.5/24.3 s at par 16 vs 21.4/24.4/24.1 at par 24 on
          // local[32]; par 32 regressed t1 segment (13.4 vs 8.4 s)
          parallelism = math.max(4, Harness.cpus.toInt * 3 / 4))
        def stage(reqs: Seq[JobRequest]): Unit = {
          val s0 = System.nanoTime()
          jq.dispatch(spark.createDataset(reqs))
          stages += (System.nanoTime() - s0) / 1e9
        }
        stage((0 until nChips).map(k => JobRequest("segment",
          SyntheticTile.cxOf(k), SyntheticTile.Cy, 0, 0, "", 0, 0)))
        stage(Seq(JobRequest("tile", 0, 0, 7, 9, "1987-07-01", 0, 0)))
        stage((0 until nChips).map(k => JobRequest("prediction",
          SyntheticTile.cxOf(k), SyntheticTile.Cy, 7, 9, "", 7, 1)))
        require(jq.results.forall(_.ok),
          jq.results.filterNot(_.ok).take(3).toString)
        jq.close() // release the batch-scoped aux cache
      }
      if (wall < 0) (-1.0, -1.0, -1.0, -1.0)
      else (wall, stages(0), stages(1), stages(2))
    }
    // Min of two isolated runs per grid, stage by stage: single-sample
    // stages inflated 5-10x under host contention (the r8
    // t2-segment reading). Both raw runs ship beside the min (the r11
    // record carried a ~4.7x t2-prediction artifact with every health
    // bit green; with the raw runs one clean sample defends the stage
    // and two corrupted ones are visibly weather).
    def lifecycleRuns(name: String, nChips: Int): (Stages, Seq[Stages]) = {
      val runs = Seq.fill(2) {
        val r = lifecycle(name, nChips); Harness.isolate(spark); r
      }
      def b(f: Stages => Double) = Harness.best(runs.map(f))
      ((b(_._1), b(_._2), b(_._3), b(_._4)), runs)
    }
    // The lifecycle runs first: after the sweep, 186 queries of heap/JIT
    // residue overstated the t2 segment ~1.9x vs its isolated cost (r13).
    Harness.isolate(spark)
    val (t1, t1Runs) = lifecycleRuns("t1_tile_lifecycle", T1Chips)
    canaries.sample()
    val (t2, t2Runs) = lifecycleRuns("t2_tile_lifecycle_100", T2Chips)
    canaries.sample()
    val registry =
      SparkEntry.queries.keys.toSeq.sorted.map(n => n -> bestOf(1, n))
    canaries.sample()
    val results = registry :+ ("t1_tile_lifecycle" -> t1._1) :+
      ("t2_tile_lifecycle_100" -> t2._1)
    val grids = Seq(("t1", t1, t1Runs), ("t2", t2, t2Runs))
    // min of two isolated runs: single warm samples inflated 5-10x on
    // host contention (r7: x40 9.1 s / x87 51 s vs 1.4 s / 4.1 s
    // reproduced minutes later on identical code)
    val warm = WarmSet.map(n => n -> bestOf(2, n))
    canaries.sample()
    val contended = canaries.contended
    val cJson = Canaries.json(canaries.light.toSeq, true)
    val c2Json = Canaries.json(canaries.heavy.toSeq, true)
    // Pins: a pinned query over its bar in a canary-clean record fails
    // the report visibly. A fired pin (a) re-probes the query min-of-3,
    // so one-shot spikes never stamp, and (b) stamps "weather" when the
    // record's own reference queries read >1.3x their clean anchors
    // (two rounds of records stamped `violated: true` on pure box
    // pressure). When a pin survives its re-probe, the refs re-probe
    // once in the same window, since warm-sweep refs can be minutes
    // stale; the record ships the refs actually used.
    val warmMap = warm.toMap
    val refsWarm = BenchPins.RefAnchors.map { case (n, a) =>
      (n, warmMap.getOrElse(n, -1.0), a)
    }
    lazy val refsNow = BenchPins.RefAnchors.map { case (n, a) =>
      (n, bestOf(3, n), a)
    }
    val queryPins = PinnedQueries.map { case (name, bar) =>
      val w = warmMap.getOrElse(name, -1.0)
      val (rp, refs) =
        if (contended || w < 0 || w <= bar) (-1.0, refsWarm)
        else {
          val rp = bestOf(3, name)
          (rp, if (rp > 0 && rp <= bar) refsWarm else refsNow)
        }
      (name, bar, w, rp, refs,
        BenchPins.classify(w, bar, !contended, rp, refs))
    }
    val lp = BenchPins.lifecyclePin(t1, t2, t2Runs, T1Chips, T2Chips)
    val pinsJson = queryPins.map { case (name, bar, w, rp, refs, v) =>
      s""""$name":{"bar_sec":$bar,"warm_sec":${f3(w)},""" +
        s""""reprobe_sec":${f3(rp)},"enforced":${!contended},""" +
        s""""violated":${v.json},""" +
        s""""weather_refs":${BenchPins.refsJson(refs)}}"""
    }.mkString("{", ",", s""","lifecycle_stages":${lp.json}}""")
    queryPins.foreach { case (name, bar, w, rp, _, v) =>
      if (v.fired)
        System.err.println(s"[bench] PIN ${
          if (v == BenchPins.Weather) "elevated (weather)"
          else "VIOLATED"}: $name warm ${f3(w)} s / reprobe ${f3(rp)} " +
          s"s > $bar s bar" +
          (if (v == BenchPins.Weather)
            " — the record's weather refs are elevated; box, not code"
          else " in a canary-clean, refs-in-band record"))
    }
    if (lp.violated)
      System.err.println(
        s"[bench] PIN VIOLATED: lifecycle stages — segment ratio ${
          f3(lp.segRatio)}, prediction ratio ${f3(lp.predRatio)}, " +
          s"tile wall ratio ${f3(lp.tileWallRatio)}, both-runs " +
          s"flags [${lp.bothRuns.mkString("; ")}] — the stage " +
          "numbers carry weather; read the raw runs")
    // the default sidecar name is unique per core count, so a scaling
    // run at another core count keeps the other's record
    val detailsPath = sys.env.getOrElse("SPARK_GRAFT_DETAILS",
      s"BENCH_DETAILS_${Harness.cpus}c.json")
    try
      java.nio.file.Files.write(java.nio.file.Paths.get(detailsPath),
        sidecar(results, warm, stagesJson(grids, _.toString), cJson, c2Json,
          contended, pinsJson, sfDir)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch {
      case e: Throwable =>
        System.err.println(s"[bench] could not write sidecar " +
          s"$detailsPath: ${e.getMessage}")
    }
    println(headline(results, stagesJson(grids, f3), cJson, c2Json,
      contended, pinsJson, detailsPath, sfDir))
    spark.stop()
  }
}
