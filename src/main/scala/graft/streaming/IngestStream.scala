package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.StringToColumn
import graft.functions.{TextExprs => T}

/** Streaming training-data ingest — the BASELINE "Structured Streaming
  * ingestion" path as one composed pipeline: quality scoring -> gate ->
  * content fingerprint -> exact dedup -> idempotent keyed sink. Every
  * stage is the streaming form of an oracle-checked batch operator
  * (x2 quality metrics, x4 fingerprint, x5 exact dedup), built from
  * the same column expressions, so batch and stream can't drift.
  *
  * Scale shape: scoring/gating/fingerprinting are stateless codegen'd
  * projections (no shuffle, no state); the only stateful operator is
  * the dedup, whose state is bounded by the watermark horizon — at
  * 100 TB/day the store holds one horizon's content keys, not the
  * stream's history. The sink appends via the exactly-once file-sink
  * protocol (or a [[graft.store.Store]] write through foreachBatch).
  */
object IngestStream {

  /** Acceptance gates (the x2/x27 filter pipeline, streaming form).
    * `repetition` additionally applies the x88 character-coverage
    * gates (most-common-2-gram char share, duplicated-n-gram char
    * coverage) via the SAME `TextOps.withCoverage` definition the
    * batch registry query runs — stateless per-row folds, zero state
    * and zero shuffle in-stream. */
  final case class Gates(
      minTokens: Int = 5,
      minAlphaRatio: Double = 0.4,
      maxStopRatio: Double = 0.8,
      repetition: Boolean = false)

  /** Optional decontamination stage: a bloom of reference (benchmark)
    * keys, probed per document on the PrefK-token prefix key — the
    * streaming twin of batch `x31_decontam_bloom`. The filter is a
    * stateless codegen projection (the bit array rides the task
    * closure), so it adds zero state and zero shuffle to the stream.
    * Streams trade the batch path's exact confirm join for the bloom's
    * fp rate (~0.24% at 16 bits/key): a false positive drops a clean
    * doc, never admits a contaminated one — the safe direction for
    * training data. Build the bits once per reference-list version
    * with [[contaminationBloom]].
    */
  final case class Decontam(bits: Array[Long], prefK: Int = 4)

  /** Build the decontamination bloom from a batch frame of reference
    * texts (one distributed aggregate over the SMALL side). */
  def contaminationBloom(refTexts: DataFrame, prefK: Int = 4)
      : Array[Long] = {
    val key = array_join(slice(T.wsTokens(col("text")), 1, prefK), " ")
    // cache around the two actions (sizing count + bloom aggregate) so
    // the tokenize + distinct shuffle runs once, not twice per build
    val ref = refTexts.select(key.as("p")).distinct().cache()
    try
      ref.select(graft.functions.Bloom.agg(
          graft.functions.Bloom.wordsFor(ref.count()))(T.md5Long(col("p"))))
        .head().getSeq[Long](0).toArray
    finally ref.unpersist()
  }

  /** LM-quality gate (streaming form of batch `x36_lm_quality`): an
    * add-one bigram LM trained batch-side on a reference corpus, with
    * docs below `minScore` mean log-prob dropped in-stream. The model
    * rides the plan as vocabulary-sized literal maps and the score is
    * one `aggregate` fold over the doc's bigrams — zero state, zero
    * shuffle, exactly like a KenLM artifact broadcast to scorer nodes.
    * Literal maps share the IVF-literal ceiling; past ~10^5 vocab
    * entries swap in the broadcast + mapPartitions scoring shape the
    * ML pipelines use (MlOps M3) — a packaging change, not a plan
    * change. */
  final case class LmGate(lp: Map[String, Double], cw: Map[String, Long],
      vocab: Long, minScore: Double = -7.0)

  /** Train the gate's bigram tables from a batch reference frame
    * (`text` column). Collects are vocabulary-squared-bounded — the
    * LM, like the bloom, is a small artifact built from the SMALL
    * side. Log-probs round at 6 like x36. */
  def lmGate(refDocs: DataFrame, minScore: Double = -7.0): LmGate = {
    val bg = refDocs
      .select(T.wsTokens(lower(col("text"))).as("tk"))
      .select(explode(T.bigramPairs(col("tk"))).as("b"))
      .select(col("b.w1"), col("b.w2"))
    val counts = bg.groupBy(col("w1"), col("w2")).count().collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
    require(counts.nonEmpty,
      "LM gate needs a reference corpus with at least one bigram")
    val cw = counts.groupBy(_._1._1).map { case (w1, xs) =>
      w1 -> xs.map(_._2).sum
    }
    val v = counts.map(_._1._2).distinct.length.toLong
    val lp = counts.map { case ((w1, w2), c) =>
      s"$w1 $w2" -> BigDecimal(math.log((c + 1.0) / (cw(w1) + v)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toMap
    LmGate(lp, cw, v, minScore)
  }

  /** Transform a streaming (doc_id, ts, text) frame into the gated,
    * deduplicated, quality-annotated training stream. */
  def ingest(docs: DataFrame, gates: Gates = Gates(),
      watermark: String = "10 minutes",
      decontam: Option[Decontam] = None,
      lm: Option[LmGate] = None): DataFrame = {
    // the x2 gates score RAW-case tokens (batch x2's exact convention:
    // stopwords are lowercase literals, so 'The' does NOT count as a
    // stopword) rounded at 6; the x88/x36 stages below need LOWERED
    // tokens (their batch twins tokenize lower(text)). One regex pass:
    // tokenize raw, then per-element lower — lowercasing never creates
    // or removes whitespace, so the two commute
    val scored = docs
      .withColumn("tkr", T.wsTokens($"text"))
      .withColumn("n_tokens", size($"tkr").cast("long"))
      .withColumn("stop_ratio", round(
        size(filter($"tkr", w =>
          w.isin(graft.queries.TextOps.Stopwords: _*))).cast("double") /
          greatest($"n_tokens", lit(1L)), 6))
      .withColumn("alpha_ratio", round(
        length(regexp_replace(lower($"text"), "[^a-z]", "")).cast("double") /
          greatest(length($"text"), lit(1)), 6))
      .withColumn("content_key", T.md5Long($"text"))
    val qualityGated = scored
      .filter($"n_tokens" >= gates.minTokens &&
        $"alpha_ratio" >= gates.minAlphaRatio &&
        $"stop_ratio" <= gates.maxStopRatio)
      .withColumn("tk", transform($"tkr", w => lower(w)))
      .drop("tkr")
    // x88 repetition gate: reuses the lowered tk column (batch x88
    // tokenizes lower(text)); the coverage math is in-array, so the
    // stage stays a stateless shuffle-free projection like every other
    // gate here
    val gated = if (!gates.repetition) qualityGated
      else graft.queries.TextOps.withCoverage(qualityGated)
        .filter($"rep_keep")
        .drop("chars", "top2_ppm", "dupn_ppm", "rep_keep")
    // the tokenized column computed for the quality gates rides through
    // the LM stage (re-tokenizing the full text per stage is the kind
    // of repeated regex work that adds up at 100 TB/day) and drops just
    // before the sink
    val lmGated = lm.fold(gated) { m =>
      val bg = T.bigrams($"tk") // guarded: empty for <2-token docs
      val lpMap = typedLit(m.lp)
      val cwMap = typedLit(m.cw)
      // seen bigram: precomputed rounded log-prob; unseen: add-one
      // backoff against the head word's continuation count
      val termLp = (b: Column) => coalesce(element_at(lpMap, b),
        round(log(lit(1.0) / // unseen bigram: count 0, numerator 0+1
          (coalesce(element_at(cwMap, substring_index(b, " ", 1)),
            lit(0L)) + m.vocab)), 6))
      val score = round(
        aggregate(bg, lit(0.0), (acc, b) => acc + termLp(b)) /
          greatest(size(bg), lit(1)), 4)
      gated.withColumn("lm_score", score)
        .filter($"n_tokens" >= 2 && $"lm_score" >= m.minScore)
    }
    val cleaned = decontam.fold(lmGated) { d =>
      // decontam keys on RAW-case tokens (x31's convention, matching
      // the bloom built by contaminationBloom) — not the lowered tk
      lmGated.filter(!graft.functions.Bloom.mightContain(d.bits,
        T.md5Long(array_join(slice(T.wsTokens($"text"), 1, d.prefK), " "))))
    }
    cleaned
      .drop("tk")
      // deterministic split assignment at ingest (batch x59's
      // convention, the SAME T.splitOf definition): reproducible
      // across re-ingests, engines, and partitionings, so eval
      // membership is stable no matter when a doc arrived
      .withColumn("split", T.splitOf($"doc_id"))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("content_key")
  }

  /** Start the ingest into the exactly-once parquet file sink. */
  def start(docs: DataFrame, path: String, checkpoint: String,
      gates: Gates = Gates(), watermark: String = "10 minutes")
      : StreamingQuery =
    ingest(docs, gates, watermark).writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
}
