package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.StringToColumn
import graft.functions.{TextExprs => T, TextSql => TS}

/** Data-SELECTION operators — the "which documents are worth training
  * on" family that sits between cleaning (x2/x27/x36) and mixing
  * (x25/x54) in a large-scale training-data pipeline:
  *
  *  - x73: DSIR importance weights (Xie et al. 2023, "Data Selection
  *    for Language Models via Importance Resampling") — hashed-n-gram
  *    bucket distributions for a target (reference) slice vs the raw
  *    pool, per-doc importance weight = Σ log(p_target/p_raw) over the
  *    doc's hashed features.
  *  - x74: trained classifier filtering (the GPT-3/WebText quality-
  *    classifier pattern, with the fastText stand-in being add-one
  *    multinomial Naive Bayes) — train on the deterministic x59 train
  *    split, score every held-out doc, argmax class.
  *
  * Integer discipline: every ln() result is rounded to micro-nats
  * (×1e6, the cross-engine ulp guard) ON THE MODEL TABLE — which is
  * bucket-count- or vocabulary-sized, never corpus-sized — so all
  * corpus-side sums are EXACT long arithmetic and the oracle is
  * hash-exact regardless of aggregation order.
  *
  * Scale shape (both): model tables ride broadcast joins (B=64 buckets
  * for x73; classes × vocab for x74); the corpus side is one explode +
  * one per-doc aggregation — a single exchange, partial-aggregated
  * map-side. Nothing corpus-sized is ever collected or shuffled twice.
  */
object SelectOps {

  /** DSIR hashed-feature bucket count (power of two; production DSIR
    * uses 10k buckets — the knob only changes the broadcast row count). */
  private[graft] val B = 64

  private def bucketSql(term: String): String =
    s"${TS.md5Long(term)} % $B"

  /** The hashed-feature bucket stream of a documents frame. */
  private[graft] def bucketed(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs.select($"doc_id", explode(T.wsTokens(lower($"text"))).as("w"))
      .select($"doc_id", (T.md5Long($"w") % B).as("b"))

  /** The DSIR model state over an already-bucketed frame: per-bucket
    * token counts for the target slice (doc_id % 10 == 0) and the raw
    * pool, B rows total (lets x73 share one tokenize+hash pass between
    * the model build and the probe). */
  private[graft] def dsirCountsOf(bk: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    bk.groupBy($"b").agg(
      sum(when($"doc_id" % 10 === 0, 1L).otherwise(0L)).as("ct"),
      sum(when($"doc_id" % 10 =!= 0, 1L).otherwise(0L)).as("cr"))

  val qs: Map[String, Q] = Map(
    // ----- x73 DSIR importance weights: bucket every token's 48-bit
    // hash into B=64 features, estimate add-one-smoothed bucket
    // distributions for the target slice (doc_id % 10 == 0 — the same
    // reference slice x36's LM trains on) and the raw pool (the rest),
    // integerize the per-bucket log-ratio λ_b to micro-nats, and score
    // each raw doc by Σ λ_b over its token occurrences. keep =
    // weight > 0 (more target-like than pool-like); a production run
    // resamples ∝ exp(weight) — the weight column IS that sufficient
    // statistic. The λ table is B rows and broadcasts; the corpus sees
    // one explode + one doc_id aggregation.
    "x73_dsir_weights" -> Q(
      s"""WITH tk AS (SELECT doc_id,
         |    unnest(${TS.wsTokens("lower(text)")}) AS w FROM documents),
         |bk AS (SELECT doc_id, ${bucketSql("w")} AS b FROM tk),
         |cnt AS (SELECT b,
         |    CAST(sum(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS ct,
         |    CAST(sum(CASE WHEN doc_id % 10 <> 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS cr
         |  FROM bk GROUP BY 1),
         |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS n_t,
         |    CAST(sum(cr) AS BIGINT) AS n_r FROM cnt),
         |lam AS (SELECT bb.b,
         |    CAST(round((ln((coalesce(cnt.ct, 0) + 1.0) / (tot.n_t + $B.0))
         |      - ln((coalesce(cnt.cr, 0) + 1.0) / (tot.n_r + $B.0)))
         |      * 1000000.0) AS BIGINT) AS lam
         |  FROM (SELECT unnest(range(0, $B)) AS b) bb
         |  LEFT JOIN cnt ON bb.b = cnt.b CROSS JOIN tot)
         |SELECT bk.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(sum(lam.lam) AS BIGINT) AS dsir_micro,
         |  CAST(sum(lam.lam) AS BIGINT) > 0 AS keep
         |FROM bk JOIN lam ON bk.b = lam.b
         |WHERE bk.doc_id % 10 <> 0
         |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val docs = Tables.spread(s, dir, "documents")
      // cached: the model build and the scoring probe share one
      // tokenize + md5 pass (the expensive part of both)
      val bk = bucketed(docs).cache()
      // ONE corpus pass for both slice distributions (B-sized result,
      // partial-aggregated map-side) — the shared streamable build
      val cnt = dsirCountsOf(bk)
      val tot = cnt.agg(sum($"ct").as("n_t"), sum($"cr").as("n_r"))
      val lam = s.range(B).select($"id".as("b"))
        .join(cnt, Seq("b"), "left").crossJoin(tot)
        .select($"b",
          round((log((coalesce($"ct", lit(0L)) + lit(1.0)) /
              ($"n_t" + lit(B.toDouble)))
            - log((coalesce($"cr", lit(0L)) + lit(1.0)) /
              ($"n_r" + lit(B.toDouble)))) * lit(1000000.0))
            .cast("long").as("lam"))
      bk.filter($"doc_id" % 10 =!= 0)
        // λ is B rows: broadcast, the raw pool never shuffles before
        // its per-doc rollup
        .join(broadcast(lam), "b")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_tokens"), sum($"lam").as("dsir_micro"))
        .withColumn("keep", $"dsir_micro" > 0L)
        .orderBy($"doc_id")
    },

    // ----- x83 source-divergence matrix: Jensen-Shannon divergence
    // between every source pair's token distributions, measured over
    // the SAME B=64 hashed-feature buckets as x73 (the bounded-state
    // trick: raw-vocabulary JSD needs the open vocab per pair; hashed
    // buckets cap the distribution support at B for ANY corpus, which
    // is how production drift monitors run it). Per-(pair, bucket)
    // contributions integerize to micro-nats BEFORE the sum (the x36
    // ln discipline), so the matrix is hash-exact. Zero-count buckets
    // contribute only through the OTHER side's p·ln(2) term — the
    // dense sources × buckets frame makes that explicit rather than
    // dropping the rows. Scale shape: the corpus sees one explode +
    // one (source, bucket) aggregation; everything after is
    // (sources × B)-sized arithmetic.
    "x83_source_divergence" -> Q(
      s"""WITH tk AS (SELECT source,
         |    unnest(${TS.wsTokens("lower(text)")}) AS w FROM documents),
         |bk AS (SELECT source, ${bucketSql("w")} AS b FROM tk),
         |cnt AS (SELECT source, b, CAST(count(*) AS BIGINT) AS c
         |  FROM bk GROUP BY 1, 2),
         |tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n
         |  FROM bk GROUP BY 1),
         |dense AS (SELECT tot.source, bb.b, tot.n,
         |    coalesce(cnt.c, 0) AS c
         |  FROM tot CROSS JOIN (SELECT unnest(range(0, $B)) AS b) bb
         |  LEFT JOIN cnt ON cnt.source = tot.source AND cnt.b = bb.b),
         |pr AS (SELECT a.source AS s1, x.source AS s2, a.b,
         |    a.c * 1.0 / a.n AS p, x.c * 1.0 / x.n AS q
         |  FROM dense a JOIN dense x
         |    ON a.b = x.b AND a.source < x.source),
         |ct AS (SELECT s1, s2,
         |    (CASE WHEN p > 0 THEN CAST(round(500000.0 * p *
         |      ln(2.0 * p / (p + q))) AS BIGINT) ELSE 0 END)
         |    + (CASE WHEN q > 0 THEN CAST(round(500000.0 * q *
         |      ln(2.0 * q / (p + q))) AS BIGINT) ELSE 0 END) AS t
         |  FROM pr)
         |SELECT s1, s2, CAST(sum(t) AS BIGINT) AS jsd_micro
         |FROM ct GROUP BY 1, 2 ORDER BY s1, s2""".stripMargin) {
      (s, dir) =>
        val bk = Tables.spread(s, dir, "documents")
          .select($"source", explode(T.wsTokens(lower($"text"))).as("w"))
          .select($"source", (T.md5Long($"w") % B).as("b"))
        val cnt = bk.groupBy($"source", $"b").agg(count(lit(1)).as("c"))
        val tot = bk.groupBy($"source").agg(count(lit(1)).as("n"))
        val dense = tot.crossJoin(s.range(B).select($"id".as("b")))
          .join(cnt, Seq("source", "b"), "left")
          .select($"source", $"b", $"n",
            coalesce($"c", lit(0L)).as("c"))
        val pr = dense.select($"source".as("s1"), $"b",
            ($"c" * lit(1.0) / $"n").as("p"))
          .join(dense.select($"source".as("s2"), $"b".as("b2"),
            ($"c" * lit(1.0) / $"n").as("q")),
            $"b" === $"b2" && $"s1" < $"s2")
        val t =
          when($"p" > 0, round(lit(500000.0) * $"p" *
            log(lit(2.0) * $"p" / ($"p" + $"q"))).cast("long"))
            .otherwise(0L) +
          when($"q" > 0, round(lit(500000.0) * $"q" *
            log(lit(2.0) * $"q" / ($"p" + $"q"))).cast("long"))
            .otherwise(0L)
        pr.select($"s1", $"s2", t.as("t"))
          .groupBy($"s1", $"s2").agg(sum($"t").as("jsd_micro"))
          .orderBy($"s1", $"s2")
    },

    // ----- x74 trained-classifier filtering: add-one multinomial
    // Naive Bayes over whitespace tokens, trained on the x59
    // deterministic train split (md5 bucket < 80), predicting `lang`;
    // every held-out doc scores all classes (prior + Σ token
    // log-likelihoods, unseen tokens back off to the class's add-one
    // floor) and takes the argmax (score DESC, class ASC — the x14
    // round-before-rank discipline, with scores exact longs so the
    // argmax is engine-identical). The learned x3 twin: x3 is the
    // n-gram heuristic, x74 the trained model a production pipeline
    // fits on labeled data. Model tables (class × vocab likelihoods,
    // class priors/floors) are vocabulary-sized and broadcast; the
    // corpus side is one explode × |classes| + one (doc, class)
    // aggregation sharing its exchange with the argmax window.
    "x74_nb_classifier" -> Q(
      s"""WITH tk AS (SELECT doc_id, lang,
         |    ${TS.wsTokens("lower(text)")} AS tk,
         |    ${TS.md5Long("CAST(doc_id AS VARCHAR) || '_split'")} % 100
         |      < 80 AS tr
         |  FROM documents),
         |trw AS (SELECT lang, unnest(tk) AS w FROM tk WHERE tr),
         |cls AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_tok
         |  FROM trw GROUP BY 1),
         |pri AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
         |  FROM tk WHERE tr GROUP BY 1),
         |gl AS (SELECT (SELECT count(*) FROM tk WHERE tr) AS nd,
         |    (SELECT count(*) FROM cls) AS nc,
         |    (SELECT count(DISTINCT w) FROM trw) AS v),
         |lam AS (SELECT trw.lang, w, CAST(round(ln((count(*) + 1.0) /
         |      (any_value(cls.n_tok) + any_value(gl.v))) * 1000000.0)
         |      AS BIGINT) AS lam
         |  FROM trw JOIN cls ON trw.lang = cls.lang CROSS JOIN gl
         |  GROUP BY 1, 2),
         |l0 AS (SELECT cls.lang,
         |    CAST(round(ln(1.0 / (cls.n_tok + gl.v)) * 1000000.0)
         |      AS BIGINT) AS l0,
         |    CAST(round(ln((pri.n_docs + 1.0) / (gl.nd + gl.nc))
         |      * 1000000.0) AS BIGINT) AS prior
         |  FROM cls JOIN pri ON cls.lang = pri.lang CROSS JOIN gl),
         |tew AS (SELECT doc_id, lang AS actual, unnest(tk) AS w
         |  FROM tk WHERE NOT tr AND len(tk) > 0),
         |scr AS (SELECT tew.doc_id, any_value(tew.actual) AS actual,
         |    l0.lang AS cand,
         |    any_value(l0.prior)
         |      + CAST(sum(coalesce(lam.lam, l0.l0)) AS BIGINT) AS score
         |  FROM tew CROSS JOIN l0
         |  LEFT JOIN lam ON lam.lang = l0.lang AND lam.w = tew.w
         |  GROUP BY tew.doc_id, l0.lang),
         |rk AS (SELECT doc_id, actual, cand, score, row_number() OVER (
         |    PARTITION BY doc_id ORDER BY score DESC, cand) AS rn
         |  FROM scr)
         |SELECT doc_id, actual, cand AS pred, score AS score_micro,
         |  cand = actual AS correct
         |FROM rk WHERE rn = 1 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val tk = Tables.spread(s, dir, "documents")
        .select($"doc_id", $"lang", T.wsTokens(lower($"text")).as("tk"),
          (T.md5Long(concat($"doc_id".cast("string"), lit("_split")))
            % 100 < 80).as("tr"))
      val trw = tk.filter($"tr").select($"lang", explode($"tk").as("w"))
      val cls = trw.groupBy($"lang").agg(count(lit(1)).as("n_tok"))
      val pri = tk.filter($"tr").groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"))
      val gl = tk.filter($"tr").agg(count(lit(1)).as("nd"))
        .crossJoin(cls.agg(count(lit(1)).as("nc")))
        .crossJoin(trw.agg(countDistinct($"w").as("v")))
      // class × vocab likelihood table — micro-nat longs, broadcastable
      val lam = trw.groupBy($"lang", $"w").agg(count(lit(1)).as("cnt"))
        .join(cls, "lang").crossJoin(gl)
        .select($"lang", $"w",
          round(log(($"cnt" + lit(1.0)) / ($"n_tok" + $"v"))
            * lit(1000000.0)).cast("long").as("lam"))
      // per-class add-one floor (unseen tokens) + log prior
      val l0 = cls.join(pri, "lang").crossJoin(gl)
        .select($"lang",
          round(log(lit(1.0) / ($"n_tok" + $"v")) * lit(1000000.0))
            .cast("long").as("l0"),
          round(log(($"n_docs" + lit(1.0)) / ($"nd" + $"nc"))
            * lit(1000000.0)).cast("long").as("prior"))
      val tew = tk.filter(!$"tr" && size($"tk") > 0)
        .select($"doc_id", $"lang".as("actual"), explode($"tk").as("w"))
      val scr = tew
        // |classes| rows: broadcast fan-out, then the vocab-sized
        // likelihood table broadcasts too — corpus side unshuffled
        // until the (doc, class) rollup
        .crossJoin(broadcast(l0))
        .join(broadcast(lam.withColumnRenamed("lang", "llang")
          .withColumnRenamed("w", "lw")),
          $"lang" === $"llang" && $"w" === $"lw", "left")
        .groupBy($"doc_id", $"lang")
        .agg(first($"actual").as("actual"),
          (first($"prior") + sum(coalesce($"lam", $"l0"))).as("score"))
        .withColumnRenamed("lang", "cand")
      scr.withColumn("rn", row_number().over(Window.partitionBy($"doc_id")
          .orderBy($"score".desc, $"cand")))
        .filter($"rn" === 1)
        .select($"doc_id", $"actual", $"cand".as("pred"),
          $"score".as("score_micro"), ($"cand" === $"actual").as("correct"))
        .orderBy($"doc_id")
    })
}
