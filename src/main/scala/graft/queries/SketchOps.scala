package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.StringToColumn
import graft.functions.{TextExprs => T, TextSql => TS}

/** Sketch-based frequency estimation: a count-min sketch over the corpus
  * token stream (x64) — the fixed-memory frequency estimator a 100 TB
  * pipeline uses where an exact per-term count is too wide to hold
  * (heavy-hitter detection, frequency-capped filtering, join-size hints).
  *
  * The sketch build IS a declarative aggregation: hashing each token into
  * its D=4 row buckets and `groupBy(j, bucket).count` is exactly the CMS
  * update rule, and Spark's partial aggregation is exactly the CMS merge
  * (counter matrices add cell-wise) — so the build shuffles only the
  * FIXED D×W counter matrix per map partition (256 cells here), never
  * the token stream. Estimation is `min_j counter[j][h_j(t)]`: the D×W
  * matrix broadcasts and each candidate probes it map-side. The classic
  * CMS guarantee (est ≥ true; overshoot ≤ εN with prob 1-δ, ε = e/W,
  * δ = e^-D) is pinned in `SketchSpec` and visible in the output's
  * `overcount` column (the testdata corpus is small enough to afford the
  * exact-count comparison column; at scale that column is the sketch's
  * raison d'être and would be dropped).
  *
  * Hash family: h_j(t) = md5Long(j ‖ ':' ‖ t) mod W — the same 48-bit
  * md5-prefix integer every other operator uses, so the oracle replays
  * the bucket assignment bit-for-bit.
  */
object SketchOps {

  /** CMS geometry: D hash rows × W buckets. W=128 on the ~31-term
    * testdata vocab leaves a couple of visible collisions (overcount>0)
    * while keeping the ranking informative; a production corpus sizes
    * W ≈ e/ε for the tolerated εN overshoot. */
  private[graft] val D = 4
  private[graft] val W = 128

  // NB the hash-row column is `d`, NOT `j`: TextSql.md5Long's internal
  // list_transform lambda binds a variable named `j`, and DuckDB resolves
  // an outer column of the same name into the lambda body (capture), which
  // silently corrupts every bucket.
  private def bucketSql(d: String, term: String): String =
    s"${TS.md5Long(s"CAST($d AS VARCHAR) || ':' || $term")} % $W"

  /** The corpus token stream of a documents frame. */
  private[graft] def tokensOf(docs: org.apache.spark.sql.DataFrame) =
    docs.select(explode(regexp_extract_all(lower($"text"),
      lit("[a-z]+"), lit(0))).as("w"))

  /** The CMS counter build over a token frame (x64): the groupBy
    * result IS the D×W matrix. */
  private[graft] def cmsCounters(toks: org.apache.spark.sql.DataFrame) = {
    val bucket = T.md5Long(concat($"d".cast("string"), lit(":"), $"w")).%(W)
    toks
      .select($"w", explode(sequence(lit(0), lit(D - 1))).as("d"))
      .select($"d", bucket.as("b"))
      .groupBy($"d", $"b").agg(count(lit(1)).as("c"))
  }

  /** HLL geometry: m = 2^8 registers; the md5Long hash splits into an
    * 8-bit bucket and a 40-bit pattern whose leading-zero count feeds
    * the register. α_m for m = 256, computed driver-side ONCE and
    * interpolated into both engines as the same double literal. */
  private[graft] val HllM = 256
  private val HllAlphaM2: Double = 0.7213 / (1.0 + 1.079 / HllM) *
    HllM.toDouble * HllM.toDouble

  /** rho = position of the highest set bit from the 40-bit pattern's
    * MSB, i.e. 41 - bitlength(rest) (rest = 0 -> 41). An integer CASE
    * ladder in BOTH engines — no float log2, whose boundary rounding
    * could disagree at exact powers of two. */
  private def rhoCol(rest: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    (1 to 40).foldRight(lit(41): org.apache.spark.sql.Column) {
      case (r, acc) => when(rest >= lit(1L << (40 - r)), lit(r))
        .otherwise(acc)
    }
  private def rhoSql(rest: String): String =
    (1 to 40).map(r => s"WHEN $rest >= ${1L << (40 - r)} THEN $r")
      .mkString("CASE ", " ", " ELSE 41 END")

  /** The HLL register table of a token frame, per group: ≤ m rows per
    * group key, built as ONE declarative max-aggregation (partial agg
    * = HLL merge — register maxes combine cell-wise map-side, the
    * token stream never shuffles). Shared by x90 and x96. */
  private[graft] def hllRegistersBy(toks: org.apache.spark.sql.DataFrame,
      keys: Seq[String]): org.apache.spark.sql.DataFrame = {
    val kc = keys.map(col)
    toks.select(kc :+ T.md5Long($"w").as("h"): _*)
      .select(kc :+ ($"h" % HllM).as("bucket") :+
        expr(s"h div $HllM").as("rest"): _*)
      .select(kc :+ $"bucket" :+ rhoCol($"rest").as("rho"): _*)
      .groupBy((keys :+ "bucket").map(col): _*).agg(max($"rho").as("r"))
  }

  /** Global (ungrouped) register table — x90's shape. */
  private[graft] def hllRegisters(toks: org.apache.spark.sql.DataFrame) =
    hllRegistersBy(toks, Seq.empty)

  /** Flajolet et al. estimate from a register table, per group:
    * harmonic-mean raw estimate (the 2^-r sum is a sum of dyadic
    * rationals — EXACT in double, engine-identical) with the
    * linear-counting small-range correction. One row per group:
    * (keys..., occupied, zeros, hll_est). */
  private[graft] def hllEstimateBy(
      registers: org.apache.spark.sql.DataFrame, keys: Seq[String])
      : org.apache.spark.sql.DataFrame = {
    val kc = keys.map(col)
    val g = if (keys.isEmpty) registers.groupBy()
      else registers.groupBy(kc: _*)
    g.agg(count(lit(1)).as("occupied"),
        sum(pow(lit(2.0), -$"r")).as("socc"))
      .select(kc ++ Seq($"occupied",
        (lit(HllM.toLong) - $"occupied").as("zeros"),
        (lit(HllAlphaM2) / ($"socc" + (lit(HllM.toLong) - $"occupied")
          .cast("double"))).as("raw")): _*)
      .select(kc ++ Seq($"occupied", $"zeros",
        round(when($"raw" <= lit(2.5 * HllM) && $"zeros" > 0,
          lit(HllM.toDouble) * log(lit(HllM.toDouble) /
            $"zeros".cast("double")))
          .otherwise($"raw"), 4).as("hll_est")): _*)
  }

  /** Global estimate row — x90's shape. */
  private[graft] def hllEstimate(registers: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    hllEstimateBy(registers, Seq.empty)

  /** KMV (k-minimum-values) geometry: sketch = the K smallest 48-bit
    * content hashes per source. K = 128 → relative error ≈ 1/√(K−1) ≈
    * 8.9 %. Unlike the HLL (x90), KMV sketches close under BOTH union
    * (bottom-K of the merged value sets) and intersection (matching
    * fraction of the merged sketch — Beyer et al.'s unbiased
    * estimator), which is what a cross-source overlap matrix needs.
    * (K−1)·M = 127·2^48 < 2^63, so the estimate divisions stay in
    * exact long arithmetic. */
  private[graft] val KmvK = 128
  private[graft] val KmvM = 281474976710656L // 2^48, md5Long's range

  /** x99's document key: the 48-bit hash of the first-8-token prefix —
    * the SAME content key x57's exact overlap matrix intersects, so
    * the sketch estimate and the exact matrix measure the same
    * quantity (x57 carries real cross-source collisions on this
    * corpus; whole-text hashes don't). */
  private def kmvKeyCol: org.apache.spark.sql.Column =
    T.md5Long(concat_ws(" ", slice(T.wsTokens($"text"), 1, 8)))
  private def kmvKeySql: String =
    TS.md5Long(s"array_to_string((${TS.wsTokens("text")})[1:8], ' ')")

  private[graft] def kmvSketchOf(keyed: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    keyed.toDF("source", "hv").distinct()
      .withColumn("rn", row_number().over(
        Window.partitionBy($"source").orderBy($"hv")))
      .filter($"rn" <= KmvK).select($"source", $"hv")
  }

  /** The full pairwise overlap matrix from a `(source, hv)` key frame —
    * shared by the x99 registry body and SketchSpec (which drives the
    * kc = K estimator branch on a synthetic high-cardinality frame the
    * 25-doc-per-source testdata can't reach). Everything pairwise runs
    * on ≤K-row sketches; only the two `exact` report columns touch the
    * full key frame (dropped at scale). */
  private[graft] def kmvOverlapMatrix(
      keyed: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = keyed.toDF("source", "hv").distinct()
    val sk = kmvSketchOf(h)
    // the source LIST is bounded by schema design (a corpus has tens
    // of sources, not millions) — collect it once and bake the pair
    // frame in as a local relation, so every pairwise join downstream
    // is a broadcast EQUI join (a live s1 < s2 pair join would
    // re-plan as one nested loop per consumer subtree)
    val spark = keyed.sparkSession
    val srcList = h.select($"source").distinct()
      .collect().map(_.getString(0)).sorted
    require(srcList.length <= 10000,
      s"${srcList.length} sources: the pairwise matrix is no longer " +
        "list-sized — aggregate sources before sketching")
    implicit val enc = org.apache.spark.sql.Encoders
      .tuple(org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.STRING)
    val pr = spark.createDataset(
      for { a <- srcList.toIndexedSeq; b <- srcList if a < b }
        yield (a, b)).toDF("s1", "s2")
    def perPair(side: org.apache.spark.sql.DataFrame) =
      pr.join(side.toDF("src", "hv"), $"src" === $"s1")
        .select($"s1", $"s2", $"hv")
        .union(pr.join(side.toDF("src", "hv"), $"src" === $"s2")
          .select($"s1", $"s2", $"hv"))
    val mu = perPair(sk).distinct()
    val msk = mu.withColumn("rn", row_number().over(
        Window.partitionBy($"s1", $"s2").orderBy($"hv")))
      .filter($"rn" <= KmvK).select($"s1", $"s2", $"hv")
    val kth = msk.groupBy($"s1", $"s2")
      .agg(count(lit(1)).as("kc"), max($"hv").as("hk"))
    val both = msk
      .join(sk.toDF("sa", "ha"), $"sa" === $"s1" && $"ha" === $"hv")
      .join(sk.toDF("sb", "hb"), $"sb" === $"s2" && $"hb" === $"hv")
      .groupBy($"s1", $"s2").agg(count(lit(1)).as("m_both"))
    val exu = perPair(h).distinct()
      .groupBy($"s1", $"s2").agg(count(lit(1)).as("n_union_exact"))
    val exi = h.toDF("sa", "ha")
      .join(h.toDF("sb", "hb"), $"ha" === $"hb" && $"sa" < $"sb")
      .groupBy($"sa".as("s1"), $"sb".as("s2"))
      .agg(count(lit(1)).as("n_inter_exact"))
    kth
      .join(both, Seq("s1", "s2"), "left")
      .withColumn("m_both", coalesce($"m_both", lit(0L)))
      .withColumn("union_est", when($"kc" < KmvK, $"kc")
        .otherwise(expr(s"(${KmvK - 1}L * ${KmvM}L) div hk")))
      .join(exu, Seq("s1", "s2"))
      .join(exi, Seq("s1", "s2"), "left")
      .select($"s1", $"s2", $"kc", $"hk", $"m_both", $"union_est",
        expr("(m_both * union_est) div kc").as("inter_est"),
        expr("(m_both * 1000000) div kc").as("jac_ppm"),
        $"n_union_exact",
        coalesce($"n_inter_exact", lit(0L)).as("n_inter_exact"))
  }

  /** Dyadic quantile-sketch bin of a positive long column — the x115
    * update rule. e = floor(log2 n)
    * taken EXACTLY as the bit length of n (`bin()` string length —
    * never floating log, whose ln(8)/ln(2) = 2.999... boundary would
    * split the engines), then one of 8 sub-octave slots via pure
    * integer shift-divide: bin = 8·e + (n·8 div 2^e) − 8. Relative
    * error of the bin lower bound ≤ 1/8; a 48-bit value range needs
    * ≤ 8·48 bins, the fixed memory that makes the sketch a sketch. */
  /** Supported value range: the dyadic geometry is documented for
    * 48-bit values (≤ 8·48 bins); the shift-divide's n·8 would wrap a
    * long at 2^60 and mis-bin silently, so the bound is ENFORCED — a
    * value past it fails the job loudly (exact-integer discipline)
    * instead of landing in the wrong bin. */
  private[graft] val QuantileMaxBits = 48

  private[graft] def quantileBin(n: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    // built entirely from Column expressions (no SQL-string splicing —
    // a spliced column NAME silently re-resolved qualified/backtick
    // names against whatever same-named column was in scope);
    // call_function carries the column-valued shift distance the
    // typed shiftleft() helper can't express
    val e = (length(bin(n)) - lit(1)).cast("int")
    val pow = call_function("shiftleft", lit(1L).cast("bigint"), e)
    val b = e.cast("long") * 8 +
      call_function("div", n * lit(8L), pow) - lit(8L)
    when(assert_true(length(bin(n)) <= lit(QuantileMaxBits),
        lit(s"quantile-sketch value exceeds $QuantileMaxBits bits — " +
          "beyond the dyadic bin table's supported range")).isNull, b)
  }

  /** Per-bin counts — the sketch itself. Mergeable by addition (the
    * map-side partial aggregation IS the merge), so the exchange
    * carries the fixed bin table, never the values — the CMS build's
    * shape. Streamable as an ordinary incremental count aggregation
    * with bin-table-sized state. */
  private[graft] def quantileHist(vals: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    vals.filter($"n" >= 1)
      .select(quantileBin($"n").as("qbin"))
      .groupBy($"qbin").agg(count(lit(1)).as("c"))

  /** The read verb: p50/p90/p99 from a bin histogram. One ordered
    * cumulative walk over the ≤ 8·48-row bin table (the global-order
    * window is single-task by design — it runs on the SKETCH, never
    * the data) picks the first bin whose cumulative count reaches
    * ceil(q·N); the estimate is the bin's exact lower bound ×8, a
    * dyadic integer, so the whole report is integer-exact. */
  private[graft] def quantileReport(
      hist: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tot = hist.agg(sum($"c").as("n_total"))
    val cum = hist.withColumn("cum",
      sum($"c").over(Window.orderBy($"qbin")).cast("long"))
    val targets = tot
      .select(explode(array(lit(50L), lit(90L), lit(99L))).as("q_pct"),
        $"n_total")
      .withColumn("r", ceil($"q_pct" * $"n_total" / 100.0).cast("long"))
    targets.join(cum, $"cum" >= $"r")
      .withColumn("rn", row_number().over(
        Window.partitionBy($"q_pct").orderBy($"qbin")))
      .filter($"rn" === 1)
      .select($"q_pct", $"qbin",
        expr("shiftleft(cast(qbin % 8 + 8 as bigint), " +
          "cast(qbin div 8 as int))").as("est8"),
        $"cum".as("n_le"), $"n_total")
      .orderBy($"q_pct")
  }

  /** x115 body: the sketch over per-document token counts. */
  private[graft] def quantileSketch(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    quantileReport(quantileHist(Tables.spread(s, dir, "documents")
      .select(size(T.wsTokens($"text")).cast("long").as("n"))))

  /** The shared register fold: a batch-partitioned count table whose
    * stored read is an associative, order-free merge (the quality-drift
    * counts of [[TextOps.compactQualityCounts]]) compacts by exactly
    * that merge, MATERIALIZED under the newest folded batch, run through the
    * crash-safe [[graft.store.StagedFold]] (stage → intent marker →
    * move, crashed moves rolled forward; the family horizon then
    * makes below-horizon appends and as-of reads refuse loudly). */
  private[graft] def compactSketchEntity(s: org.apache.spark.sql.SparkSession,
      store: graft.store.Store, family: String, entity: String,
      merge: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame,
      valueCols: Seq[String]): Unit = {
    val ents = Seq(graft.store.FoldEntity(entity, Seq("batch"),
      df => df.withColumn("batch", $"batch".cast("long"))))
    graft.store.StagedFold.rollForward(store, s, family, ents)
    val cur =
      try store.read(entity, s)
      catch {
        case _: org.apache.spark.sql.AnalysisException => return
      }
    // bounded collect: one row per ingested batch
    val batches = cur.select($"batch".cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted
    if (batches.length <= 1) return // already compact
    val into = batches.last
    graft.store.StagedFold.run(store, s, family, Seq(
      ents(0) -> merge(cur)
        .select(lit(into).as("batch") +: valueCols.map(col): _*)),
      horizon = into)
  }

  val qs: Map[String, Q] = Map(
    // ----- x99 cross-source distinct-overlap matrix from KMV sketches:
    // per source keep the K smallest distinct content hashes; per
    // source pair, merge to the union's bottom-K (kc values, k-th
    // minimum hk) and count how many merged values sit in BOTH input
    // sketches (m_both). Estimates are exact long arithmetic:
    // union ≈ (K−1)·M div hk (or exactly kc when the union fits the
    // sketch — then m_both is the exact intersection too),
    // intersection ≈ m_both·union div kc, Jaccard in ppm. The exact
    // counts ride along as the accuracy report (dropped at scale —
    // the sketch's whole point is never holding the distinct sets).
    // Scale shape: the corpus is touched ONCE (distinct + one window
    // per source); everything pairwise happens on ≤K-row sketches —
    // an S-source overlap matrix costs S²·K tiny rows, not S² corpus
    // scans (contrast x57, which intersects the real key sets).
    // ----- x115 mergeable quantile sketch (see [[quantileSketch]]):
    // the missing member of the sketch family — CMS answers frequency,
    // HLL/KMV cardinality, this answers "what is p50/p90/p99 of a
    // value across 100 TB" in fixed memory. DDSketch-flavored dyadic
    // bins with every boundary computed in EXACT integer arithmetic
    // (bit-length + shifts, never floating log, whose ln(8)/ln(2) =
    // 2.999... boundary would split the engines). The oracle replays
    // the binning, the cumulative walk, and the rank targets.
    "x115_quantile_sketch" -> Q(
      s"""WITH zv AS (SELECT CAST(len(${TS.wsTokens("text")}) AS BIGINT)
         |    AS n FROM documents),
         |zp AS (SELECT n, CAST(length(printf('%b', n)) - 1 AS BIGINT)
         |    AS e FROM zv WHERE n >= 1),
         |zb AS (SELECT e * 8 +
         |    ((n * 8) // (1::BIGINT << CAST(e AS INT))) - 8 AS qbin
         |  FROM zp),
         |zh AS (SELECT qbin, CAST(count(*) AS BIGINT) AS c FROM zb
         |  GROUP BY 1),
         |zt AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM zh),
         |zc AS (SELECT qbin, CAST(sum(c) OVER (ORDER BY qbin)
         |    AS BIGINT) AS cum FROM zh),
         |zq AS (SELECT unnest([50, 90, 99]) AS q_pct),
         |zr AS (SELECT CAST(q_pct AS BIGINT) AS q_pct,
         |    CAST(ceil(q_pct * n_total / 100.0) AS BIGINT) AS r,
         |    n_total FROM zq CROSS JOIN zt),
         |zs AS (SELECT q_pct, qbin, cum, n_total, row_number() OVER (
         |    PARTITION BY q_pct ORDER BY qbin) AS rn
         |  FROM zr JOIN zc ON cum >= r)
         |SELECT q_pct, qbin,
         |  ((qbin % 8 + 8) << CAST(qbin // 8 AS INT)) AS est8,
         |  cum AS n_le, n_total
         |FROM zs WHERE rn = 1 ORDER BY q_pct""".stripMargin) {
      (s, dir) => quantileSketch(s, dir)
    },

    "x99_kmv_overlap" -> Q(
      s"""WITH h AS (SELECT DISTINCT source, $kmvKeySql AS hv
         |  FROM documents),
         |sk AS (SELECT source, hv FROM (
         |    SELECT source, hv, row_number() OVER (PARTITION BY source
         |      ORDER BY hv) AS rn FROM h) WHERE rn <= $KmvK),
         |pr AS (SELECT a.source AS s1, b.source AS s2
         |  FROM (SELECT DISTINCT source FROM documents) a
         |  JOIN (SELECT DISTINCT source FROM documents) b
         |    ON a.source < b.source),
         |mu AS (SELECT DISTINCT s1, s2, hv FROM (
         |    SELECT p.s1, p.s2, k.hv FROM pr p JOIN sk k
         |      ON k.source = p.s1
         |    UNION ALL SELECT p.s1, p.s2, k.hv FROM pr p JOIN sk k
         |      ON k.source = p.s2)),
         |msk AS (SELECT s1, s2, hv FROM (
         |    SELECT s1, s2, hv, row_number() OVER (PARTITION BY s1, s2
         |      ORDER BY hv) AS rn FROM mu) WHERE rn <= $KmvK),
         |kth AS (SELECT s1, s2, CAST(count(*) AS BIGINT) AS kc,
         |    max(hv) AS hk FROM msk GROUP BY 1, 2),
         |bo AS (SELECT m.s1, m.s2, CAST(count(*) AS BIGINT) AS m_both
         |  FROM msk m JOIN sk a ON a.source = m.s1 AND a.hv = m.hv
         |  JOIN sk b ON b.source = m.s2 AND b.hv = m.hv
         |  GROUP BY 1, 2),
         |exu AS (SELECT s1, s2, CAST(count(*) AS BIGINT)
         |    AS n_union_exact FROM (
         |    SELECT DISTINCT s1, s2, hv FROM (
         |      SELECT p.s1, p.s2, q.hv FROM pr p JOIN h q
         |        ON q.source = p.s1
         |      UNION ALL SELECT p.s1, p.s2, q.hv FROM pr p JOIN h q
         |        ON q.source = p.s2)) GROUP BY 1, 2),
         |exi AS (SELECT a.source AS s1, b.source AS s2,
         |    CAST(count(*) AS BIGINT) AS n_inter_exact
         |  FROM h a JOIN h b ON a.hv = b.hv AND a.source < b.source
         |  GROUP BY 1, 2),
         |est AS (SELECT k.s1, k.s2, k.kc, k.hk,
         |    COALESCE(bo.m_both, 0) AS m_both,
         |    CASE WHEN k.kc < $KmvK THEN k.kc
         |      ELSE (${KmvK - 1} * $KmvM) // k.hk END AS union_est
         |  FROM kth k LEFT JOIN bo ON k.s1 = bo.s1 AND k.s2 = bo.s2)
         |SELECT e.s1, e.s2, e.kc, e.hk, e.m_both,
         |  CAST(e.union_est AS BIGINT) AS union_est,
         |  CAST((e.m_both * e.union_est) // e.kc AS BIGINT)
         |    AS inter_est,
         |  CAST((e.m_both * 1000000) // e.kc AS BIGINT) AS jac_ppm,
         |  exu.n_union_exact, COALESCE(exi.n_inter_exact, 0)
         |    AS n_inter_exact
         |FROM est e JOIN exu ON e.s1 = exu.s1 AND e.s2 = exu.s2
         |LEFT JOIN exi ON e.s1 = exi.s1 AND e.s2 = exi.s2
         |ORDER BY e.s1, e.s2""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      kmvOverlapMatrix(docs.select($"source", kmvKeyCol.as("hv")))
        .orderBy($"s1", $"s2")
    },

    // ----- x90 HyperLogLog distinct count, oracle-replayable: the
    // md5 hash splits bucket/pattern, rho is an integer CASE ladder,
    // the register table is one ≤m-row max-aggregation, and the
    // harmonic-mean + linear-counting estimate uses only
    // engine-exact float ops (dyadic sums, one ln, round 4). The
    // oracle replays registers AND estimate; the exact count rides
    // along as the accuracy report.
    "x90_hll_distinct" -> Q(
      s"""WITH t AS (SELECT unnest(regexp_extract_all(lower(text),
         |    '[a-z]+')) AS w FROM documents),
         |h AS (SELECT ${TS.md5Long("w")} AS h FROM t),
         |b AS (SELECT h % $HllM AS bucket, h // $HllM AS rest FROM h),
         |r AS (SELECT bucket, max(${rhoSql("rest")}) AS r
         |  FROM b GROUP BY 1),
         |a AS (SELECT CAST(count(*) AS BIGINT) AS occupied,
         |    sum(power(2.0, -r)) AS socc FROM r),
         |e AS (SELECT occupied, $HllM - occupied AS zeros,
         |    $HllAlphaM2 / (socc + ($HllM - occupied)) AS raw FROM a),
         |x AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS n_exact
         |  FROM t)
         |SELECT n_exact, occupied, CAST(zeros AS BIGINT) AS zeros,
         |  round(CASE WHEN raw <= ${2.5 * HllM} AND zeros > 0
         |    THEN $HllM * ln($HllM.0 / zeros) ELSE raw END, 4)
         |    AS hll_est
         |FROM x CROSS JOIN e""".stripMargin) { (s, dir) =>
      val toks = tokensOf(Tables.spread(s, dir, "documents"))
      val est = hllEstimate(hllRegisters(toks))
      toks.agg(count_distinct($"w").as("n_exact"))
        .crossJoin(est)
    },

    // ----- x96 grouped HLL: distinct users per event type — the
    // "distinct entities per segment" production query, one ≤m-row
    // register set PER GROUP (a thousand groups cost a thousand
    // 256-row sketches, not a thousand distinct-shuffles of the
    // stream). Same engine-exact estimate as x90, per group; the
    // exact count rides along as the accuracy report.
    "x96_hll_by_group" -> Q(
      s"""WITH t AS (SELECT event_type,
         |    CAST(user_id AS VARCHAR) AS w FROM events),
         |h AS (SELECT event_type, ${TS.md5Long("w")} AS h FROM t),
         |b AS (SELECT event_type, h % $HllM AS bucket,
         |    h // $HllM AS rest FROM h),
         |r AS (SELECT event_type, bucket, max(${rhoSql("rest")}) AS r
         |  FROM b GROUP BY 1, 2),
         |a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS occupied,
         |    sum(power(2.0, -r)) AS socc FROM r GROUP BY 1),
         |e AS (SELECT event_type, occupied, $HllM - occupied AS zeros,
         |    $HllAlphaM2 / (socc + ($HllM - occupied)) AS raw FROM a),
         |x AS (SELECT event_type, CAST(count(DISTINCT w) AS BIGINT)
         |    AS n_exact FROM t GROUP BY 1)
         |SELECT x.event_type, x.n_exact, e.occupied,
         |  CAST(e.zeros AS BIGINT) AS zeros,
         |  round(CASE WHEN raw <= ${2.5 * HllM} AND zeros > 0
         |    THEN $HllM * ln($HllM.0 / zeros) ELSE raw END, 4)
         |    AS hll_est
         |FROM x JOIN e USING (event_type)
         |ORDER BY event_type""".stripMargin) { (s, dir) =>
      val ev = Tables.spread(s, dir, "events")
        .select($"event_type", $"user_id".cast("string").as("w"))
      val est = hllEstimateBy(
        hllRegistersBy(ev, Seq("event_type")), Seq("event_type"))
      ev.groupBy($"event_type")
        .agg(count_distinct($"w").as("n_exact"))
        .join(est, "event_type")
        .orderBy($"event_type")
    },
    // ----- x64 count-min-sketch frequency estimates: build the D×W
    // counter matrix from the token stream, then estimate every vocab
    // term and report est vs exact (overcount = est - true ≥ 0 by
    // construction). Exact-integer counters → hash-exact oracle.
    "x64_cms_counts" -> Q(
      s"""WITH t AS (SELECT unnest(regexp_extract_all(lower(text),
         |    '[a-z]+')) AS w FROM documents),
         |hr AS (SELECT w, unnest(range(0, $D)) AS d FROM t),
         |cnt AS (SELECT d, ${bucketSql("d", "w")} AS b,
         |    CAST(count(*) AS BIGINT) AS c
         |  FROM hr GROUP BY 1, 2),
         |tru AS (SELECT w, CAST(count(*) AS BIGINT) AS true_cnt
         |  FROM t GROUP BY 1),
         |vh AS (SELECT w, d, ${bucketSql("d", "w")} AS b
         |  FROM (SELECT w, unnest(range(0, $D)) AS d FROM tru)),
         |est AS (SELECT w, min(c) AS est FROM vh JOIN cnt USING (d, b)
         |  GROUP BY 1)
         |SELECT w AS term, est, true_cnt, est - true_cnt AS overcount
         |FROM est JOIN tru USING (w) ORDER BY term""".stripMargin) {
      (s, dir) =>
        val toks = tokensOf(Tables.spread(s, dir, "documents"))
        val bucket = T.md5Long(concat($"d".cast("string"), lit(":"), $"w"))
          .%(W)
        // sketch build: fixed 512-cell shuffle, token stream never moves
        val cnt = cmsCounters(toks)
        val tru = toks.groupBy($"w").agg(count(lit(1)).as("true_cnt"))
        val est = tru
          .select($"w", explode(sequence(lit(0), lit(D - 1))).as("d"))
          .select($"w", $"d", bucket.as("b"))
          .join(broadcast(cnt), Seq("d", "b"))
          .groupBy($"w").agg(min($"c").as("est"))
        est.join(tru, Seq("w"))
          .select($"w".as("term"), $"est", $"true_cnt",
            ($"est" - $"true_cnt").as("overcount"))
          .orderBy($"term")
    })
}
