package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.StringToColumn

/** Event-stream operators over the `events` table, run in batch mode
  * with exact DuckDB oracles.
  *
  * Scale notes: e1 is a single shuffle on (window, event_type) with
  * partial aggregation; e2 is a single shuffle on user_id (the window
  * functions and the session rollup share the same partitioning, so
  * Catalyst plans one Exchange).
  */
object EventOps {

  private val GapMicros = 1800000000L // 30 min session gap

  /** Explicit pivot value list (a9): fixed up front so the pivot needs
    * no values-discovery job. */
  private val EventTypes = Seq("view", "click", "purchase", "signup", "error")

  /** x66 graph geometry: co-activity window width (10 min, in micros),
    * minimum shared windows for an edge, and PageRank power-iteration
    * count (each round is one unrolled oracle CTE level). Declared
    * before the qs map — the oracle interpolates at object init. */
  private val CoWinMicros = 600000000L
  private val CoMinShared = 3
  private val PrIters = 3
  private val LpIters = 3

  /** x135 k-core peel: remove nodes whose INDUCED degree is < k,
    * [[KPeelRounds]] synchronous rounds (the bounded-round discipline
    * of x66's 3 power iterations — after R rounds the survivor set is
    * a SUPERSET of the true k-core, shrinking monotonically; at the
    * gate scales R = 5 is observed converged: sf0.01 removes
    * 36/8/3/1/1 then stabilizes). k = 8 sits above the graph's median
    * degree (11.5 at sf0.01) where the peel exposes layers instead of
    * a trivial all-survive/all-die verdict. */
  private val KCoreK = 8
  private val KPeelRounds = 5

  /** x94 burst threshold: τ² for the integerized z² > τ² test (τ = 2
    * — the 2σ alert level; declared before the qs map so the oracle
    * interpolates the real value). */
  private val BurstTau2 = 4

  /** Shared SQL CTEs for the user co-activity graph — `edges(src,
    * dst)` (symmetric) and `deg(src, deg)`. ONE definition for x66
    * (PageRank) and x78 (label propagation), so the two link-analysis
    * operators cannot drift on what the graph IS. */
  private val sqlCoEdgeCtes: String =
    s"""uw AS (SELECT DISTINCT user_id,
       |    epoch_us(ts) // $CoWinMicros AS w FROM events),
       |cp AS (SELECT a.user_id AS u1, b.user_id AS u2
       |  FROM uw a JOIN uw b ON a.w = b.w AND a.user_id < b.user_id
       |  GROUP BY 1, 2 HAVING count(*) >= $CoMinShared),
       |edges AS (SELECT u1 AS src, u2 AS dst FROM cp
       |  UNION ALL SELECT u2, u1 FROM cp),
       |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges
       |  GROUP BY 1)""".stripMargin

  /** Spark twin of [[sqlCoEdgeCtes]]: the symmetric co-activity edge
    * list. Distinct (user, window) first, so pair work scales with
    * window occupancy — never users². */
  private[graft] def coEdges(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val uw = Tables(s, dir, "events")
      .select($"user_id",
        expr(s"unix_micros(ts) div $CoWinMicros").as("w"))
      .distinct()
    val cp = uw.as("a").join(uw.as("b"),
        col("a.w") === col("b.w") &&
          col("a.user_id") < col("b.user_id"))
      .groupBy(col("a.user_id").as("u1"), col("b.user_id").as("u2"))
      .agg(count(lit(1)).as("shared"))
      .filter($"shared" >= CoMinShared)
      .select($"u1", $"u2")
    cp.union(cp.select($"u2", $"u1")).toDF("src", "dst")
  }

  /** The x66 PageRank loop, parameterized on depth: per round one
    * src-keyed join + one dst-keyed contribution agg in exact integer
    * arithmetic. Iterative DataFrame loops grow the logical plan
    * linearly and the optimizer re-walks it quadratically, so past a
    * handful of rounds the DRIVER becomes the bottleneck — every
    * `checkpointEvery` rounds the rank frame localCheckpoints, which
    * cuts the lineage to a materialized RDD and keeps analysis cost
    * O(checkpoint interval) no matter the depth (the deep-iteration
    * discipline ScaleGuardsSpec pins: checkpointed ranks are
    * bit-identical to the unbroken-lineage loop). */
  private[graft] def pagerank(s: org.apache.spark.sql.SparkSession,
      dir: String, iters: Int, checkpointEvery: Int = 0)
      : org.apache.spark.sql.DataFrame = {
    val edges = coEdges(s, dir)
    val deg = edges.groupBy($"src").agg(count(lit(1)).as("deg"))
    // r14 (guide §2.4/§5): pinned ONCE — the unrolled rounds (and the
    // per-round broadcast builds of the shrinking rank frame)
    // otherwise re-derive the co-activity self-join lineage per
    // reference (measured: the deg broadcast build alone carried
    // 0.9 s of re-derivation at sf0.1). The graph is fixed across
    // rounds; ranks are exact integers, so materialization cannot
    // change a value.
    val ed = edges.join(deg, "src").localCheckpoint(true)
    // the rank seed reads the pinned frame too (every deg src has an
    // edge by construction, so distinct src over ed IS deg's key set)
    var r = ed.select($"src").distinct()
      .select($"src".as("n"), lit(1000000L).as("r"))
    (1 to iters).foreach { i =>
      r = ed.join(r, $"src" === $"n")
        .select($"dst", expr("(85 * r) div (100 * deg)").as("c"))
        .groupBy($"dst").agg(sum($"c").as("s"))
        .select($"dst".as("n"), (lit(150000L) + $"s").as("r"))
      if (checkpointEvery > 0 && i % checkpointEvery == 0 && i < iters)
        r = r.localCheckpoint()
    }
    r
  }

  /** x94's hourly series: a plain per-hour count aggregation, bounded
    * by time cardinality (720 rows/month). */
  private[graft] def hourlyCounts(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    events.groupBy(date_trunc("hour", $"ts").as("h"))
      .agg(count(lit(1)).as("c"))

  /** e10's hourly per-type series: hours × types rows. */
  private[graft] def hourlyTypeCounts(
      events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    events.groupBy(date_trunc("hour", $"ts").as("h"), $"event_type")
      .agg(count(lit(1)).as("n"))

  /** e10's rank read over a maintained hourly-type series. */
  private[graft] def trendingVerdicts(
      hourly: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    hourly
      .withColumn("rn", row_number().over(Window.partitionBy($"h")
        .orderBy($"n".desc, $"event_type")))
      .filter($"rn" <= 3)
      .select(date_format($"h", "yyyy-MM-dd HH:mm:ss").as("h"),
        $"event_type", $"n", $"rn".cast("long").as("rn"))
      .orderBy($"h", $"rn")
  }

  /** x94's trailing-24h integer-exact z-test over an hourly series.
    * z² > τ² rewritten as (24c − S)²·23 > τ²·24·(24Q − S²)
    * with S = Σc, Q = Σc² over the trailing frame: no float
    * mean/stddev to disagree across engines. */
  private[graft] def burstVerdicts(hourly: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tw = Window.orderBy($"h").rowsBetween(-24, -1)
    val dev = lit(24) * $"c" - $"s"
    val lhs = dev * dev * lit(23)
    val rhs = lit(BurstTau2) * lit(24) * (lit(24) * $"q" - $"s" * $"s")
    hourly
      .withColumn("k", count($"c").over(tw))
      .withColumn("s", sum($"c").over(tw))
      .withColumn("q", sum($"c" * $"c").over(tw))
      .filter($"k" === 24)
      .select(date_format($"h", "yyyy-MM-dd HH:mm:ss").as("h"), $"c",
        $"s".as("s24"), lhs.as("lhs"), rhs.as("rhs"),
        (lhs > rhs && lit(24) * $"c" > $"s").as("burst"))
      .orderBy($"h")
  }

  private[graft] val burstOracleSql: String =
    s"""WITH hc AS (SELECT date_trunc('hour', ts) AS h,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM events GROUP BY 1),
       |w AS (SELECT h, c,
       |    count(c) OVER tw AS k,
       |    sum(c) OVER tw AS s,
       |    sum(c * c) OVER tw AS q
       |  FROM hc WINDOW tw AS (ORDER BY h
       |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
       |SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS h, c,
       |  CAST(s AS BIGINT) AS s24,
       |  CAST((24 * c - s) * (24 * c - s) * 23 AS BIGINT) AS lhs,
       |  CAST($BurstTau2 * 24 * (24 * q - s * s) AS BIGINT) AS rhs,
       |  ((24 * c - s) * (24 * c - s) * 23 >
       |      $BurstTau2 * 24 * (24 * q - s * s)
       |    AND 24 * c > s) AS burst
       |FROM w WHERE k = 24 ORDER BY h""".stripMargin

  val qs: Map[String, Q] = Map(
    // ----- x94 event-rate burst detection: per-hour counts against a
    // trailing-24h z-test done ENTIRELY in exact long arithmetic —
    // z² > τ² rewrites as (24c − S)²·23 > τ²·24·(24Q − S²) with
    // S = Σc, Q = Σc² over the trailing frame, so there is no float
    // mean/stddev to disagree across engines (the source-burst /
    // pipeline-stall monitor a production ingest runs beside x83's
    // distribution drift). Scale shape: one map-side-combinable
    // hourly aggregation over the event stream; the window then runs
    // over the HOURLY series — bounded by time cardinality (720 rows
    // per month, a few thousand per year), so the single-partition
    // ordered window is a non-issue at any event volume; partition it
    // by source/tenant when the series itself multiplies.
    "x94_rate_anomaly" -> Q(burstOracleSql) { (s, dir) =>
      burstVerdicts(hourlyCounts(Tables(s, dir, "events")))
    },

    // ----- x66 PageRank power iterations over the user co-activity
    // graph: users are linked when they share >= CoMinShared distinct
    // 10-minute activity windows — the same bounded pair-join shape as
    // the x57 overlap matrix (distinct (user, window) first; pair work
    // scales with window occupancy, never users²). Three damped power
    // iterations in EXACT integer arithmetic: ranks start at 1e6, each
    // round a node keeps 0.15e6 and receives floor(85·r/(100·deg)) per
    // in-edge — no float division anywhere, so the unrolled oracle is
    // engine-identical bit for bit. The result ranks "hub" users (the
    // influence/centrality signal audience analytics derives from
    // co-occurrence). Scale shape: per round one join keyed on src +
    // one contribution agg keyed on dst, both map-side combinable —
    // textbook Pregel message passing as DataFrames; a deep iteration
    // count adds lineage checkpoints every ~10 rounds, and the edge +
    // degree frame builds once and is reused by every round.
    "x66_graph_pagerank" -> Q(
      s"""WITH $sqlCoEdgeCtes,
         |r0 AS (SELECT src AS n, CAST(1000000 AS BIGINT) AS r FROM deg),
         |${(1 to PrIters).map { i =>
          val p = i - 1
          s"""r$i AS (SELECT e.dst AS n,
             |    CAST(150000 + sum((85 * r.r) // (100 * d.deg))
             |      AS BIGINT) AS r
             |  FROM edges e JOIN r$p r ON r.n = e.src
             |  JOIN deg d ON d.src = e.src GROUP BY 1)"""
            .stripMargin
        }.mkString(",\n")}
         |SELECT n AS user_id, r AS pr, CAST(row_number() OVER (
         |    ORDER BY r DESC, n) AS BIGINT) AS rn
         |FROM r$PrIters ORDER BY rn""".stripMargin) { (s, dir) =>
      pagerank(s, dir, PrIters)
        .select($"n".as("user_id"), $"r".as("pr"))
        .withColumn("rn", row_number()
          .over(Window.orderBy($"pr".desc, $"user_id")).cast("long"))
        .orderBy($"rn")
    },

    // ----- x78 label-propagation communities (Raghavan et al.) over
    // the SAME co-activity graph as x66 (one shared edge definition):
    // every node starts as its own community, then LpIters synchronous
    // rounds of "adopt the most frequent neighbor label" with a fully
    // deterministic argmax (count DESC, label ASC — no randomized
    // tie-break, so the unrolled oracle is engine-identical). Scale
    // shape: per round ONE join keyed on src + one (dst, label) count
    // + one per-dst argmax window sharing the count's partitioning —
    // the same Pregel-as-DataFrames economy as x66, no global state,
    // labels are just longs. Deep iteration counts would checkpoint
    // lineage every ~10 rounds like x66's note.
    "x78_label_prop" -> Q(
      s"""WITH $sqlCoEdgeCtes,
         |l0 AS (SELECT src AS n, src AS lbl FROM deg),
         |${(1 to LpIters).map { i =>
          val p = i - 1
          s"""l$i AS (SELECT n, lbl FROM (
             |  SELECT e.dst AS n, l.lbl AS lbl, row_number() OVER (
             |      PARTITION BY e.dst ORDER BY count(*) DESC, l.lbl)
             |      AS rr
             |    FROM edges e JOIN l$p l ON l.n = e.src
             |    GROUP BY e.dst, l.lbl) WHERE rr = 1)""".stripMargin
        }.mkString(",\n")}
         |SELECT l.n AS user_id, l.lbl AS community,
         |  CAST(count(*) OVER (PARTITION BY l.lbl) AS BIGINT)
         |    AS community_size
         |FROM l$LpIters l ORDER BY user_id""".stripMargin) { (s, dir) =>
      val edges = coEdges(s, dir)
      var l = edges.select($"src".as("n"), $"src".as("lbl")).distinct()
      (1 to LpIters).foreach { _ =>
        l = edges.join(l, $"n" === $"src")
          .groupBy($"dst", $"lbl").agg(count(lit(1)).as("c"))
          .withColumn("rr", row_number().over(Window.partitionBy($"dst")
            .orderBy($"c".desc, $"lbl")))
          .filter($"rr" === 1)
          .select($"dst".as("n"), $"lbl")
      }
      l.withColumn("community_size",
          count(lit(1)).over(Window.partitionBy($"lbl")).cast("long"))
        .select($"n".as("user_id"), $"lbl".as("community"),
          $"community_size")
        .orderBy($"user_id")
    },
    // ----- x98 exact triangle counting + local clustering coefficient
    // over the same co-activity graph (one shared edge definition with
    // x66/x78). Algorithm: degree-ordered edge orientation (Suri &
    // Vassilvitskii's "curse of the last reducer" fix) — every edge
    // points from its lower-(deg, id) endpoint to the higher, so each
    // node's OUT-degree is bounded by the graph's arboricity (O(√m)
    // worst case) no matter how big a hub's raw degree is; wedges are
    // pairs of out-edges from one source (never hub²), and a triangle
    // is a wedge whose far endpoints are themselves an oriented edge —
    // counted EXACTLY once because rank-ordering makes the lowest-rank
    // vertex the unique wedge apex. Everything equi-joins; the lcc is
    // exact integer ppm (2e6·tri div deg·(deg−1)), no float division.
    "x98_triangles" -> Q(
      s"""WITH $sqlCoEdgeCtes,
         |dd AS (SELECT src AS n, deg FROM deg),
         |ori AS (SELECT
         |    CASE WHEN a.deg < b.deg OR (a.deg = b.deg AND u1 < u2)
         |      THEN u1 ELSE u2 END AS s,
         |    CASE WHEN a.deg < b.deg OR (a.deg = b.deg AND u1 < u2)
         |      THEN u2 ELSE u1 END AS t,
         |    CASE WHEN a.deg < b.deg OR (a.deg = b.deg AND u1 < u2)
         |      THEN b.deg ELSE a.deg END AS td
         |  FROM cp JOIN dd a ON cp.u1 = a.n JOIN dd b ON cp.u2 = b.n),
         |tri AS (SELECT w1.s AS x, w1.t AS y, w2.t AS z
         |  FROM ori w1 JOIN ori w2 ON w1.s = w2.s
         |    AND (w1.td < w2.td OR (w1.td = w2.td AND w1.t < w2.t))
         |  JOIN ori c ON c.s = w1.t AND c.t = w2.t),
         |pn AS (SELECT n, CAST(count(*) AS BIGINT) AS tri FROM (
         |    SELECT x AS n FROM tri UNION ALL SELECT y FROM tri
         |    UNION ALL SELECT z FROM tri) GROUP BY n)
         |SELECT d.src AS user_id, d.deg, COALESCE(pn.tri, 0) AS tri,
         |  CASE WHEN d.deg >= 2 THEN CAST(
         |      (2000000 * CAST(COALESCE(pn.tri, 0) AS HUGEINT))
         |      // (CAST(d.deg AS HUGEINT) * (d.deg - 1)) AS BIGINT)
         |    ELSE 0 END AS lcc_ppm
         |FROM deg d LEFT JOIN pn ON d.src = pn.n
         |ORDER BY user_id""".stripMargin) { (s, dir) =>
      val edges = coEdges(s, dir)
      val deg = edges.groupBy($"src").agg(count(lit(1)).as("deg"))
      val dd = deg.select($"src".as("n"), $"deg".as("d"))
      val cp = edges.filter($"src" < $"dst")
      val j = cp.join(dd.toDF("n1", "d1"), $"src" === $"n1")
        .join(dd.toDF("n2", "d2"), $"dst" === $"n2")
      val lowFirst = $"d1" < $"d2" || ($"d1" === $"d2" && $"src" < $"dst")
      val ori = j.select(
        when(lowFirst, $"src").otherwise($"dst").as("s"),
        when(lowFirst, $"dst").otherwise($"src").as("t"),
        when(lowFirst, $"d2").otherwise($"d1").as("td"))
      val w1 = ori.select($"s", $"t".as("y"), $"td".as("yd"))
      val w2 = ori.select($"s", $"t".as("z"), $"td".as("zd"))
      val tri = w1.join(w2, Seq("s"))
        .filter($"yd" < $"zd" || ($"yd" === $"zd" && $"y" < $"z"))
        .join(ori.select($"s".as("y"), $"t".as("z")), Seq("y", "z"))
        .select($"s".as("x"), $"y", $"z")
      val pn = tri.select($"x".as("n"))
        .union(tri.select($"y")).union(tri.select($"z"))
        .groupBy($"n").agg(count(lit(1)).as("tri"))
      // 128-bit-wide intermediates (the x67 discipline): a hub with
      // deg ~3e6 puts 2e6·C(deg,2) past int64 — lcc must stay exact
      // at any degree the co-activity graph can produce
      deg.join(pn, $"src" === $"n", "left")
        .select($"src".as("user_id"), $"deg",
          coalesce($"tri", lit(0L)).as("tri"),
          when($"deg" >= 2, expr(
              "(2000000 * CAST(coalesce(tri, 0) AS DECIMAL(38,0)))" +
                " div (CAST(deg AS DECIMAL(38,0)) * (deg - 1))"))
            .otherwise(0L).as("lcc_ppm"))
        .orderBy($"user_id")
    },

    // ----- x135 k-core peel (onion layers) over the same co-activity
    // graph (one shared edge definition with x66/x78/x98): KPeelRounds
    // synchronous rounds of "remove every node whose INDUCED degree
    // fell below k" — the density backbone extraction graph curation
    // runs before expensive per-node work (a node's peel round is its
    // onion layer; survivors are the k-core at convergence, a
    // monotone-shrinking superset before it). Scale shape: per round
    // two src/dst-keyed semi-join filters + one map-side-combinable
    // degree count — the x66 Pregel-as-DataFrames economy; deep R
    // would checkpoint lineage every ~10 rounds per x66's note.
    "x135_kcore_peel" -> Q(
      s"""WITH $sqlCoEdgeCtes,
         |s0 AS (SELECT src AS n FROM deg),
         |${(1 to KPeelRounds).map { i =>
          val p = i - 1
          s"""g$i AS (SELECT a.n, coalesce(c.cnt, 0) AS d
             |  FROM s$p a LEFT JOIN (
             |    SELECT e.src AS n, count(*) AS cnt FROM edges e
             |    JOIN s$p x ON e.src = x.n JOIN s$p y ON e.dst = y.n
             |    GROUP BY 1) c ON a.n = c.n),
             |s$i AS (SELECT n FROM g$i WHERE d >= $KCoreK),
             |r$i AS (SELECT n, $i AS rr FROM g$i WHERE d < $KCoreK)"""
            .stripMargin
        }.mkString(",\n")},
         |rall AS (${(1 to KPeelRounds)
          .map(i => s"SELECT n, rr FROM r$i").mkString(" UNION ALL ")})
         |SELECT n AS user_id, CAST(rr AS BIGINT) AS peel_round,
         |  FALSE AS in_core FROM rall
         |UNION ALL SELECT n, 0, TRUE FROM s$KPeelRounds
         |ORDER BY user_id""".stripMargin) { (s, dir) =>
      // Each round's degree frame is MULTI-CONSUMER (the round's
      // removals and its survivor set both read g; every later round
      // reads the survivors), so an unbroken lineage EMBEDS the prior
      // round's plan twice per round — 2^R plan growth that cache()
      // alone does not cure: execution would reuse the cached blocks,
      // but Catalyst still walks the exponential TREE on the driver
      // (measured: ~14k plan nodes and a 40 s wall at R=5 with plain
      // cache; sub-second plans checkpointed). localCheckpoint(false)
      // truncates the logical plan to an RDD leaf IMMEDIATELY while
      // computing nothing until the first action — zero jobs at
      // construction, the x14 discipline — which is x66's deep-
      // iteration checkpoint idiom applied lazily, every round,
      // because the BRANCHING (not the depth) is what compounds here.
      val edges = coEdges(s, dir).localCheckpoint(false)
      var cur = edges.select($"src".as("n")).distinct()
      val removed = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.spark.sql.DataFrame]
      (1 to KPeelRounds).foreach { i =>
        val ind = edges
          .join(cur.select($"n".as("sx")), $"src" === $"sx")
          .join(cur.select($"n".as("sy")), $"dst" === $"sy")
          .groupBy($"src").agg(count(lit(1)).as("cnt"))
        val g = cur.join(ind, cur("n") === ind("src"), "left")
          .select($"n", coalesce($"cnt", lit(0L)).as("d"))
          .localCheckpoint(false)
        removed += g.filter($"d" < KCoreK)
          .select($"n", lit(i.toLong).as("peel_round"))
        cur = g.filter($"d" >= KCoreK).select($"n")
      }
      removed.reduce(_ union _)
        .select($"n".as("user_id"), $"peel_round",
          lit(false).as("in_core"))
        .union(cur.select($"n".as("user_id"), lit(0L).as("peel_round"),
          lit(true).as("in_core")))
        .orderBy($"user_id")
    },

    // ----- e1 tumbling-window aggregate
    "e1_window_agg" -> Q(
      """SELECT date_trunc('hour', ts) AS win, event_type,
        |  CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS total
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      Tables(s, dir, "events")
        .groupBy(window($"ts", "1 hour").getField("start").as("win"),
          $"event_type")
        .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("total"))
        .orderBy($"win", $"event_type")
    },

    // ----- e2 sessionization: 30-min-gap sessions via lag + running sum
    // ----- x103 session-corpus export: each user session (e2's 30-min
    // gap boundary, the SAME window construction) becomes one
    // "behavioral document" — the ordered event-type token sequence —
    // the events→text bridge that lets every text-side operator
    // (tokenize, dedup, n-gram stats, LM training) run on behavioral
    // data. Determinism: events order by (ts, event_id) inside the
    // session and the tokens concatenate through a sort_array over
    // (ts, event_id, type) structs — engine-identical to the oracle's
    // ORDER BY string_agg. Scale shape: one user_id exchange carries
    // both the session numbering and the per-session fold; the doc id
    // is (user, session) — no global sequence.
    "x103_session_corpus" -> Q(
      """WITH x AS (SELECT user_id, event_id, ts, event_type,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END
        |    AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, event_id, ts, event_type, sum(new_s) OVER (
        |  PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS UNBOUNDED PRECEDING) AS sid FROM x)
        |SELECT user_id, CAST(sid AS BIGINT) AS session_id,
        |  CAST(count(*) AS BIGINT) AS n_tokens,
        |  string_agg(event_type, ' ' ORDER BY ts, event_id) AS text
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val prev = lag(unix_micros($"ts"), 1).over(w)
      Tables(s, dir, "events")
        .withColumn("new_s",
          when(prev.isNull || unix_micros($"ts") - prev > GapMicros, 1)
            .otherwise(0))
        .withColumn("sid", sum($"new_s")
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy($"user_id", $"sid".as("session_id"))
        .agg(count(lit(1)).as("n_tokens"),
          concat_ws(" ", transform(
            sort_array(collect_list(struct($"ts", $"event_id",
              $"event_type"))),
            x => x.getField("event_type"))).as("text"))
        .orderBy($"user_id", $"session_id")
    },

    // ----- e10 trending top-k: each hour's 3 most frequent event
    // types with counts and ranks — the dashboard query every event
    // pipeline serves. The rank spells as the standard row_number
    // window and the RankToTopK rewrite plans it as the heap
    // partial/final pair automatically (hour-keyed, so the aggregation
    // and the rank share time-bounded cardinality: state and output
    // are hours × types regardless of event volume).
    "e10_trending" -> Q(
      """WITH hc AS (SELECT date_trunc('hour', ts) AS h, event_type,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT h, event_type, n, row_number() OVER (
        |    PARTITION BY h ORDER BY n DESC, event_type) AS rn FROM hc)
        |SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS h, event_type, n,
        |  CAST(rn AS BIGINT) AS rn
        |FROM r WHERE rn <= 3 ORDER BY h, rn""".stripMargin) { (s, dir) =>
      // the rank filter sits DIRECTLY over the window (cast after), so
      // the RankToTopK pattern matches — see trendingVerdicts
      trendingVerdicts(hourlyTypeCounts(Tables(s, dir, "events")))
    },

    "e2_sessionize" -> Q(
      """WITH x AS (SELECT user_id, event_id, ts, value,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END
        |    AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, ts, value, sum(new_s) OVER (
        |  PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS UNBOUNDED PRECEDING) AS sid FROM x)
        |SELECT user_id, CAST(sid AS BIGINT) AS session_id,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(date_diff('second', min(ts), max(ts)) AS BIGINT)
        |    AS duration_s,
        |  round(sum(value), 2) AS total
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val prev = lag(unix_micros($"ts"), 1).over(w)
      Tables(s, dir, "events")
        .withColumn("new_s",
          when(prev.isNull || unix_micros($"ts") - prev > GapMicros, 1)
            .otherwise(0))
        .withColumn("sid", sum($"new_s")
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy($"user_id", $"sid".as("session_id"))
        .agg(count(lit(1)).as("n_events"),
          (max($"ts").cast("long") - min($"ts").cast("long"))
            .as("duration_s"),
          round(sum($"value"), 2).as("total"))
        .orderBy($"user_id", $"session_id")
    },

    // ----- e4 ordered conversion funnel: per user, first view, first
    // click AFTER that view, first purchase AFTER that click. Three
    // conditional-min window passes over ONE exchange on user_id (each
    // references the previous pass's column), then a same-partitioning
    // rollup — no joins, no second shuffle; the shape that holds when
    // the event log is 100 TB and users are millions.
    "e4_funnel" -> Q(
      """WITH s1 AS (SELECT user_id, event_type, ts,
        |  min(CASE WHEN event_type = 'view' THEN ts END)
        |    OVER (PARTITION BY user_id) AS t1 FROM events),
        |s2 AS (SELECT user_id, event_type, ts, t1,
        |  min(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
        |    OVER (PARTITION BY user_id) AS t2 FROM s1),
        |s3 AS (SELECT user_id, t1, t2,
        |  min(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
        |    OVER (PARTITION BY user_id) AS t3 FROM s2)
        |SELECT user_id,
        |  CAST(1 + CAST(t2 IS NOT NULL AS INT)
        |    + CAST(t3 IS NOT NULL AS INT) AS BIGINT) AS stage,
        |  CAST(epoch_us(coalesce(t3, t2, t1)) - epoch_us(t1) AS BIGINT)
        |    AS funnel_us
        |FROM s3 WHERE t1 IS NOT NULL
        |GROUP BY 1, 2, 3 ORDER BY user_id""".stripMargin) { (s, dir) =>
      val byU = Window.partitionBy($"user_id")
      Tables(s, dir, "events")
        .withColumn("t1",
          min(when($"event_type" === "view", $"ts")).over(byU))
        .withColumn("t2",
          min(when($"event_type" === "click" && $"ts" > $"t1", $"ts"))
            .over(byU))
        .withColumn("t3",
          min(when($"event_type" === "purchase" && $"ts" > $"t2", $"ts"))
            .over(byU))
        .filter($"t1".isNotNull)
        .select($"user_id",
          (lit(1) + $"t2".isNotNull.cast("int")
            + $"t3".isNotNull.cast("int")).cast("long").as("stage"),
          (unix_micros(coalesce($"t3", $"t2", $"t1"))
            - unix_micros($"t1")).as("funnel_us"))
        .distinct()
        .orderBy($"user_id")
    },

    // ----- e5 hopping (sliding) window aggregate: 1 h windows every
    // 30 min, so each event lands in exactly 2 windows. Spark's
    // window(ts, size, slide) generator expands the hops BEFORE the
    // aggregation exchange — map-side partial aggs still apply, so the
    // cost at 100 TB is (size/slide)x rows into the same one-shuffle
    // plan as e1.
    "e5_hopping" -> Q(
      """WITH h AS (SELECT event_type, value,
        |  unnest([time_bucket(INTERVAL 30 MINUTE, ts),
        |          time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE])
        |    AS win FROM events)
        |SELECT win, event_type, CAST(count(*) AS BIGINT) AS n,
        |  round(sum(value), 2) AS total
        |FROM h GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      Tables(s, dir, "events")
        .groupBy(window($"ts", "1 hour", "30 minutes")
          .getField("start").as("win"), $"event_type")
        .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("total"))
        .orderBy($"win", $"event_type")
    },

    // ----- e6 event-transition (Markov) counts: per user, ordered
    // (prev -> next) pairs via ONE lag window on the user_id exchange,
    // then a small hash-agg on the pair. The bigram model over event
    // streams; at 100 TB the window and the rollup are the only
    // shuffles and the second is vocabulary-sized.
    "e6_transitions" -> Q(
      """WITH x AS (SELECT user_id, event_type,
        |  lag(event_type) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS prev FROM events)
        |SELECT prev, event_type AS next, CAST(count(*) AS BIGINT) AS n
        |FROM x WHERE prev IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      Tables(s, dir, "events")
        .withColumn("prev", lag($"event_type", 1).over(w))
        .filter($"prev".isNotNull)
        .groupBy($"prev", $"event_type".as("next"))
        .agg(count(lit(1)).as("n"))
        .orderBy($"prev", $"next")
    },

    // ----- a9 pivot: per-user event-type counts as columns. With an
    // explicit value list the pivot is ONE shuffle on user_id (no
    // values-discovery pre-pass, which at 100 TB would be its own
    // full-table distinct); the oracle is the equivalent conditional
    // aggregation.
    "a9_pivot" -> Q({
      val conds = EventTypes.map(t =>
        s"CAST(count(*) FILTER (event_type = '$t') AS BIGINT) AS n_$t")
        .mkString(",\n        |  ")
      s"""SELECT user_id,
        |  $conds
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin
    }) { (s, dir) =>
      Tables(s, dir, "events")
        .groupBy($"user_id")
        .pivot("event_type", EventTypes)
        .agg(count(lit(1)))
        .select($"user_id" +: EventTypes.map(t =>
          coalesce(col(t), lit(0L)).as(s"n_$t")): _*)
        .orderBy($"user_id")
    },

    // ----- j5 banded range join: clicks within the 10 minutes before
    // each purchase, per user. The general point-in-interval join (J2
    // at table scale) plans as BroadcastNestedLoopJoin — O(n*m) and
    // lethal at 100 TB. The join below is written NAIVELY (equality +
    // two range conjuncts); graft.plans.BandedRangeJoin (registered via
    // GraftExtensions) rewrites it to a bucketed EQUI-join — band width
    // = window length, click side emits its own band and the next, join
    // gains band equality — so the physical plan is an ordinary
    // shuffled join (BandedRangeJoinSpec asserts no nested-loop and
    // value-equality with the unrewritten join).
    "j5_range_join" -> Q(
      """SELECT p.event_id,
        |  CAST(count(c.cts) AS BIGINT) AS n_clicks
        |FROM (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT user_id, ts AS cts FROM events
        |      WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        |  AND c.cts >= p.ts - INTERVAL 10 MINUTE AND c.cts < p.ts
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val W = 600000000L // 10 min in micros = the band width
      val ev = Tables(s, dir, "events")
      val p = ev.filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", $"ts")
      val c = ev.filter($"event_type" === "click")
        .select($"user_id".as("cuid"), $"ts".as("cts"))
      val counts = p.join(c,
          $"user_id" === $"cuid" &&
            unix_micros($"cts") >= unix_micros($"ts") - W &&
            unix_micros($"cts") < unix_micros($"ts"))
        .groupBy($"event_id").agg(count(lit(1)).as("n_clicks"))
      p.select($"event_id")
        .join(counts, Seq("event_id"), "left")
        .select($"event_id",
          coalesce($"n_clicks", lit(0L)).as("n_clicks"))
        .orderBy($"event_id")
    },

    // ----- j6 banded range join on RAW timestamps: identical semantics
    // to j5, but the condition is written directly on timestamp columns
    // with an interval literal — no manual unix_micros. BandedRangeJoin
    // matches the analyzer's `TimestampAddInterval(ts, negative
    // interval)` form and bands over an implicit unix_micros wrap, so
    // the natural spelling of a time-window join gets the same
    // equi-join plan as the hand-converted one.
    "j6_range_join_ts" -> Q(
      """SELECT p.event_id,
        |  CAST(count(c.cts) AS BIGINT) AS n_clicks
        |FROM (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT user_id, ts AS cts FROM events
        |      WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        |  AND c.cts >= p.ts - INTERVAL 10 MINUTE AND c.cts < p.ts
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val ev = Tables(s, dir, "events")
      val p = ev.filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", $"ts")
      val c = ev.filter($"event_type" === "click")
        .select($"user_id".as("cuid"), $"ts".as("cts"))
      val counts = p.join(c,
          $"user_id" === $"cuid" &&
            $"cts" >= $"ts" - expr("INTERVAL 10 MINUTES") &&
            $"cts" < $"ts")
        .groupBy($"event_id").agg(count(lit(1)).as("n_clicks"))
      p.select($"event_id")
        .join(counts, Seq("event_id"), "left")
        .select($"event_id",
          coalesce($"n_clicks", lit(0L)).as("n_clicks"))
        .orderBy($"event_id")
    },

    // ----- e7 weekly cohort retention: users bucketed by first-seen
    // week, counted as active per week offset — the cohort matrix.
    // ONE window pass on the user_id exchange anchors each event to its
    // user's cohort (no self-join back onto a per-user aggregate), then
    // a distinct + count on (cohort, offset, user): both week-keyed and
    // tiny relative to the event log.
    "e7_retention" -> Q(
      """WITH f AS (SELECT user_id,
        |    CAST(date_trunc('week', ts) AS DATE) AS wk,
        |    CAST(date_trunc('week', min(ts) OVER (PARTITION BY user_id))
        |      AS DATE) AS cohort
        |  FROM events),
        |d AS (SELECT DISTINCT user_id, cohort,
        |    CAST(date_diff('day', cohort, wk) // 7 AS BIGINT) AS week_offset
        |  FROM f)
        |SELECT cohort, week_offset, CAST(count(*) AS BIGINT) AS n_users
        |FROM d GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      val byU = Window.partitionBy($"user_id")
      Tables(s, dir, "events")
        .select($"user_id",
          date_trunc("week", $"ts").cast("date").as("wk"),
          date_trunc("week", min($"ts").over(byU)).cast("date").as("cohort"))
        .select($"user_id", $"cohort",
          floor(datediff($"wk", $"cohort") / 7).cast("long")
            .as("week_offset"))
        .distinct()
        .groupBy($"cohort", $"week_offset")
        .agg(count(lit(1)).as("n_users"))
        .orderBy($"cohort", $"week_offset")
    },

    // ----- e3 rollup (multi-level aggregate, free from Spark SQL —
    // SURVEY §2.4 "grouping sets, cube, rollup")
    "e3_rollup" -> Q(
      """SELECT coalesce(event_type, 'ALL') AS event_type,
        |  coalesce(CAST(date_part('hour', ts) AS BIGINT), -1) AS hr,
        |  CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS total
        |FROM events
        |GROUP BY ROLLUP (event_type, CAST(date_part('hour', ts) AS BIGINT))
        |ORDER BY event_type, hr""".stripMargin) { (s, dir) =>
      Tables(s, dir, "events")
        .rollup($"event_type", hour($"ts").cast("long").as("hr"))
        .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("total"))
        .select(coalesce($"event_type", lit("ALL")).as("event_type"),
          coalesce($"hr", lit(-1L)).as("hr"), $"n", $"total")
        .orderBy($"event_type", $"hr")
    },

    // ----- e8 event-time interval join: every (view, purchase) pair of the
    // same user with the purchase inside (view, view+1h]. The condition
    // carries the user_id equi-conjunct, so this plans as ONE hash exchange
    // per side on user_id with the time band as a join residual — never a
    // BNLJ (and the BandedRangeJoin rule correctly leaves it alone: it
    // rewrites only pure range conditions). Per-user pair fan-out is
    // bounded by activity density.
    "e8_interval_join" -> Q(
      """SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
        |  CAST(date_diff('second', v.ts, p.ts) AS BIGINT) AS lag_s,
        |  round(p.value, 2) AS amount
        |FROM events v JOIN events p ON v.user_id = p.user_id
        |  AND v.event_type = 'view' AND p.event_type = 'purchase'
        |  AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
        |ORDER BY 1, 2, 3""".stripMargin) { (s, dir) =>
      val ev = Tables(s, dir, "events")
      val v = ev.filter($"event_type" === "view")
        .select($"user_id", $"event_id".as("view_id"), $"ts".as("vts"))
      val p = ev.filter($"event_type" === "purchase")
        .select($"user_id".as("puid"), $"event_id".as("purchase_id"),
          $"ts".as("pts"), $"value")
      v.join(p, $"user_id" === $"puid" && $"pts" > $"vts" &&
          $"pts" <= $"vts" + expr("INTERVAL 1 HOUR"))
        .select($"user_id", $"view_id", $"purchase_id",
          ($"pts".cast("long") - $"vts".cast("long")).as("lag_s"),
          round($"value", 2).as("amount"))
        .orderBy($"user_id", $"view_id", $"purchase_id")
    },

    // ----- e9 abandonment: views with NO same-user purchase inside
    // (view, view+1h] — the LEFT OUTER face of e8, rolled up per user.
    // Same single user_id exchange per side as e8; the anti semantics
    // cost nothing extra.
    "e9_abandonment" -> Q(
      """SELECT v.user_id,
        |  CAST(count(DISTINCT v.event_id) AS BIGINT) AS n_views,
        |  CAST(count(DISTINCT CASE WHEN p.event_id IS NULL
        |    THEN v.event_id END) AS BIGINT) AS n_abandoned
        |FROM events v LEFT JOIN events p ON v.user_id = p.user_id
        |  AND p.event_type = 'purchase'
        |  AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
        |WHERE v.event_type = 'view'
        |GROUP BY 1 HAVING count(DISTINCT CASE WHEN p.event_id IS NULL
        |  THEN v.event_id END) > 0
        |ORDER BY 1""".stripMargin) { (s, dir) =>
      val ev = Tables(s, dir, "events")
      val v = ev.filter($"event_type" === "view")
        .select($"user_id", $"event_id".as("view_id"), $"ts".as("vts"))
      val p = ev.filter($"event_type" === "purchase")
        .select($"user_id".as("puid"), $"event_id".as("purchase_id"),
          $"ts".as("pts"))
      v.join(p, $"user_id" === $"puid" && $"pts" > $"vts" &&
          $"pts" <= $"vts" + expr("INTERVAL 1 HOUR"), "left")
        // LEFT join fans out matched views; count views as DISTINCT
        // view ids so the rollup matches the per-view semantics
        .groupBy($"user_id")
        .agg(countDistinct($"view_id").as("n_views"),
          countDistinct(when($"purchase_id".isNull, $"view_id"))
            .as("n_abandoned"))
        .filter($"n_abandoned" > 0)
        .orderBy($"user_id")
    })
}
