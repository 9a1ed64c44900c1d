package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.TopK
import graft.plans.{FinalTopKExec, PartialTopKExec}

/** The custom top-k-per-key physical operator: bit-equality with the
  * window+filter pattern it replaces, the partial/final plan shape with
  * the exchange between, the shuffled-volume reduction that is its
  * whole point, and the partial phase's key-cap bypass staying exact.
  */
class TopKSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("perKey equals the row_number window pattern exactly " +
    "(rows AND ranks) on a total order") {
    import spark.implicits._
    val li = Tables(spark, dir, "lineitem")
      .select($"l_suppkey", $"l_partkey", $"l_extendedprice")
    val got = TopK.perKey(li, Seq("l_suppkey"),
        Seq($"l_extendedprice".desc, $"l_partkey".asc), 3)
      .select($"l_suppkey", $"l_partkey", $"l_extendedprice", $"rn")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getLong(3))).toSet
    val want = li
      .withColumn("rn", row_number().over(Window
        .partitionBy($"l_suppkey")
        .orderBy($"l_extendedprice".desc, $"l_partkey".asc)))
      .filter($"rn" <= 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getInt(3).toLong)).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("plans as partial -> exchange -> final, and the partial heap " +
    "cuts the shuffled row count to at most keys*k per partition") {
    import spark.implicits._
    val li = Tables(spark, dir, "lineitem")
      .select($"l_suppkey", $"l_partkey", $"l_extendedprice")
      .repartition(8) // several map partitions so the bound is visible
    val df = TopK.perKey(li, Seq("l_suppkey"),
      Seq($"l_extendedprice".desc, $"l_partkey".asc), 3)
    df.collect()
    // recurse through AQE's stage wrappers — plain collect() stops at
    // query-stage boundaries
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => p +: allNodes(a.executedPlan)
      case q: QueryStageExec => p +: allNodes(q.plan)
      case other => other +: other.children.flatMap(allNodes)
    }
    val nodes = allNodes(df.queryExecution.executedPlan)
    val partials = nodes.collect { case p: PartialTopKExec => p }
    val finals = nodes.collect { case f: FinalTopKExec => f }
    val plan = df.queryExecution.executedPlan
    assert(partials.length == 1 && finals.length == 1, plan.toString)
    assert(plan.toString.contains("Exchange"), plan.toString)
    val inputRows = li.count()
    val shuffled = partials.head.metrics("numOutputRows").value
    val nKeys = li.select($"l_suppkey").distinct().count()
    assert(shuffled <= nKeys * 3 * 8,
      s"partial emitted $shuffled > ${nKeys * 3 * 8}")
    assert(shuffled < inputRows / 2,
      s"partial emitted $shuffled of $inputRows input rows")
    // and the final output is exactly keys * min(k, group size)
    assert(finals.head.metrics("numOutputRows").value ==
      df.count())
    // the differentiator vs Spark's own WindowGroupLimit path (which
    // keeps the same shuffle bound): NO sort operator anywhere — the
    // stock plan sorts the full candidate partition map-side and the
    // survivors reduce-side
    assert(!nodes.exists(_.getClass.getSimpleName.startsWith("Sort")),
      plan.toString)
  }

  test("key-cap bypass stays exact: 70k distinct keys through one " +
    "partition (past MaxPartialKeys) still yield every per-key top-1") {
    import spark.implicits._
    val wide = spark.range(70000)
      .select($"id".as("key"), ($"id" % 7).as("v"))
      .coalesce(1) // one partition -> heap table overflows at 2^16
    val got = TopK.perKey(wide, Seq("key"), Seq($"v".asc), 1)
    assert(got.count() == 70000)
    assert(got.filter($"rn" === 1).count() == 70000)
  }

  test("RankToTopK rewrites the row_number window pattern automatically " +
    "— same rows and rn, heap plan, residual predicates survive") {
    import spark.implicits._
    GraftExtensions.install(spark)
    val li = Tables(spark, dir, "lineitem")
      .select($"l_suppkey", $"l_partkey", $"l_extendedprice")
    def windowed = li.withColumn("rn", row_number().over(Window
        .partitionBy($"l_suppkey")
        .orderBy($"l_extendedprice".desc, $"l_partkey".asc)))
    val rewritten = windowed.filter($"rn" <= 3 && $"l_partkey" % 2 === 0)
    rewritten.collect()
    val p = rewritten.queryExecution.executedPlan.toString
    assert(p.contains("FinalTopK") && p.contains("PartialTopK"), p)
    assert(!p.contains("WindowGroupLimit") &&
      !p.contains("Window ["), p)
    // rows, ranks, and the residual predicate all intact
    val got = rewritten.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    // reference computed WITHOUT the rewrite: disable by bounding rank
    // through a non-literal the rule doesn't match
    val kCol = org.apache.spark.sql.functions.lit(3)
      .cast("int") + org.apache.spark.sql.functions.lit(0)
    val want = windowed.filter($"rn" <= kCol &&
        $"l_partkey" % 2 === 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(got == want)
    assert(got.nonEmpty && got.exists(_._3 == 3))
    // rank equality (`rn = 1`) contributes the bound AND re-applies
    val argmax = windowed.filter($"rn" === 1)
    argmax.collect()
    val ap = argmax.queryExecution.executedPlan.toString
    assert(ap.contains("FinalTopK"), ap)
    assert(argmax.count() ==
      li.select($"l_suppkey").distinct().count())
  }

  test("float partition keys group 0.0 with -0.0 (normalized like the " +
    "window plan, not raw key bytes)") {
    import spark.implicits._
    // -0.0 and 0.0 are equal under SQL semantics; the vanilla Window
    // plan gets that from the NormalizeFloatingNumbers batch, which
    // runs AFTER the rewrite and never sees a TopKPerKey — so the
    // builder/rule must normalize the grouping keys themselves or the
    // heap's byte-equality grouping splits the partition in two
    val df = Seq((0.0, 1L), (-0.0, 2L), (0.0, 3L), (1.5, 4L))
      .toDF("g", "id")
    val got = TopK.perKey(df, Seq("g"), Seq(col("id").asc), 1)
      .select(col("id")).as[Long].collect().toSet
    assert(got == Set(1L, 4L),
      s"expected one row per normalized group, got ids $got")
  }

  test("duplicate scores rank deterministically under the id tiebreak") {
    import spark.implicits._
    val df = Seq((1L, 10L, 5.0), (1L, 11L, 5.0), (1L, 12L, 5.0),
      (1L, 13L, 7.0), (2L, 20L, 1.0)).toDF("g", "id", "s")
    val rows = TopK.perKey(df, Seq("g"), Seq($"s".desc, $"id".asc), 2)
      .orderBy($"g", $"rn")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(rows.toSeq == Seq((1L, 13L, 1L), (1L, 10L, 2L),
      (2L, 20L, 1L)))
  }

  test("final-phase key cap degrades to the external-sort path and " +
    "stays exact (rows, ranks, multi-row groups)") {
    import spark.implicits._
    val saved = FinalTopKExec.maxFinalKeys
    FinalTopKExec.maxFinalKeys = 64 // force the fallback without 64k keys
    try {
      // 1,000 keys × 5 rows through ONE reduce partition: far past the
      // lowered cap, so the partition must take the sort path — and the
      // result must still be per-key exact top-2 with correct ranks
      val wide = spark.range(5000)
        .select(($"id" % 1000).as("key"), $"id".as("v"))
        .coalesce(1)
      val got = TopK.perKey(wide, Seq("key"), Seq($"v".desc, $"key".asc), 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      // per-key top-2 by v desc: v = key + 4000 (rn 1) and key + 3000
      val want = (0L until 1000L).flatMap(k =>
        Seq((k, k + 4000, 1L), (k, k + 3000, 2L))).toSet
      assert(got == want)
    } finally FinalTopKExec.maxFinalKeys = saved
  }

  test("retained-row cap (the k dimension): a huge-k rank over few " +
    "keys degrades to the sort path and stays exact") {
    import spark.implicits._
    val savedRows = FinalTopKExec.maxFinalRows
    val savedPartial = graft.plans.PartialTopKExec.maxPartialRows
    FinalTopKExec.maxFinalRows = 1000
    graft.plans.PartialTopKExec.maxPartialRows = 1000
    try {
      // 4 keys × 5,000 rows with k = 2,000: retained rows would reach
      // 8,000 ≫ the lowered cap, so both phases must shed/degrade —
      // and the answer must still be each key's exact top-2000
      val wide = spark.range(20000)
        .select(($"id" % 4).as("key"), $"id".as("v"))
        .coalesce(1)
      val got = TopK.perKey(wide, Seq("key"), Seq($"v".desc), 2000)
      assert(got.count() == 8000)
      // spot-check exactness: rank 1 per key is the key's max value
      val r1 = got.filter($"rn" === 1)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert((0L until 4L).forall(k => r1(k) == 19996 + k), r1.toString)
      // and the worst kept rank is exactly the 2000th best
      val rLast = got.filter($"rn" === 2000)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert((0L until 4L).forall(k => rLast(k) == 19996 + k - 4 * 1999),
        rLast.toString)
    } finally {
      FinalTopKExec.maxFinalRows = savedRows
      graft.plans.PartialTopKExec.maxPartialRows = savedPartial
    }
  }

  test("spark.graft.topk.rewrite=false switches the automatic rewrite " +
    "off; explicit TopK.perKey still plans the operator") {
    import spark.implicits._
    GraftExtensions.install(spark)
    val li = Tables(spark, dir, "lineitem")
      .select($"l_suppkey", $"l_partkey", $"l_extendedprice")
    def windowed = li.withColumn("rn", row_number().over(Window
        .partitionBy($"l_suppkey")
        .orderBy($"l_extendedprice".desc, $"l_partkey".asc)))
      .filter($"rn" <= 3)
    spark.conf.set(graft.plans.RankToTopK.RewriteConf, "false")
    try {
      val p = windowed.queryExecution.executedPlan.toString
      assert(!p.contains("FinalTopK"), p)
      assert(p.contains("Window"), p)
      // the builder API is an explicit opt-in, not subject to the conf
      val ep = TopK.perKey(li, Seq("l_suppkey"),
        Seq($"l_extendedprice".desc), 3)
        .queryExecution.executedPlan.toString
      assert(ep.contains("FinalTopK"), ep)
    } finally spark.conf.unset(graft.plans.RankToTopK.RewriteConf)
    // back on: the rewrite fires again
    val p2 = windowed.queryExecution.executedPlan.toString
    assert(p2.contains("FinalTopK"), p2)
  }

  test("a foreign WindowGroupLimit (smaller limit than k) blocks the " +
    "rewrite instead of being silently dropped") {
    import org.apache.spark.sql.catalyst.dsl.expressions._
    import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending,
      Literal, RowFrame, RowNumber, SortOrder => CSortOrder,
      SpecifiedWindowFrame, UnboundedPreceding, CurrentRow,
      WindowExpression, WindowSpecDefinition}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter,
      LocalRelation, Window => LWindow, WindowGroupLimit}
    val g = Symbol("g").long
    val v = Symbol("v").long
    val rel = LocalRelation(g, v)
    val ord = CSortOrder(v, Ascending)
    val spec = WindowSpecDefinition(Seq(g), Seq(ord),
      SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow))
    val rnAlias = Alias(WindowExpression(RowNumber(), spec), "rn")()
    def planWith(child: org.apache.spark.sql.catalyst.plans.logical
        .LogicalPlan) =
      LFilter(rnAlias.toAttribute <= Literal(3),
        LWindow(Seq(rnAlias), Seq(g), Seq(ord), child))
    // a group limit SMALLER than k below the window: dropping it would
    // change results — the rule must leave the whole plan unrewritten
    val foreign = planWith(
      WindowGroupLimit(Seq(g), Seq(ord), RowNumber(), 1, rel))
    assert(graft.plans.RankToTopK(foreign) == foreign)
    // the limit InferWindowGroupLimit derives (same spec, limit >= k)
    // IS stripped and subsumed by the heap operator
    val inferred = planWith(
      WindowGroupLimit(Seq(g), Seq(ord), RowNumber(), 3, rel))
    val rewritten = graft.plans.RankToTopK(inferred)
    assert(rewritten != inferred)
    assert(rewritten.collectFirst {
      case t: graft.plans.TopKPerKey => t }.exists(_.child == rel))
  }
}
