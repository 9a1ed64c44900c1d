package graft

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one measurement harness the registry mains (`Bench`, `Record`,
  * `Scratch`, `ScaleWitness`) share, and the session `Verify` uses: the
  * session, the warm-up, the isolation between runs, the timed run and
  * the contention canaries. A timed run that throws reads -1, never its
  * time-to-failure (the r7 x67 overflow hid behind an honest-looking
  * elapsed number for a whole round), and names its failure on stderr.
  */
object Harness {

  /** Where the registry tables live (`SPARK_GRAFT_SF_DIR`). */
  def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** Local cores and shuffle partitions (`SPARK_GRAFT_CPUS`). */
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Seconds `f` took, or -1 when it threw. */
  def time(name: String)(f: => Any): Double = {
    val t0 = System.nanoTime()
    try { f; (System.nanoTime() - t0) / 1e9 }
    catch {
      case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        -1.0
    }
  }

  /** `n` timed runs of `f`, each followed by `after` (untimed). */
  def runs(n: Int, name: String, after: => Unit)(f: => Any)
      : Seq[Double] =
    (1 to n).map { _ => val d = time(name)(f); after; d }

  /** The fastest successful reading; -1 when every one failed. Only
    * successful runs compete, so a fast failure never reads as a fast
    * query. */
  def best(xs: Seq[Double]): Double =
    xs.filter(_ >= 0).minOption.getOrElse(-1.0)

  def bestOf(n: Int, name: String, after: => Unit)(f: => Any)
      : Double =
    best(runs(n, name, after)(f))

  private lazy val registry = SparkEntry.queries

  /** One `count()` of registry query `name` over the tables in `dir`: the
    * unit of work every main times. */
  def query(spark: SparkSession, dir: String, name: String): Long =
    registry(name)(spark, dir).count()

  /** Evicts cached blocks and, when `gc`, collects the heap. Registry
    * bodies legitimately cache frames their lazy results reference,
    * with no in-body unpersist seam, so without this a long sweep
    * measures the previous queries' GC shadow, not its own plans
    * (warm x87 ran above cold, t2 read 88-134 s after the sweep vs
    * 41 s isolated). */
  def isolate(spark: SparkSession, gc: Boolean = true): Unit = {
    try spark.catalog.clearCache() catch { case _: Throwable => () }
    if (gc) System.gc()
  }

  /** Touches every table, then runs each stage shape the registry
    * leans on once on a small input, so one-time codegen, janino and
    * JIT cost is not attributed to whichever query runs first. */
  def warmup(spark: SparkSession, dir: String): Unit = {
    Tables.names.foreach { t =>
      time(s"warm-up $t")(Tables(spark, dir, t).count())
    }
    // shuffle exchange, hash join/agg, sort and window codegen on the
    // 25-row dims
    time("warm-up dims join") {
      import org.apache.spark.sql.expressions.Window
      Tables(spark, dir, "nation")
        .join(Tables(spark, dir, "region"),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name")).agg(count(lit(1)).as("n"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(lit(1)).orderBy(col("n").desc, col("r_name"))))
        .orderBy(col("rk")).count()
    }
    // the text/hash stage shapes of x6/x14/x19/x21 on a ~1k-doc subset
    time("warm-up text stages")(queries.TextOps.warmup(spark, dir))
    // the MinHash / SimHash codegen expressions (x7/x8)
    time("warm-up hash expressions") {
      import graft.functions.{TextExprs => T}
      Tables(spark, dir, "documents").limit(64)
        .select(col("doc_id"), T.wsTokens(col("text")).as("tk"))
        .filter(size(col("tk")) >= 3)
        .select(col("doc_id"),
          graft.functions.MinHashSig(
            T.shingleHashes(T.shingles(col("tk"), 3)), 16).as("sig"),
          T.simhash(col("tk"), 16).as("simhash"),
          T.md5Long(concat_ws(" ", col("tk"))).as("m")).count()
    }
    // the DotProduct fold, DotMatrix loop and transform-normalize the
    // embedding queries lean on
    time("warm-up vector expressions") {
      val m = Array.tabulate(4)(j => Array.tabulate(64)(i => (j + i) / 64.0))
      Tables(spark, dir, "embeddings").limit(64)
        .select(col("embedding").cast("array<double>").as("v"))
        .withColumn("nrm", sqrt(graft.functions.DotProduct(col("v"), col("v"))))
        .withColumn("u", transform(col("v"), x => x / col("nrm")))
        .select(graft.functions.DotMatrix(col("u"), m).as("pd")).count()
    }
  }

  /** The record's weather report: two fixed reference queries re-timed
    * at every phase boundary. The engine cannot change between samples,
    * so a wide spread measures the box, not the code (the r8 record
    * carried a fake 5.4x lifecycle regression because its numbers had
    * no health bit). Each sample is the min of two back-to-back runs,
    * so it measures sustained contention, not one-off scheduling
    * jitter. Construction warms the heavy probe's own shape untimed
    * (otherwise its baseline pays janino/JIT and stamps a fake ~3x
    * spread: 1.18 s first sample vs 0.39 s steady) and takes the
    * baseline sample. */
  final class Canaries(spark: SparkSession, dir: String) {
    /** ~0.1-0.3 s lineitem rollup: scheduler and CPU contention. */
    val light = ArrayBuffer.empty[Double]
    /** ~2 s multi-exchange pipeline (join, two shuffled aggregations and
      * a shuffled top-k over 8x lineitem and orders): the
      * memory-bandwidth contention the light probe is blind to, which
      * swings 30-stage pipelines 1.3-1.5x while the light one holds
      * flat. At 3x the scan it timed ~0.7 s and still under-weighted
      * that pressure. */
    val heavy = ArrayBuffer.empty[Double]

    private def lightQuery: DataFrame =
      Tables(spark, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sq"),
          avg(col("l_extendedprice")).as("ap"),
          count(lit(1)).as("n"))

    private def heavyQuery: DataFrame = {
      val li = Tables(spark, dir, "lineitem")
      Iterator.fill(8)(li).reduce(_ union _)
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("rev"),
          count(lit(1)).as("nl"),
          sum(col("l_quantity")).as("qty"))
        .join(Tables(spark, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(sum(col("rev")).as("crev"), sum(col("nl")).as("cn"),
          max(col("qty")).as("mq"))
        .orderBy(col("crev").desc, col("o_custkey"))
        .limit(100)
    }

    private def probe(samples: ArrayBuffer[Double], name: String)(
        q: => DataFrame): Unit = {
      val xs = Seq.fill(2)(time(name)(q.count()))
      if (xs.forall(_ >= 0)) samples += xs.min
    }

    def sample(): Unit = {
      probe(light, "canary")(lightQuery)
      probe(heavy, "canary2")(heavyQuery)
    }

    /** Either probe's spread past [[Canaries.Contended]]. */
    def contended: Boolean =
      Canaries.spread(light.toSeq) > Canaries.Contended ||
        Canaries.spread(heavy.toSeq) > Canaries.Contended

    time("canary2")(heavyQuery.count())
    sample()
  }

  object Canaries {
    /** Spread (max/min over samples) past which a probe reads contended. */
    val Contended = 3.0

    def spread(xs: Seq[Double]): Double =
      if (xs.size >= 2 && xs.min > 0) xs.max / xs.min else -1.0

    /** One probe's samples and spread; Bench's record also stamps the
      * probe's own contended bit. */
    def json(xs: Seq[Double], stampContended: Boolean): String = {
      val s = spread(xs)
      s"""{"samples":[${xs.map(BenchPins.f3).mkString(",")}],""" +
        s""""spread":${BenchPins.f3(s)}""" +
        (if (stampContended) s""","contended":${s > Contended}}""" else "}")
    }
  }

  /** A `{"name":value,…}` dict, each value rendered by `fmt`. */
  def dict(kv: Seq[(String, Double)], fmt: Double => String): String =
    kv.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
}
