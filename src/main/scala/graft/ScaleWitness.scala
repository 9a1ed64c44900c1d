package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Parallel-scaling witness (r14, verdict ask #5 — NOT part of the
  * driver bench contract and changing nothing it measures).
  *
  * At sf0.1 every registry query sits at the local-mode per-action
  * floor, where more cores only add scheduler overhead (BENCH_r13 vs
  * BENCH_r13_c8: all 39 heavy queries ran faster or equal at 8 cores),
  * so no official record could demonstrate that any plan actually
  * parallelizes. This main builds a REPLICATED corpus — documents
  * × FACTOR with doc_ids remapped into disjoint ranges and a replica
  * token prepended to the text (so near-dup structure is preserved,
  * not multiplied) — large enough that per-row compute dominates the
  * fixed per-action cost, then times a handful of corpus-linear
  * registry queries with the bench's own harness (warm-up, count()
  * action, min of two isolated runs, cache-clear + gc between runs).
  *
  * Run twice — SPARK_GRAFT_CPUS=8 and =32 — and compare the two
  * emitted JSON lines; the committed records under `records/` carry
  * the per-query core ratio. Inputs: SPARK_GRAFT_SF_DIR (source
  * testdata), SPARK_GRAFT_SCALE_FACTOR (default 20),
  * SPARK_GRAFT_SCALE_DIR (work dir; corpus is rebuilt whenever the
  * marker does not match source+factor). Query names may be passed as
  * args; the default set is corpus-linear scans (no pair-explosion
  * dedup bodies, whose work would scale quadratically in FACTOR and
  * measure the replication artifact, not the plan).
  */
object ScaleWitness {

  val DefaultQueries = Seq(
    "x75_bm25_wand",          // whole-corpus postings + WAND top-k
    "x28_winnow",             // whole-corpus winnowing fingerprints
    "x109_tokenizer_fertility", // BPE encode over the whole corpus
    "x36_lm_quality",         // per-doc LM quality metrics
    "x88_gopher_coverage")    // per-doc coverage filters

  def main(args: Array[String]): Unit = {
    val srcDir = Harness.sfDir
    val factor =
      sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "20").toInt
    val workDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR",
      s"/tmp/graft_scale_x$factor")
    val spark = Harness.session()
    buildCorpus(spark, srcDir, workDir, factor)
    Harness.warmup(spark, workDir)
    val names = if (args.nonEmpty) args.toSeq else DefaultQueries
    val results = names.map { n =>
      n -> Harness.bestOf(2, n, Harness.isolate(spark))(
        Harness.query(spark, workDir, n))
    }
    println(s"""{"metric":"scale_witness","cpus":${Harness.cpus},""" +
      s""""factor":$factor,""" +
      s""""queries":${Harness.dict(results, BenchPins.f3)},"src":"$srcDir"}""")
    spark.stop()
  }

  /** Replicated corpus build: documents × factor into
    * `workDir/documents.parquet` (a directory — Tables reads it the
    * same as a file), every other table copied byte-for-byte.
    * Deterministic and idempotent: a marker records (src, factor) and
    * the build is skipped when it matches. */
  private def buildCorpus(spark: SparkSession, srcDir: String,
      workDir: String, factor: Int): Unit = {
    val markerPath = java.nio.file.Paths.get(workDir, "_SCALE_MARKER")
    val marker = s"$srcDir|x$factor"
    if (java.nio.file.Files.exists(markerPath) &&
        new String(java.nio.file.Files.readAllBytes(markerPath)) == marker)
      return
    val wd = java.nio.file.Paths.get(workDir)
    if (java.nio.file.Files.exists(wd)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(wd).sorted(
        java.util.Comparator.reverseOrder()).iterator().asScala
        .foreach(java.nio.file.Files.delete)
    }
    java.nio.file.Files.createDirectories(wd)
    Tables.names.filterNot(_ == "documents").foreach { t =>
      copyRecursive(
        java.nio.file.Paths.get(srcDir, s"$t.parquet"),
        java.nio.file.Paths.get(workDir, s"$t.parquet"))
    }
    val docs = spark.read.parquet(s"$srcDir/documents.parquet")
    val maxId = docs.agg(max($"doc_id")).first().getLong(0) + 1L
    val reps = spark.range(0, factor.toLong, 1L, 1).select($"id".as("rep"))
    val others = docs.columns.filterNot(c => c == "doc_id" || c == "text")
      .map(col).toSeq
    val rep = docs.crossJoin(reps)
      .select(Seq(
        ($"doc_id" + $"rep" * maxId).as("doc_id"),
        concat(lit("r"), $"rep", lit(" "), $"text").as("text")) ++
        others: _*)
      .repartition(math.max(4, factor / 2))
    rep.write.mode("overwrite").parquet(s"$workDir/documents.parquet")
    java.nio.file.Files.write(markerPath,
      marker.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  private def copyRecursive(src: java.nio.file.Path,
      dst: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.isDirectory(src)) {
      java.nio.file.Files.createDirectories(dst)
      java.nio.file.Files.list(src).iterator().asScala.foreach { p =>
        copyRecursive(p, dst.resolve(p.getFileName))
      }
    } else
      java.nio.file.Files.copy(src, dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }
}
