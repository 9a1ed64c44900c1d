package graft

import BenchPins.f3
import Harness.Canaries

/** One-query official-style record writer (not part of the driver
  * contract): measures a pinned query with the bench harness's
  * isolation discipline — the bench warm-up, both contention canaries
  * sampled at the phase boundaries, min-of-N with per-run cache-clear +
  * GC — and emits a self-contained record JSON with the pin verdict,
  * the weather refs, and their anchors. Exists because a pin's sub-bar
  * evidence must be a FILE, not prose: the x107 plan fix landed in r12
  * but no official record ever carried `pins.x107.violated: false`, so
  * the standing flag read as a false alarm. Usage:
  * `runMain graft.Record [queryName [barSec]]`; writes
  * `records/<query>_<utc-stamp>.json` (and prints it).
  */
object Record {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("x107_release_manifest")
    val bar = args.drop(1).headOption.map(_.toDouble).getOrElse(3.5)
    val sfDir = Harness.sfDir
    val spark = Harness.session()
    Harness.warmup(spark, sfDir)
    val canaries = new Canaries(spark, sfDir)
    // the successful runs' seconds
    def timeQ(q: String, n: Int): Seq[Double] =
      Harness.runs(n, q, Harness.isolate(spark))(
        Harness.query(spark, sfDir, q)).filter(_ >= 0)
    timeQ(name, 1) // untimed warm pass: the cold run pays JIT, not plan
    val runs = timeQ(name, 3)
    canaries.sample()
    val refRuns = BenchPins.RefAnchors.map { case (r, a) =>
      (r, timeQ(r, 3), a)
    }
    canaries.sample()
    val best = Harness.best(runs)
    val refs = refRuns.map { case (r, rs, a) => (r, Harness.best(rs), a) }
    val verdict = BenchPins.classify(best, bar, !canaries.contended, -1.0,
      refs, refRuns.map(_._2))
    val stamp = java.time.format.DateTimeFormatter
      .ofPattern("yyyyMMdd'T'HHmmss'Z'")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.now())
    val json =
      s"""{"query":"$name","bar_sec":$bar,""" +
        s""""runs":[${runs.map(f3).mkString(",")}],""" +
        s""""min_sec":${f3(best)},""" +
        s""""canary":${Canaries.json(canaries.light.toSeq, false)},""" +
        s""""canary2":${Canaries.json(canaries.heavy.toSeq, false)},""" +
        s""""contended":${canaries.contended},""" +
        s""""weather_refs":${BenchPins.refsJson(refs)},""" +
        s""""ref_runs":${refRuns.map { case (r, rs, _) =>
          s""""$r":[${rs.map(f3).mkString(",")}]"""
        }.mkString("{", ",", "}")},""" +
        s""""violated":${verdict.json},"sf":"$sfDir","at":"$stamp"}"""
    println(json)
    val dir = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_RECORDS", "records"))
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.write(dir.resolve(s"${name}_$stamp.json"),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
