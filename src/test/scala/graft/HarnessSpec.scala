package graft

import org.scalatest.funsuite.AnyFunSuite

/** The measurement harness's timed-run semantics and the Bench record's
  * line format, on thunks and fixed values; runs no Spark job. */
class HarnessSpec extends AnyFunSuite {

  private def quietly[A](f: => A): (A, String) = {
    val buf = new java.io.ByteArrayOutputStream()
    val err = System.err
    System.setErr(new java.io.PrintStream(buf, true))
    try (f, buf.toString) finally System.setErr(err)
  }

  test("a failed run reads -1 and is named on stderr; the others keep " +
    "their times and the best of them wins") {
    var calls = 0
    var afters = 0
    val (rs, err) = quietly(Harness.runs(3, "q", afters += 1) {
      calls += 1
      if (calls == 2) sys.error("boom")
      Thread.sleep(2)
    })
    assert(afters == 3)
    assert(rs(1) == -1.0 && rs(0) > 0 && rs(2) > 0, rs)
    assert(Harness.best(rs) == math.min(rs(0), rs(2)))
    assert(err.trim == "[bench] q failed: boom")
  }

  test("bestOf reads -1 only when every run failed") {
    val (b, err) = quietly(Harness.bestOf(2, "q", ())(sys.error("always")))
    assert(b == -1.0)
    assert(err.linesIterator.toSeq == Seq.fill(2)("[bench] q failed: always"))
  }

  test("a fast failure never wins the min") {
    var calls = 0
    val (b, _) = quietly(Harness.bestOf(2, "q", ()) {
      calls += 1
      if (calls == 1) sys.error("fast")
      Thread.sleep(20)
    })
    assert(b >= 0.02, b)
  }

  test("the Bench headline and sidecar keep their line format") {
    import BenchPins.f3
    val results = Seq("q1" -> 1.23456, "q2" -> -1.0,
      "t1_tile_lifecycle" -> 10.0)
    val t1 = (5.0, 1.0, 2.0, 3.0)
    val t2 = (9.5, 4.25, 2.5, 2.75)
    val grids = Seq(("t1", t1, Seq(t1, (-1.0, -1.0, -1.0, -1.0))),
      ("t2", t2, Seq(t2, t2)))
    val canary = Harness.Canaries.json(Seq(0.25, 0.5), true)
    val canary2 = Harness.Canaries.json(Seq(1.0), true)
    assert(Bench.headline(results, Bench.stagesJson(grids, f3), canary,
      canary2, false, """{"p":1}""", "D.json", "/sf") ==
      """{"metric":"total","value":10.235,"unit":"sec",""" +
      """"queries":{"q1":1.23,"q2":-1.0,"t1_tile_lifecycle":10.00},""" +
      """"stages":{"t1":{"segment":1.000,"tile":2.000,""" +
      """"prediction":3.000,"runs":[{"segment":1.000,"tile":2.000,""" +
      """"prediction":3.000},{"segment":-1.0,"tile":-1.0,""" +
      """"prediction":-1.0}]},"t2":{"segment":4.250,"tile":2.500,""" +
      """"prediction":2.750,"runs":[{"segment":4.250,"tile":2.500,""" +
      """"prediction":2.750},{"segment":4.250,"tile":2.500,""" +
      """"prediction":2.750}]}},""" +
      """"canary":{"samples":[0.250,0.500],"spread":2.000,""" +
      """"contended":false},""" +
      """"canary2":{"samples":[1.000],"spread":-1.0,"contended":false},""" +
      """"contended":false,"pins":{"p":1},"details":"D.json",""" +
      """"sf":"/sf"}""")
    assert(Bench.sidecar(results.take(1), Seq("w" -> 0.5),
      Bench.stagesJson(grids.take(1), _.toString), "{}", "{}", true,
      "{}", "/sf") ==
      """{"metric":"total","value":1.23456,"unit":"sec",""" +
      """"queries":{"q1":1.23456},"warm":{"w":0.5},""" +
      """"stages":{"t1":{"segment":1.0,"tile":2.0,"prediction":3.0,""" +
      """"runs":[{"segment":1.0,"tile":2.0,"prediction":3.0},""" +
      """{"segment":-1.0,"tile":-1.0,"prediction":-1.0}]}},""" +
      """"canary":{},"canary2":{},"contended":true,"pins":{},""" +
      """"sf":"/sf"}""")
  }
}
