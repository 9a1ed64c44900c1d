package graft

import scala.io.Source
import org.scalatest.funsuite.AnyFunSuite

/** Pins the registry's key set: no query key is dropped, renamed or
  * added without updating the checked-in lists under
  * `src/test/resources/registry/`, no oracle is lost, and no name the
  * measurement mains time (a renamed key would silently read -1) has
  * left the registry. Builds the registry maps only; runs no Spark job.
  */
class RegistrySpec extends AnyFunSuite {
  private def pinned(name: String): Seq[String] = {
    val src = Source.fromResource(s"registry/$name")
    try src.getLines().map(_.trim).filter(_.nonEmpty).toList
    finally src.close()
  }

  test("the registry holds exactly the pinned query keys") {
    assert(SparkEntry.all.keySet.toSeq.sorted == pinned("registry_keys.txt"))
  }

  test("the oracle covers exactly the pinned query keys") {
    assert(SparkEntry.oracleSql.keySet.toSeq.sorted ==
      pinned("oracle_keys.txt"))
  }

  test("every query name the measurement mains time is a registry key") {
    val named = Bench.WarmSet ++ Bench.PinnedQueries.map(_._1) ++
      BenchPins.RefAnchors.map(_._1) ++ ScaleWitness.DefaultQueries
    assert(named.filterNot(SparkEntry.queries.keySet).isEmpty)
  }
}
