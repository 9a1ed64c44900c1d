package graft

import scala.io.Source
import org.scalatest.funsuite.AnyFunSuite

/** Pins the registry's key set: no query key is dropped, renamed or
  * added without updating the checked-in lists under
  * `src/test/resources/registry/`, and no oracle is lost. Builds the
  * registry maps only; runs no Spark job.
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
}
