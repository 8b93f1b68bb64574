package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The gate registry: every gate declared once, each with an oracle. */
class GatesSpec extends AnyFunSuite {
  private val names = SparkEntry.gates.map(_.name)

  test("the registry holds 387 gates with distinct names") {
    assert(names.size == 387)
    assert(names.diff(names.distinct).isEmpty, "duplicate gate names")
  }

  test("every gate carries a non-blank oracle") {
    val blank = SparkEntry.gates.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"blank oracles: $blank")
  }

  test("oracleSql is keyed by exactly the gate names") {
    assert(SparkEntry.oracleSql.keySet == names.toSet)
  }

  test("every gate bench_reference.json carries is registered") {
    val reference = Files.readString(Paths.get("bench_reference.json"))
    val keys = "\"([^\"]+)\"\\s*:".r.findAllMatchIn(reference).map(_.group(1))
      .filterNot(_.startsWith("_")).toSet
    assert(keys.nonEmpty)
    assert((keys -- names).isEmpty, s"reference names without a gate: ${keys -- names}")
  }
}
