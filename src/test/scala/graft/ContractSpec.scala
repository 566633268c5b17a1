package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract invariants: the queries/oracle maps stay consistent so
  * a new operator cannot silently miss the correctness gate.
  */
class ContractSpec extends AnyFunSuite {

  // every declared query is now oracle-checked (approx_sketches emits
  // tolerance booleans over exact aggregates, so even the sketches hash)
  private val rowsOnlyByDesign = Set.empty[String]

  test("every declared query has an oracle (or is an explicit rows-only exception)") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet -- rowsOnlyByDesign
    assert(missing.isEmpty, s"queries without oracle: $missing")
  }

  test("every oracle names a declared query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without query: $orphans")
  }

  test("oracle SQL is non-empty and free of unresolved interpolation") {
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(sql.trim.nonEmpty, name)
      assert(!sql.contains("${"), s"$name: unresolved interpolation")
      assert(!sql.contains("null.") && !sql.contains("None"), s"$name: bad splice")
    }
  }

  test("the registry declares 207 distinct queries, each with exactly one oracle") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.size == 207 && names.distinct.size == 207)
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.oracleSql.keySet == names.toSet)
    SparkEntry.registry.foreach { d =>
      assert(d.oracle.trim.nonEmpty, d.name)
      assert(SparkEntry.oracleSql(d.name) eq d.oracle, d.name)
    }
  }

  test("query names are stable identifiers (lowercase snake_case)") {
    SparkEntry.queries.keys.foreach { name =>
      assert(name.matches("[a-z][a-z0-9_]*"), name)
    }
  }
}
