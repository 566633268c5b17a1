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

  /** The CTE names of `sql`'s top-level WITH list, in order. String
    * literals and line comments are blanked and every parenthesised
    * region (CTE bodies, nested subqueries and their own WITH lists)
    * collapses to `()`, so only depth-0 names count.
    */
  private def topLevelCtes(sql: String): Seq[String] = {
    val text = sql.replaceAll("'[^']*'", "''").replaceAll("--[^\n]*", " ")
    val flat = new StringBuilder
    var depth = 0
    text.foreach {
      case '(' => if (depth == 0) flat += '('; depth += 1
      case ')' => depth -= 1; if (depth == 0) flat += ')'
      case c => if (depth == 0) flat += c
    }
    "(?is)^\\s*WITH\\s+(?:RECURSIVE\\s+)?(.*?)\\bSELECT\\b".r
      .findFirstMatchIn(flat.toString).toSeq.flatMap { m =>
        "(?i)(\\w+)\\s*(?:\\(\\))?\\s*AS\\s*\\(\\)".r
          .findAllMatchIn(m.group(1)).map(_.group(1).toLowerCase)
      }
  }

  test("no oracle's top-level WITH list declares the same CTE name twice") {
    // DuckDB rejects a repeated name ("Duplicate CTE name") only when the
    // oracle runs; composed prefixed builders make the repeat easy
    assert(topLevelCtes("WITH a AS (WITH a AS (SELECT 1) SELECT * FROM a), " +
      "r(x) AS (SELECT ')(' AS s) SELECT * FROM a, r") == Seq("a", "r"))
    assert(topLevelCtes("WITH a AS (SELECT 1),\n-- b AS (\nA AS (SELECT 2) SELECT 1") ==
      Seq("a", "a"))
    assert(topLevelCtes("SELECT x FROM (WITH a AS (SELECT 1) SELECT * FROM a)").isEmpty)
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      val ctes = topLevelCtes(sql)
      val repeated = ctes.diff(ctes.distinct).distinct
      assert(repeated.isEmpty, s"$name repeats CTE names: ${repeated.mkString(", ")}")
    }
    assert(SparkEntry.oracleSql.values.count(topLevelCtes(_).size >= 2) > 100)
  }

  test("query names are stable identifiers (lowercase snake_case)") {
    SparkEntry.queries.keys.foreach { name =>
      assert(name.matches("[a-z][a-z0-9_]*"), name)
    }
  }
}
