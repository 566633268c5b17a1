package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query-name filter every main parses (`SPARK_GRAFT_ONLY`): no Spark
  * session needed, only the registry's names.
  */
class QueryFilterSpec extends AnyFunSuite {

  test("a comma-separated filter selects exactly the named queries") {
    val only = SparkEntry.queryFilter(" q1_agg, star_denorm ,")
    assert(only.contains(Set("q1_agg", "star_denorm")))
    val picked = SparkEntry.selected(only).map(_._1)
    assert(picked.toSet == Set("q1_agg", "star_denorm"))
    // in the registry view's own iteration order
    assert(picked == SparkEntry.queries.keys.toSeq.filter(Set("q1_agg", "star_denorm")))
  }

  test("an empty filter selects every declared query") {
    Seq("", "   ", null).foreach { spec =>
      val only = SparkEntry.queryFilter(spec)
      assert(only.isEmpty)
      assert(SparkEntry.selected(only).map(_._1) == SparkEntry.queries.keys.toSeq)
    }
  }

  test("a name no query declares fails fast and is named") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.queryFilter("q1_agg,q1_aggg,star_denrom"))
    assert(e.getMessage.endsWith("named q1_aggg, star_denrom"), e.getMessage)
  }
}
