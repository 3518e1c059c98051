package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry itself: no Spark session, so it runs in seconds
  * and can precede a full Verify. */
class RegistrySpec extends AnyFunSuite {

  private val rowsOnly = SparkEntry.registry.values.collect {
    case Query(name, _, RowsOnly(spec)) => name -> spec
  }.toMap

  test("313 queries, 305 of them with a DuckDB oracle") {
    assert(SparkEntry.queries.size == 313)
    assert(SparkEntry.oracleSql.size == 305)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("exactly the eight spec-gated queries are rows-only") {
    assert(rowsOnly.keySet == Set("q_approx_quantiles", "q_approx_distinct",
      "q_profile_approx", "q_media_pipeline", "q_media_batched", "q_phash_dedup",
      "q_shot_detect", "q_media_e2e"))
    assert(rowsOnly.keySet == SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet)
  }

  test("every rows-only query names a spec that exists") {
    rowsOnly.values.toSet.foreach { (spec: String) =>
      val cls = Class.forName("graft." + spec)
      assert(classOf[AnyFunSuite].isAssignableFrom(cls), s"$spec is not a suite")
    }
  }

  test("a name declared twice is rejected, naming the duplicate") {
    val build = SparkEntry.queries("q1_agg")
    val e = intercept[IllegalArgumentException] {
      Query.index(Seq(Query("q_a", build, RowsOnly("OperatorsSpec")),
        Query("q_b", build, Oracle("SELECT 1")), Query("q_a", build, Oracle("SELECT 2"))))
    }
    assert(e.getMessage.contains("q_a") && !e.getMessage.contains("q_b"))
  }

  test("selecting an unknown name throws, listing every unknown one") {
    val e = intercept[IllegalArgumentException] {
      SparkEntry.select(Some(Set("q1_agg", "q1_aggg", "q_nope")))
    }
    assert(e.getMessage.contains("q1_aggg, q_nope"))
    assert(SparkEntry.select(Some(Set("q1_agg"))).keySet == Set("q1_agg"))
    assert(SparkEntry.select(None).keySet == SparkEntry.queries.keySet)
  }
}
