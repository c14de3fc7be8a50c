package graft

import graft.Profile.Measured
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}
import org.scalatest.funsuite.AnyFunSuite

/** The BENCH_stress.json artifact as a pure function of its points. */
class StressBenchSpec extends AnyFunSuite {

  private def point(sec: Double, rows: Long, strategy: String = "none") =
    Measured(sec, rows, 0, strategy, 0.25, RunMetrics(3, 0, 0, 0, 0, 0, 2000, 1500000000L))

  private val scales = Seq(
    StressBench.Scale("s1", 1.0, Set.empty, skew = false),
    StressBench.Scale("s3", 3.0, Set("documents", "orders"), skew = true))

  private def artifact(results: Seq[(String, Seq[(String, Measured)])]) =
    parse(compact(render(StressBench.artifact("/stress", 4, scales, results,
      Seq("s1" -> 7, "knn_s3" -> 12), Seq("knn_graph_nnd:s3" -> "a \"quoted\" note")))))

  test("top level, scales without table dirs, and the conf notes render as JSON") {
    val json = artifact(Seq("minhash_lsh" -> Seq("s1" -> point(1.0, 10))))
    val JObject(top) = json
    assert(top.map(_._1) ===
      List("metric", "unit", "cpus", "scales", "queries", "cc_rounds", "conf_notes", "root"))
    assert((json \ "cpus") === JInt(4))
    assert((json \ "scales" \ "s1") === JObject("skew" -> JBool(false)))
    assert((json \ "scales" \ "s3") === JObject("docs" -> JInt(30000),
      "orders" -> JInt(450000), "skew" -> JBool(true)))
    assert((json \ "cc_rounds") === JObject("s1" -> JInt(7), "knn_s3" -> JInt(12)))
    assert((json \ "conf_notes" \ "knn_graph_nnd:s3") === JString("a \"quoted\" note"))
    assert((json \ "root") === JString("/stress"))
    assert((json \ "metric") === JString("stress") && (json \ "unit") === JString("sec"))
  }

  test("a row holds one point per scale plus its fits; NaN renders as null") {
    val json = artifact(Seq(
      "grows" -> Seq("s1" -> point(1.0, 1000000), "s3" -> point(9.0, 3000000)),
      "single" -> Seq("s1" -> point(2.0, 0)),
      "failed" -> Seq("s1" -> point(-1.0, -1, "err"))))
    val grows = json \ "queries" \ "grows"
    val JObject(fields) = grows
    assert(fields.map(_._1) === List("s1", "s3", "e_time", "e_rows", "sec_per_mrow"))
    val JObject(s1) = grows \ "s1"
    assert(s1.map(_._1) === List("sec", "rows", "strategy", "gc_sec", "cpu_share"))
    assert((grows \ "s1" \ "cpu_share") === JDouble(0.75))
    assert((grows \ "e_time") === JDouble(2.0))
    assert((grows \ "e_rows") === JDouble(1.0))
    assert((grows \ "sec_per_mrow" \ "s3") === JDouble(3.0))
    // one valid point fits nothing; zero rows has no per-row cost
    val single = json \ "queries" \ "single"
    assert((single \ "e_time") === JNull && (single \ "e_rows") === JNull)
    assert((single \ "sec_per_mrow" \ "s1") === JNull)
    val failed = json \ "queries" \ "failed"
    assert((failed \ "s1" \ "sec") === JDouble(-1.0))
    assert((failed \ "s1" \ "rows") === JInt(-1))
    assert((failed \ "s1" \ "strategy") === JString("err"))
  }

  test("figures are rounded to 3 decimals") {
    val json = artifact(Seq("r" -> Seq("s1" -> point(1.23456, 5))))
    assert((json \ "queries" \ "r" \ "s1" \ "sec") === JDouble(1.235))
  }
}
