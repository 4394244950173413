package graft

import org.json4s._

/** The timing harness (`graft.Bench`): its argument checks, its sampling
  * loop and the bench.json shape, on the shared sf0.001 session. */
class BenchSpec extends SparkSpec {
  private val cheap = "p1_projection_alias"

  test("retime -g1 -n2 takes exactly two samples of the named query") {
    val o = Bench.parse(Seq("retime", "-g1", "-n2", cheap))
    assert(o.queries.map(_.name) === Seq(cheap))
    val sw = Bench.sweep(spark, sf, o)
    assert(sw.failed.isEmpty)
    assert(sw.totals(cheap).size === 2)
  }

  test("an unknown mode, query or flag is rejected before any query runs") {
    for (args <- Seq(Seq("retiem", cheap), Seq("retime", "no_such_query"), Seq("retime", "-g", cheap)))
      intercept[IllegalArgumentException](Bench.parse(args))
  }

  test("bench.json keeps its keys; a failed query reports -1 and stays out of value") {
    def s(t: Double) = Bench.Sample(0, 0, t)
    val sw = Bench.Sweep(Map("a" -> Vector(s(2.0), s(1.0)), "b" -> Vector(s(0.5))),
      Map("b" -> new RuntimeException("boom")))
    val art = Bench.report(Seq("a", "b"), sw, Map("a" -> 0.75), 3, sf)
    assert(art.obj.map(_._1) === List("metric", "value", "unit", "queries",
      "queries_med", "queries_samples", "queries_solo", "groups", "sf"))
    assert(art \ "queries" \ "b" === JInt(-1))
    assert(art \ "queries_med" \ "b" === JInt(-1))
    assert(art \ "queries" \ "a" === JDouble(0.75), "a solo rerun below the sweep min wins")
    assert(art \ "queries_med" \ "a" === JDouble(1.5))
    assert(art \ "value" === JDouble(0.75))
  }
}
