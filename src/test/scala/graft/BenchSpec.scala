package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Bench`'s JSON line: its fields, and a null headline when a query
  * failed. */
class BenchSpec extends AnyFunSuite {

  private val ran = Seq("a" -> Seq(1.0, 3.0, 2.0), "b" -> Seq(0.25, 0.75))

  test("jsonLine: the total of the per-query medians when every query ran") {
    assert(Bench.jsonLine(ran, 3, "/sf") ==
      """{"metric":"total","value":2.5,"unit":"sec","queries":{"a":2.0,"b":0.5},""" +
      """"runs":{"a":[1.0,3.0,2.0],"b":[0.25,0.75]},"reps":3,"failed":[],"sf":"/sf"}""")
  }

  test("jsonLine: a failed query makes the value null and leaves every other field as it was") {
    val line = Bench.jsonLine(ran :+ ("c" -> Seq.empty[Double]), 3, "/sf")
    assert(line ==
      """{"metric":"total","value":null,"unit":"sec","queries":{"a":2.0,"b":0.5},""" +
      """"runs":{"a":[1.0,3.0,2.0],"b":[0.25,0.75]},"reps":3,"failed":["c"],"sf":"/sf"}""")
  }
}
