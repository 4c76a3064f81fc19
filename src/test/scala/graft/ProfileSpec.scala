package graft

import java.io.ByteArrayOutputStream

/** `graft.Profile`: the plan, then each rep's total and stage table. */
class ProfileSpec extends SparkSpec {

  test("Profile.run prints a query's plan, then its rep's total and stage lines") {
    val buf = new ByteArrayOutputStream()
    Console.withOut(buf)(Profile.run(spark, sf0001, reps = 1, Seq("rel_pricing_summary")))
    val lines = buf.toString("UTF-8").split("\n").toSeq
    assert(lines.head == "===== rel_pricing_summary =====")
    val plan = lines.indexOf("== Physical Plan ==")
    val total = lines.indexWhere(_.matches("""\[profile\] rel_pricing_summary rep 1 total \d+\.\d\d s"""))
    val stage = lines.indexWhere(_.matches("""\[profile\]   stage +\d+ wall=.* tasks=.* exec=.* sRead=.*"""))
    assert(plan > 0 && total > plan && stage > total, lines.mkString("\n"))
  }
}
