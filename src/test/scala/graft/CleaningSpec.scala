package graft

import org.apache.spark.sql.functions.col
import graft.functions.Cleaning

/** F1–F7 semantics (SURVEY §2.3) on handwritten strings, including the
  * order-of-application traps in SURVEY §7.5.5. */
class CleaningSpec extends SparkSpec {
  import spark.implicits._

  private def clean(s: String): String =
    Seq(s).toDF("text").select(Cleaning.cleanText(col("text")).as("c"))
      .collect().head.getString(0)

  test("F2: URLs removed") {
    assert(clean("see http://x.co/abc now") == "see now")
    assert(clean("https://a.b c") == "c")
  }

  test("F3: @usernames removed") {
    assert(clean("hi @user_1 bye") == "hi bye")
  }

  test("F4: covid words removed case-insensitively, whole-word, before lowering") {
    assert(clean("COVID-19 Covid19 covid_19 CoViD spread") == "spread")
    // 'covidious' is not a whole-word match
    assert(clean("covidious stays") == "covidious stays")
  }

  test("F4 fused alternation matches the sequential four-pass formulation") {
    // reference implementation: the original four sequential passes
    def seqClean(s: String): String = {
      val words = Seq("covid-19", "covid19", "covid_19", "covid")
      val afterF4 = words.foldLeft(s)((acc, w) =>
        acc.replaceAll("(?i)\\b" + java.util.regex.Pattern.quote(w) + "\\b", ""))
      afterF4.replaceAll("[^A-Za-z ]+", "").replaceAll("\\s+", " ").trim.toLowerCase
    }
    val cases = Seq(
      "covid-19", "covid", "covid-20 x", "covidious stays",
      "covid19 covid-19", "covid-19covid", "covid19covid-19",
      "covid19-covid-19", "a covid-19 b", "COVID_19 CoViD-19 covid",
      "xcovid-19 covid", "covid- 19", "covid -19", "-covid-", "_covid_19_")
    cases.foreach { s =>
      assert(clean(s) == seqClean(s), s"divergence for input '$s'")
    }
  }

  test("F1: whole token containing an emoji is dropped, not just the char") {
    assert(clean("good😀day here") == "here")
    assert(clean("plain text") == "plain text")
  }

  test("F5/F6/F7: non-alpha stripped, whitespace collapsed, lowercased") {
    assert(clean("Ab1c,2.3  X\tY") == "abc x y")
  }

  test("native cleanText is bit-equal to the all-builtins composition") {
    val cases = Seq(
      "", "   \t ", "plain text", "MiXeD 123 @u http://z.io 😀ok done",
      "a,b", "a, b", "a ,b", " lead", "trail ", "tab\tmid", "nl\nmid",
      "Ab1c,2.3  X\tY", "COVID-19 Covid19 covid_19 CoViD spread",
      "é accents ß stay-out 中文", "UPPER lower MiXeD",
      "..,,!!", "a--b__c", "one  two   three")
    val df = cases.toDF("text")
    val out = df.select(
      Cleaning.cleanText(col("text")).as("native"),
      Cleaning.cleanTextBuiltins(col("text")).as("builtins")).collect()
    out.zip(cases).foreach { case (r, in) =>
      assert(r.getString(0) == r.getString(1), s"mismatch for input '$in'")
    }
  }

  test("composed pipeline is idempotent on its own output") {
    val once = clean("MiXeD 123 @u http://z.io 😀ok done")
    assert(clean(once) == once)
  }

  test("empty and whitespace-only input") {
    assert(clean("") == "")
    assert(clean("   \t ") == "")
  }

  test("native EmojiStripTokens expression is bit-equal to the HOF form") {
    val cases = Seq("", "plain text", "a😀b c", "😀 start", "end 🚀",
      " lead", "trail ", "mid😀dle kept", "🇺🇸 flag token", "zero‍joiner x",
      "tab\tsep", "multi   space", "☀ sun ♥")
    val df = cases.toDF("text")
    val out = df.select(
      Cleaning.removeEmojiTokens(col("text")).as("native"),
      Cleaning.removeEmojiTokensHof(col("text")).as("hof")).collect()
    out.zip(cases).foreach { case (r, in) =>
      assert(r.getString(0) == r.getString(1), s"mismatch for input '$in'")
    }
  }

  test("native expressions are callable from SQL after registration") {
    graft.functions.GraftFunctions.registerAll(spark)
    val r = spark.sql(
      """SELECT emoji_strip_tokens('a\uD83D\uDE00b keep') AS t,
        |  qdot(array(2L, 3L), array(5L, 7L)) AS d,
        |  quantize_vec(array(CAST(0.5 AS FLOAT), CAST(-1.25 AS FLOAT))) AS q,
        |  url_user_covid_strip('see http://x.co/a @bob COVID-19 now') AS u,
        |  alpha_space_lower('  Ab1c,2.3  X\tY ') AS l,
        |  quantize_vec(array(CAST(0.1 AS DOUBLE), CAST(-2.0000005 AS DOUBLE),
        |    CAST(1e-7 AS DOUBLE))) AS qd
        |""".stripMargin).collect().head
    assert(r.getString(0) == "keep")
    assert(r.getLong(1) == 31L)
    assert(r.getSeq[Long](2) == Seq(500000L, -1250000L))
    assert(r.getString(3) == "see    now")
    assert(r.getString(4) == "abc xy")
    assert(r.getSeq[Long](5) == Seq(100000L, -2000001L, 0L))
  }
}
