package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.Cleaning

/** F1–F7 semantics (SURVEY §2.3) on handwritten strings, including the
  * order-of-application traps in SURVEY §7.5.5. */
class CleaningSpec extends SparkSpec {
  import spark.implicits._
  import CleaningSpec._

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
      cleanTextBuiltins(col("text")).as("builtins")).collect()
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
      removeEmojiTokensHof(col("text")).as("hof")).collect()
    out.zip(cases).foreach { case (r, in) =>
      assert(r.getString(0) == r.getString(1), s"mismatch for input '$in'")
    }
  }

  test("native expressions are callable from SQL after registration") {
    graft.functions.GraftFunctions.registerAll(spark)
    val r = spark.sql(
      """SELECT emoji_strip_tokens('a😀b keep') AS t,
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

  test("GraftExtensions injects the five functions at session build time") {
    import org.apache.spark.sql.SparkSession
    graft.functions.GraftFunctions.registerAll(spark)
    val q = """SELECT qdot(array(2L, 3L), array(5L, 7L)) AS d,
              |  quantize_vec(array(CAST(0.5 AS FLOAT), CAST(-1.25 AS FLOAT),
              |    CAST(0.1 AS DOUBLE), CAST(-2.0000005 AS DOUBLE))) AS q""".stripMargin
    val registered = spark.sql(q).collect().toSeq
    val built = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions).create()
    try {
      assert(built ne spark)
      graft.functions.GraftFunctions.all.foreach { case (name, _, _) =>
        assert(built.catalog.functionExists(name), name)
      }
      assert(built.sql(q).collect().toSeq == registered)
    } finally {
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }
}

/** The cleaning suite in Spark built-ins only: the formulations of record
  * that the native kernels of [[graft.functions.Cleaning]] are pinned
  * against. */
object CleaningSpec {

  /** F1 — emoji-token removal (py:122-125). The reference drops the WHOLE
    * whitespace-token if it contains any emoji codepoint, not just the emoji
    * char. Expressed as a higher-order `filter` over `split` — array lambdas
    * are codegen-friendly and keep exact drop-the-token semantics. */
  private val EmojiClass =
    "[\\x{1F300}-\\x{1FAFF}\\x{2600}-\\x{27BF}\\x{1F000}-\\x{1F02F}" +
      "\\x{1F0A0}-\\x{1F0FF}\\x{1F100}-\\x{1F1FF}\\x{1F200}-\\x{1F2FF}" +
      "\\x{2190}-\\x{21FF}\\x{2B00}-\\x{2BFF}\\x{FE00}-\\x{FE0F}\\x{200D}]"

  /** Built-in-only form of EmojiOps.strip. */
  def removeEmojiTokensHof(c: Column): Column =
    array_join(
      filter(split(c, "\\s+"), t => !(t rlike EmojiClass)),
      " ")

  /** F2 — URL removal: re.sub(r'http\S+','') (py:128-130). */
  def removeUrls(c: Column): Column = regexp_replace(c, "http\\S+", "")

  /** F3 — @username removal (py:133-135). */
  def removeUsernames(c: Column): Column = regexp_replace(c, "@\\w+", "")

  /** F4 — case-insensitive whole-word removal of the covid family, in the
    * reference's list order so 'covid-19' is removed before 'covid' could
    * match its prefix (py:28,138-141).
    *
    * Fused: four sequential passes → ONE ordered alternation. Equivalence
    * proof (guide §1 first-principles; r22):
    *  - every match is \b-delimited on both sides, so the chars adjacent to
    *    a removed span are non-word (or string edges). A splice therefore
    *    joins non-word to non-word and can neither create a new covid match
    *    (all start with the word char 'c') nor flip a \b elsewhere (\b
    *    depends only on immediately adjacent chars) — so the sequential
    *    passes never enable matches the single pass misses;
    *  - matches of different family words at DIFFERENT starts cannot
    *    overlap (no word contains another except at offset 0), so removal
    *    order across positions is irrelevant;
    *  - at a SHARED start the only ambiguity is covid-19 vs covid (the
    *    '-'/'_'/digit after 'covid' make the rest mutually exclusive), and
    *    both leftmost-first (java.util.regex, RE2 default — so the DuckDB
    *    mirror Cleaning.CleanTextSql moves identically) and leftmost-longest semantics pick
    *    covid-19, which is also the sequential pass order. */
  def removeWords(c: Column, words: Seq[String] =
      Seq("covid-19", "covid19", "covid_19", "covid")): Column =
    regexp_replace(c,
      words.map(java.util.regex.Pattern.quote)
        .mkString("(?i)\\b(?:", "|", ")\\b"), "")

  /** F5 — keep only ASCII letters and spaces (py:144-146). */
  def keepAlphaWhitespace(c: Column): Column =
    regexp_replace(c, "[^A-Za-z ]+", "")

  /** F6 — collapse runs of whitespace to one space (py:149-151). */
  def collapseWhitespace(c: Column): Column =
    trim(regexp_replace(c, "\\s+", " "))

  /** F7 — lowercase (py:164, applied last). */
  def toLower(c: Column): Column = lower(c)

  /** Built-in-only form of Cleaning.cleanText: F1→F7 as the reference
    * composes them (py:158-164). */
  def cleanTextBuiltins(c: Column): Column =
    toLower(collapseWhitespace(keepAlphaWhitespace(
      removeWords(removeUsernames(removeUrls(removeEmojiTokensHof(c)))))))
}
