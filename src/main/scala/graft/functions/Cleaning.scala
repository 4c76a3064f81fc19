package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** The text-cleaning suite F1–F8 (SURVEY.md §2.3) as pure `Column` functions —
  * codegen'd built-ins, no UDFs, so the whole pipeline stays inside one
  * WholeStageCodegen span over the scan.
  *
  * Reference: /root/reference/src/ExtractTwitterData.py:122-164 — seven
  * pandas `.apply` scalar UDFs composed in a fixed order (order matters:
  * the covid-word removal runs case-insensitively BEFORE lowercasing,
  * py:158-164; SURVEY §7.5.5).
  */
object Cleaning {

  /** F1 — emoji-token removal (py:122-125). The reference drops the WHOLE
    * whitespace-token if it contains any emoji codepoint, not just the emoji
    * char. Expressed as a higher-order `filter` over `split` — array lambdas
    * are codegen-friendly and keep exact drop-the-token semantics. */
  private val EmojiClass =
    "[\\x{1F300}-\\x{1FAFF}\\x{2600}-\\x{27BF}\\x{1F000}-\\x{1F02F}" +
      "\\x{1F0A0}-\\x{1F0FF}\\x{1F100}-\\x{1F1FF}\\x{1F200}-\\x{1F2FF}" +
      "\\x{2190}-\\x{21FF}\\x{2B00}-\\x{2BFF}\\x{FE00}-\\x{FE0F}\\x{200D}]"

  /** Production form: the native kernel EmojiOps.strip (no per-token
    * regex). */
  def removeEmojiTokens(c: Column): Column =
    Native(EmojiOps, "strip", StringType, c)

  /** Built-in-only form, kept for the Expression-equivalence test. */
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
    *    mirror below moves identically) and leftmost-longest semantics pick
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

  /** F2→F3→F4 as the native NoiseOps.strip passes. */
  def urlUserCovidStrip(c: Column): Column =
    Native(NoiseOps, "strip", StringType, c)

  /** F5→F6→trim→F7 fused into the single-pass native AlphaOps.fold. */
  def alphaSpaceLower(c: Column): Column = Native(AlphaOps, "fold", StringType, c)

  /** The full composed pipeline in the reference's exact order F1→F7
    * (py:158-164). One Column expression — Catalyst folds it into the scan
    * projection. Each step is a native kernel (equivalence proofs in their
    * scaladocs; pinned against the built-in composition by CleaningSpec
    * and NativeOpsProps). */
  def cleanText(c: Column): Column =
    alphaSpaceLower(urlUserCovidStrip(removeEmojiTokens(c)))

  /** Built-in-only form of the F5→F7 tail composition, kept for the
    * Expression-equivalence test. */
  def cleanTextBuiltins(c: Column): Column =
    toLower(collapseWhitespace(keepAlphaWhitespace(
      removeWords(removeUsernames(removeUrls(removeEmojiTokensHof(c)))))))

  /** The SINGLE DuckDB-SQL mirror of cleanText, used by every oracle that
    * needs cleaned text (TextOps + Dedup share this constant so the mirrors
    * cannot drift). Structure follows the Scala order exactly:
    * F1 (whitespace-collapse on ASCII — the emoji-token drop is a no-op on
    * the ASCII fixture and is unit-tested separately) → F2 urls → F3
    * usernames → F4 covid words → F5 keep-alpha → F6 collapse+trim (AGAIN,
    * because the removals create adjacent spaces) → F7 lower. */
  val CleanTextSql: String = {
    // built programmatically so the nesting is balanced by construction
    def rr(inner: String, pat: String, rep: String) =
      s"regexp_replace($inner, '$pat', '$rep', 'g')"
    val f1 = rr("text", """\s+""", " ")      // F1 on ASCII = collapse
    val f2 = rr(f1, """http\S+""", "")       // F2 urls
    val f3 = rr(f2, """@\w+""", "")          // F3 usernames
    // F4 fused to one alternation in lockstep with removeWords above
    val f4 = rr(f3, """(?i)\b(?:covid-19|covid19|covid_19|covid)\b""", "")
    val f5 = rr(f4, "[^A-Za-z ]+", "")       // F5 keep alpha+space
    val f6 = rr(f5, """\s+""", " ")          // F6 collapse again
    s"lower(trim($f6))"                      // + trim, F7 lower
  }

  /** The reference's custom stopword additions beyond the standard english
    * list: 11 domain words + 26 single letters + the empty token
    * (LDATopicModelingWithGibbs.py:36-41; SURVEY §7.5.4). */
  val ExtraStopWords: Array[String] =
    (Array("amp", "rt", "via", "new", "like", "just", "people", "know",
      "need", "today", "im") ++
      ('a' to 'z').map(_.toString) :+ "")
}
