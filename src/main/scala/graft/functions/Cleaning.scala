package graft.functions

import org.apache.spark.sql.Column
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

  /** F1 — emoji-token removal (py:122-125): the reference drops the WHOLE
    * whitespace-token if it contains any emoji codepoint, not just the emoji
    * char. The native kernel EmojiOps.strip, pinned by CleaningSpec against
    * the built-in higher-order-function form. */
  def removeEmojiTokens(c: Column): Column =
    Native(EmojiOps, "strip", StringType, c)

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
    // F4 fused to one alternation, as NoiseOps.strip (CleaningSpec's
    // removeWords argues it equals the four sequential passes)
    val f4 = rr(f3, """(?i)\b(?:covid-19|covid19|covid_19|covid)\b""", "")
    val f5 = rr(f4, "[^A-Za-z ]+", "")       // F5 keep alpha+space
    val f6 = rr(f5, """\s+""", " ")          // F6 collapse again
    s"lower(trim($f6))"                      // + trim, F7 lower
  }

  /** The DuckDB-SQL mirror of [[Words]] without stopwords over the oracles'
    * `clean` column ([[CleanTextSql]]): the non-empty tokens of its
    * single-space split. */
  val WordsSql: String = "list_filter(string_split(clean, ' '), t -> t <> '')"

  /** The reference's custom stopword additions beyond the standard english
    * list: 11 domain words + 26 single letters + the empty token
    * (LDATopicModelingWithGibbs.py:36-41; SURVEY §7.5.4). */
  val ExtraStopWords: Array[String] =
    (Array("amp", "rt", "via", "new", "like", "just", "people", "know",
      "need", "today", "im") ++
      ('a' to 'z').map(_.toString) :+ "")
}
