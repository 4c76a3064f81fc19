package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** F1 — emoji-token removal (SURVEY §4.3 / §7.4). Static kernel called
  * from generated code (see Native; scalac emits a static forwarder, so
  * `graft.functions.EmojiOps.strip(...)` is valid Java). */
object EmojiOps {

  /** Codepoint ranges mirrored from CleaningSpec.EmojiClass. */
  def isEmoji(cp: Int): Boolean =
    (cp >= 0x1F300 && cp <= 0x1FAFF) || (cp >= 0x2600 && cp <= 0x27BF) ||
    (cp >= 0x1F000 && cp <= 0x1F02F) || (cp >= 0x1F0A0 && cp <= 0x1F0FF) ||
    (cp >= 0x1F100 && cp <= 0x1F2FF) || (cp >= 0x2190 && cp <= 0x21FF) ||
    (cp >= 0x2B00 && cp <= 0x2BFF) || (cp >= 0xFE00 && cp <= 0xFE0F) ||
    cp == 0x200D

  /** Java-regex \s is the ASCII set [ \t\n\x0B\f\r]. */
  private def isWs(c: Char): Boolean = c == ' ' || (c >= '\t' && c <= '\r')

  /** Semantics: exactly the reference's remove_emoji
    * (ExtractTwitterData.py:122-125), and bit-equal to the
    * higher-order-function form `CleaningSpec.removeEmojiTokensHof`: split on
    * whitespace runs, drop every token containing ANY emoji codepoint,
    * join the survivors (including empty edge tokens, as split keeps them)
    * with a single space.
    *
    * Why native: the HOF form (filter + rlike lambda) executes an
    * interpreted regex per token; this is one static call inside
    * WholeStageCodegen with a branch-free codepoint range check — no regex,
    * no lambda interpreter, no per-token UTF8String allocation.
    *
    * One pass, zero per-token allocation. Semantics identical to the
    * original `Whitespace.split(s, -1)` + filter + mkString(" ") form
    * (covered by the NativeOpsProps properties): tokens are the segments
    * between \s+ runs INCLUDING the empty leading/trailing segments split
    * keeps at limit -1, a token is dropped iff it contains an emoji
    * codepoint, survivors are joined with a single space. */
  def strip(in: UTF8String): UTF8String = {
    val s = in.toString
    val len = s.length
    val sb = new java.lang.StringBuilder(len)
    var first = true
    var tokenStart = 0
    var emoji = false
    var i = 0
    def flush(end: Int): Unit = {
      if (!emoji) {
        if (!first) sb.append(' ')
        sb.append(s, tokenStart, end)
        first = false
      }
    }
    while (i < len) {
      val c = s.charAt(i)
      if (isWs(c)) {
        flush(i)
        i += 1
        while (i < len && isWs(s.charAt(i))) i += 1
        tokenStart = i
        emoji = false
      } else {
        val cp = s.codePointAt(i)
        if (isEmoji(cp)) emoji = true
        i += Character.charCount(cp)
      }
    }
    flush(len)
    UTF8String.fromString(sb.toString)
  }
}
