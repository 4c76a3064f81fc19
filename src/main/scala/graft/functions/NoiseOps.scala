package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** Static kernel called from generated code (see Native). */
object NoiseOps {

  /** Java-regex \s (ASCII); multibyte bytes are negative → non-whitespace. */
  private def isWs(c: Byte): Boolean = c == ' ' || (c >= '\t' && c <= '\r')

  /** Java-regex \w (ASCII); multibyte bytes are negative → non-word. */
  private def isWord(c: Byte): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= '0' && c <= '9') || c == '_'

  /** F2: delete every literal "http" followed by one or more non-\s chars,
    * together with that non-\s run. Returns the new length. */
  private def stripUrls(in: Array[Byte], len: Int, out: Array[Byte]): Int = {
    var i = 0
    var n = 0
    while (i < len) {
      if (in(i) == 'h' && i + 4 < len && in(i + 1) == 't' && in(i + 2) == 't' &&
          in(i + 3) == 'p' && !isWs(in(i + 4))) {
        i += 4
        while (i < len && !isWs(in(i))) i += 1
      } else {
        out(n) = in(i); n += 1; i += 1
      }
    }
    n
  }

  /** F3: delete every '@' followed by one or more \w chars. */
  private def stripUsers(in: Array[Byte], len: Int, out: Array[Byte]): Int = {
    var i = 0
    var n = 0
    while (i < len) {
      if (in(i) == '@' && i + 1 < len && isWord(in(i + 1))) {
        i += 2
        while (i < len && isWord(in(i))) i += 1
      } else {
        out(n) = in(i); n += 1; i += 1
      }
    }
    n
  }

  private def ciEq(c: Byte, lower: Char): Boolean =
    c == lower || c == (lower - 32)

  /** Case-insensitive "covid" at position i (caller checked i+5 <= len). */
  private def covidAt(in: Array[Byte], i: Int): Boolean =
    ciEq(in(i), 'c') && ciEq(in(i + 1), 'o') && ciEq(in(i + 2), 'v') &&
      ciEq(in(i + 3), 'i') && ciEq(in(i + 4), 'd')

  /** java.util.regex \b (without UNICODE_CHARACTER_CLASS) does NOT use the
    * ASCII \w class: Pattern.Bound checks `ch == '_' ||
    * Character.isLetterOrDigit(ch)`, which is Unicode-aware — "ĸCOVID" has
    * NO boundary before the C (caught by the NativeOpsProps property). So
    * the boundary neighbors must be decoded as code points. */
  private def isWordCp(cp: Int): Boolean =
    cp == '_' || Character.isLetterOrDigit(cp)

  /** Decode the UTF-8 code point starting at lead byte s (bounds-guarded:
    * truncated sequences fall back to the lead byte value, which is in a
    * non-letter range anyway). */
  private def cpAt(b: Array[Byte], s: Int, len: Int): Int = {
    val c = b(s) & 0xFF
    if (c < 0xC0) c
    else if (c < 0xE0) {
      if (s + 1 >= len) c
      else ((c & 0x1F) << 6) | (b(s + 1) & 0x3F)
    } else if (c < 0xF0) {
      if (s + 2 >= len) c
      else ((c & 0x0F) << 12) | ((b(s + 1) & 0x3F) << 6) | (b(s + 2) & 0x3F)
    } else {
      if (s + 3 >= len) c
      else ((c & 0x07) << 18) | ((b(s + 1) & 0x3F) << 12) |
        ((b(s + 2) & 0x3F) << 6) | (b(s + 3) & 0x3F)
    }
  }

  /** Is the char ENDING at byte i-1 a \b word char? (i is a char start.) */
  private def prevIsWord(in: Array[Byte], i: Int, len: Int): Boolean = {
    if (i == 0) return false
    val c = in(i - 1)
    if (c >= 0) return isWord(c)
    var s = i - 1
    while (s > 0 && (in(s) & 0xC0) == 0x80) s -= 1
    isWordCp(cpAt(in, s, len))
  }

  /** Is the char STARTING at byte j a \b word char? */
  private def nextIsWord(in: Array[Byte], j: Int, len: Int): Boolean = {
    if (j >= len) return false
    val c = in(j)
    if (c >= 0) isWord(c) else isWordCp(cpAt(in, j, len))
  }

  /** F4: delete \b(?:covid-19|covid19|covid_19|covid)\b case-insensitively,
    * alternatives tried in that order at each shared start (leftmost-first,
    * like java.util.regex). Boundaries are checked against `in`, the pass's
    * original input, exactly as replaceAll does. */
  private def stripCovid(in: Array[Byte], len: Int, out: Array[Byte]): Int = {
    def bAfter(j: Int): Boolean = !nextIsWord(in, j, len)
    var i = 0
    var n = 0
    while (i < len) {
      var end = -1
      if (i + 5 <= len && !prevIsWord(in, i, len) && covidAt(in, i)) {
        val j = i + 5
        if (j + 3 <= len && in(j) == '-' && in(j + 1) == '1' && in(j + 2) == '9' &&
            bAfter(j + 3)) end = j + 3
        else if (j + 2 <= len && in(j) == '1' && in(j + 1) == '9' &&
            bAfter(j + 2)) end = j + 2
        else if (j + 3 <= len && in(j) == '_' && in(j + 1) == '1' && in(j + 2) == '9' &&
            bAfter(j + 3)) end = j + 3
        else if (bAfter(j)) end = j
      }
      if (end >= 0) {
        i = end
      } else {
        out(n) = in(i); n += 1; i += 1
      }
    }
    n
  }

  /** F2→F3→F4 of the cleaning chain as ONE native kernel (optimization
    * guide §1.2 step 2 — per-task work): three sequential byte-level passes
    * replacing three java.util.regex replaceAll passes
    *
    *   F2: regexp_replace(x, "http\\S+", "")
    *   F3: regexp_replace(_, "@\\w+", "")
    *   F4: regexp_replace(_, "(?i)\\b(?:covid-19|covid19|covid_19|covid)\\b", "")
    *
    * with no regex engine and no intermediate UTF8String/String allocation
    * (two byte buffers, ping-ponged). The passes stay SEQUENTIAL — cross-pass
    * fusion is provably unsafe ("co@xvid" → F3 → "covid" → F4 → "") — only
    * the execution of each pass changes.
    *
    * Byte-level is exact because every character class involved is
    * ASCII-defined in java.util.regex: \s is [ \t\n\x0B\f\r], so \S matches
    * every other char — and every byte of a multibyte UTF-8 char (high bit
    * set) is individually non-whitespace, so consuming bytes until an ASCII
    * whitespace byte consumes exactly the chars \S+ consumes; \w is
    * [A-Za-z0-9_], so multibyte bytes are non-word; the literals are ASCII.
    * The one NON-ASCII class is \b's word set (see isWordCp below), for
    * which the adjacent code point is decoded. Scan semantics mirror
    * the regex engine's: try each position left to right, on a match resume
    * at the match end, and evaluate boundaries against the ORIGINAL input of
    * the pass. Pinned by a NativeOpsProps property against the regex
    * composition and CleaningSpec's bit-equality test of the whole chain.
    */
  def strip(in: UTF8String): UTF8String = {
    val src = in.getBytes
    val a = new Array[Byte](src.length)
    val b = new Array[Byte](src.length)
    val n1 = stripUrls(src, src.length, a)
    val n2 = stripUsers(a, n1, b)
    val n3 = stripCovid(b, n2, a)
    UTF8String.fromBytes(a, 0, n3)
  }
}
