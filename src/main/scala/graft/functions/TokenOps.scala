package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Static kernels called from generated code (see Native). */
object TokenOps {
  /** The words of a cleaned text, in order, less the empty tokens and
    * the tokens in `stop` (exact byte equality; empty = no stopwords).
    *
    * `Cleaning.cleanText` emits only [a-z] runs joined by single spaces
    * (`AlphaOps.fold`), so on its output this equals both formulations it
    * replaced: `filter(split(clean, " "), t -> t <> "" AND NOT
    * array_contains(stop, t))`, and MLlib's `RegexTokenizer` (`\s+`,
    * lowercase) followed by `StopWordsRemover` (case-insensitive). The
    * lowercasing changes nothing on [a-z], and a case-insensitive match of
    * an [a-z] token against a lowercase list is exact equality. One byte
    * scan per row; the tokens are views on one copy of the row's bytes. */
  def words(clean: UTF8String, stop: java.util.HashSet[UTF8String]): ArrayData = {
    val b = clean.getBytes
    val out = new java.util.ArrayList[UTF8String]()
    val filtered = !stop.isEmpty
    var i = 0
    while (i < b.length) {
      var j = i
      while (j < b.length && b(j) != ' ') j += 1
      if (j > i) {
        val t = UTF8String.fromBytes(b, i, j - i)
        if (!filtered || !stop.contains(t)) out.add(t)
      }
      i = j + 1
    }
    new GenericArrayData(out.toArray.asInstanceOf[Array[Any]])
  }

  /** The engine's deterministic 31-bit string hash:
    * sum_k (k · codepoint_k) · 2654435761 mod (2³¹−1), 1-based k — matching
    * ascii(substring(s, k, 1)) semantics (k-th codepoint). Bit-identical to
    * the SQL formulation used by the DuckDB oracles (`Dedup.wordHashSql`);
    * the interpreted higher-order version costs a lambda-interpreter pass
    * per string, this is one static call. */
  def strHash31(in: UTF8String): Long = {
    val s = in.toString
    var sum = 0L
    var k = 1L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      sum += k * cp
      k += 1
      i += Character.charCount(cp)
    }
    (sum * 2654435761L) % 2147483647L
  }

  /** The global token order of the prefix filter: `strHash31` (`ha`,
    * `hb`), then the UTF-8 bytes. Distinct words that share a hash
    * (weighted codepoint sums collide easily: "ab" and "ca") still compare
    * unequal, so the order is total — which the prefix principle needs. */
  private def tokenOrder(ha: Long, a: UTF8String, hb: Long, b: UTF8String): Int = {
    val c = java.lang.Long.compare(ha, hb)
    if (c != 0) c else a.compareTo(b)
  }

  /** Prefix length |x| − ⌈t·|x|⌉ + 1 for a set of `n` tokens at Jaccard
    * threshold t = num/den, in exact integer arithmetic, at most `n`. */
  def prefixLength(n: Int, num: Int, den: Int): Int =
    math.min(n, n - (num.toLong * n + den - 1) / den + 1).toInt

  /** The prefix of a DISTINCT word set at Jaccard threshold num/den: its
    * first `prefixLength` words under `tokenOrder` (AllPairs/PPJoin). Two
    * sets x, y with |x ∩ y| ≥ t·|x ∪ y| overlap in at least ⌈t·max(|x|,
    * |y|)⌉ words, so their prefixes share one — a join on prefix words
    * finds every such pair. Words come back in `tokenOrder`. */
  def jaccardPrefix(ws: ArrayData, num: Int, den: Int): ArrayData = {
    val n = ws.numElements()
    val words = Array.tabulate(n)(ws.getUTF8String)
    val hashes = words.map(strHash31)
    val idx = Array.tabulate[Integer](n)(Integer.valueOf)
    java.util.Arrays.sort(idx,
      (a: Integer, b: Integer) => tokenOrder(hashes(a), words(a), hashes(b), words(b)))
    new GenericArrayData(Array.tabulate[Any](prefixLength(n, num, den))(k => words(idx(k))))
  }
}
