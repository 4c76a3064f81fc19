package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** Static kernel called from generated code (see Native). */
object TokenOps {
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
}
