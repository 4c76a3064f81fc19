package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** Static kernel called from generated code (see Native). */
object AlphaOps {

  /** F5+F6+trim+F7 of the cleaning chain fused into ONE byte-level pass
    * (optimization guide §1.2 step 2 — per-task work): the built-in form
    *
    *   lower(trim(regexp_replace(regexp_replace(x, "[^A-Za-z ]+", ""),
    *                             "\\s+", " ")))
    *
    * traverses (and reallocates) the string four times, twice through the
    * regex engine. This kernel produces the identical result in a single
    * pass with one output buffer.
    *
    * Equivalence proof, for ARBITRARY input (pinned by a CleaningSpec test
    * and a NativeOpsProps property against the built-in composition):
    *  - F5 keeps only code points in [A-Za-z ]. In UTF-8 every byte of a
    *    multibyte sequence has the high bit set, so byte-wise deletion of
    *    every byte outside {A-Z, a-z, 0x20} deletes exactly the code points
    *    F5 deletes — no multibyte char can survive partially.
    *  - After F5 the only whitespace left is 0x20, so F6's \s+ collapse is a
    *    space-run collapse, trim trims only spaces, and lower only ever sees
    *    ASCII letters (locale-independent +32 lowering).
    *  - The single pass emits a space only between two kept letters with one
    *    or more original spaces between them (collapse), never before the
    *    first letter (trim-left) and never after the last (trim-right);
    *    deleted chars do NOT produce a space, exactly like F5's deletion.
    */
  def fold(in: UTF8String): UTF8String = {
    val b = in.getBytes
    val out = new Array[Byte](b.length)
    var n = 0
    var pending = false
    var i = 0
    while (i < b.length) {
      val c = b(i)
      if (c >= 'a' && c <= 'z') {
        if (pending && n > 0) { out(n) = ' '; n += 1 }
        out(n) = c; n += 1
        pending = false
      } else if (c >= 'A' && c <= 'Z') {
        if (pending && n > 0) { out(n) = ' '; n += 1 }
        out(n) = (c + 32).toByte; n += 1
        pending = false
      } else if (c == ' ') {
        pending = true
      }
      // every other byte (other whitespace, punctuation, any byte of a
      // multibyte char) is deleted without producing a separator — F5.
      i += 1
    }
    UTF8String.fromBytes(out, 0, n)
  }
}
