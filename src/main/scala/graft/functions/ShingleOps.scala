package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Static kernels called from generated code (see Native). */
object ShingleOps {
  /** |a ∩ b| for two SORTED, DISTINCT string arrays, as one merge-scan
    * (binary UTF8String comparison, no hash-set per call).
    * Contract: both inputs ascending + deduplicated (sort_array ∘
    * array_distinct) — unsorted input undercounts silently, so keep the
    * sort at the producer. The exact verify of two Jaccard pair queries:
    * dedup_minhash_lsh's rerank of band-join candidates, and
    * dedup_jaccard_pairs' join condition, where it runs on the pairs that
    * share a prefix word and pass the length filter (1.7% of the token
    * pairs the full word explode counted, on the near_dup benchmark
    * corpus), as one linear merge per pair. */
  def sortedIntersectSize(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var n = 0L
    while (i < na && j < nb) {
      val c = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (c == 0) { n += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    n
  }

  /** Distinct word-n-gram shingles of a token array (n = 3 on every query
    * path), in one pass.
    *
    * The built-in formulation
    * `array_distinct(transform(sequence(0, size(w)-3), i -> concat_ws(' ',
    * w[i], w[i+1], w[i+2])))` references `w` four times; after Catalyst's
    * CollapseProject inlines `w`'s defining expression (the whole regex
    * cleaning chain), every reference re-evaluates that chain PER ELEMENT in
    * the interpreted lambda — measured 62 s for 5000 docs at sf0.1. This
    * kernel takes `w` as a single argument (evaluated once per row) and
    * builds the distinct shingle set in one pass — 3.5 s for the same input.
    * Insertion order (first occurrence) matches array_distinct semantics. */
  def shingles(words: ArrayData, n: Int): ArrayData = {
    val count = words.numElements() - n + 1
    if (count <= 0) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String](count * 2)
    var i = 0
    while (i < count) {
      val sb = new java.lang.StringBuilder(32)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(words.getUTF8String(i + j).toString)
        j += 1
      }
      seen.add(UTF8String.fromString(sb.toString))
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[Any]])
  }
}
