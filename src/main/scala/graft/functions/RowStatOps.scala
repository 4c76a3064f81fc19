package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Per-row replacements for explode + groupBy(doc_id) aggregations (guide
  * §2.4 — remove shuffles outright): the token array already holds one
  * document's whole multiset, so any per-document aggregate of the exploded
  * stream is computable in one pass over the row, and the regrouping
  * exchange disappears from the plan. Static kernels called from generated
  * code (see Native). */
object RowStatOps {

  /** Sorted vocabulary positions of a token array, against a BOUNDED vocab
    * map passed as a literal (top-V, V=100 — the same bounded driver state
    * the repo already allows for vocab arrays). The native per-row form of
    *   explode(w) ⋈ broadcast(vocab) → groupBy(doc_id){ sort_array(
    *     collect_list(pos)), count(*) }:
    * vocab words are DISTINCT, so the inner join emits exactly one `pos` per
    * in-vocab token OCCURRENCE; collect_list of those = this kernel's
    * multiset; sort_array ascending = the ascending sort here; count(*) =
    * the output's size. Docs with zero in-vocab tokens produce the empty
    * array (callers filter on size > 0, replicating the inner join's corpus
    * shrink). Removes the explode, the broadcast hash join and the
    * groupBy(doc_id) Exchange from the plan (guide §2.4); each token costs
    * one hash-map probe, same as the hash join's. */
  def vocabPositions(a: ArrayData,
      vocab: java.util.HashMap[UTF8String, java.lang.Long]): ArrayData = {
    val n = a.numElements()
    val hits = new java.util.ArrayList[java.lang.Long]()
    var i = 0
    while (i < n) {
      val p = vocab.get(a.getUTF8String(i))
      if (p != null) hits.add(p)
      i += 1
    }
    val out = new Array[Long](hits.size)
    var k = 0
    while (k < out.length) { out(k) = hits.get(k).longValue; k += 1 }
    java.util.Arrays.sort(out)
    new GenericArrayData(out)
  }

  private def isAsciiWs(c: Char): Boolean = c == ' ' || (c >= '\t' && c <= '\r')
  private def isAsciiLetter(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  private def isAsciiDigit(c: Char): Boolean = c >= '0' && c <= '9'

  /** Per-row [n_ws_tokens, n_bpe_tokens] of a raw text string — the native
    * form of text_token_count's
    *   size(filter(split(text, "\s+"), t -> t <> "")) and
    *   regexp_count(text, "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]").
    * n_ws_tokens = number of maximal non-\s runs (split's non-empty
    * segments). n_bpe_tokens replicates the regex engine's left-to-right
    * non-overlapping scan: at a letter the first alternative consumes the
    * maximal letter run (one match), at a digit the second consumes the
    * digit run, ASCII whitespace matches nothing, and every other CODE POINT
    * — including multibyte chars and non-ASCII whitespace, which are outside
    * \s — matches the final single-char class once. */
  def tokenCounts(in: UTF8String): ArrayData = {
    val s = in.toString
    val len = s.length
    var ws = 0L
    var bpe = 0L
    var inRun = false // inside a maximal non-\s run (one ws token each)
    var i = 0
    while (i < len) {
      val c = s.charAt(i)
      if (isAsciiWs(c)) {
        inRun = false
        i += 1
      } else {
        if (!inRun) { ws += 1L; inRun = true }
        if (isAsciiLetter(c)) {
          bpe += 1L
          i += 1
          while (i < len && isAsciiLetter(s.charAt(i))) i += 1
        } else if (isAsciiDigit(c)) {
          bpe += 1L
          i += 1
          while (i < len && isAsciiDigit(s.charAt(i))) i += 1
        } else {
          bpe += 1L // one match per code point for the [^A-Za-z0-9\s] class
          i += Character.charCount(s.codePointAt(i))
        }
      }
    }
    new GenericArrayData(Array(ws, bpe))
  }

  /** Per-row (word, cnt) term-frequency pairs of a token array — the
    * map-side half of a document-frequency aggregate. One output element per
    * DISTINCT word in the row, cnt = its occurrences; element order follows
    * first occurrence (irrelevant downstream — the pairs feed an aggregate).
    * Lets text_doc_freq shuffle one row per (doc, distinct word) into a plain
    * groupBy(word) { count(*) AS df, sum(cnt) AS cf } instead of running
    * count(DISTINCT doc_id) over the exploded stream, whose planning Expands
    * every exploded row into two aggregate groups (§2.3 — aggregate before
    * you shuffle). */
  def wordTfPairs(a: ArrayData): ArrayData = {
    val n = a.numElements()
    val counts = new java.util.LinkedHashMap[UTF8String, java.lang.Long]()
    var i = 0
    while (i < n) {
      val w = a.getUTF8String(i)
      val c = counts.get(w)
      counts.put(w, if (c == null) 1L else c.longValue + 1L)
      i += 1
    }
    val out = new Array[Any](counts.size)
    val it = counts.entrySet().iterator()
    var k = 0
    while (it.hasNext) {
      val e = it.next()
      out(k) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](e.getKey, e.getValue))
      k += 1
    }
    new GenericArrayData(out)
  }

  /** Every-16th-character sample of a string as code points — the native form
    * of mm_frame_sample's
    * `transform(sequence(0, ceil(n/16)-1), i -> ascii(substring(s, i*16+1, 1)))`.
    * The lambda form re-evaluates the payload→string cast per element and
    * pays an O(char-index) substring scan per frame (O(n²/16) per row); this
    * is one pass. Count = ceil(numChars/16); the sampled index 16·(frames−1)
    * is always < numChars, so every substring the built-in took is non-empty
    * and equals the code point at that character position (= ascii()). An
    * empty input yields the empty array, like the byte_len = 0 CASE arm. */
  def frameSample(in: UTF8String): ArrayData = {
    val s = in.toString
    val len = s.length
    val out = new java.util.ArrayList[Any]()
    var i = 0      // char offset into s
    var idx = 0    // code-point index
    while (i < len) {
      val cp = s.codePointAt(i)
      if (idx % 16 == 0) out.add(cp)
      idx += 1
      i += Character.charCount(cp)
    }
    new GenericArrayData(out.toArray)
  }

  /** Per-row token statistics over a split array: [n_tokens (non-empty),
    * n_stop (member of `stopWords`), tot_len (Σ numChars over ALL elements —
    * empties add 0)]. Replaces the explode → groupBy(doc_id) conditional-sum
    * aggregates of text_quality / text_langid / pipeline_curate: identical
    * integer counts over the same array, computed without the explode, the
    * hash-aggregate, or the regroup Exchange. Membership is UTF8String
    * equality over the bounded vendored list, same as array_contains. */
  def tokenStats(a: ArrayData, stopWords: Array[UTF8String]): ArrayData = {
    val n = a.numElements()
    var nTokens = 0L
    var nStop = 0L
    var totLen = 0L
    var i = 0
    while (i < n) {
      val t = a.getUTF8String(i)
      if (t.numBytes() > 0) nTokens += 1L
      totLen += t.numChars()
      var j = 0
      while (j < stopWords.length) {
        if (t.equals(stopWords(j))) { nStop += 1L; j = stopWords.length }
        else j += 1
      }
      i += 1
    }
    new GenericArrayData(Array(nTokens, nStop, totLen))
  }

  /** SimHash-16 of a word array (with multiplicity): per word,
    * h = strHash31(word); bit j's vote is +1 if (h div 2^j) % 2 = 1 else −1;
    * simhash = Σ_j (votes_j > 0 ? 2^j : 0). Summing ±1 per OCCURRENCE equals
    * the previous groupBy(doc_id, word) count → Σ cnt·(±1) formulation
    * exactly (integer addition is order-independent), so the fingerprint is
    * bit-identical while both exchanges (word-count and bit-sum) vanish. */
  def simhash16(a: ArrayData): Long = {
    val n = a.numElements()
    val votes = new Array[Long](16)
    var i = 0
    while (i < n) {
      val h = TokenOps.strHash31(a.getUTF8String(i))
      var j = 0
      while (j < 16) {
        votes(j) += (((h >>> j) & 1L) * 2L) - 1L
        j += 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 16) {
      if (votes(j) > 0) out |= (1L << j)
      j += 1
    }
    out
  }

  /** Token-length histogram of a word array: counts of words with 1..10
    * characters (longer words fall outside every bucket, like the previous
    * 10 conditional sums). numChars matches Spark's length() on strings. */
  def lenHist(a: ArrayData): ArrayData = {
    val n = a.numElements()
    val h = new Array[Long](10)
    var i = 0
    while (i < n) {
      val l = a.getUTF8String(i).numChars()
      if (l >= 1 && l <= 10) h(l - 1) += 1L
      i += 1
    }
    new GenericArrayData(h)
  }
}
