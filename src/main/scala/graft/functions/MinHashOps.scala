package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** Static kernel called from generated code (see Native). */
object MinHashOps {
  private val P = 2147483647L

  /** The 16-permutation MinHash signature of a shingle set, in ONE pass
    * over the row's array (guide §2.4 — remove shuffles outright).
    *
    * The previous formulation exploded every shingle, hashed it, and ran a
    * 16-min groupBy(doc_id) — a full shuffle of the exploded hash stream
    * (O(shingles) rows) just to regroup values that already sat together in
    * one row's array. This kernel computes the identical mins per row:
    * min_j over g in sh of ((2j+1)·strHash31(g) + j·40503) % (2^31−1),
    * exactly the exploded form's aggregate (min is order-independent, the
    * hashes are exact integers, and `sh` is the same distinct set), so the
    * signatures are bit-identical and the groupBy exchange disappears from
    * the plan. h < 2^31 so (2j+1)·h + j·40503 < 2^36 — no Long overflow. */
  def sig(a: ArrayData): ArrayData = {
    val n = a.numElements()
    val mins = new Array[Long](16)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = TokenOps.strHash31(a.getUTF8String(i))
      var j = 0
      while (j < 16) {
        val v = ((2 * j + 1) * h + j * 40503L) % P
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
}
