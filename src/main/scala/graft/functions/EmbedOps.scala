package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** Native kernels for the similarity hot path (SURVEY §4.3), called from
  * generated code (see Native).
  *
  * The built-in formulation — `aggregate(zip_with(a, b, *), 0, +)` — runs
  * the lambda interpreter per element per pair: at N·|Q| pairs × 64 dims
  * that's the inner loop of the whole operator. These compile to one static
  * call over the unsafe array data (no per-element boxing, no allocation
  * except the quantize output; float input reaches quantizeD through
  * Spark's array cast, which boxes each element).
  */
object EmbedOps {
  /** Exact integer dot product of two ARRAY<BIGINT> vectors. */
  def qdot(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0L
    var i = 0
    while (i < n) { s += a.getLong(i) * b.getLong(i); i += 1 }
    s
  }

  /** floor(x·10⁶) quantization of ARRAY<DOUBLE> → ARRAY<BIGINT> (the
    * cross-engine-exact embedding representation; see Similarity).
    * ARRAY<FLOAT> input reaches it through a cast to ARRAY<DOUBLE>, which
    * is exact: float→double widening loses nothing. */
  def quantizeD(a: ArrayData): ArrayData = {
    val n = a.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) { out(i) = math.floor(a.getDouble(i) * 1000000.0).toLong; i += 1 }
    new GenericArrayData(out)
  }

  /** Hyperplane weights w(i,j) = ((i·2654435761 + j·40503) % 7) − 3,
    * identical to Similarity.planeWeightExpr; row-major [j][i], flattened. */
  private val LshW: Array[Long] = {
    val w = new Array[Long](8 * 64)
    var j = 0
    while (j < 8) {
      var i = 0
      while (i < 64) {
        w(j * 64 + i) = ((i.toLong * 2654435761L + j.toLong * 40503L) % 7L) - 3L
        i += 1
      }
      j += 1
    }
    w
  }

  /** 8-bit sign-LSH bucket of a 64-dim quantized vector — the native form
    * of OperatorsSpec.bucketExpr. The built-in formulation runs 8 planes ×
    * `aggregate(transform(sequence(0,63), ...))` — 512 interpreted lambda
    * invocations per row, the heaviest per-row compute on the sim path.
    * Semantics replicated exactly on every input the query path produces
    * (64-dim, no-null quantized vectors; pinned by an OperatorsSpec
    * bit-equality test against the built-in expression). Inputs shorter
    * than 64 dims map to bucket 0 — the built-in form's `ql[i]` would yield
    * NULL dots (bits 0 → bucket 0) under non-ANSI access and raise under
    * ANSI. */
  def lshBucket(a: ArrayData): Long = {
    // ql[i] for i >= len, or a null element, nulls every plane's dot -> 0.
    if (a.numElements() < 64) return 0L
    var i = 0
    while (i < 64) { if (a.isNullAt(i)) return 0L; i += 1 }
    var bucket = 0L
    var j = 0
    while (j < 8) {
      var dot = 0L
      val base = j * 64
      var k = 0
      while (k < 64) { dot += a.getLong(k) * LshW(base + k); k += 1 }
      if (dot > 0) bucket |= (1L << j)
      j += 1
    }
    bucket
  }
}
