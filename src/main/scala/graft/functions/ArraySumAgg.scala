package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Typed UDAF: elementwise sum of BIGINT arrays — the engine-owned version
  * of the reference's dense vector reduce (Φ/n_z accumulation,
  * /root/reference/src/LDATopicModelingWithGibbs.py:140-158, A3/A5 in
  * SURVEY §2.5). Arrays of unequal length are summed over the longer
  * length (missing entries are 0); the sparse groupBy path (SURVEY §4.3)
  * remains the default at scale — this exists for dense-parity semantics
  * and as the §2.10 UDAF surface.
  */
object ArraySumAgg extends Aggregator[Seq[Long], Array[Long], Seq[Long]] {
  override def zero: Array[Long] = Array.emptyLongArray

  private def merge(a: Array[Long], b: Seq[Long]): Array[Long] = {
    if (b == null) return a
    val out = if (a.length >= b.length) a else java.util.Arrays.copyOf(a, b.length)
    var i = 0
    while (i < b.length) { out(i) += b(i); i += 1 }
    out
  }

  override def reduce(buf: Array[Long], in: Seq[Long]): Array[Long] = merge(buf, in)
  override def merge(a: Array[Long], b: Array[Long]): Array[Long] =
    merge(a, b.toSeq)
  override def finish(r: Array[Long]): Seq[Long] = r.toSeq

  override def bufferEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Seq[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
}
