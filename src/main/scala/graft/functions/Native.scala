package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The engine's per-row native functions. Each is one static call into a
  * `*Ops` kernel, planned as Spark's own `objects.StaticInvoke`:
  *  - whole-stage codegen emits the direct call
  *    `graft.functions.<Ops>.<fn>(…)`, and the interpreted path invokes
  *    the same method;
  *  - a null argument gives a null result without calling the kernel;
  *  - plans show the call, e.g.
  *    `static_invoke(graft.functions.RowStatOps.simhash16(w#1))`.
  * Each kernel's scaladoc states what it computes and why that equals the
  * built-in formulation it replaced. */
object Native {

  /** `ops.fn(args…)` with result type `dataType`. */
  def apply(ops: AnyRef, fn: String, dataType: DataType, args: Column*): Column =
    GraftColumnBridge.column(StaticInvoke(ops.getClass, dataType, fn,
      args.map(GraftColumnBridge.expression), returnNullable = false))

  /** An object constant as an argument. An object literal compares by
    * reference, so bind each distinct array once to keep columns built from
    * equal constants `semanticEquals`. */
  def const(value: AnyRef): Column = GraftColumnBridge.column(Literal.fromObject(value))

  val Longs: DataType = ArrayType(LongType, containsNull = false)
}

object MinHashSig {
  def apply(c: Column): Column = Native(MinHashOps, "sig", Native.Longs, c)
}

object ShingleSet {
  def apply(c: Column): Column = Native(ShingleOps, "shingles",
    ArrayType(StringType, containsNull = false), c, GraftColumnBridge.column(Literal(3)))
}

object SortedIntersectSize {
  def apply(a: Column, b: Column): Column =
    Native(ShingleOps, "sortedIntersectSize", LongType, a, b)
}

object JaccardPrefix {
  def apply(ws: Column, num: Int, den: Int): Column = Native(TokenOps, "jaccardPrefix",
    ArrayType(StringType, containsNull = false), ws,
    GraftColumnBridge.column(Literal(num)), GraftColumnBridge.column(Literal(den)))
}

object Words {
  /** [[TokenOps.words]] over a cleaned text. The stopword set is a HashSet
    * literal, which compares by content. */
  def apply(clean: Column, stopWords: Seq[String] = Nil): Column = {
    val stop = new java.util.HashSet[UTF8String](stopWords.length * 2)
    stopWords.foreach(w => stop.add(UTF8String.fromString(w)))
    Native(TokenOps, "words", ArrayType(StringType, containsNull = false), clean,
      Native.const(stop))
  }
}

object SimHash16 {
  def apply(c: Column): Column = Native(RowStatOps, "simhash16", LongType, c)
}

object LenHist {
  def apply(c: Column): Column = Native(RowStatOps, "lenHist", Native.Longs, c)
}

object TokenStats {
  private val lists = new java.util.concurrent.ConcurrentHashMap[Seq[String], Column]

  def apply(c: Column, stopWords: Seq[String]): Column =
    Native(RowStatOps, "tokenStats", Native.Longs, c, lists.computeIfAbsent(
      stopWords, sw => Native.const(sw.map(UTF8String.fromString).toArray)))
}

object FrameSample {
  def apply(c: Column): Column = Native(RowStatOps, "frameSample",
    ArrayType(IntegerType, containsNull = false), c)
}

object WordTfPairs {
  def apply(c: Column): Column = Native(RowStatOps, "wordTfPairs",
    ArrayType(StructType(Seq(StructField("word", StringType, nullable = false),
      StructField("cnt", LongType, nullable = false))), containsNull = false), c)
}

object TokenCounts {
  def apply(c: Column): Column = Native(RowStatOps, "tokenCounts", Native.Longs, c)
}

object VocabPositions {
  /** `vocab`'s map is built once per call; a HashMap literal compares by
    * content. */
  def apply(c: Column, vocab: Seq[(String, Long)]): Column = {
    val m = new java.util.HashMap[UTF8String, java.lang.Long](vocab.length * 2)
    vocab.foreach { case (w, p) => m.put(UTF8String.fromString(w), p) }
    Native(RowStatOps, "vocabPositions", Native.Longs, c, Native.const(m))
  }
}

object QDot {
  def apply(a: Column, b: Column): Column = Native(EmbedOps, "qdot", LongType, a, b)

  /** Float input is widened first; float→double is exact. The cast is a
    * Catalyst `Cast`, not `Column.cast`: a SQL builder (GraftFunctions)
    * hands in bare expressions, and nothing would convert a Column-API
    * node below them. */
  def quantize(c: Column): Column = Native(EmbedOps, "quantizeD", Native.Longs,
    GraftColumnBridge.column(Cast(GraftColumnBridge.expression(c), ArrayType(DoubleType))))

  def lshBucket(c: Column): Column = Native(EmbedOps, "lshBucket", LongType, c)
}
