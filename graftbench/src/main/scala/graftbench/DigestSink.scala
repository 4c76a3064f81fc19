package graftbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A write sink that discards rows like Spark's `noop` sink, after folding
  * each one into an order-independent digest, so a timed action both runs
  * the whole plan and yields a checkable result without a second run.
  *
  * Row encoding (mirrored by check.py): fields rendered as text — integers in
  * decimal, doubles with Java's `Double.toString`, strings and other types
  * by their `toString`, null as `\u0000` — joined with `\u001f`. The
  * digest is the wrapping sum of the first eight bytes (big-endian) of each
  * row's MD5. With `keep=true` the encoded rows themselves come back to the
  * driver as well.
  *
  *   df.write.format(classOf[DigestSink].getName)
  *     .option("id", "q1").option("keep", "true").mode("overwrite").save()
  *   DigestSink.take("q1") // => Some(Result(rows, digest, kept))
  */
class DigestSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = DigestSink.DigestTable
}

object DigestSink {
  final case class Result(rows: Long, digest: Long, kept: Seq[String])

  private val results = new util.concurrent.ConcurrentHashMap[String, Result]

  /** The result of the write with option `id`, removed from the registry. */
  def take(id: String): Option[Result] = Option(results.remove(id))

  def encode(row: InternalRow, schema: StructType): String = {
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < schema.length) {
      if (i > 0) sb.append('\u001f')
      if (row.isNullAt(i)) sb.append('\u0000')
      else schema(i).dataType match {
        case LongType => sb.append(row.getLong(i))
        case IntegerType => sb.append(row.getInt(i))
        case DoubleType => sb.append(row.getDouble(i))
        case t => sb.append(row.get(i, t).toString)
      }
      i += 1
    }
    sb.toString
  }

  def rowDigest(md: MessageDigest, encoded: String): Long = {
    val h = md.digest(encoded.getBytes(StandardCharsets.UTF_8))
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (h(i) & 0xffL); i += 1 }
    v
  }

  private final case class Part(rows: Long, digest: Long, kept: Array[String])
    extends WriterCommitMessage

  private object DigestTable extends Table with SupportsWrite {
    override def name(): String = "digest-table"
    override def schema(): StructType = new StructType()
    override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.ACCEPT_ANY_SCHEMA)
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
      new WriteBuilder with SupportsTruncate {
        override def truncate(): WriteBuilder = this
        override def build(): Write = new Write {
          override def toBatch: BatchWrite = new DigestBatch(
            info.options.get("id"), info.options.getBoolean("keep", false),
            info.schema)
        }
      }
  }

  private class DigestBatch(id: String, keep: Boolean, schema: StructType)
      extends BatchWrite {
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
      new Factory(keep, schema)
    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val parts = messages.collect { case p: Part => p }
      results.put(id, Result(parts.map(_.rows).sum, parts.map(_.digest).sum,
        parts.flatMap(_.kept).toSeq))
    }
    override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  }

  private class Factory(keep: Boolean, schema: StructType) extends DataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
      new DataWriter[InternalRow] {
        private val md = MessageDigest.getInstance("MD5")
        private var rows = 0L
        private var digest = 0L
        private val kept = ArrayBuffer.empty[String]
        override def write(record: InternalRow): Unit = {
          val e = encode(record, schema)
          rows += 1
          digest += rowDigest(md, e)
          if (keep) kept += e
        }
        override def commit(): WriterCommitMessage = Part(rows, digest, kept.toArray)
        override def abort(): Unit = ()
        override def close(): Unit = ()
      }
  }
}
