package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Q
import graft.sources.Tables

/** Multimodal-column plumbing (north star): media as opaque BINARY payloads
  * with typed metadata, plus decode / feature-extract / frame-sample stages.
  * The fixture set has no real image/audio bytes (and this container has no
  * codec libraries), so the payload is the document's UTF-8 bytes and the
  * decoder is a DETERMINISTIC STUB — the Spark-side contract (schema,
  * binary column, per-partition batched processing, sampling shape) is real
  * and oracle-tested; only the innermost decode is fake.
  *
  * Scale posture (100 TB of media): payloads stay columnar binary in
  * parquet; metadata extraction is a narrow projection (no shuffle); the
  * per-partition decoder processes one partition's batch at a time (the
  * Scala analog of mapInPandas batching) so memory is bounded by
  * maxPartitionBytes, not file count; nothing ever collects to the driver.
  */
object BinaryOps {

  /** The media view: documents → (doc_id, payload BINARY, media_type,
    * byte_len). The cast is the ingest boundary — everything downstream
    * treats payload as opaque bytes. */
  def mediaTable(s: SparkSession, dir: String): DataFrame =
    // fanOut measured 2.5x SLOWER on mm_payload_meta (0.58 vs 0.22 s) and
    // neutral on mm_frame_sample — the narrow projections are too cheap per
    // row to recoup the round-robin shuffle; keep the direct scan.
    Tables.documents(s, dir).select(
      col("doc_id"),
      col("text").cast("binary").as("payload"),
      lit("text/plain").as("media_type"),
      length(col("text")).cast("long").as("byte_len"))

  /** === STUB DECODER ===
    * Stands in for an image/audio decode (no codec libs in this container).
    * Deterministic: "width" = first payload byte, "height" = last byte,
    * "features" = banded byte-sums (8 bands). Replace the body with a real
    * codec call; the batching contract (Iterator per partition → bounded
    * memory) is the production shape. */
  final case class Media(doc_id: Long, payload: Array[Byte])
  final case class Decoded(doc_id: Long, width: Int, height: Int,
      n_bytes: Int, features: Array[Float])

  def decodeStub(in: Iterator[Media]): Iterator[Decoded] = in.map { m =>
    val b = m.payload
    val bands = Array.ofDim[Float](8)
    var i = 0
    while (i < b.length) { bands(i % 8) += (b(i) & 0xff).toFloat; i += 1 }
    Decoded(m.doc_id,
      width = if (b.nonEmpty) b(0) & 0xff else 0,
      height = if (b.nonEmpty) b(b.length - 1) & 0xff else 0,
      n_bytes = b.length, features = bands)
  }

  /** Typed per-partition decode over the media table. */
  def decoded(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mediaTable(s, dir).select(col("doc_id"), col("payload")).as[Media]
      .mapPartitions(decodeStub _)
      .toDF()
  }

  val queries: Seq[Q] = Seq(
    // ---- Metadata extraction: narrow projection over the binary column
    // (md5 is bit-identical cross-engine; fixture text is ASCII so byte
    // length == char length on both sides).
    Q(
      "mm_payload_meta",
      (s, dir) => mediaTable(s, dir)
        .select(col("doc_id"), col("media_type"), col("byte_len"),
          md5(col("payload")).as("payload_md5"),
          ceil(col("byte_len") / lit(16.0)).cast("long").as("n_frames"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id, 'text/plain' AS media_type,
             |  CAST(strlen(text) AS BIGINT) AS byte_len,
             |  md5(text) AS payload_md5,
             |  CAST(ceil(strlen(text) / 16.0) AS BIGINT) AS n_frames
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- Frame sampling: every 16th byte of the payload (posexplode —
    // the video-frame / audio-chunk sampling shape, deterministic fake).
    Q(
      "mm_frame_sample",
      // Native FrameSample (guide §4.1): the lambda form re-evaluated the
      // payload→string cast per element and paid an O(char-index) substring
      // scan per frame — O(n²/16) per row; this is one pass per row. Same
      // count (ceil(chars/16)), same code points, and an empty payload
      // yields the empty array exactly like the old byte_len = 0 CASE arm.
      (s, dir) => mediaTable(s, dir)
        .select(col("doc_id"),
          posexplode(graft.functions.FrameSample(col("payload").cast("string"))))
        .select(col("doc_id"), col("pos").cast("long").as("frame_idx"),
          col("col").cast("long").as("frame_byte"))
        .orderBy(col("doc_id"), col("frame_idx")),
      Some("""SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
             |  CAST(ascii(substring(text, CAST(i * 16 + 1 AS INT), 1)) AS BIGINT) AS frame_byte
             |FROM documents,
             |  unnest(generate_series(0, CAST(ceil(strlen(text) / 16.0) AS BIGINT) - 1)) AS g(i)
             |ORDER BY doc_id, frame_idx""".stripMargin)),

    // ---- Typed per-partition decode (stub codec, real batching contract);
    // aggregated so the output is bounded. Rows-only (the stub is not SQL).
    Q(
      "mm_decode_features",
      (s, dir) => decoded(s, dir)
        .select(col("doc_id"), col("width"), col("height"), col("n_bytes"),
          round(expr("aggregate(features, cast(0.0 as double), (a, x) -> a + x)"), 1)
            .as("feature_sum"))
        .orderBy(col("doc_id")),
      None)
  )
}
