package graft

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.types._
import graft.sources.Tables

/** CSV scan/sink contracts (SURVEY §2.1 S2/S5/S6/S7). The reference's naive
  * split(',') breaks on text containing commas (SURVEY §7.5.8); our reader
  * is a real quote-aware parser — this suite proves the FIX, including a
  * round-trip of comma/quote/newline-bearing text. */
class CsvSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("like_count", LongType),
    StructField("retweet_count", LongType),
    StructField("tweet", StringType)))

  test("S5+S6: header append sink round-trips text with commas and quotes") {
    val tmp = Files.createTempDirectory("graft_csv")
    val dir = s"$tmp/out"
    try {
      val rows = Seq(
        (1L, 3L, 0L, "plain tweet"),
        (2L, 0L, 1L, "has, a comma"),
        (3L, 7L, 2L, """has "quotes" and, commas"""),
        (4L, 1L, 1L, "line\nbreak"))
      val df = rows.toDF("id", "like_count", "retweet_count", "tweet")
      // S5: append sink with header
      df.write.mode("append").option("header", "true")
        .option("quote", "\"").option("escape", "\"").csv(dir)
      // S6: schema-pinned header scan (never infer)
      val back = Tables.csv(spark, dir, schema, multiLine = true)
        .orderBy("id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      assert(back.toSeq == rows.sortBy(_._1))
    } finally FileUtils.deleteDirectory(tmp.toFile)
  }

  test("S7: projected no-header sink writes only the selected columns") {
    val tmp = Files.createTempDirectory("graft_csv7")
    val dir = s"$tmp/out"
    try {
      val df = Seq((1L, 5L, 9L, "keep me")).toDF("id", "like_count", "retweet_count", "tweet")
      df.select("id", "tweet").write.option("header", "false").csv(dir)
      val projSchema = StructType(Seq(
        StructField("id", LongType), StructField("tweet", StringType)))
      val back = Tables.csv(spark, dir, projSchema, header = false).collect()
      assert(back.length == 1)
      assert(back.head.getLong(0) == 1L && back.head.getString(1) == "keep me")
    } finally FileUtils.deleteDirectory(tmp.toFile)
  }

  test("S2 fixed: a naive split(',') parse would corrupt comma-bearing text") {
    val line = "2,\"has, a comma\""
    // the reference's approach (LDATopicModelingWithGibbs.py:31)
    val naive = line.split(",")
    assert(naive.length != 2) // demonstrably broken
    // our reader on the same content
    val tmp = Files.createTempDirectory("graft_csv2")
    val dir = s"$tmp/out"
    try {
      Seq((2L, "has, a comma")).toDF("id", "tweet")
        .write.option("header", "false").option("quote", "\"").option("escape", "\"").csv(dir)
      val s = StructType(Seq(StructField("id", LongType), StructField("tweet", StringType)))
      val back = Tables.csv(spark, dir, s, header = false).collect()
      assert(back.head.getString(1) == "has, a comma")
    } finally FileUtils.deleteDirectory(tmp.toFile)
  }
}
