package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.ml.feature.StopWordsRemover
import graft.functions.Cleaning
import graft.lda.LdaPipeline
import graft.sources.Tables

/** The reference CLI's code path (`graft.Main` after argument validation). */
class MainSpec extends SparkSpec {
  import spark.implicits._

  private def run(dir: String): Seq[String] = {
    val lines = ArrayBuffer.empty[String]
    Main.run(spark, dir, vocabSize = 200, numTopics = 3, lines += _)
    spark.sharedState.cacheManager.clearCache()
    lines.toSeq
  }

  /** The preview counts the tokens the model sees, (count desc, word asc),
    * and so holds no english+extras stopword. */
  private def checkPreview(dir: String, lines: Seq[String]): Unit = {
    assert(lines.head == "Top 10 corpus words (word, count):")
    val recount = LdaPipeline.preprocess(Tables.documents(spark, dir))
      .select("tokens").collect().toSeq.flatMap(_.getSeq[String](0))
      .groupBy(identity).toSeq.map { case (w, occ) => (w, occ.size.toLong) }
      .sortBy { case (w, n) => (-n, w) }.take(10)
    assert(lines.filter(_.startsWith("  ")) == recount.map { case (w, n) => s"  $w\t$n" })
    val stop = (StopWordsRemover.loadDefaultStopWords("english") ++
      Cleaning.ExtraStopWords).toSet
    assert(recount.size == 10 && recount.forall { case (w, _) => !stop.contains(w) })
  }

  test("Main.run prints the top-10 preview and one line of 20 terms per topic") {
    val lines = run(sf0001)
    checkPreview(sf0001, lines)
    val topics = lines.filter(_.startsWith("Topic "))
    assert(topics.map(_.takeWhile(_ != ':')) == Seq("Topic 0", "Topic 1", "Topic 2"))
    topics.foreach { l =>
      val terms = l.dropWhile(_ != ':').drop(1).trim.split(" ")
      assert(terms.length == 20 && terms.distinct.length == 20, l)
    }
    // a corpus whose most frequent words are the reference's extra
    // stopwords, which the engine's 10-word vendored list keeps
    val dir = java.nio.file.Files.createTempDirectory("graft-main").toString
    val words = "people just rt amp via spark join table column vector stream " +
      "filter group merge window value data small big scan sort"
    (0L until 40L).map(i => (i, s"people just rt amp via $words ${words.split(" ")(i.toInt % 21)}"))
      .toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'t' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.parquet(s"$dir/documents.parquet")
    try checkPreview(dir, run(dir))
    finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
