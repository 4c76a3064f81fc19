package graft

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Row}

import graft.lda.{GibbsLda, LdaPipeline}
import graft.sources.Tables

/** Planted-topic recovery (FIXTURES.md §3, SURVEY §5.2.4): a corpus drawn
  * from a known Φ and θ, fitted by both topic models, must give back the
  * planted topics' words. The fixtures have no known topics, so this is the
  * one check that a fit is right, not only well-formed. */
class TopicRecoverySpec extends SparkSpec {

  /** Φ: three topics of ten words each, word j drawn with weight 1/(j+1). */
  private val Planted = Seq(
    Seq("lion", "tiger", "zebra", "giraffe", "elephant", "monkey", "panda", "koala",
      "rhino", "hippo"),
    Seq("apple", "banana", "cherry", "grape", "lemon", "mango", "melon", "peach",
      "plum", "kiwi"),
    Seq("train", "truck", "bicycle", "tractor", "scooter", "subway", "ferry", "tram",
      "wagon", "canoe"))
  private val T = Planted.size
  private val TopWords = 10

  /** θ: doc d draws 80% of its 30 words from topic d mod 3 and 10% from
    * each other topic. Fixed seed. */
  private def corpus(docs: Int, seed: Long): Seq[Row] = {
    val rng = new scala.util.Random(seed)
    val cdf = (1 to 10).map(1.0 / _).scanLeft(0.0)(_ + _).tail
    def word(k: Int): String = {
      val u = rng.nextDouble() * cdf.last
      Planted(k)(cdf.indexWhere(u < _))
    }
    (0 until docs).map { d =>
      val text = Seq.fill(30) {
        val u = rng.nextDouble()
        word(if (u < 0.8) d % T else if (u < 0.9) (d + 1) % T else (d + 2) % T)
      }.mkString(" ")
      Row(d.toLong, text, "en", "web", text.length.toLong)
    }
  }

  /** Mean share of each planted topic's words among the top ten words of
    * the fitted topic matched to it, under the best one-to-one matching. */
  private def overlap(terms: Seq[Seq[String]]): Double =
    (0 until T).permutations.map { perm =>
      (0 until T).map(k => terms(perm(k)).take(TopWords).count(Planted(k).toSet)).sum
    }.max.toDouble / (T * TopWords)

  test("both topic models recover the planted topics' words") {
    val dir = Files.createTempDirectory("graft-planted")
    try {
      spark.createDataFrame(java.util.Arrays.asList(corpus(1000, seed = 11L): _*),
          Tables.DocumentsSchema)
        .coalesce(1).write.parquet(s"$dir/documents.parquet")
      def terms(report: DataFrame) =
        report.collect().toSeq.map(_.getString(1).split(" ").toSeq)
      val lda = terms(LdaPipeline.topicReport(spark, dir.toString,
        vocabSize = 1000, numTopics = T, maxIter = 10))
      val gibbs = terms(GibbsLda.topicReport(spark, dir.toString,
        vocabSize = 1000, numTopics = T, maxIter = 10))
      spark.sharedState.cacheManager.clearCache()
      info(f"overlap: MLlib online LDA ${overlap(lda)}%.3f, Gibbs ${overlap(gibbs)}%.3f")
      // Chance is about 1/3. A topic's rarest planted words (2.7% of its
      // draws) compete with the other topics' commonest (3.4% of a doc's
      // words), so a good fit can rank a few of them below the top ten.
      assert(overlap(lda) >= 0.75, s"MLlib online LDA topics: $lda")
      assert(overlap(gibbs) >= 0.75, s"Gibbs topics: $gibbs")
    } finally FileUtils.deleteDirectory(dir.toFile)
  }
}
