package graft

import scala.collection.mutable.ArrayBuffer

/** The reference CLI's code path (`graft.Main` after argument validation). */
class MainSpec extends SparkSpec {

  test("Main.run prints the top-10 preview and one line of 20 terms per topic") {
    val lines = ArrayBuffer.empty[String]
    Main.run(spark, sf0001, vocabSize = 200, numTopics = 3, lines += _)
    assert(lines.head == "Top 10 corpus words (word, count):")
    assert(lines.count(_.startsWith("  ")) == 10)
    val topics = lines.filter(_.startsWith("Topic "))
    assert(topics.map(_.takeWhile(_ != ':')).toSeq ==
      Seq("Topic 0", "Topic 1", "Topic 2"))
    topics.foreach { l =>
      val terms = l.dropWhile(_ != ':').drop(1).trim.split(" ")
      assert(terms.length == 20 && terms.distinct.length == 20, l)
    }
    spark.sharedState.cacheManager.clearCache()
  }
}
