package graft

/** `SparkEntry.entry`: the flagship LDA topic report on sf0.001. */
class SparkEntrySpec extends SparkSpec {

  test("SparkEntry.entry: 5 topics of 20 distinct terms each") {
    val rows = SparkEntry.entry(spark).collect()
    spark.sharedState.cacheManager.clearCache()
    assert(rows.map(_.getInt(0)).toSeq == (0 until 5))
    rows.foreach { r =>
      val terms = r.getString(1).split(" ")
      assert(terms.length == 20 && terms.distinct.length == 20, r)
    }
  }
}
