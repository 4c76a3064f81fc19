package graft

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.ml.clustering.LDA
import org.apache.spark.ml.feature.CountVectorizer
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.lda.LdaPipeline
import graft.sources.Tables

/** Statistical invariants for the LDA slice (SURVEY §5.2.4 — golden match is
  * impossible by construction, so assert structure + invariants). */
class LdaSpec extends SparkSpec {

  test("topicReport: T rows, 20 terms each, weights positive and sorted") {
    val rows = LdaPipeline.topicReport(spark, sf0001,
      vocabSize = 200, numTopics = 3, maxIter = 5).collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(0, 1, 2))
    rows.foreach { r =>
      val terms = r.getString(1).split(" ").toSeq
      val weights = r.getString(2).split(" ").map(_.toDouble).toSeq
      assert(terms.size == 20 && weights.size == 20)
      assert(terms.distinct.size == terms.size)
      assert(weights.forall(_ > 0))
      assert(weights == weights.sorted.reverse)
    }
  }

  test("docTopics: every doc gets a topic in [0,T) with weight in (0,1]") {
    val rows = LdaPipeline.docTopics(spark, sf0001,
      vocabSize = 200, numTopics = 3, maxIter = 3).collect()
    assert(rows.length > 400) // docs with no surviving tokens may drop
    rows.foreach { r =>
      assert(r.getInt(1) >= 0 && r.getInt(1) < 3)
      assert(r.getDouble(2) > 0 && r.getDouble(2) <= 1.0)
    }
  }

  test("preprocess drops docs with no surviving tokens and keeps doc_id") {
    import spark.implicits._
    val df = Seq((1L, "the a of"), (2L, "merge join filter")).toDF("doc_id", "text")
    val out = LdaPipeline.preprocess(df).select("doc_id").as[Long].collect()
    // doc 1 is all stopwords → vanishes (the reference's corpus shrink)
    assert(out.toSet == Set(2L))
  }

  test("with CountVectorizer's vocabulary the fit equals ml.LDA's row for row") {
    // The reference: the ml pipeline the RDD fit replaced, at lda_topics'
    // settings. Given its vocabulary (ties in arbitrary order), the RDD fit
    // must reproduce its topics and weights exactly.
    val docs = LdaPipeline.corpus(spark, sf0001)
    val cv = new CountVectorizer().setInputCol("tokens").setOutputCol("features")
      .setVocabSize(1000).fit(docs)
    val vocab = cv.vocabulary
    val reference = new LDA().setK(5).setMaxIter(10).setSeed(42L)
      .setDocConcentration(1.0 / 5).setTopicConcentration(1.0 / 5)
      .fit(cv.transform(docs))
      .describeTopics(20)
      .select(col("topic"), col("termIndices"),
        array_join(transform(col("termWeights"), w => round(w, 6).cast("string")), " "))
      .collect().toSeq
      .map(r => (r.getInt(0), r.getSeq[Int](1).map(vocab).mkString(" "), r.getString(2)))
    val rows = LdaPipeline.topics(LdaPipeline.tokenPairs(docs), vocab, numTopics = 5,
      maxIter = 10, topWords = 20, seed = 42L)
    spark.sharedState.cacheManager.clearCache()
    assert(rows.size == 5)
    assert(rows == reference)
  }

  test("docTopics: rows come out in doc_id order, one per doc with tokens") {
    val rows = LdaPipeline.docTopics(spark, sf0001,
      vocabSize = 200, numTopics = 3, maxIter = 3).collect()
    val ids = rows.map(_.getLong(0)).toSeq
    val withTokens = LdaPipeline.preprocess(Tables.documents(spark, sf0001)).count()
    spark.sharedState.cacheManager.clearCache()
    assert(ids.size == withTokens)
    assert(ids == ids.sorted && ids.distinct == ids)
  }

  test("two fits in one session give identical rows") {
    Seq("lda_topics", "lda_doc_topics").foreach { q =>
      def rows() = {
        val r = Catalog.byName(q).run(spark, sf0001).collect().toSeq
        spark.sharedState.cacheManager.clearCache()
        r
      }
      assert(rows() == rows(), q)
    }
  }

  test("docTopics: a doc with tokens but no vocabulary word still gets a row") {
    val dir = Files.createTempDirectory("graft-lda-oov")
    try {
      val oov = spark.createDataFrame(
        java.util.List.of(Row(Long.MaxValue, "zzyzx qwxyz", "en", "web", 11L)),
        Tables.DocumentsSchema)
      Tables.documents(spark, sf0001).union(oov).coalesce(1)
        .write.parquet(s"$dir/documents.parquet")
      val rows = LdaPipeline.docTopics(spark, dir.toString,
        vocabSize = 10, numTopics = 3, maxIter = 3).collect()
      spark.sharedState.cacheManager.clearCache()
      // a zero count vector: θ is all zeros, so topic 0 of weight 0
      assert(rows.last == Row(Long.MaxValue, 0, 0.0))
    } finally FileUtils.deleteDirectory(dir.toFile)
  }
}
