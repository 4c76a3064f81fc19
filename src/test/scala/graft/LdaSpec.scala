package graft

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.{HashPartitioner, JobLog}
import org.apache.spark.ml.clustering.LDA
import org.apache.spark.ml.feature.CountVectorizer
import org.apache.spark.mllib.clustering.{GraftLDAOptimizer, LocalLDAModel, OnlineLDAOptimizer}
import org.apache.spark.mllib.clustering.{LDA => MllibLDA}
import org.apache.spark.mllib.linalg.{Vector, Vectors}
import org.apache.spark.rdd.RDD
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
    val docs = LdaPipeline.preprocess(Tables.documents(spark, sf0001))
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
    spark.sharedState.cacheManager.clearCache()
    Seq("lda_topics", "lda_doc_topics", "gibbs_topics").foreach { q =>
      def rows() = {
        val r = Catalog.byName(q).run(spark, sf0001).collect().toSeq
        spark.sharedState.cacheManager.clearCache()
        assert(spark.sparkContext.getPersistentRDDs.isEmpty, q)
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

  /** Topics, α, β, and θ of every doc of `docs`, compared with `==` on
    * doubles. θ also checks the model's seed, which seeds its inference. */
  private def assertSameModel(model: LocalLDAModel, reference: LocalLDAModel,
      docs: RDD[(Long, Vector)]): Unit = {
    def theta(m: LocalLDAModel) =
      m.topicDistributions(docs).collect().toSeq.map { case (id, t) => (id, t.toArray.toSeq) }
    assert(model.topicsMatrix.toArray.toSeq == reference.topicsMatrix.toArray.toSeq)
    assert(model.docConcentration.toArray.toSeq == reference.docConcentration.toArray.toSeq)
    assert(model.topicConcentration == reference.topicConcentration)
    assert(theta(model) == theta(reference))
  }

  /** lda_topics' training vectors at sf0.001 (V 1000), in one cached
    * partition, and their length. */
  private def sf0001Training(): (RDD[(Long, Vector)], Int) = {
    val docs = LdaPipeline.tokenPairs(LdaPipeline.preprocess(Tables.documents(spark, sf0001)))
    val vocab = LdaPipeline.vocabulary(docs, 1000).map(_._1)
    val training = LdaPipeline.vectors(LdaPipeline.encode(docs, vocab), vocab.length)
      .coalesce(1).persist()
    training.count()
    spark.sharedState.cacheManager.clearCache()
    (training, vocab.length)
  }

  /** MLlib's `LDA` with GraftLDAOptimizer's fixed settings: the reference
    * whose `run` the optimizer repeats. */
  private def mllibLda(k: Int, maxIter: Int, seed: Long): MllibLDA =
    new MllibLDA().setK(k).setMaxIterations(maxIter).setSeed(seed)
      .setDocConcentration(1.0 / k).setTopicConcentration(1.0 / k)
      .setOptimizer(new OnlineLDAOptimizer().setTau0(1024).setKappa(0.51)
        .setMiniBatchFraction(0.05).setOptimizeDocConcentration(true))

  private def reference(k: Int, maxIter: Int, seed: Long, docs: RDD[(Long, Vector)]) =
    mllibLda(k, maxIter, seed).run(docs).asInstanceOf[LocalLDAModel]

  test("on one partition the one-job-per-iteration fit equals LDA.run's bit for bit") {
    val (training, v) = sf0001Training()
    val model = GraftLDAOptimizer.run(training, v, k = 5, maxIter = 10, seed = 42L)
    assertSameModel(model, reference(5, 10, 42L, training), training)
    training.unpersist()
  }

  test("empty and zero-vector minibatches, corpus size and an empty corpus as in LDA.run") {
    // 24 docs over 6 words, every third a zero vector. At the 0.05 fraction
    // about 30% of minibatches are empty and about 15% hold only zero
    // vectors; ceil(0.05 · 24) = 2, where the 16 non-zero docs alone would
    // give a batch size of 1.
    val rows = (0 until 24).map { i =>
      (i.toLong,
        if (i % 3 == 2) Vectors.sparse(6, Seq.empty)
        else Vectors.sparse(6, Seq((i % 6, 1.0 + i % 4), ((i + 2) % 6, 2.0))))
    }
    val training = spark.sparkContext.parallelize(rows, 1).persist()
    Seq(1, 2, 3, 5, 8, 13, 21, 34).foreach { n =>
      assertSameModel(GraftLDAOptimizer.run(training, 6, k = 3, maxIter = n, seed = 7L),
        reference(3, n, 7L, training), training)
    }
    training.unpersist()
    val empty = spark.sparkContext.parallelize(Seq.empty[(Long, Vector)], 1)
    intercept[UnsupportedOperationException](reference(3, 2, 7L, empty))
    intercept[UnsupportedOperationException](
      GraftLDAOptimizer.run(empty, 6, k = 3, maxIter = 2, seed = 7L))
  }

  /** `docs` with one empty partition after its own: the same docs, fitted
    * by the several-partition path. */
  private def withEmptyPartition(docs: RDD[(Long, Vector)]): RDD[(Long, Vector)] =
    docs.union(spark.sparkContext.parallelize(Seq.empty[(Long, Vector)], 1))

  test("a fit on one partition launches one job, filed under the optimizer's call site") {
    val (training, v) = sf0001Training()
    val (_, jobs) = JobLog(spark.sparkContext)(
      GraftLDAOptimizer.run(training, v, k = 5, maxIter = 7, seed = 42L))
    // LDA.run: count, first, and an isEmpty probe + a treeAggregate per iteration
    val (_, referenceJobs) = JobLog(spark.sparkContext)(mllibLda(5, 7, 42L).run(training))
    training.unpersist()
    assert(jobs.size == 1)
    assert(jobs.forall(_.contains("GraftLDAOptimizer$.run")))
    assert(referenceJobs.size == 2 * 7 + 2)
  }

  test("a fit of maxIter N on 2 partitions launches N jobs under the optimizer's call site") {
    val (training, v) = sf0001Training()
    val (_, jobs) = JobLog(spark.sparkContext)(
      GraftLDAOptimizer.run(withEmptyPartition(training), v, k = 5, maxIter = 7, seed = 42L))
    training.unpersist()
    assert(jobs.size == 7)
    assert(jobs.forall(_.contains("GraftLDAOptimizer$.run")))
  }

  test("the one-job fit equals the one-job-per-iteration fit with an empty partition last") {
    // Partition 0 takes the first sample seed and inference seed in both,
    // and the empty partition adds zero statistics.
    val (training, v) = sf0001Training()
    val twoParts = withEmptyPartition(training)
    assert(training.partitions.length == 1 && twoParts.partitions.length == 2)
    Seq(1, 5, 10, 21).foreach { n =>
      assertSameModel(GraftLDAOptimizer.run(training, v, k = 5, maxIter = n, seed = 42L),
        GraftLDAOptimizer.run(twoParts, v, k = 5, maxIter = n, seed = 42L), training)
    }
    training.unpersist()
  }

  test("a fit on 4 hash partitions gives the same lda_topics rows in 10 runs") {
    // The fit sums the partitions' statistics in partition order, whatever
    // order their tasks complete in.
    val docs = LdaPipeline.tokenPairs(LdaPipeline.preprocess(Tables.documents(spark, sf001)))
      .partitionBy(new HashPartitioner(4)).persist()
    val vocab = LdaPipeline.vocabulary(docs, 1000).map(_._1)
    spark.sharedState.cacheManager.clearCache()
    val runs = (1 to 10).map(_ =>
      LdaPipeline.topics(docs, vocab, numTopics = 5, maxIter = 10, topWords = 20, seed = 42L))
    docs.unpersist()
    assert(runs.distinct.size == 1)
  }
}
