package graft

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.JobLog
import org.apache.spark.sql.Row

import graft.lda.{GibbsLda, LdaPipeline}
import graft.sources.Tables

/** Invariants for the distributed collapsed Gibbs sampler (SURVEY §5.2.4:
  * transcripts can't be golden-matched, invariants can). */
class GibbsSpec extends SparkSpec {

  test("count conservation: Φ totals equal the corpus token count every fit") {
    val m = GibbsLda.fit(spark, sf0001, vocabSize = 200, numTopics = 3, maxIter = 2)
    val phiTotal = m.phi.map(_.sum).sum
    val nzTotal = m.nz.sum
    val tokenTotal = m.docs.collect().map(_.words.length.toLong).sum
    assert(phiTotal == tokenTotal)
    assert(nzTotal == tokenTotal)
    assert(m.phi.forall(_.forall(_ >= 0)))
    m.unpersist()
  }

  test("same seed reproduces the same topic assignment; topics in range") {
    val a = GibbsLda.fit(spark, sf0001, vocabSize = 100, numTopics = 3,
      maxIter = 2, seed = 7L)
    val b = GibbsLda.fit(spark, sf0001, vocabSize = 100, numTopics = 3,
      maxIter = 2, seed = 7L)
    val ta = a.docs.collect().sortBy(_.docId).map(_.topics.toSeq).toSeq
    val tb = b.docs.collect().sortBy(_.docId).map(_.topics.toSeq).toSeq
    assert(ta == tb)
    assert(ta.flatten.forall(t => t >= 0 && t < 3))
    a.unpersist(); b.unpersist()
  }

  test("topic report has T rows of top-20 vocabulary words") {
    val rows = GibbsLda.topicReport(spark, sf0001, vocabSize = 100,
      numTopics = 3, maxIter = 2).collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(0, 1, 2))
    rows.foreach { r =>
      val terms = r.getString(1).split(" ").toSeq
      assert(terms.size == 20 && terms.distinct.size == 20)
      val w = r.getString(2).split(" ").map(_.toLong).toSeq
      assert(w == w.sorted.reverse) // counts non-increasing
    }
  }

  test("partition invariance: 1 vs 4 input partitions fit identical Φ, n_z and doc topics") {
    val corpus = LdaPipeline.preprocess(Tables.documents(spark, sf0001))
    def fitOn(parts: Int) = {
      val in = if (parts == 1) corpus.coalesce(1) else corpus.repartition(parts)
      val m = GibbsLda.fitCorpus(in, vocabSize = 100, numTopics = 3,
        maxIter = 2, seed = 7L)
      val docs = m.docs.collect().sortBy(_.docId)
        .map(d => (d.docId, d.words.toSeq, d.topics.toSeq)).toSeq
      val n = m.docs.getNumPartitions
      m.unpersist()
      (m.phi.map(_.toSeq).toSeq, m.nz.toSeq, m.vocab.toSeq, docs, n)
    }
    val (phi1, nz1, vocab1, docs1, n1) = fitOn(1)
    val (phi4, nz4, vocab4, docs4, n4) = fitOn(4)
    assert(n1 == 1 && n4 == 4)
    assert(vocab1 == vocab4)
    assert(phi1 == phi4)
    assert(nz1 == nz4)
    assert(docs1 == docs4)
  }

  test("a document with NULL text is skipped: the fit equals the one without it") {
    val dir = Files.createTempDirectory("graft-gibbs-null")
    try {
      val docs = Tables.documents(spark, sf0001)
      val nullDoc = spark.createDataFrame(
        java.util.List.of(Row(Long.MaxValue, null, "en", "web", 0L)),
        Tables.DocumentsSchema)
      docs.union(nullDoc).coalesce(1).write.parquet(s"$dir/documents.parquet")
      def fitIn(d: String) = {
        val m = GibbsLda.fit(spark, d, vocabSize = 100, numTopics = 3,
          maxIter = 2, seed = 7L)
        val topics = m.docs.collect().sortBy(_.docId)
          .map(d => (d.docId, d.words.toSeq, d.topics.toSeq)).toSeq
        m.unpersist()
        (m.phi.map(_.toSeq).toSeq, m.nz.toSeq, m.vocab.toSeq, topics)
      }
      assert(fitIn(dir.toString) == fitIn(sf0001))
    } finally FileUtils.deleteDirectory(dir.toFile)
  }

  /** A fit's vocabulary, Φ, n_z and doc states, in the reference's shape. */
  private def asReference(m: GibbsLda.GibbsModel): GibbsReference.Fit = {
    val docs = m.docs.collect().sortBy(_.docId)
      .map(d => (d.docId, d.words.toSeq, d.topics.toSeq)).toSeq
    m.unpersist()
    GibbsReference.Fit(m.vocab.toSeq, m.phi.map(_.toSeq).toSeq, m.nz.toSeq, docs)
  }

  test("gibbs_topics' fit at sf0.001 equals the sequential reference sampler") {
    val corpus = LdaPipeline.preprocess(Tables.documents(spark, sf0001)).collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[String](1)))
    val m = GibbsLda.fit(spark, sf0001, vocabSize = 1000, numTopics = 5, maxIter = 5, seed = 42L)
    spark.sharedState.cacheManager.clearCache()
    assert(asReference(m) == GibbsReference.fit(corpus, 1000, 5, 5, 42L))
  }

  test("on generated corpora the fit equals the sequential reference sampler") {
    import spark.implicits._
    val rng = new scala.util.Random(3)
    Seq((4, 10, 6), (2, 5, 3), (7, 20, 4)).foreach { case (t, v, sweeps) =>
      // 31 words of skewed frequency: count ties at the vocabulary cut, docs
      // with no vocabulary word, empty docs, and ids across the Long range.
      val corpus = Seq.fill(80)(rng.nextLong() ->
        Seq.fill(rng.nextInt(16))(f"w${rng.nextInt(9) * rng.nextInt(9)}%02d"))
      val m = GibbsLda.fitCorpus(corpus.toDF("doc_id", "tokens").repartition(3), v, t,
        sweeps, seed = 11L)
      assert(asReference(m) == GibbsReference.fit(corpus, v, t, sweeps, 11L), (t, v, sweeps))
    }
  }

  test("the doc states are the only RDD cache of a fit, and its unpersist drops them") {
    import spark.implicits._
    spark.sharedState.cacheManager.clearCache()
    val corpus = Seq(1L -> Seq("a", "b", "a"), 2L -> Seq("b", "c"), 3L -> Seq("z"), 4L -> Nil)
      .toDF("doc_id", "tokens")
    Seq(corpus.coalesce(1), corpus.repartition(2)).foreach { in =>
      val m = GibbsLda.fitCorpus(in, vocabSize = 3, numTopics = 2, maxIter = 2, seed = 7L)
      assert(spark.sparkContext.getPersistentRDDs.values.toSeq == Seq(m.blocks))
      assert(m.docs.collect().map(_.docId).sorted.toSeq == Seq(1L, 2L))
      m.unpersist()
      assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    }
  }

  test("a fit runs a vocabulary job and 1 countPhi job on 1 partition, maxIter + 1 on 4") {
    val (m1, jobs1) = JobLog(spark.sparkContext)(
      GibbsLda.fit(spark, sf0001, vocabSize = 100, numTopics = 3, maxIter = 3))
    m1.unpersist()
    assert(m1.blocks.getNumPartitions == 1)
    assert(jobs1.count(_.contains("LdaPipeline$.vocabulary")) == 1)
    assert(jobs1.count(_.contains("GibbsLda$.countPhi")) == 1)
    assert(jobs1.size == 2)
    // cached first, so that its shuffle's jobs are not the fit's
    val corpus = LdaPipeline.preprocess(Tables.documents(spark, sf0001)).repartition(4).cache()
    corpus.count()
    val (m4, jobs4) = JobLog(spark.sparkContext)(
      GibbsLda.fitCorpus(corpus, vocabSize = 100, numTopics = 3, maxIter = 3, seed = 42L))
    m4.unpersist()
    spark.sharedState.cacheManager.clearCache()
    assert(m4.blocks.getNumPartitions == 4)
    assert(jobs4.count(_.contains("LdaPipeline$.vocabulary")) == 1)
    assert(jobs4.count(_.contains("GibbsLda$.countPhi")) == 4)
    assert(jobs4.size == 5)
  }
}
