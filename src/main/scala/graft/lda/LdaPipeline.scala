package graft.lda

import org.apache.spark.ml.clustering.LDA
import org.apache.spark.ml.feature.{CountVectorizer, CountVectorizerModel, StopWordsRemover}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.ml.functions.vector_to_array

import graft.sources.Tables
import graft.functions.{Cleaning, Words}

/** The reference's flagship pipeline, Spark-native (SURVEY.md §7.3, M1–M5):
  * documents → clean → tokenize → stopword-filter → CountVectorizer(top-V
  * vocabulary) → MLlib LDA(T topics, α=β=1/T, maxIter) → top-20 words/topic.
  *
  * Reference: /root/reference/src/LDATopicModelingWithGibbs.py:28-203 — the
  * reference tokenizes (py:34), stopword-filters (py:36-41), builds a top-V
  * vocabulary (py:43-68), encodes docs (py:70-90), then collects EVERYTHING to
  * the driver and runs a sequential NumPy Gibbs sampler (py:151-188). We keep
  * model state distributed: CountVectorizer owns the vocabulary (the top-V +
  * inner-join-filter of py:50-78 in one estimator), and MLlib LDA's online
  * variational optimizer fits θ/Φ on executors — no whole-corpus collect.
  *
  * Scale posture (100 TB): every stage is a narrow map or a partial+final
  * aggregate; the only driver-side state is the V-entry vocabulary array
  * (bounded by the V parameter, same as the reference's broadcast dictionary)
  * and the T×V topic matrix (bounded by hyperparameters, not data size).
  *
  * Persistence: each query caches its corpus as a DataFrame of two columns,
  * `doc_id, tokens` ([[corpus]]). A DataFrame cache stores columnar batches
  * of byte arrays, which Spark sizes without walking per-row objects.
  * Narrowing it to the two columns the vocabulary and the encoding read
  * keeps the raw text and the intermediate columns out of the batches the
  * cache builds and every later job scans. The encoded DataFrame is not
  * persisted (see the note in [[topicReport]]).
  */
object LdaPipeline {

  /** The reference's stopwords (py:36-41): Spark's english list plus
    * [[Cleaning.ExtraStopWords]]. */
  val StopWords: Seq[String] =
    StopWordsRemover.loadDefaultStopWords("english").toSeq ++ Cleaning.ExtraStopWords

  /** `df` with its `tokens`, the reference's tokenize + stopword filter
    * (py:34-41): one native word split over the cleaned text
    * ([[graft.functions.Words]]). It equals MLlib's `RegexTokenizer` +
    * `StopWordsRemover` on that text (a property test checks it), without
    * their two ScalaUDF conversions per row. Docs without tokens are kept. */
  private[lda] def tokenize(df: DataFrame): DataFrame =
    df.withColumn("tokens", Words(Cleaning.cleanText(col("text")), StopWords))

  private def hasTokens = size(col("tokens")) > 0

  /** [[tokenize]] less the docs with no surviving tokens, matching the
    * reference's inner-join corpus shrink (py:75,93; SURVEY §7.5.2). Input
    * must have `doc_id` and `text` columns; output adds `tokens`. Catalyst
    * pushes the filter below the projection with the token expression
    * inlined, so this plan cleans each row twice; the LDA queries filter
    * above their cache instead ([[corpus]]). */
  def preprocess(df: DataFrame): DataFrame = tokenize(df).filter(hasTokens)

  /** The tokenized `documents` as the two LDA queries cache them: `doc_id,
    * tokens` of every doc, persisted, since the vocabulary fit and the
    * encoding both read it. Only these two columns are cached, not the raw
    * text. The queries apply [[hasTokens]] above the cache, where Catalyst
    * cannot inline the token expression into the filter; that gives the
    * rows, order and single partition of [[preprocess]], so the seeded fits
    * are unchanged. */
  private def corpus(spark: SparkSession, dir: String): DataFrame =
    tokenize(Tables.documents(spark, dir)).select(col("doc_id"), col("tokens")).persist()

  /** θ per document (M2's doc-topic state, kept distributed): doc_id, the
    * argmax topic, and the topic weight — the reference collects θ to the
    * driver (py:155); here it stays a DataFrame. */
  def docTopics(spark: SparkSession, dir: String, vocabSize: Int,
      numTopics: Int, maxIter: Int, seed: Long = 42L): DataFrame = {
    val docs = corpus(spark, dir).filter(hasTokens)
    val cvModel = new CountVectorizer()
      .setInputCol("tokens").setOutputCol("features")
      .setVocabSize(vocabSize)
      .fit(docs)
    // Do NOT persist the encoded DataFrame (r21 did; reverted r22):
    // ml.LDA.fit caches its converted RDD[(id, Vector)] itself (MEMORY_AND_DISK,
    // "training instances") — but ONLY when the input dataset's storageLevel is
    // NONE. A DF-level persist here defeats that, and the online optimizer's
    // ~2 jobs/iteration then re-run the DF→RDD row conversion from the DF
    // cache every iteration (the "input data is not directly cached" WARN in
    // the r21 driver bench tail). Leaving it uncached lets the fit iterate
    // over plain cached (id, Vector) objects; the transform below re-derives
    // encoded from the cached `docs` once (one cheap CountVectorizer map).
    // Same values, same partitioning, so the seeded fit is unchanged.
    val encoded = cvModel.transform(docs)
    val model = new LDA()
      .setK(numTopics).setMaxIter(maxIter).setSeed(seed)
      .setDocConcentration(1.0 / numTopics)
      .setTopicConcentration(1.0 / numTopics)
      .setFeaturesCol("features")
      .fit(encoded)
    // Range-partition the TRANSFORM input on doc_id (guide §2.2). It fans
    // the per-doc variational inference — the most expensive per-row
    // compute in the repo — out to every core (the single-row-group fixture
    // leaves `encoded` with one partition), and it is the one exchange the
    // final sort needs: the orderBy finds its input already range-
    // partitioned on doc_id and only sorts within partitions. The range
    // partitioner's sampling pass runs over `encoded`, below the inference,
    // so inference runs once per doc. The FIT input keeps its original
    // partitioning (minibatch sampling is partitioning-dependent); the
    // fitted model is fixed here and per-doc inference is row-local, so
    // redistribution cannot change the output. The corpus cache stays
    // persisted for the caller's action (the Catalog cache-hygiene contract
    // drops it).
    model.transform(encoded.repartitionByRange(
        spark.sparkContext.defaultParallelism, col("doc_id")))
      .select(col("doc_id"), vector_to_array(col("topicDistribution")).as("theta"))
      .select(col("doc_id"),
        expr("array_position(theta, array_max(theta)) - 1").cast("int").as("topic"),
        round(array_max(col("theta")), 4).as("weight"))
      .orderBy(col("doc_id"))
  }

  /** Fit CountVectorizer(top-V vocab) + LDA on the `documents` fixture and
    * return the reference's output contract (py:199-203): one row per topic,
    * the top-20 words per topic. Terms and weights are emitted as space-joined
    * scalar strings (`topic INT, terms STRING, weights STRING`) so the row is
    * hashable by any downstream comparator — the reference likewise prints a
    * flat word list per topic (py:199-203). */
  def topicReport(spark: SparkSession, dir: String, vocabSize: Int,
      numTopics: Int, maxIter: Int, topWords: Int = 20, seed: Long = 42L): DataFrame = {
    val cached = corpus(spark, dir)
    val docs = cached.filter(hasTokens)
    val cvModel: CountVectorizerModel = new CountVectorizer()
      .setInputCol("tokens").setOutputCol("features")
      .setVocabSize(vocabSize)
      .fit(docs)
    // Do NOT persist the encoded DataFrame (r21 did, measuring fit 7.4→3.5 s
    // vs nothing cached; reverted r22 for something strictly better):
    // ml.LDA.fit RDD-persists its converted input itself (MEMORY_AND_DISK,
    // "training instances") — but ONLY when dataset.storageLevel is NONE, so
    // the r21 DF persist suppressed it and every optimizer iteration re-ran
    // the DF→RDD row conversion from the DF cache (the "input data is not
    // directly cached" WARN in the r21 driver bench tail). With the DF left
    // uncached the ~2 jobs/iteration read plain (id, Vector) objects from the
    // RDD cache. Same values, same partitioning → identical seeded fit
    // (snapshot-proven bit-identical at sf0.001/0.01/0.1).
    val encoded = cvModel.transform(docs)
      .filter(col("features").isNotNull)
    val lda = new LDA()
      .setK(numTopics)
      .setMaxIter(maxIter)
      .setSeed(seed)
      // α = β = 1/T — the reference's coupling (py:98-100; SURVEY §7.5.6)
      .setDocConcentration(1.0 / numTopics)
      .setTopicConcentration(1.0 / numTopics)
      .setFeaturesCol("features")
    val model = lda.fit(encoded) // fit unpersists its internal RDD cache itself
    cached.unpersist()
    // describeTopics = the reference's driver-side argsort top-20 (py:196-203),
    // resolved against the vocabulary (J2's driver-side lookup, py:192-194).
    // Its rows are built on the driver in topic order, so no orderBy: a sort
    // of that local relation would only cost Spark jobs.
    val vocab = cvModel.vocabulary
    val vocabCol = array(vocab.map(lit): _*)
    model.describeTopics(topWords)
      .select(col("topic"),
        array_join(
          transform(col("termIndices"), i => element_at(vocabCol, i + 1)),
          " ").as("terms"),
        array_join(
          transform(col("termWeights"), w => round(w, 6).cast("string")),
          " ").as("weights"))
  }
}
