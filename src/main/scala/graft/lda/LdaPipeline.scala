package graft.lda

import scala.collection.mutable
import scala.math.BigDecimal.RoundingMode
import scala.reflect.ClassTag

import org.apache.spark.TaskContext
import org.apache.spark.ml.feature.StopWordsRemover
import org.apache.spark.mllib.clustering.{GraftLDAOptimizer, LocalLDAModel}
import org.apache.spark.mllib.linalg.{Vector, Vectors}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.functions.{Cleaning, Words}

/** The reference's flagship pipeline, Spark-native (SURVEY.md §7.3, M1–M5):
  * documents → clean → tokenize → stopword-filter → top-V vocabulary →
  * per-doc term counts → MLlib LDA(T topics, α=β=1/T, maxIter) → top-20
  * words/topic.
  *
  * Reference: /root/reference/src/LDATopicModelingWithGibbs.py:28-203 — the
  * reference tokenizes (py:34), stopword-filters (py:36-41), builds a top-V
  * vocabulary (py:43-68), encodes docs (py:70-90), then collects EVERYTHING to
  * the driver and runs a sequential NumPy Gibbs sampler (py:151-188). We keep
  * model state distributed: the vocabulary is one count job shared with
  * [[GibbsLda]] ([[vocabulary]]), and MLlib's online variational optimizer
  * fits θ/Φ on executors — no whole-corpus collect.
  *
  * The fit takes an RDD of `(doc_id, count vector)`, not a DataFrame through
  * `ml.clustering.LDA`, and runs MLlib's online optimizer through
  * [[org.apache.spark.mllib.clustering.GraftLDAOptimizer]]: one Spark job
  * per iteration on several partitions, where `LDA.run` launches two (a
  * probe of the sampled minibatch and its aggregate) plus two to
  * initialize, and one Spark job per fit on one partition. Per-job driver
  * work was half of the fit's time. On several partitions the training RDD
  * is local-checkpointed: the first iteration's job caches it and cuts the
  * lineage, so each later fit task is short. On one partition the model
  * equals `LDA.run`'s bit for bit, and given the same vocabulary the fit
  * equals `ml.clustering.LDA`'s row for row (tests check both).
  *
  * Scale posture (100 TB): every stage is a narrow map or a partial+final
  * aggregate; the only driver-side state is the V-entry vocabulary array
  * (bounded by the V parameter, same as the reference's broadcast dictionary)
  * and the T×V topic matrix (bounded by hyperparameters, not data size). A
  * cached partition is one array of that partition's decoded docs
  * (Persistence, below), so a task's heap bounds a partition's size.
  *
  * Persistence: the three topic models read one corpus, [[preprocess]]'s
  * `doc_id, tokens`, cached lazily as a DataFrame of those two columns, and
  * one encoding of it, [[encode]]. A DataFrame cache stores columnar
  * batches of byte arrays, which Spark sizes without walking per-row
  * objects. The RDD caches, the fit's local-checkpointed training vectors
  * (several partitions only) and Gibbs's doc states, hold one deserialized
  * array per partition ([[blocks]]): the MemoryStore sizes each from a
  * sample of its elements, instead of re-walking a growing buffer of
  * per-doc objects while it unrolls them, and no doc is serialized. The training RDD is unpersisted
  * after the fit, and Gibbs's doc states after its report, so no RDD cache
  * outlives the query: the Catalog drops only DataFrame caches.
  */
object LdaPipeline {

  /** The reference's stopwords (py:36-41): Spark's english list plus
    * [[Cleaning.ExtraStopWords]]. */
  val StopWords: Seq[String] =
    StopWordsRemover.loadDefaultStopWords("english").toSeq ++ Cleaning.ExtraStopWords

  /** The topic models' corpus: `doc_id` and `tokens` of every doc of `df`
    * with at least one token. The tokens are the reference's tokenize +
    * stopword filter (py:34-41): one native word split over the cleaned text
    * ([[graft.functions.Words]]). It equals MLlib's `RegexTokenizer` +
    * `StopWordsRemover` on that text (a property test checks it), without
    * their two ScalaUDF conversions per row. Dropping the docs without
    * tokens (NULL text gives NULL tokens) is the reference's inner-join
    * corpus shrink (py:75,93; SURVEY §7.5.2), filtered above a lazy cache
    * of the two columns ([[Tables.nonEmpty]]). Input must have `doc_id` and
    * `text` columns. */
  def preprocess(df: DataFrame): DataFrame = Tables.nonEmpty(
    df.select(col("doc_id"), Words(Cleaning.cleanText(col("text")), StopWords).as("tokens")),
    "tokens")

  /** The `doc_id, tokens` of a corpus as `(doc_id, tokens)` pairs: the
    * input of every fit's vocabulary and encoding. It reads the corpus's own
    * physical plan (`queryExecution.toRdd`) with InternalRow getters, where
    * `Dataset.rdd` would plan the corpus again and convert every row through
    * the Row deserializer. */
  private[graft] def tokenPairs(corpus: DataFrame): RDD[(Long, Array[String])] = {
    val id = corpus.schema.fieldIndex("doc_id")
    val tokens = corpus.schema.fieldIndex("tokens")
    corpus.queryExecution.toRdd.map { r =>
      val a = r.getArray(tokens)
      (r.getLong(id), Array.tabulate(a.numElements())(a.getUTF8String(_).toString))
    }
  }

  /** The `vocabSize` most frequent words of `docs` with their counts, by
    * (count desc, word asc): the reference's top-V vocabulary (py:43-68), in
    * one Spark job. Several partitions are counted by a `reduceByKey` and
    * ranked by `takeOrdered`; one partition has no counts to merge, so its
    * one task counts and ranks its words, without the shuffle stage. Tokens
    * are lowercase ASCII (Cleaning.cleanText), so String order is the byte
    * order a SQL `ORDER BY word` uses. All three topic models and
    * `graft.Main`'s preview use it. */
  private[graft] def vocabulary(docs: RDD[(Long, Array[String])], vocabSize: Int):
      Array[(String, Long)] = {
    val byCount = Ordering.by[(String, Long), (Long, String)] { case (w, c) => (-c, w) }
    if (docs.partitions.length == 1)
      docs.sparkContext.runJob(docs, (_: TaskContext, it: Iterator[(Long, Array[String])]) => {
        val counts = mutable.HashMap.empty[String, Long]
        it.foreach(_._2.foreach(w => counts(w) = counts.getOrElse(w, 0L) + 1L))
        counts.toArray.sorted(byCount).take(vocabSize)
      }).head
    else docs.flatMap(_._2.iterator.map(w => (w, 1L))).reduceByKey(_ + _).takeOrdered(vocabSize)(byCount)
  }

  /** The positions of a vocabulary's distinct words in an open-addressing
    * table, looked up without boxing or an `Option` per token. */
  private final class WordIndex(vocab: Array[String]) extends Serializable {
    // a power of two at least twice the vocabulary: some slot stays empty
    private val mask = Integer.highestOneBit(math.max(2 * vocab.length, 1)) * 2 - 1
    private val words = new Array[String](mask + 1)
    private val positions = new Array[Int](mask + 1)
    vocab.indices.foreach { i =>
      var s = slot(vocab(i))
      while (words(s) != null) s = (s + 1) & mask
      words(s) = vocab(i)
      positions(s) = i
    }

    private def slot(w: String): Int = scala.util.hashing.byteswap32(w.hashCode) & mask

    /** The position of `w`, or -1 when `w` is not in the vocabulary. */
    def apply(w: String): Int = {
      var s = slot(w)
      while (words(s) != null) {
        if (words(s) == w) return positions(s)
        s = (s + 1) & mask
      }
      -1
    }
  }

  /** Each doc as the `vocab` positions of its tokens, in token order;
    * tokens outside `vocab` are skipped. Gibbs samples one topic per
    * position, and [[vectors]] counts them. One broadcast index per call. */
  private[graft] def encode(docs: RDD[(Long, Array[String])], vocab: Array[String]):
      RDD[(Long, Array[Int])] = {
    val index = docs.sparkContext.broadcast(new WordIndex(vocab))
    docs.map { case (id, tokens) =>
      val idx = index.value
      val out = new Array[Int](tokens.length)
      var n = 0
      tokens.foreach { t =>
        val p = idx(t)
        if (p >= 0) { out(n) = p; n += 1 }
      }
      (id, if (n == out.length) out else java.util.Arrays.copyOf(out, n))
    }
  }

  /** A doc's distinct vocabulary positions, ascending: a sorted copy of
    * its positions with each run kept once. */
  private[lda] def distinctWords(words: Array[Int]): Array[Int] = {
    val sorted = words.clone()
    java.util.Arrays.sort(sorted)
    var n = 0
    var i = 0
    while (i < sorted.length) {
      if (n == 0 || sorted(n - 1) != sorted(i)) { sorted(n) = sorted(i); n += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(sorted, n)
  }

  /** Each encoded doc as its counts over a vocabulary of `vocabSize` words,
    * indices ascending ([[distinctWords]]). A doc with no vocabulary word is
    * a zero vector: it stays in the corpus, as `CountVectorizer` kept it. */
  private[graft] def vectors(encoded: RDD[(Long, Array[Int])], vocabSize: Int):
      RDD[(Long, Vector)] =
    encoded.map { case (id, words) =>
      val indices = distinctWords(words)
      val values = new Array[Double](indices.length)
      var j = 0
      while (j < words.length) {
        values(java.util.Arrays.binarySearch(indices, words(j))) += 1.0
        j += 1
      }
      (id, Vectors.sparse(vocabSize, indices, values))
    }

  /** Each partition of `rdd` as one array, what `RDD.glom` gives. `glom`'s
    * closure reaches its element ClassTag through the parent RDD, so every
    * task of an RDD derived from it would ship the parent's whole lineage
    * (the corpus's plan), even after a checkpoint cut it: at sf0.1 a fit
    * iteration's RDD serializes to 39 KB through `glom`, 4 KB through this. */
  private[lda] def blocks[T: ClassTag](rdd: RDD[T]): RDD[Array[T]] =
    rdd.mapPartitions(it => Iterator(it.toArray))

  /** MLlib's online LDA ([[GraftLDAOptimizer]]) fitted on docs encoded over
    * a vocabulary of `vocabSize` words. The fit keeps its input's
    * partitioning and row order: each minibatch is sampled per partition.
    * One partition is fitted in one task, which reads the vectors once;
    * several are local-checkpointed, so that each iteration's job reads
    * them from the cache. */
  private def fit(encoded: RDD[(Long, Array[Int])], vocabSize: Int, numTopics: Int,
      maxIter: Int, seed: Long): LocalLDAModel = {
    val docs = vectors(encoded, vocabSize)
    if (docs.partitions.length == 1)
      GraftLDAOptimizer.run(docs, vocabSize, numTopics, maxIter, seed)
    else {
      val training = blocks(docs).localCheckpoint()
      val model = GraftLDAOptimizer.run(training.flatMap(_.iterator), vocabSize, numTopics,
        maxIter, seed)
      training.unpersist()
      model
    }
  }

  private def rounded(x: Double, places: Int): Double =
    BigDecimal(x).setScale(places, RoundingMode.HALF_UP).toDouble

  /** θ per document (M2's doc-topic state, kept distributed): doc_id, the
    * argmax topic, and its weight rounded to 4 places — the reference
    * collects θ to the driver (py:155); here it stays distributed. */
  def docTopics(spark: SparkSession, dir: String, vocabSize: Int,
      numTopics: Int, maxIter: Int, seed: Long = 42L): DataFrame = {
    import spark.implicits._
    val docs = tokenPairs(preprocess(Tables.documents(spark, dir)))
    val vocab = vocabulary(docs, vocabSize).map(_._1)
    val encoded = encode(docs, vocab)
    val model = fit(encoded, vocab.length, numTopics, maxIter, seed)
    // Inference recomputes the fit's encoding from the cached corpus, range-
    // partitioned on doc_id: that fans the per-doc variational inference
    // out to every core (the single-row-group fixture gives the corpus one
    // partition) and leaves the rows in doc_id order, so no sort follows.
    // Each doc's inference is seeded by its doc_id, so the partitioning
    // cannot change its θ.
    model.topicDistributions(
        vectors(encoded, vocab.length).sortByKey(numPartitions = spark.sparkContext.defaultParallelism))
      .map { case (id, theta) => (id, theta.argmax, rounded(theta(theta.argmax), 4)) }
      .toDF("doc_id", "topic", "weight")
  }

  /** Fit the top-V vocabulary + LDA on the `documents` fixture and return
    * the reference's output contract (py:199-203): one row per topic, the
    * top-20 words per topic. Terms and weights are emitted as space-joined
    * scalar strings (`topic INT, terms STRING, weights STRING`) so the row is
    * hashable by any downstream comparator — the reference likewise prints a
    * flat word list per topic (py:199-203). */
  def topicReport(spark: SparkSession, dir: String, vocabSize: Int,
      numTopics: Int, maxIter: Int, topWords: Int = 20, seed: Long = 42L): DataFrame = {
    import spark.implicits._
    val docs = tokenPairs(preprocess(Tables.documents(spark, dir)))
    // A local relation in topic order: no Spark job builds it, and no
    // orderBy, whose sort would cost jobs.
    topics(docs, vocabulary(docs, vocabSize).map(_._1), numTopics, maxIter, topWords, seed)
      .toDF("topic", "terms", "weights")
  }

  /** [[topicReport]]'s rows for a corpus and a given vocabulary.
    * describeTopics is the reference's driver-side argsort top-20
    * (py:196-203), resolved against the vocabulary on the driver (J2's
    * lookup, py:192-194); weights are rounded to 6 places. */
  private[graft] def topics(docs: RDD[(Long, Array[String])], vocab: Array[String],
      numTopics: Int, maxIter: Int, topWords: Int, seed: Long): Seq[(Int, String, String)] =
    fit(encode(docs, vocab), vocab.length, numTopics, maxIter, seed).describeTopics(topWords).toSeq.zipWithIndex
      .map { case ((terms, weights), t) =>
        (t, terms.map(vocab).mkString(" "), weights.map(rounded(_, 6)).mkString(" "))
      }
}
