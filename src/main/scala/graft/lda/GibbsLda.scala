package graft.lda

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.sources.Tables

/** Distributed collapsed Gibbs sampling for LDA — algorithm-level parity
  * with the reference sampler (/root/reference/src/LDATopicModelingWithGibbs.py:95-203),
  * distributed AD-LDA style instead of the reference's driver-side NumPy
  * loop (its author collected the whole corpus to the driver, py:151-158).
  *
  * Semantics per sweep (the reference's exact update, py:160-186):
  *   p(z=k) ∝ (θ_dk + α) / (n_d − 1 + Tα) · (Φ_kw + β) / (n_k + Vβ)
  * with the current word excluded (the "−1", SURVEY §7.5.7) and α = β = 1/T
  * (§7.5.6). Differences, by design (SURVEY §7.5.1): topic init is j mod T
  * on a DETERMINISTIC doc-term encoding (the reference's is shuffle-order-
  * dependent), and sampling uses a per-(doc, sweep) seeded RNG: sweep i
  * (from 1) of doc d draws from `java.util.Random(seed · 1000003 + d · 31 +
  * i)`, one `nextDouble` u per word slot in order, and takes the first
  * topic whose running sum of the weights above reaches u times their
  * total. Each doc sees the sweep-start Φ and n_z plus only its own
  * updates, so the whole fit is reproducible under any partitioning.
  *
  * Scale posture: doc states (positions + topics) stay partitioned across
  * executors in a persisted RDD, one array of decoded doc states per
  * partition ([[Cached]]), so a task's heap bounds a partition's size.
  * On several partitions each sweep is ONE Spark job: a map over each
  * partition's array that samples against a broadcast Φ copy (AD-LDA) and
  * writes the new states to the cache, fused with [[countPhi]]'s per-task
  * dense T×V count; the driver sums the counts in partition order, which
  * rebuilds the exact global counts. The dense per-task array is the same
  * size as the broadcast Φ every task already holds. On one partition its
  * own count is the global count, so the whole fit, the initial count and
  * every sweep with the same per-block code, is ONE Spark job: its task
  * caches the last doc states and counts them. Driver/broadcast state is
  * Φ (T×V longs) + n_z (T longs) — bounded by MODEL size, never by corpus
  * size. No O(N·V) one-hot densification anywhere (SURVEY §4.2.1).
  */
object GibbsLda {

  final case class DocState(docId: Long, words: Array[Int], topics: Array[Int])

  /** Storage of the doc-state caches: deserialized, one array of DocStates
    * per partition ([[LdaPipeline.blocks]]). While Spark unrolls a deserialized block it
    * re-sizes the growing buffer of its elements by walking their object
    * graphs (`SizeEstimator`), and a DocState holds two arrays; a block of
    * one array is sized from a sample of its elements. No DocState is
    * serialized or deserialized: each cache is written once and read back
    * once, by the next sweep, as the same objects. The corpus itself is
    * [[LdaPipeline.preprocess]]'s DataFrame cache. */
  private val Cached = StorageLevel.MEMORY_AND_DISK

  /** A fit: Φ, n_z and the vocabulary on the driver, and the cached doc
    * states, one array per partition (`blocks`). [[unpersist]] drops the
    * cache; `docs` is an uncached view of it. */
  final case class GibbsModel(
      phi: Array[Array[Long]], // T × V topic-word counts
      nz: Array[Long],         // T topic totals
      blocks: RDD[Array[DocState]],
      vocab: Array[String]) {
    lazy val docs: RDD[DocState] = blocks.flatMap(_.iterator)
    def unpersist(): Unit = blocks.unpersist()
  }

  /** Exact topic-word counts: each task counts its docs into a dense T×V
    * array ([[count]]), and the driver sums the arrays in partition order —
    * one plain `runJob`, the call site the benchmark attributes Gibbs sweeps
    * to. The `(TaskContext, Iterator)` form is the one `runJob` does not
    * wrap in a second closure to clean. */
  private[graft] def countPhi(docs: RDD[Array[DocState]], numTopics: Int, vocabSize: Int):
      (Array[Array[Long]], Array[Long]) = {
    val flat = docs.sparkContext.runJob(docs, (_: TaskContext, it: Iterator[Array[DocState]]) =>
      count(it, numTopics, vocabSize)).reduce { (a, b) =>
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }
    split(flat, numTopics, vocabSize)
  }

  /** The topic-word counts of `blocks`' docs, one dense T×V array. */
  private def count(blocks: Iterator[Array[DocState]], numTopics: Int, vocabSize: Int):
      Array[Long] = {
    val c = new Array[Long](numTopics * vocabSize)
    blocks.foreach(_.foreach { d =>
      var j = 0
      while (j < d.words.length) {
        c(d.topics(j) * vocabSize + d.words(j)) += 1
        j += 1
      }
    })
    c
  }

  /** A dense T×V count as Φ, one row per topic, and n_z. */
  private def split(flat: Array[Long], numTopics: Int, vocabSize: Int):
      (Array[Array[Long]], Array[Long]) = {
    val phi = Array.tabulate(numTopics)(k => flat.slice(k * vocabSize, (k + 1) * vocabSize))
    (phi, phi.map(_.sum))
  }

  /** One full-corpus sweep: sample every word slot of every doc against a
    * broadcast copy of the sweep-start Φ and n_z. */
  private def sweep(docs: RDD[Array[DocState]], phi: Array[Array[Long]],
      nz: Array[Long], numTopics: Int, vocabSize: Int, alpha: Double,
      beta: Double, iter: Int, seed: Long): RDD[Array[DocState]] = {
    val bcPhi = docs.sparkContext.broadcast(phi)
    val bcNz = docs.sparkContext.broadcast(nz)
    docs.map(sweepBlock(_, bcPhi.value, bcNz.value, numTopics, vocabSize, alpha, beta, iter, seed))
  }

  /** Sweep `iter` of one block: sample every word slot of each of its docs
    * against the sweep-start `gPhi` and `gNz`. */
  private def sweepBlock(block: Array[DocState], gPhi: Array[Array[Long]], gNz: Array[Long],
      numTopics: Int, vocabSize: Int, alpha: Double, beta: Double, iter: Int,
      seed: Long): Array[DocState] =
    block.map { d =>
      // Per-DOC Φ delta (not per-partition): each doc sees the
      // sweep-start global counts plus only its OWN in-flight updates, so
      // the sampled assignment is identical under ANY partitioning /
      // cluster size — stronger than classic AD-LDA's partition-local
      // staleness, and still Gauss-Seidel within the doc like the
      // reference's sequential loop. The delta is dense over the doc's
      // distinct words: T × nw longs, column `col(j)` for slot j.
      val rng = new java.util.Random(seed * 1000003L + d.docId * 31L + iter)
      val theta = new Array[Long](numTopics)
      d.topics.foreach(t => theta(t) += 1)
      val nd = d.words.length
      val topics = d.topics.clone()
      val p = new Array[Double](numTopics)
      val distinct = LdaPipeline.distinctWords(d.words)
      val nw = distinct.length
      val col = d.words.map(java.util.Arrays.binarySearch(distinct, _))
      val phiDelta = new Array[Long](numTopics * nw)
      val nzDelta = new Array[Long](numTopics)
      def bump(k: Int, c: Int, by: Long): Unit = {
        phiDelta(k * nw + c) += by
        nzDelta(k) += by
      }
      var j = 0
      while (j < nd) {
        val w = d.words(j)
        val c = col(j)
        val old = topics(j)
        theta(old) -= 1; bump(old, c, -1L)
        var sum = 0.0
        var k = 0
        while (k < numTopics) {
          sum += (theta(k) + alpha) / (nd - 1 + numTopics * alpha) *
            (gPhi(k)(w) + phiDelta(k * nw + c) + beta) / (gNz(k) + nzDelta(k) + vocabSize * beta)
          p(k) = sum
          k += 1
        }
        val u = rng.nextDouble() * sum
        var nk = 0
        while (nk < numTopics - 1 && p(nk) < u) nk += 1
        topics(j) = nk
        theta(nk) += 1; bump(nk, c, 1L)
        j += 1
      }
      DocState(d.docId, d.words, topics)
    }

  /** Fits the docs of `documents` with at least one token
    * ([[LdaPipeline.preprocess]], the corpus of the MLlib fits too). */
  def fit(spark: SparkSession, dir: String, vocabSize: Int, numTopics: Int,
      maxIter: Int = 10, seed: Long = 42L): GibbsModel =
    fitCorpus(LdaPipeline.preprocess(Tables.documents(spark, dir)), vocabSize, numTopics,
      maxIter, seed)

  /** [[fit]] on an already preprocessed corpus (`doc_id`, `tokens`), in
    * whatever partitioning it arrives — the seam the partition-invariance
    * test drives. Each doc is encoded as its vocabulary positions in token
    * order ([[LdaPipeline.encode]] over [[LdaPipeline.vocabulary]], doc
    * identity kept throughout, SURVEY §7.5.3); a doc with no vocabulary word
    * is dropped, the reference's inner-join shrink. */
  private[graft] def fitCorpus(corpus: DataFrame, vocabSize: Int,
      numTopics: Int, maxIter: Int, seed: Long): GibbsModel = {
    val tokens = LdaPipeline.tokenPairs(corpus)
    val vocab = LdaPipeline.vocabulary(tokens, vocabSize).map(_._1)
    val v = vocab.length
    // M1: deterministic init, topic = slot index mod T (py:110-121).
    // NOT fanned out, by measurement: the sampler is partitioning-independent
    // by design (per-(doc, sweep) seeded RNG — GibbsSpec fits 1 vs 4
    // partitions to identical output), but the per-sweep task overhead of
    // 32 partitions measured SLOWER than the single-partition sweep at sf0.1
    // (3.2 s plain vs 4.8 s fanned steady-state) — the sweep's integer
    // sampling is too cheap per token to recoup it. One partition is fitted
    // in one job; at real scale the input arrives with ≥ cores partitions
    // and the sweeps, one job each, parallelize without any explicit
    // repartition.
    val init = LdaPipeline.blocks(LdaPipeline.encode(tokens, vocab).filter(_._2.nonEmpty)
      .map { case (id, words) => DocState(id, words, Array.tabulate(words.length)(_ % numTopics)) })
    val alpha = 1.0 / numTopics
    val beta = 1.0 / numTopics
    if (init.partitions.length == 1) {
      // The block's own count is the global Φ: every sweep runs in the one
      // task, and the one countPhi job caches the last states and counts them.
      val docs = init.map { block =>
        (1 to maxIter).foldLeft(block) { (b, i) =>
          val (phi, nz) = split(count(Iterator(b), numTopics, v), numTopics, v)
          sweepBlock(b, phi, nz, numTopics, v, alpha, beta, i, seed)
        }
      }.persist(Cached)
      val (phi, nz) = countPhi(docs, numTopics, v)
      GibbsModel(phi, nz, docs, vocab)
    } else {
      // countPhi is the SOLE consumer of each fresh persist, so its job runs
      // the sweep, materializes the new states and counts them in one pass.
      // The previous state is unpersisted only after the new one is
      // materialized.
      var docs = init.persist(Cached)
      var (phi, nz) = countPhi(docs, numTopics, v)
      for (i <- 1 to maxIter) {
        val next = sweep(docs, phi, nz, numTopics, v, alpha, beta, i, seed)
          .persist(Cached)
        val pn = countPhi(next, numTopics, v)
        docs.unpersist()
        docs = next
        phi = pn._1; nz = pn._2
      }
      GibbsModel(phi, nz, docs, vocab)
    }
  }

  /** The reference's output contract: top-N words per topic (py:196-203).
    * Terms/weights flattened to space-joined strings — scalar columns, so the
    * row is hashable by any comparator (same contract as
    * [[LdaPipeline.topicReport]]). */
  def topicReport(spark: SparkSession, dir: String, vocabSize: Int,
      numTopics: Int, maxIter: Int = 10, topWords: Int = 20,
      seed: Long = 42L): DataFrame = {
    import spark.implicits._
    val m = fit(spark, dir, vocabSize, numTopics, maxIter, seed)
    val rows = m.phi.zipWithIndex.map { case (row, t) =>
      val top = row.zipWithIndex.sortBy { case (c, w) => (-c, w) }
        .take(topWords)
      (t, top.map { case (_, w) => m.vocab(w) }.mkString(" "),
        top.map(_._1).mkString(" ")) // counts as weights
    }
    m.unpersist()
    // Rows are built in topic order; no orderBy, whose sort of this local
    // relation would cost Spark jobs.
    spark.createDataset(rows.toSeq)
      .toDF("topic", "terms", "weights")
  }
}
