package org.apache.spark.mllib.clustering

import java.util.Random

import breeze.linalg.{all, sum, DenseMatrix => BDM, DenseVector => BDV, Vector => BV}
import breeze.numerics.{exp, trigamma}
import breeze.stats.distributions.{Gamma, RandBasis}
import org.apache.commons.math3.random.MersenneTwister

import org.apache.spark.TaskContext
import org.apache.spark.mllib.linalg.{Matrices, Vector, Vectors}
import org.apache.spark.rdd.RDD
import org.apache.spark.util.random.PoissonSampler

/** MLlib's online variational-Bayes LDA (`LDA.run` with an
  * [[OnlineLDAOptimizer]]) in one Spark job per iteration on several
  * partitions, and in one Spark job per fit on one partition. `LDA.run`
  * runs `count` and `first` jobs to initialize, then per iteration an
  * `isEmpty` probe of the sampled minibatch and a `treeAggregate` of its
  * E-step: 2N + 2 jobs for N iterations, each with its own driver
  * overhead. Here an iteration's step samples each partition, counts its
  * docs and runs the E-step, and the update sums the partitions'
  * statistics in partition order, so the merge does not depend on the
  * order in which tasks complete.
  *
  * On several partitions each iteration is one `runJob` of that step,
  * and the driver runs the update. On one partition there is nothing to
  * merge across tasks, so the whole fit, its random draws, every step and
  * every update, runs in that partition's one task, which reads its docs
  * once. A Spark job costs 5–8 ms on 4 local cores however small its
  * task.
  *
  * It calls MLlib's own `variationalTopicInference` and
  * `dirichletExpectation` (package-private, hence this package) and repeats
  * Spark 4.1.2's `initialize`, `next`, `submitMiniBatch`, `updateLambda`,
  * `updateAlpha` and `getLDAModel` step for step, drawing the same random
  * stream: on a one-partition input the model equals `LDA.run`'s bit for
  * bit, and so does the fit of that input with an empty partition after
  * it, which takes the several-partition path (LdaSpec checks both).
  *
  * Only k, the iteration count and the seed vary. The other settings are
  * the ones `ml.clustering.LDA` passes MLlib by default, fixed here: τ0
  * 1024, κ 0.51, minibatch fraction 0.05 and an optimized doc
  * concentration, with α = β = 1/k, the reference's coupling (py:98-100;
  * SURVEY §7.5.6).
  */
object GraftLDAOptimizer {

  /** The optimizer's fixed gamma shape, and its default of sampling with
    * replacement (`RDD.sample(true, …)`, a [[PoissonSampler]]): neither has
    * a getter, and graft never changes them. */
  private val GammaShape = 100.0
  private val Tau0 = 1024.0
  private val Kappa = 0.51
  private val MiniBatchFraction = 0.05

  /** One partition's part of an iteration: its docs, the docs it sampled
    * (with repeats), the non-empty ones among those, their topic-word
    * statistics, and the sum of their E[log θ]. */
  private final case class Part(docs: Long, sampled: Long, nonEmpty: Long,
      stat: BDM[Double], logphat: BDV[Double])

  /** What an iteration's step needs besides a partition's docs:
    * `RDD.sample`'s per-partition seeds, the inference seed, and the
    * current exp(E[log β]) (V × k) and α. */
  private final case class Step(sampleSeeds: Array[Long], seed: Long,
      expElogbeta: BDM[Double], alpha: BV[Double])

  /** `LDA.run(docs)` with k topics, `maxIter` iterations and `seed`, given
    * the length of `docs`' vectors (`initialize` reads it with a `first`
    * job). The corpus size comes from the first iteration's step. */
  def run(docs: RDD[(Long, Vector)], vocabSize: Int, k: Int, maxIter: Int,
      seed: Long): LocalLDAModel = {
    val sc = docs.sparkContext
    val numParts = docs.partitions.length
    val fitted =
      if (numParts == 1) sc.runJob(docs, (_: TaskContext, it: Iterator[(Long, Vector)]) => {
        val all = it.toArray
        fit(1, vocabSize, k, maxIter, seed)(step => Seq(part(all.iterator, 0, step, k, vocabSize)))
      }).head
      else fit(numParts, vocabSize, k, maxIter, seed)(step =>
        sc.runJob(docs, (ctx: TaskContext, it: Iterator[(Long, Vector)]) =>
          part(it, ctx.partitionId(), step, k, vocabSize)).toSeq)
    // An empty corpus throws here, on the driver: thrown in the task, it
    // would reach the caller as a SparkException.
    fitted.getOrElse(emptyCorpus())
  }

  /** Partition `index`'s part of an iteration: it samples its docs `it`
    * with its own sample seed and runs the E-step on each sampled doc. */
  private def part(it: Iterator[(Long, Vector)], index: Int, step: Step, k: Int,
      vocabSize: Int): Part = {
    val sampler = new PoissonSampler[(Long, Vector)](MiniBatchFraction)
    sampler.setSeed(step.sampleSeeds(index))
    var n, sampled, nonEmpty = 0L
    val stat = BDM.zeros[Double](k, vocabSize)
    val logphat = BDV.zeros[Double](k)
    sampler.sample(it.map { d => n += 1; d }).foreach { case (_, termCounts) =>
      sampled += 1
      if (termCounts.numNonzeros > 0) {
        nonEmpty += 1
        val (gammad, sstats, ids) = OnlineLDAOptimizer.variationalTopicInference(
          termCounts, step.expElogbeta, step.alpha, GammaShape, k, step.seed + index)
        stat(::, ids) := stat(::, ids) + sstats
        logphat += LDAUtils.dirichletExpectation(gammad)
      }
    }
    Part(n, sampled, nonEmpty, stat, logphat)
  }

  /** The fit of a corpus of `numParts` partitions: the initial λ, then per
    * iteration the random draws, `parts` (the step of every partition, in
    * partition order) and the λ and α updates; the model, or None for an
    * empty corpus. */
  private def fit(numParts: Int, vocabSize: Int, k: Int, maxIter: Int, seed: Long)(
      parts: Step => Seq[Part]): Option[LocalLDAModel] = {
    var alpha = Vectors.dense(Array.fill(k)(1.0 / k))
    val eta = 1.0 / k
    val random = new Random(seed)
    val lambda = gammaMatrix(k, vocabSize, random)
    var iteration = 0
    var corpusSize = -1L
    // `next` draws the sample seed and, only for a non-empty minibatch,
    // `submitMiniBatch` draws the inference seed. The step needs both up
    // front, so after an empty minibatch the drawn inference seed is the
    // next draw: the following sample seed, or the model's seed.
    var drawn: Option[Long] = None
    def draw(): Long = { val s = drawn.getOrElse(random.nextLong()); drawn = None; s }
    def rho(): Double = math.pow(Tau0 + iteration, -Kappa)

    var i = 0
    while (i < maxIter) {
      i += 1
      // `RDD.sample`'s per-partition seeds, as `PartitionwiseSampledRDD` draws them
      val sampleRandom = new Random(draw())
      val sampleSeeds = Array.fill(numParts)(sampleRandom.nextLong())
      val seed = random.nextLong()
      val expElogbeta = exp(LDAUtils.dirichletExpectation(lambda)).t
      val ps = parts(Step(sampleSeeds, seed, expElogbeta, alpha.asBreeze))
      if (corpusSize < 0) {
        corpusSize = ps.map(_.docs).sum
        if (corpusSize == 0) return None
      }
      if (ps.map(_.sampled).sum == 0) drawn = Some(seed)
      else {
        iteration += 1
        val nonEmptyDocsN = ps.map(_.nonEmpty).sum
        if (nonEmptyDocsN > 0) {
          val statsSum = BDM.zeros[Double](k, vocabSize)
          val logphat = BDV.zeros[Double](k)
          ps.foreach { p =>
            statsSum += p.stat
            logphat += p.logphat
          }
          // updateLambda, with batchSize = ceil(fraction · corpusSize)
          val batchSize = (MiniBatchFraction * corpusSize).ceil.toInt
          val weight = rho()
          lambda := (1 - weight) * lambda +
            weight * ((statsSum *:* expElogbeta.t) * (corpusSize.toDouble / batchSize.toDouble) + eta)
          logphat /= nonEmptyDocsN.toDouble
          alpha = updatedAlpha(alpha, logphat, nonEmptyDocsN.toDouble, rho())
        }
      }
    }
    Some(new LocalLDAModel(Matrices.fromBreeze(lambda).transpose, alpha, eta, GammaShape)
      .setSeed(draw()))
  }

  /** What `first()` throws on an empty RDD, as `initialize` did. */
  private def emptyCorpus(): Nothing = throw new UnsupportedOperationException("empty collection")

  /** `getGammaMatrix`: the initial λ, k × V. */
  private def gammaMatrix(row: Int, col: Int, random: Random): BDM[Double] = {
    val randBasis = new RandBasis(new MersenneTwister(random.nextLong()))
    val temp = new Gamma(GammaShape, 1.0 / GammaShape)(randBasis).sample(row * col).toArray
    new BDM[Double](col, row, temp).t
  }

  /** `updateAlpha`: one Newton–Raphson step on α from the minibatch's mean
    * E[log θ], kept only if every entry stays positive. */
  private def updatedAlpha(current: Vector, logphat: BDV[Double], nonEmptyDocsN: Double,
      weight: Double): Vector = {
    val alpha = current.asBreeze.toDenseVector
    val gradf = nonEmptyDocsN * (-LDAUtils.dirichletExpectation(alpha) + logphat)
    val c = nonEmptyDocsN * trigamma(sum(alpha))
    val q = -nonEmptyDocsN * trigamma(alpha)
    val b = sum(gradf / q) / (1D / c + sum(1D / q))
    val dalpha = -(gradf - b) / q
    if (all((weight * dalpha + alpha) >:> 0D)) {
      alpha :+= weight * dalpha
      Vectors.dense(alpha.toArray)
    } else current
  }
}
