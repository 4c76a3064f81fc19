package graft

import org.scalacheck.{Gen, Prop, Properties}
import graft.lda.GibbsLda
import graft.lda.GibbsLda.DocState

/** The Gibbs sampler's dense per-task topic-word count against the sparse
  * (topic, word) count it replaced, on generated doc states. */
object GibbsProps extends Properties("graft.gibbs") {

  private val T = 3
  private val V = 7

  private val docState: Gen[DocState] = for {
    id <- Gen.choose(0L, 1000000L)
    n <- Gen.choose(0, 12)
    words <- Gen.listOfN(n, Gen.choose(0, V - 1))
    topics <- Gen.listOfN(n, Gen.choose(0, T - 1))
  } yield DocState(id, words.toArray, topics.toArray)

  property("dense countPhi equals the sparse (topic, word) groupBy count") =
    Prop.forAll(Gen.listOf(docState), Gen.choose(1, 4)) { (docs, slices) =>
      // the doc-state caches' shape: one array of doc states per partition
      val rdd = SparkSpec.session.sparkContext.parallelize(docs, slices).glom()
      val (phi, nz) = GibbsLda.countPhi(rdd, T, V)
      val sparse = docs.flatMap(d => d.topics.zip(d.words))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val dense = for (k <- 0 until T; w <- 0 until V if phi(k)(w) != 0)
        yield (k, w) -> phi(k)(w)
      dense.toMap == sparse && nz.toSeq == phi.map(_.sum).toSeq &&
        phi.length == T && phi.forall(_.length == V)
    }
}
