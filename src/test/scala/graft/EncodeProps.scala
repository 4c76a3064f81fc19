package graft

import org.apache.spark.mllib.linalg.{SparseVector, Vector, Vectors}
import org.scalacheck.{Gen, Prop, Properties}

import graft.lda.LdaPipeline

/** The topic models' corpus read, vocabulary, vocabulary encoding and term
  * counting against the forms they replaced: Row getters over `Dataset.rdd`,
  * a sorted `groupMapReduce` count, a `Map` lookup per token and a
  * `groupMapReduce` per doc. */
object EncodeProps extends Properties("graft.encode") {

  private def spark = SparkSpec.session

  /** The reference encoding: a doc's vocabulary positions in token order. */
  private def encodeRef(tokens: Seq[String], vocab: Array[String]): Seq[Int] = {
    val index = vocab.zipWithIndex.toMap
    tokens.flatMap(index.get)
  }

  /** The reference counting: a doc's positions as a sparse count vector. */
  private def vectorsRef(words: Array[Int], vocabSize: Int): Vector =
    Vectors.sparse(vocabSize, words.groupMapReduce(identity)(_ => 1.0)(_ + _).toSeq)

  /** A vector as its exact parts, so equal means bit-identical. */
  private def parts(v: Vector): (Int, Seq[Int], Seq[Double]) = {
    val s = v.asInstanceOf[SparseVector]
    (s.size, s.indices.toSeq, s.values.toSeq)
  }

  /** Words from a small alphabet, so docs repeat them, vocabularies share
    * them and the index's slots collide; "Aa" and "BB" have one hashCode. */
  private val word: Gen[String] =
    Gen.frequency(6 -> Gen.listOfN(2, Gen.oneOf('a', 'b', 'c')).map(_.mkString),
      1 -> Gen.oneOf("Aa", "BB", "", "é", "oov"))

  private val vocab: Gen[Array[String]] =
    Gen.choose(0, 12).flatMap(Gen.listOfN(_, word)).map(_.distinct.toArray)

  /** Generated docs, plus an empty doc, an all-out-of-vocabulary doc and a
    * doc that repeats the vocabulary's first and last words (positions 0 and
    * V − 1). */
  private def docs(v: Array[String]): Gen[Seq[(Long, Seq[String])]] =
    Gen.listOf(Gen.zip(Gen.choose(Long.MinValue, Long.MaxValue), Gen.listOf(word))).map { ds =>
      val edges = v.headOption.toSeq ++ v.lastOption ++ v.headOption ++ v.lastOption
      ds ++ Seq(1L -> Nil, 2L -> Seq("oov", "zz", "oov"), 3L -> edges)
    }

  property("encode equals a Map lookup per token") =
    Prop.forAll(vocab.flatMap(v => docs(v).map(v -> _)), Gen.choose(1, 3)) {
      case ((v, ds), slices) =>
        val rdd = spark.sparkContext.parallelize(ds.map { case (id, t) => (id, t.toArray) }, slices)
        val got = LdaPipeline.encode(rdd, v).collect().toSeq.map { case (id, w) => (id, w.toSeq) }
        got == ds.map { case (id, t) => (id, encodeRef(t, v)) }
    }

  /** Encoded docs over a vocabulary of n words: repeated positions, often
    * 0 and n − 1, and an empty doc. */
  private val encoded: Gen[(Int, Seq[(Long, Array[Int])])] = for {
    n <- Gen.choose(1, 8)
    ds <- Gen.listOf(Gen.zip(Gen.choose(0L, 100L), Gen.listOf(
      Gen.frequency(2 -> Gen.oneOf(0, n - 1), 3 -> Gen.choose(0, n - 1))).map(_.toArray)))
  } yield (n, ds :+ (-1L -> Array.empty[Int]))

  property("vectors equals a groupMapReduce count per doc") =
    Prop.forAll(encoded) { case (n, ds) =>
      val got = LdaPipeline.vectors(spark.sparkContext.parallelize(ds, 2), n).collect().toSeq
      got.map { case (id, v) => (id, parts(v)) } == ds.map { case (id, w) => (id, parts(vectorsRef(w, n))) }
    }

  property("vocabulary equals the top of a groupMapReduce count, on one partition or more") =
    Prop.forAll(vocab.flatMap(docs), Gen.choose(0, 12), Gen.choose(1, 3)) { (ds, n, slices) =>
      // a small alphabet: count ties fall across the cut at n
      val rdd = spark.sparkContext.parallelize(ds.map { case (id, t) => (id, t.toArray) }, slices)
      val counts = ds.flatMap(_._2).groupMapReduce(identity)(_ => 1L)(_ + _).toSeq
      LdaPipeline.vocabulary(rdd, n).toSeq == counts.sortBy { case (w, c) => (-c, w) }.take(n)
    }

  property("tokenPairs equals Row getters over Dataset.rdd, in either column order") =
    Prop.forAll(vocab.flatMap(docs), Gen.oneOf(true, false)) { (ds, swapped) =>
      val s = spark
      import s.implicits._
      val df = ds.toDF("doc_id", "tokens")
      val corpus = if (swapped) df.select("tokens", "doc_id") else df
      val got = LdaPipeline.tokenPairs(corpus).collect().toSeq.map { case (id, t) => (id, t.toSeq) }
      got == corpus.rdd.map(r => (r.getAs[Long]("doc_id"), r.getAs[Seq[String]]("tokens"))).collect().toSeq
    }
}
