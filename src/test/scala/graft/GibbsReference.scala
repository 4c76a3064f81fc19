package graft

/** The paper's collapsed Gibbs sampler for LDA, run sequentially on the
  * driver: plain Scala, no Spark. It is written from the update rule
  * (LDATopicModelingWithGibbs.py:160-186) and SURVEY §7.5, with the
  * determinism `GibbsLda`'s scaladoc pins down, so the distributed fit must
  * reproduce its integers exactly:
  *   - vocabulary: the `vocabSize` most frequent tokens by (−count, word);
  *   - a doc is its in-vocabulary tokens in token order, and a doc without
  *     one is dropped; slot j starts in topic j mod T;
  *   - α = β = 1/T (§7.5.6), and the current word is taken out of the
  *     counts before it is resampled (the "−1", §7.5.7):
  *     p(k) ∝ (θ_dk + α) / (n_d − 1 + Tα) · (Φ_kw + β) / (n_k + Vβ);
  *   - each doc of sweep i starts from the sweep-start Φ and n_z and sees
  *     only its own moves, drawing from `Random(seed · 1000003 + d · 31 + i)`:
  *     one uniform u per slot, the first topic whose running weight sum
  *     reaches u times the total. */
object GibbsReference {

  /** Vocabulary, Φ (T × V), n_z and each kept doc's (doc_id, word
    * positions, topics), by doc_id. */
  final case class Fit(vocab: Seq[String], phi: Seq[Seq[Long]], nz: Seq[Long],
      docs: Seq[(Long, Seq[Int], Seq[Int])])

  def fit(corpus: Seq[(Long, Seq[String])], vocabSize: Int, numTopics: Int,
      sweeps: Int, seed: Long): Fit = {
    val t = numTopics
    val vocab = corpus.flatMap(_._2).groupBy(identity).toSeq
      .map { case (w, occurrences) => (w, occurrences.size) }
      .sortBy { case (w, n) => (-n, w) }.take(vocabSize).map(_._1)
    val v = vocab.size
    val index = vocab.zipWithIndex.toMap
    val docs = corpus.sortBy(_._1)
      .map { case (d, tokens) => (d, tokens.flatMap(index.get).toArray) }
      .filter(_._2.nonEmpty)
    val z = docs.map { case (_, ws) => Array.tabulate(ws.length)(_ % t) }
    val alpha = 1.0 / t
    val beta = 1.0 / t
    def counts(): Array[Array[Long]] = {
      val phi = Array.fill(t, v)(0L)
      for (((_, ws), zs) <- docs.zip(z); j <- ws.indices) phi(zs(j))(ws(j)) += 1
      phi
    }
    for (sweep <- 1 to sweeps) {
      val start = counts()
      for (((d, ws), zs) <- docs.zip(z)) {
        val phi = start.map(_.clone)
        val nz = phi.map(_.sum)
        val theta = new Array[Long](t)
        zs.foreach(k => theta(k) += 1)
        val rng = new java.util.Random(seed * 1000003L + d * 31L + sweep)
        for (j <- ws.indices) {
          val w = ws(j)
          theta(zs(j)) -= 1; phi(zs(j))(w) -= 1; nz(zs(j)) -= 1
          val cumulative = (0 until t).map { k =>
            (theta(k) + alpha) / (ws.length - 1 + t * alpha) * (phi(k)(w) + beta) /
              (nz(k) + v * beta)
          }.scanLeft(0.0)(_ + _).tail
          val u = rng.nextDouble() * cumulative.last
          val k = cumulative.indexWhere(_ >= u) match { case -1 => t - 1; case k => k }
          zs(j) = k; theta(k) += 1; phi(k)(w) += 1; nz(k) += 1
        }
      }
    }
    val phi = counts()
    Fit(vocab, phi.map(_.toSeq).toSeq, phi.map(_.sum).toSeq,
      docs.zip(z).map { case ((d, ws), zs) => (d, ws.toSeq, zs.toSeq) })
  }
}
