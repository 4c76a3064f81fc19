package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.execution.{FileSourceScanExec, InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}

import graft.functions._
import graft.lda.LdaPipeline
import graft.operators.TextOps
import graft.sources.Tables

/** The native Column functions (graft.functions.Native) evaluate the same
  * under generated code and the interpreted path, and stay inside
  * whole-stage codegen on the query path. */
class NativeParitySpec extends SparkSpec {

  /** Rows of `df` (keyed by its first, LONG column) with generated code
    * only, then with interpreted expressions only and no whole-stage
    * codegen. `df` is built anew per mode, since a DataFrame keeps the
    * physical plan of its first run. */
  private def bothModes(df: () => DataFrame): (Seq[Row], Seq[Row]) = {
    def run(mode: String, wholeStage: Boolean): Seq[Row] = {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      try {
        val d = df()
        val rows = d.collect().toSeq.sortBy(_.getLong(0))
        assert(d.queryExecution.executedPlan.exists(isCodegen) == wholeStage, mode)
        rows
      } finally {
        spark.conf.unset("spark.sql.codegen.factoryMode")
        spark.conf.unset("spark.sql.codegen.wholeStage")
      }
    }
    (run("CODEGEN_ONLY", wholeStage = true), run("NO_CODEGEN", wholeStage = false))
  }

  private def isCodegen(p: SparkPlan): Boolean = p match {
    case _: WholeStageCodegenExec => true
    case a: AdaptiveSparkPlanExec => a.executedPlan.exists(isCodegen)
    case q: QueryStageExec => q.plan.exists(isCodegen)
    case _ => false
  }

  /** (inside whole-stage codegen?, "Ops.fn") for every kernel call in an
    * executed plan, each cached plan once. A file scan's data filters are
    * left out: the scan only lists them, and the Filter above it evaluates
    * them. */
  private def kernelCalls(p: SparkPlan, inCodegen: Boolean = false,
      seen: java.util.Set[SparkPlan] = java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])): Seq[(Boolean, String)] = {
    val exprs = p match {
      case _: FileSourceScanExec => Nil
      case _ => p.expressions
    }
    val here = exprs.flatMap(_.collect {
      case s: StaticInvoke if s.staticObject.getName.startsWith("graft.functions.") =>
        (inCodegen, s"${s.staticObject.getSimpleName.stripSuffix("$")}.${s.functionName}")
    })
    val below: Seq[(SparkPlan, Boolean)] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan -> false)
      case q: QueryStageExec => Seq(q.plan -> false)
      case w: WholeStageCodegenExec => Seq(w.child -> true)
      case i: InputAdapter => Seq(i.child -> false)
      case m: InMemoryTableScanExec =>
        if (seen.add(m.relation.cachedPlan)) Seq(m.relation.cachedPlan -> false) else Nil
      case _ => p.children.map(_ -> inCodegen)
    }
    here ++ below.flatMap { case (c, in) => kernelCalls(c, in, seen) }
  }

  /** Every interpreted-only expression in an executed plan, cached plans
    * included. */
  private def fallbacks(p: SparkPlan): Seq[String] = {
    val here = p.expressions.flatMap(_.collect { case f: CodegenFallback => f.prettyName })
    val below = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case _ => p.children
    }
    here ++ below.flatMap(fallbacks)
  }

  test("native functions give equal rows under CODEGEN_ONLY and NO_CODEGEN, " +
      "and stay in whole-stage codegen on the query path") {
    import spark.implicits._
    // sf0.001 documents plus edge rows: empty text (-> empty token array),
    // a NULL text (-> NULL arrays), an emoji-only token, odd spacing and
    // stopwords only.
    val edges = Seq[(Long, String)]((-1L, ""), (-2L, null), (-3L, "😀 only"),
      (-4L, "  a  b\tc "), (-5L, "The AND, of!"))
      .toDF("doc_id", "text")
    val w = Words(Cleaning.cleanText(col("text")))
    val docs = Tables.documents(spark, sf0001).select(col("doc_id"), col("text"))
      .union(edges)
      .select(col("doc_id"), col("text"), w.as("w"))
      .select(col("*"), ShingleSet(col("w")).as("sh"))
      .persist()
    docs.count()
    val vocab = Seq("covid", "vaccine", "people", "the", "b").zipWithIndex
      .map { case (t, i) => (t, i.toLong) }
    def text = docs.select(col("doc_id"),
      Cleaning.removeEmojiTokens(col("text")), Cleaning.urlUserCovidStrip(col("text")),
      Cleaning.alphaSpaceLower(col("text")), Cleaning.cleanText(col("text")),
      TokenCounts(col("text")), FrameSample(col("text")),
      Words(Cleaning.cleanText(col("text"))),
      Words(Cleaning.cleanText(col("text")), TextOps.StopWords),
      Words(Cleaning.cleanText(col("text")), LdaPipeline.StopWords))
    def arrays = docs.select(col("doc_id"),
      ShingleSet(col("w")), MinHashSig(col("sh")), SimHash16(col("w")),
      LenHist(col("w")), TokenStats(col("w"), TextOps.StopWords),
      WordTfPairs(col("w")), VocabPositions(col("w"), vocab),
      SortedIntersectSize(sort_array(array_distinct(col("w"))),
        sort_array(array_distinct(slice(col("w"), 2, 6)))),
      JaccardPrefix(sort_array(array_distinct(col("w"))), 9, 10))

    val embSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val embEdges = spark.createDataFrame(java.util.Arrays.asList(
      Row(-1L, Seq.empty[Float]), Row(-2L, null), Row(-3L, Seq(0.5f, -1.25f, 1e-7f))),
      embSchema)
    val emb = Tables.embeddings(spark, sf0001)
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .union(embEdges)
      .persist()
    emb.count()
    def vectors = emb.select(col("vec_id"), QDot.quantize(col("embedding")).as("ql"))
      .select(col("vec_id"), col("ql"), QDot(col("ql"), col("ql")), QDot.lshBucket(col("ql")))

    Seq[(String, () => DataFrame)]("text" -> (() => text),
        "arrays" -> (() => arrays), "vectors" -> (() => vectors)).foreach {
      case (name, df) =>
        val (generated, interpreted) = bothModes(df)
        assert(generated.size >= 4, name)
        assert(generated == interpreted, name)
    }
    // the edge rows: NULL in, NULL out; empty arrays give the empty result
    val nullRow = arrays.filter(col("doc_id") === -2L).collect().head
    assert((1 until nullRow.length).forall(nullRow.isNullAt), nullRow)
    val emptyRow = arrays.filter(col("doc_id") === -1L).collect().head
    assert(emptyRow.getSeq[String](1).isEmpty && emptyRow.getLong(3) == 0L)
    def words(id: Long): Seq[Seq[String]] = {
      val r = text.filter(col("doc_id") === id).collect().head
      (7 to 9).map(i => if (r.isNullAt(i)) null else r.getSeq[String](i))
    }
    assert(words(-1L) == Seq(Nil, Nil, Nil))
    assert(words(-2L) == Seq(null, null, null))
    assert(words(-4L) == Seq(Seq("a", "b", "c"), Seq("b", "c"), Nil))
    assert(words(-5L) == Seq(Seq("the", "and", "of"), Nil, Nil))
    docs.unpersist()
    emb.unpersist()

    // On the query path the natives stay inside whole-stage codegen. A
    // node holding a lambda (`filter(split(…), t -> …)`, `array_sort`: a
    // CodegenFallback) is left out of codegen whole, and each native in it
    // is then reached by reflection per row; the dedup queries hold none.
    val clean = Set("EmojiOps.strip", "NoiseOps.strip", "AlphaOps.fold")
    Seq(
      "dedup_exact" -> clean,
      "dedup_stats" -> (clean + "TokenOps.words"),
      "dedup_jaccard_pairs" -> (clean ++ Set("TokenOps.words", "TokenOps.jaccardPrefix",
        "ShingleOps.sortedIntersectSize")),
      "dedup_shingle_jaccard" -> (clean ++ Set("TokenOps.words", "ShingleOps.shingles")),
      "dedup_simhash" -> (clean ++ Set("TokenOps.words", "RowStatOps.simhash16")),
      "dedup_minhash_lsh" -> (clean ++ Set("TokenOps.words", "ShingleOps.shingles",
        "MinHashOps.sig", "ShingleOps.sortedIntersectSize")),
      "text_quality" -> (clean + "RowStatOps.tokenStats")).foreach { case (q, generated) =>
      val df = Catalog.byName(q).run(spark, sf0001)
      assert(df.collect().nonEmpty, q)
      val plan = df.queryExecution.executedPlan
      val calls = kernelCalls(plan)
      assert(calls.collect { case (true, k) => k }.toSet == generated, s"$q: $calls")
      assert(calls.forall { case (in, k) => in || !generated(k) }, s"$q: $calls")
      if (q.startsWith("dedup_")) {
        assert(calls.forall(_._1), s"$q: $calls")
        assert(fallbacks(plan).isEmpty, s"$q: ${fallbacks(plan)}")
      }
      // The queries that filter on the words clean each doc once, after the
      // fan-out: no such filter is pushed into the scan's single task.
      if (Set("dedup_jaccard_pairs", "dedup_shingle_jaccard", "dedup_simhash",
          "dedup_minhash_lsh")(q))
        assert(calls.count(_._2 == "AlphaOps.fold") == 1, s"$q: $calls")
      spark.sharedState.cacheManager.clearCache()
    }
    // So does the LDA preprocess, which drops the docs without tokens.
    val pre = LdaPipeline.preprocess(Tables.documents(spark, sf0001))
    assert(pre.collect().nonEmpty)
    val preCalls = kernelCalls(pre.queryExecution.executedPlan)
    assert(preCalls.count(_._2 == "AlphaOps.fold") == 1, s"preprocess: $preCalls")
    spark.sharedState.cacheManager.clearCache()
  }

  test("columns built from equal constants stay semanticEquals") {
    val df = spark.range(1).select(array(lit("a"), lit("the")).as("w"))
    def pair(a: Column, b: Column): Boolean = {
      val Seq(x, y) = df.select(a.as("x"), b.as("y")).queryExecution.analyzed
        .asInstanceOf[Project].projectList.map(_.children.head)
      x.semanticEquals(y)
    }
    assert(pair(TokenStats(col("w"), TextOps.StopWords),
      TokenStats(col("w"), TextOps.StopWords.toVector)))
    val vocab = Seq("a" -> 0L, "the" -> 1L)
    assert(pair(VocabPositions(col("w"), vocab), VocabPositions(col("w"), vocab.reverse)))
    assert(!pair(VocabPositions(col("w"), vocab), VocabPositions(col("w"), vocab.take(1))))
    assert(pair(SimHash16(col("w")), SimHash16(col("w"))))
  }
}
