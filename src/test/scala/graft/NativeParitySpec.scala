package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}

import graft.functions._
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
    * executed plan, cached plans included. */
  private def kernelCalls(p: SparkPlan, inCodegen: Boolean = false): Seq[(Boolean, String)] = {
    val here = p.expressions.flatMap(_.collect {
      case s: StaticInvoke if s.staticObject.getName.startsWith("graft.functions.") =>
        (inCodegen, s"${s.staticObject.getSimpleName.stripSuffix("$")}.${s.functionName}")
    })
    val below: Seq[(SparkPlan, Boolean)] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan -> false)
      case q: QueryStageExec => Seq(q.plan -> false)
      case w: WholeStageCodegenExec => Seq(w.child -> true)
      case i: InputAdapter => Seq(i.child -> false)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan -> false)
      case _ => p.children.map(_ -> inCodegen)
    }
    here ++ below.flatMap { case (c, in) => kernelCalls(c, in) }
  }

  test("native functions give equal rows under CODEGEN_ONLY and NO_CODEGEN, " +
      "and stay in whole-stage codegen on the query path") {
    import spark.implicits._
    // sf0.001 documents plus edge rows: empty text (-> empty token array),
    // a NULL text (-> NULL arrays), an emoji-only token and odd spacing.
    val edges = Seq[(Long, String)]((-1L, ""), (-2L, null), (-3L, "😀 only"),
      (-4L, "  a  b\tc "))
      .toDF("doc_id", "text")
    val w = filter(split(Cleaning.cleanText(col("text")), " "), _ =!= "")
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
      TokenCounts(col("text")), FrameSample(col("text")))
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
    docs.unpersist()
    emb.unpersist()

    // On the query path the natives stay where whole-stage codegen put them
    // before: a node holding a lambda (`filter(split(…), t -> …)`, a
    // CodegenFallback) is left out of codegen whole, so dedup_minhash_lsh's
    // clean+shingle projection is interpreted and its signature and rerank
    // calls are generated.
    Seq(
      "dedup_minhash_lsh" -> Set("MinHashOps.sig", "ShingleOps.sortedIntersectSize"),
      "dedup_jaccard_pairs" -> Set("TokenOps.jaccardPrefix", "ShingleOps.sortedIntersectSize"),
      "text_quality" -> Set("EmojiOps.strip", "NoiseOps.strip", "AlphaOps.fold",
        "RowStatOps.tokenStats")).foreach { case (q, generated) =>
      val df = Catalog.byName(q).run(spark, sf0001)
      assert(df.collect().nonEmpty, q)
      val calls = kernelCalls(df.queryExecution.executedPlan)
      assert(calls.collect { case (true, k) => k }.toSet == generated, q)
      assert(calls.forall { case (in, k) => in || !generated(k) }, q)
      spark.sharedState.cacheManager.clearCache()
    }
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
