package graft

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Co-located (bucketed) joins: pre-bucketing both fact tables on the join
  * key eliminates the join shuffle entirely — the 100 TB path for repeated
  * fact⋈fact joins (SURVEY §7.6). Asserts the plan property, not just the
  * result. */
class BucketingSpec extends SparkSpec {

  test("bucketed lineitem-orders join plans with NO shuffle exchange") {
    val tmp = Files.createTempDirectory("graft_wh")
    try {
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS ord_b")

      Tables.lineitem(spark, sf0001)
        .select("l_orderkey", "l_extendedprice")
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$tmp/li_b").saveAsTable("li_b")
      Tables.orders(spark, sf0001)
        .select("o_orderkey", "o_totalprice")
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$tmp/ord_b").saveAsTable("ord_b")

      val joined = spark.table("li_b").join(spark.table("ord_b"),
        col("l_orderkey") === col("o_orderkey"))
      // disable auto-broadcast so the join would otherwise shuffle
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"expected shuffle-free bucketed join, got:\n$plan")
      // result sanity vs unbucketed join
      val expected = Tables.lineitem(spark, sf0001).join(
        Tables.orders(spark, sf0001),
        col("l_orderkey") === col("o_orderkey")).count()
      assert(joined.count() == expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS ord_b")
      FileUtils.deleteDirectory(tmp.toFile)
    }
  }

  test("percentile_approx sketch within 10% of exact percentile") {
    val r = Tables.lineitem(spark, sf0001)
      .agg(expr("percentile_approx(l_extendedprice, 0.5, 1000)").as("approx"),
        expr("percentile(l_extendedprice, 0.5)").as("exact"))
      .collect().head
    val (a, e) = (r.getDouble(0), r.getDouble(1))
    assert(math.abs(a - e) / e < 0.10)
  }

  test("approx_count_distinct (HLL sketch) within 5% of exact") {
    val df = Tables.lineitem(spark, sf0001)
      .agg(approx_count_distinct(col("l_partkey")).as("approx"),
        countDistinct(col("l_partkey")).as("exact"))
      .collect().head
    val (approx, exact) = (df.getLong(0).toDouble, df.getLong(1).toDouble)
    assert(math.abs(approx - exact) / exact < 0.05)
  }

  test("salted join equals plain aggregation (skew pattern correctness)") {
    val salted = Catalog.byName("rel_skew_salted_join").run(spark, sf0001).collect()
    val plain = Tables.lineitem(spark, sf0001)
      .groupBy(concat(lit("flag_"), col("l_returnflag")).as("flag_name"))
      .agg(count(lit(1)).as("n"))
      .orderBy("flag_name").collect()
    assert(salted.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      plain.map(r => (r.getString(0), r.getLong(1))).toSeq)
  }
}
