package graft

import graft.sources.Tables

/** The schema-pinned readers agree with what the fixtures declare. */
class TablesSpec extends SparkSpec {

  private def sfDirs: Seq[(String, String)] = Seq("sf0.001", "sf0.01", "sf0.1")
    .map(sf => sf -> s"${new java.io.File(sf0001).getParent}/$sf")

  test("documents: pinned schema equals the footer-inferred schema at 3 SFs") {
    sfDirs.foreach { case (sf, dir) =>
      val inferred = spark.read.parquet(s"$dir/documents.parquet").schema
      assert(Tables.DocumentsSchema == inferred, sf)
      assert(Tables.documents(spark, dir).schema == inferred, sf)
    }
  }

  test("every fixture's pinned schema equals the footer-inferred one at 3 SFs, " +
      "and a read launches no Spark job") {
    assert(Tables.Schemas.keySet == Set("documents", "lineitem", "orders", "customer",
      "supplier", "part", "nation", "region", "embeddings", "events"))
    val sc = spark.sparkContext
    sfDirs.foreach { case (sf, dir) =>
      Tables.Schemas.foreach { case (name, schema) =>
        val inferred = spark.read.parquet(s"$dir/$name.parquet").schema
        assert(schema == inferred, s"$sf $name")
        val group = s"tables-$sf-$name"
        sc.setJobGroup(group, group)
        try assert(Tables.table(spark, dir, name).schema == inferred, s"$sf $name")
        finally sc.clearJobGroup()
        assert(sc.statusTracker.getJobIdsForGroup(group).isEmpty, s"$sf $name")
      }
    }
  }
}
