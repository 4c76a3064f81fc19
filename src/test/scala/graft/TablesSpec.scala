package graft

import graft.sources.Tables

/** The schema-pinned readers agree with what the fixtures declare. */
class TablesSpec extends SparkSpec {

  test("documents: pinned schema equals the footer-inferred schema at 3 SFs") {
    Seq("sf0.001", "sf0.01", "sf0.1").foreach { sf =>
      val dir = s"${new java.io.File(sf0001).getParent}/$sf"
      val inferred = spark.read.parquet(s"$dir/documents.parquet").schema
      assert(Tables.DocumentsSchema == inferred, sf)
      assert(Tables.documents(spark, dir).schema == inferred, sf)
    }
  }
}
