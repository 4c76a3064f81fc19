package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.commons.io.FileUtils

/** `graft.Verify`: its argument check, its JSON string escape, and its dump. */
class VerifySpec extends SparkSpec {

  test("Verify.usage: a usage line unless the arguments are <sfDir> <outDir>") {
    assert(Verify.usage(Array("sf", "out")).isEmpty)
    Seq(Array.empty[String], Array("sf"), Array("sf", "out", "x")).foreach { a =>
      assert(Verify.usage(a).contains("Usage: graft.Verify <sfDir> <outDir>"), a.toSeq)
    }
  }

  test("Verify.jsonString: a tab, CR, quote, backslash and \\u0001 parse back with Jackson") {
    val s = "SELECT\t'a\"b',\r\n'c\\d', '\u0001' FROM t"
    assert(new ObjectMapper().readValue(Verify.jsonString(s), classOf[String]) == s)
  }

  test("Verify.run writes each query's rows as parquet and oracle_sql.json that parses back") {
    val dir = Files.createTempDirectory("graft-verify")
    val names = Seq("rel_pricing_summary", "text_wordcount", "rel_anti_join")
    try {
      Verify.run(spark, sf0001, dir.toString, names.map(Catalog.byName))
      names.foreach { n =>
        val got = spark.read.parquet(s"$dir/$n")
        val want = Catalog.byName(n).run(spark, sf0001)
        assert(got.columns.toSeq == want.columns.toSeq, n)
        assert(got.collect().map(_.toString).sorted.toSeq ==
          want.collect().map(_.toString).sorted.toSeq, n)
        spark.sharedState.cacheManager.clearCache()
      }
      val json = new ObjectMapper().readValue(
        dir.resolve("oracle_sql.json").toFile, classOf[java.util.Map[String, String]])
      assert(json.asScala.toMap == SparkEntry.oracleSql)
    } finally FileUtils.deleteDirectory(dir.toFile)
  }
}
