package graft

import java.nio.file.{Files, Paths}

import org.apache.commons.io.FileUtils

/** `graft.Snap`: one text file of collected rows per query. */
class SnapSpec extends SparkSpec {

  test("Snap.run writes each named query's collected rows, one per line") {
    val dir = Files.createTempDirectory("graft-snap")
    val names = Seq("mm_decode_features", "rel_pricing_summary")
    try {
      Snap.run(spark, sf0001, s"$dir/snap", names)
      names.foreach { n =>
        val want = Catalog.byName(n).run(spark, sf0001).collect().map(_.toString)
        spark.sharedState.cacheManager.clearCache()
        assert(want.nonEmpty)
        assert(Files.readString(Paths.get(s"$dir/snap_$n.txt")) == want.mkString("\n"), n)
      }
    } finally FileUtils.deleteDirectory(dir.toFile)
  }
}
