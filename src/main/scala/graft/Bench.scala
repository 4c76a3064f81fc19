package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs the headline queries (one per operator family) on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line for the driver.
  * master local[$SPARK_GRAFT_CPUS] / $SPARK_GRAFT_CPUS shuffle partitions per
  * the engine contract.
  *
  * Measurement methodology (optimization guide §1, changed r21 — see
  * OPTIMIZATION_r21.md): each query runs SPARK_GRAFT_BENCH_REPS times
  * (default 3) and `queries`/`value` report the per-query MEDIAN — rounds
  * 17–18 measured a 2.55× swing on byte-identical bytecode, wider than any
  * real regression, because a single run folds one-time codegen/JIT compile
  * and host noise into the number. The raw runs (old methodology: run 1 of
  * each list) are kept in `runs`, and a query that throws is listed in
  * `failed` instead of silently contributing its time-to-failure (pre-r21
  * behavior); `value` is then null (see `jsonLine`).
  *
  * Timed action (also changed r21, guide §1.4): the noop sink
  * (`write.format("noop")`) instead of `.count()` — count() lets the
  * optimizer prune columns and whole subtrees (a projection-only query could
  * time as little more than a row count), while the noop write computes
  * every column of every row and discards it. Old-methodology (count-based)
  * numbers are recorded in OPTIMIZATION_r21.md for comparison.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Untimed warmup: file listing, parquet footers, codegen compilation.
    Seq("lineitem", "documents", "embeddings", "events").foreach { t =>
      try graft.sources.Tables.table(spark, sfDir, t).count()
      catch { case _: Throwable => () }
    }
    val headline = Catalog.all.filter(_.headline)
    val results: Seq[(String, Seq[Double])] = headline.map { q =>
      val times = (1 to reps).flatMap { i =>
        spark.sparkContext.setJobDescription(s"bench:${q.name}#$i")
        val t0 = System.nanoTime()
        val t = try {
          q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
          Some((System.nanoTime() - t0) / 1e9)
        } catch {
          case e: Throwable =>
            System.err.println(
              s"[bench] ${q.name}#$i failed: ${e.getClass.getName}: ${e.getMessage}")
            None
        }
        // Queries may persist() intermediates for intra-query reuse. Drop
        // them between reps: Spark's CacheManager substitutes cached data by
        // logical-plan match, so without this reps 2..n would read rep 1's
        // cache and the median would measure a cached re-read instead of the
        // computation from parquet.
        spark.sharedState.cacheManager.clearCache()
        t
      }
      spark.sparkContext.setJobDescription(null)
      q.name -> times
    }
    println(jsonLine(results, reps, sfDir))
    spark.stop()
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }

  /** The JSON line for per-query run times (an empty list: the query
    * failed every rep). `value` is the sum of the per-query medians, or
    * null when any query failed: a total that leaves out a failed query's
    * time would read as a speedup. The other fields list the queries that
    * ran and the failed ones. */
  def jsonLine(results: Seq[(String, Seq[Double])], reps: Int, sfDir: String): String = {
    val ok = results.filter(_._2.nonEmpty)
    val failed = results.filter(_._2.isEmpty).map(_._1)
    val qs = ok.map { case (k, v) => "\"" + k + "\":" + median(v) }
      .mkString("{", ",", "}")
    val runs = ok.map { case (k, v) => "\"" + k + "\":" + v.mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val value = if (failed.isEmpty) ok.map { case (_, v) => median(v) }.sum.toString else "null"
    s"""{"metric":"total","value":$value,"unit":"sec","queries":$qs,""" +
      s""""runs":$runs,"reps":$reps,"failed":$failedJson,"sf":"$sfDir"}"""
  }
}
