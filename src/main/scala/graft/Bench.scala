package graft

/** Benchmark main: runs the headline queries (one per operator family) on
  * SPARK_GRAFT_SF_DIR through `Run.each` and prints ONE JSON line.
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
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    val spark = Run.session()
    Run.warm(spark, sfDir)
    val results = Run.each(spark, sfDir, Catalog.all.filter(_.headline), reps) { (_, df) =>
      df.write.format("noop").mode("overwrite").save()
    }
    println(jsonLine(results.map { case (n, rs) => n -> rs.collect { case Right(t) => t } },
      reps, sfDir))
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
