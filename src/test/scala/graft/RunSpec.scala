package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions.lit

/** `graft.Run`: the session factory's settings, and the query loop's
  * failure handling and cache hygiene. */
class RunSpec extends SparkSpec {

  test("Run.session sets local[cpus], cpus shuffle partitions, UTC, nanosAsLong and no UI") {
    val conf = spark.sparkContext.getConf
    assert(conf.get("spark.master") == sys.env.getOrElse("SPARK_MASTER", "local[4]"))
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.ui.enabled") == "false")
    assert(Run.session(4) eq spark)
  }

  test("Run.each goes on past a failing query, returns its failure, and drops caches after every rep") {
    spark.sharedState.cacheManager.clearCache()
    val emptyAtRun = ArrayBuffer.empty[Boolean]
    def q(name: String, fail: Boolean) = Q(name, (s, _) => {
      emptyAtRun += s.sharedState.cacheManager.isEmpty
      val df = s.range(100).withColumn("q", lit(name)).persist()
      df.count()
      if (fail) throw new IllegalStateException(s"$name failed")
      df
    }, None)
    val counted = ArrayBuffer.empty[(String, Long)]
    val out = Run.each(spark, sf0001, Seq(q("a", false), q("b", true), q("c", false)), reps = 2) {
      (name, df) => counted += name -> df.count()
    }
    assert(out.map(_._1) == Seq("a", "b", "c"))
    assert(out(1)._2.map(_.left.map(_.getMessage)) == Seq(Left("b failed"), Left("b failed")))
    assert(Seq(out(0), out(2)).forall(_._2.forall(_.exists(_ > 0))))
    assert(counted == Seq("a" -> 100, "a" -> 100, "c" -> 100, "c" -> 100))
    assert(emptyAtRun == Seq.fill(6)(true))
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(spark.sparkContext.getLocalProperty("spark.job.description") == null)
  }
}
