package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What every main shares: the one session factory and the one query loop. */
object Run {

  /** Local cores: SPARK_GRAFT_CPUS, or else this machine's processors. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The engine's session: master local[cpus] (SPARK_MASTER when set),
    * `cpus` shuffle partitions, UTC session time (which `Tables.ntzToTs`
    * relies on), parquet TIMESTAMP(NANOS) read as longs, no UI. Returns the
    * JVM's active session if one exists. */
  def session(cpus: Int = Run.cpus): SparkSession = SparkSession.builder()
    .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Untimed warm-up before timed reps: file listing, parquet footers,
    * scan codegen. A missing table is skipped. */
  def warm(spark: SparkSession, sfDir: String): Unit =
    Seq("lineitem", "documents", "embeddings", "events").foreach { t =>
      try graft.sources.Tables.table(spark, sfDir, t).count()
      catch { case _: Throwable => () }
    }

  /** Runs each query `reps` times on `sfDir`, handing its DataFrame and
    * name to `action`. A rep's time covers `q.run` (some queries fit a
    * model or collect a vocabulary there) and `action`. A rep that throws
    * is returned as `Left` and the loop goes on; each rep prints one line
    * to stderr. Returns each query's name with its reps' outcomes.
    *
    * After every rep the session's caches are dropped (the Catalog's
    * cache-hygiene contract, see `Catalog`): the CacheManager substitutes
    * cached data by logical-plan match, so a later rep would otherwise read
    * an earlier rep's persisted intermediates instead of computing from
    * parquet, and corpus-sized blocks would pile up across queries. */
  def each(spark: SparkSession, sfDir: String, queries: Seq[Q], reps: Int)(
      action: (String, DataFrame) => Unit): Seq[(String, Seq[Either[Throwable, Double]])] =
    queries.map { q =>
      val outcomes = (1 to reps).map { i =>
        spark.sparkContext.setJobDescription(s"${q.name}#$i")
        val t0 = System.nanoTime()
        val outcome =
          try {
            action(q.name, q.run(spark, sfDir))
            Right((System.nanoTime() - t0) / 1e9)
          } catch { case e: Throwable => Left(e) }
          finally spark.sharedState.cacheManager.clearCache()
        System.err.println(outcome.fold(
          e => s"[run] ${q.name}#$i failed: ${e.getClass.getName}: ${e.getMessage}",
          t => f"[run] ${q.name}#$i ok in $t%.2f s"))
        outcome
      }
      spark.sparkContext.setJobDescription(null)
      q.name -> outcomes
    }
}
