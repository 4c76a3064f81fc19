package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One engine query: a Spark-native implementation plus (where SQL-expressible)
  * an equivalent ANSI SQL string for the driver's DuckDB oracle.
  *
  * Contract (see SparkEntry): column names/types must match between `run`'s
  * result and the oracle SQL's result — the driver sorts columns by name and
  * hash-compares values. Computed integers are cast to BIGINT on both sides,
  * aggregated doubles are rounded on both sides.
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    headline: Boolean = false)

/** Central registry: every module contributes its queries here.
  *
  * CACHE-HYGIENE CONTRACT: several queries `persist()` intermediates for
  * intra-query reuse and cannot unpersist them (the DataFrame is returned
  * lazily; the cache must survive until the caller's action runs). A caller
  * that executes MANY catalog queries in one session must therefore drop
  * caches between queries — `spark.sharedState.cacheManager.clearCache()` —
  * or cached corpus-sized blocks accumulate until eviction/memory pressure.
  * `Run.each`, the loop every main runs queries through, does this.
  */
object Catalog {

  lazy val all: Seq[Q] =
    graft.operators.Relational.queries ++
      graft.operators.TextOps.queries ++
      graft.operators.Dedup.queries ++
      graft.operators.Similarity.queries ++
      graft.lda.LdaQueries.queries ++
      graft.streaming.EventStreams.queries ++
      graft.multimodal.BinaryOps.queries

  lazy val byName: Map[String, Q] = all.map(q => q.name -> q).toMap
}
