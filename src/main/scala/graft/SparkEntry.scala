package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * `queries`/`oracleSql` are derived from the Catalog registry so every
  * module's queries are automatically graded.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The SURVEY §7.3 end-to-end LDA slice: documents → clean → tokenize →
    * stopwords → top-V vocabulary → LDA(T=5) → top-20 words per topic.
    */
  def entry(spark: SparkSession): DataFrame =
    graft.lda.LdaPipeline.topicReport(spark, "/root/testdata/sf0.001",
      vocabSize = 1000, numTopics = 5, maxIter = 10)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Catalog.all.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Catalog.all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
