package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Schema-pinned readers over the driver parquet fixtures
  * (/root/repo/TESTDATA.md). Parquet carries the authoritative schema;
  * these helpers centralize path layout so every operator reads the same way
  * and Catalyst can push filters/pruning into the scan.
  *
  * Reference analogue: the line-oriented text scan + naive CSV split at
  * /root/reference/src/LDATopicModelingWithGibbs.py:28-31 (S1/S2 in
  * SURVEY.md §2.1); a real parquet/CSV reader subsumes both.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  /** The events fixture stores ts as parquet TIMESTAMP(NANOS), which Spark 4
    * rejects unless spark.sql.legacy.parquet.nanosAsLong is set (it is, in
    * `graft.Run.session`). The long nanos (µs-aligned in the fixture)
    * are converted back to a proper TimestampType column on read.
    * INTEGER division is essential: `/` on longs promotes to double, and
    * 2024-era nano epochs (~1.7e18) exceed 2^53, so double division puts
    * ~1.6% of µs-aligned timestamps off by 1 µs vs engines that read the
    * nanos exactly. */
  def nanosLongToTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // Spark 4.1.2 reads parquet TIMESTAMP(NANOS) as TIMESTAMP_NTZ and no
        // longer honors nanosAsLong; with the session timezone pinned to UTC
        // the NTZ wall clock IS the UTC instant, so this cast reproduces the
        // long→timestamp_micros path bit-for-bit (fixture is µs-aligned).
        df.withColumn("ts",
          org.apache.spark.sql.functions.col("ts")
            .cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  def events(spark: SparkSession, dir: String): DataFrame =
    nanosLongToTs(table(spark, dir, "events"))
  /** The `documents` fixture's schema, as its parquet footers declare it
    * (pinned against the footers at three scale factors by a test). */
  val DocumentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Read with [[DocumentsSchema]] instead of inferring it: inference reads
    * the parquet footers in a Spark job of its own (35–50 ms on 4 cores),
    * once per query that scans the table.
    * INVARIANT: doc_id is unique (the fixture generator emits it as a
    * sequence). pipeline_curate's doc_id-only group key relies on this —
    * duplicate doc_ids would merge token stats across distinct texts. */
  def documents(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(DocumentsSchema).parquet(s"$dir/documents.parquet")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** Fan a narrow scan out to every core (optimization guide §2.2/§2.7 —
    * parallelism and stragglers). The fixtures are single-file, single-row-
    * group parquet, so a scan plans as ONE task and everything fused into it
    * (the 8-regex cleaning chain, quantization, partial aggregation) runs on
    * one core while the rest idle. When the scan has fewer partitions than
    * the session's default parallelism, redistribute rows round-robin; the
    * shuffle ships only the pruned columns (ColumnPruning pushes through
    * Repartition) and buys cores× parallel per-row compute. SCALE-ADAPTIVE,
    * not a local[32] constant: at production scale a table has ≥ cores row
    * groups, the condition is false, and this is a no-op — no shuffle is
    * ever added to a well-partitioned input. Row multiset is unchanged, so
    * every declarative result is identical; do NOT use under seeded ML fits
    * whose sampling depends on partitioning (LDA minibatches, KMeans init).
    */
  def fanOut(df: DataFrame): DataFrame = fanOut(df, null)

  /** Scan partition counts per (session, key): `df.rdd` forces a full
    * physical-plan/RDD conversion (plus datasource file listing), so without
    * this memo every build of every fanned query planned its scan twice
    * (ADVICE r21). The count is stable within a session — it is a pure
    * function of the immutable fixture file and session confs. */
  private val scanParts =
    new java.util.concurrent.ConcurrentHashMap[(Int, String), Int]

  def fanOut(df: DataFrame, cacheKey: String): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val parts =
      if (cacheKey == null) df.rdd.getNumPartitions
      else scanParts.computeIfAbsent(
        (System.identityHashCode(df.sparkSession), cacheKey),
        _ => df.rdd.getNumPartitions)
    if (parts < target) df.repartition(target) else df
  }

  /** CSV reader with an explicit schema — never infer in production paths
    * (SURVEY.md §1.3). Quote-aware: fixes the reference's naive split(',')
    * (LDATopicModelingWithGibbs.py:31) which breaks on text containing commas.
    */
  def csv(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true, multiLine: Boolean = false): DataFrame =
    spark.read
      .option("header", header.toString)
      .option("quote", "\"")
      .option("escape", "\"")
      .option("multiLine", multiLine.toString)
      .schema(schema)
      .csv(path)
}
