package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

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
  private def fields(fs: (String, DataType)*): StructType =
    StructType(fs.map { case (n, t) => StructField(n, t) })

  /** The `documents` fixture's schema, as its parquet footers declare it. */
  val DocumentsSchema: StructType = fields("doc_id" -> LongType,
    "text" -> StringType, "lang" -> StringType, "source" -> StringType,
    "n_chars" -> LongType)

  /** Every fixture's schema, as Spark infers it from the parquet footers
    * (pinned against the footers at three scale factors by a test). The
    * timestamps are stored as microseconds not adjusted to UTC, which Spark
    * reads as TIMESTAMP_NTZ. */
  val Schemas: Map[String, StructType] = Map(
    "documents" -> DocumentsSchema,
    "lineitem" -> fields("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
    "orders" -> fields("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
    "customer" -> fields("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> fields("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> fields("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType, "p_size" -> IntegerType,
      "p_retailprice" -> DoubleType),
    "nation" -> fields("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "region" -> fields("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "embeddings" -> fields("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "label" -> IntegerType),
    "events" -> fields("event_id" -> LongType, "ts" -> TimestampNTZType,
      "user_id" -> LongType, "event_type" -> StringType, "value" -> DoubleType,
      "props" -> StringType))

  /** Reads a fixture with its pinned schema instead of inferring it:
    * inference reads the parquet footers in a Spark job of its own (35–50
    * ms on 4 cores), once per read. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.schema(Schemas(name)).parquet(s"$dir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  /** Converts an events `ts`, which its pinned schema reads as TIMESTAMP_NTZ
    * (the fixture's microseconds not adjusted to UTC), to TimestampType. With
    * the session timezone pinned to UTC the NTZ wall clock IS the UTC
    * instant, so the cast is exact. */
  def ntzToTs(df: DataFrame): DataFrame =
    df.withColumn("ts", org.apache.spark.sql.functions.col("ts").cast(TimestampType))

  def events(spark: SparkSession, dir: String): DataFrame =
    ntzToTs(table(spark, dir, "events"))
  /** INVARIANT: doc_id is unique (the fixture generator emits it as a
    * sequence). pipeline_curate's doc_id-only group key relies on this —
    * duplicate doc_ids would merge token stats across distinct texts. */
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
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

  /** The rows of `df` whose array column `c` is not empty, over a lazy
    * cache of `df`. The filter sits above the cache on purpose: without it
    * Catalyst pushes the filter below the projection that computes `c`,
    * inlining `c`'s expression (the cleaning chain, for the text columns)
    * into it, so every row computes `c` twice, and below a [[fanOut]]
    * exchange that second copy runs in the scan's single task. The cache
    * stays for the caller's action (the Catalog's cache-hygiene contract
    * drops it). */
  def nonEmpty(df: DataFrame, c: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, size}
    df.persist().filter(size(col(c)) > 0)
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
