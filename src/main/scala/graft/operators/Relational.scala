package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Q
import graft.sources.Tables

/** The relational query surface (SURVEY.md §2.1–§2.2, §2.5–§2.8, §2.10) over the
  * TPC-H-ish driver fixtures. Every query here is declarative DataFrame API so
  * Catalyst plans pushdown/pruning/broadcast/partial-agg for free; each carries
  * an equivalent DuckDB SQL oracle.
  *
  * Reference analogues (all /root/reference/src/LDATopicModelingWithGibbs.py):
  * scan :28, project :78,:90, hash agg :43-48, top-K :50-54, equi join :70-78,
  * collect_list :81-87, global count :93, cache :124-126.
  *
  * Scale posture: aggregations are partial+final hash aggregates (map-side
  * combine — the reference's reduceByKey motive, :48); the 3-way join
  * broadcasts the small dims so the 100 TB fact side never shuffles for the
  * join; top-K plans as TakeOrderedAndProject (per-partition heaps, O(K)
  * driver merge — the reference's top(V) motive, :54).
  */
object Relational {

  /** Rounding used on aggregated doubles far from rounding boundaries
    * (avgs), mirrored in each oracle. */
  private def r2(c: Column): Column = round(c, 2)

  /** Money arithmetic goes through exact decimals (fixture money columns are
    * 2-decimal values stored as double): cast to DECIMAL(18,4) so sums and
    * products are exact and engine-order-independent, then cast the final
    * value to DOUBLE (correctly-rounded, identical in Spark and DuckDB).
    * Never round(double, 2) a computed sum — Spark rounds ties HALF_UP and
    * DuckDB HALF_EVEN, and double summation is partition-order-dependent. */
  private def dec4(c: Column): Column = c.cast("decimal(18,4)")

  private def asMoney(c: Column): Column = c.cast("double")

  // lineitem is scanned plainly, not through Tables.fanOut: r22's cold A/B
  // (fresh JVM, sf0.1) found the plain scan as fast or faster for
  // rel_pricing_summary and rel_join_revenue, and one Exchange shorter.
  val queries: Seq[Q] = Seq(
    // ---- A1/A4: grouped hash aggregation with map-side combine (TPC-H Q1 shape).
    Q(
      "rel_pricing_summary",
      (s, dir) => {
        Tables.lineitem(s, dir)
          .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            asMoney(sum(dec4(col("l_quantity")))).as("sum_qty"),
            asMoney(sum(dec4(col("l_extendedprice")))).as("sum_base_price"),
            asMoney(sum(dec4(col("l_extendedprice")) *
              (lit(1).cast("decimal(18,4)") - dec4(col("l_discount"))))).as("sum_disc_price"),
            r2(avg(col("l_quantity"))).as("avg_qty"),
            r2(avg(col("l_discount"))).as("avg_disc"),
            count(lit(1)).as("count_order"))
          .orderBy(col("l_returnflag"), col("l_linestatus"))
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
             |    (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS sum_disc_price,
             |  round(avg(l_quantity), 2) AS avg_qty,
             |  round(avg(l_discount), 2) AS avg_disc,
             |  count(*) AS count_order
             |FROM lineitem
             |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin),
      headline = true),

    // ---- S1/P3–P5: scan + predicate pushdown + column pruning.
    Q(
      "rel_filter_project",
      (s, dir) => {
        Tables.lineitem(s, dir)
          .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1996-01-01").cast("timestamp") &&
            col("l_discount") >= 0.05 && col("l_quantity") < 24)
          .select(col("l_orderkey"), col("l_linenumber"),
            asMoney(dec4(col("l_extendedprice")) * dec4(col("l_discount"))).as("disc_amount"))
          .orderBy(col("l_orderkey"), col("l_linenumber"))
      },
      Some("""SELECT l_orderkey, l_linenumber,
             |  CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(l_discount AS DECIMAL(18,4)) AS DOUBLE) AS disc_amount
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
             |  AND l_discount >= 0.05 AND l_quantity < 24
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // ---- J1: 3-way equi join. Both lineitem and orders are fact tables that
    // scale with sf, so they join as a shuffle/sort-merge join on orderkey
    // (co-partitionable; at 100 TB neither side may be broadcast — a
    // fact-side broadcast OOMs every executor). customer also scales with sf;
    // no hint, so AQE picks broadcast only when the built side is actually
    // small at runtime. Only bounded dims (nation/region, ≤25 rows at any sf)
    // ever get an explicit broadcast() in this file.
    Q(
      "rel_join_revenue",
      (s, dir) => {
        val c = Tables.customer(s, dir)
        val o = Tables.orders(s, dir)
        val l = Tables.lineitem(s, dir)
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(
            asMoney(sum(dec4(col("l_extendedprice")) *
              (lit(1).cast("decimal(18,4)") - dec4(col("l_discount"))))).as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""SELECT c_mktsegment,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
             |    (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
             |  count(*) AS n_items
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |GROUP BY c_mktsegment
             |ORDER BY c_mktsegment""".stripMargin),
      headline = true),

    // ---- T1/T2: top-K with deterministic tiebreak (TakeOrderedAndProject).
    Q(
      "rel_topk_parts",
      (s, dir) => {
        Tables.lineitem(s, dir)
          .groupBy(col("l_partkey"))
          .agg(asMoney(sum(dec4(col("l_extendedprice")))).as("part_revenue"),
            count(lit(1)).as("n"))
          .orderBy(desc("part_revenue"), asc("l_partkey"))
          .limit(10)
      },
      Some("""SELECT l_partkey, CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS part_revenue,
             |  count(*) AS n
             |FROM lineitem
             |GROUP BY l_partkey
             |ORDER BY part_revenue DESC, l_partkey ASC
             |LIMIT 10""".stripMargin)),

    // ---- §2.10 distinct aggregation.
    Q(
      "rel_distinct_agg",
      (s, dir) => {
        Tables.lineitem(s, dir)
          .groupBy(col("l_returnflag"))
          .agg(
            countDistinct(col("l_partkey")).as("n_parts"),
            countDistinct(col("l_suppkey")).as("n_supps"),
            count(lit(1)).as("n_rows"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag,
             |  count(DISTINCT l_partkey) AS n_parts,
             |  count(DISTINCT l_suppkey) AS n_supps,
             |  count(*) AS n_rows
             |FROM lineitem
             |GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // ---- §2.10 window functions: per-nation top-3 customers by balance.
    Q(
      "rel_window_rank",
      (s, dir) => {
        val w = Window.partitionBy(col("c_nationkey"))
          .orderBy(desc("c_acctbal"), asc("c_custkey"))
        Tables.customer(s, dir)
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select(col("c_nationkey"), col("rk"), col("c_custkey"),
            asMoney(col("c_acctbal").cast("decimal(18,2)")).as("acctbal"))
          .orderBy(col("c_nationkey"), col("rk"))
      },
      Some("""SELECT c_nationkey, rk, c_custkey,
             |  CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS acctbal
             |FROM (
             |  SELECT c_nationkey, c_custkey, c_acctbal,
             |    row_number() OVER (PARTITION BY c_nationkey
             |                       ORDER BY c_acctbal DESC, c_custkey ASC) AS rk
             |  FROM customer)
             |WHERE rk <= 3
             |ORDER BY c_nationkey, rk""".stripMargin)),

    // ---- §2.10 running window aggregate over ordered partitions.
    Q(
      "rel_window_running",
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.orders(s, dir)
          .filter(col("o_custkey") < 100)
          .select(col("o_custkey"), col("o_orderkey"),
            asMoney(sum(dec4(col("o_totalprice"))).over(w)).as("running_spend"))
          .orderBy(col("o_custkey"), col("o_orderkey"))
      },
      Some("""SELECT o_custkey, o_orderkey,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER (PARTITION BY o_custkey
             |    ORDER BY o_orderdate, o_orderkey
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
             |FROM orders
             |WHERE o_custkey < 100
             |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // ---- §2.10 set operations.
    Q(
      "rel_set_ops",
      (s, dir) => {
        val custNations = Tables.customer(s, dir).select(col("c_nationkey").as("nationkey")).distinct()
        val suppNations = Tables.supplier(s, dir).select(col("s_nationkey").as("nationkey")).distinct()
        custNations.intersect(suppNations)
          .union(custNations.except(suppNations))
          .orderBy(col("nationkey"))
      },
      Some("""(SELECT DISTINCT c_nationkey AS nationkey FROM customer
             | INTERSECT
             | SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
             |UNION ALL
             |(SELECT DISTINCT c_nationkey AS nationkey FROM customer
             | EXCEPT
             | SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
             |ORDER BY nationkey""".stripMargin)),

    // ---- §2.10 grouping sets / rollup.
    Q(
      "rel_rollup",
      (s, dir) => {
        val n = Tables.nation(s, dir)
        Tables.customer(s, dir)
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .rollup(col("n_name"))
          .agg(asMoney(sum(dec4(col("c_acctbal")))).as("total_bal"), count(lit(1)).as("n_cust"))
          .select(coalesce(col("n_name"), lit("(all)")).as("n_name"),
            col("total_bal"), col("n_cust"))
          .orderBy(col("n_name"))
      },
      Some("""SELECT coalesce(n_name, '(all)') AS n_name,
             |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal,
             |  count(*) AS n_cust
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY ROLLUP (n_name)
             |ORDER BY n_name""".stripMargin)),

    // ---- §2.10 percentiles: exact interpolated quantiles. Deterministic
    // cross-engine because l_quantity is integer-valued, so the linear
    // interpolation (1-f)·a + f·b happens on small exact doubles in both
    // engines (Spark `percentile` and DuckDB `quantile_cont` share the
    // definition).
    Q(
      "rel_percentiles",
      (s, dir) => {
        Tables.lineitem(s, dir)
          .groupBy(col("l_returnflag"))
          .agg(
            expr("percentile(l_quantity, 0.5)").as("p50"),
            expr("percentile(l_quantity, 0.9)").as("p90"),
            min(col("l_quantity")).as("min_q"),
            max(col("l_quantity")).as("max_q"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag,
             |  quantile_cont(l_quantity, 0.5) AS p50,
             |  quantile_cont(l_quantity, 0.9) AS p90,
             |  min(l_quantity) AS min_q,
             |  max(l_quantity) AS max_q
             |FROM lineitem
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // ---- §2.10 map functions: construct, extract, inspect.
    Q(
      "rel_map_funcs",
      (s, dir) => {
        Tables.nation(s, dir)
          .select(col("n_nationkey"),
            map_from_arrays(
              array(lit("name"), lit("region")),
              array(col("n_name"), col("n_regionkey").cast("string"))).as("m"))
          .select(col("n_nationkey"),
            element_at(col("m"), "name").as("name_val"),
            element_at(col("m"), "region").as("region_val"),
            size(map_keys(col("m"))).cast("long").as("n_keys"))
          .orderBy(col("n_nationkey"))
      },
      Some("""SELECT n_nationkey,
             |  map(['name', 'region'], [n_name, CAST(n_regionkey AS VARCHAR)])['name'][1] AS name_val,
             |  map(['name', 'region'], [n_name, CAST(n_regionkey AS VARCHAR)])['region'][1] AS region_val,
             |  CAST(cardinality(map(['name', 'region'],
             |    [n_name, CAST(n_regionkey AS VARCHAR)])) AS BIGINT) AS n_keys
             |FROM nation ORDER BY n_nationkey""".stripMargin)),

    // ---- §2.10 cube: all grouping-set combinations of two dimensions.
    Q(
      "rel_cube",
      (s, dir) => {
        Tables.orders(s, dir)
          .cube(col("o_orderstatus"), col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            asMoney(sum(dec4(col("o_totalprice")))).as("total"))
          .select(coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
            coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
            col("n"), col("total"))
          .orderBy(col("status"), col("priority"))
      },
      Some("""SELECT coalesce(o_orderstatus, '(all)') AS status,
             |  coalesce(o_orderpriority, '(all)') AS priority,
             |  count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
             |FROM orders
             |GROUP BY CUBE (o_orderstatus, o_orderpriority)
             |ORDER BY status, priority""".stripMargin)),

    // ---- §2.10 semi join (EXISTS): nations that have at least one open order.
    Q(
      "rel_semi_join",
      (s, dir) => {
        val activeCust = Tables.orders(s, dir)
          .filter(col("o_orderstatus") === "O")
          .select(col("o_custkey"))
        Tables.customer(s, dir)
          .join(activeCust, col("c_custkey") === col("o_custkey"), "left_semi")
          .groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("n_active"))
          .orderBy(col("c_nationkey"))
      },
      Some("""SELECT c_nationkey, count(*) AS n_active
             |FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders
             |              WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
             |GROUP BY c_nationkey
             |ORDER BY c_nationkey""".stripMargin)),

    // ---- §2.10 anti join (NOT EXISTS): customers with no completed ('F')
    // order. (Every fixture customer has *some* order, so the unfiltered
    // anti join would be vacuously empty — filter first so real rows flow.)
    Q(
      "rel_anti_join",
      (s, dir) => {
        val o = Tables.orders(s, dir)
          .filter(col("o_orderstatus") === "F")
          .select(col("o_custkey"))
        Tables.customer(s, dir)
          .join(o, col("c_custkey") === col("o_custkey"), "left_anti")
          .select(col("c_custkey"), col("c_nationkey"))
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, c_nationkey
             |FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders
             |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
             |ORDER BY c_custkey""".stripMargin)),

    // ---- A2: collect_list with deterministic order (SURVEY §7.5.1 — the
    // reference's aggregateByKey order is shuffle-dependent; we sort).
    Q(
      "rel_collect_list",
      (s, dir) => {
        Tables.orders(s, dir)
          .filter(col("o_custkey") < 50)
          .groupBy(col("o_custkey"))
          .agg(array_join(sort_array(collect_list(col("o_orderkey"))), ",").as("order_keys"),
            count(lit(1)).as("n_orders"))
          .orderBy(col("o_custkey"))
      },
      Some("""SELECT o_custkey,
             |  array_to_string(list(o_orderkey ORDER BY o_orderkey), ',') AS order_keys,
             |  count(*) AS n_orders
             |FROM orders
             |WHERE o_custkey < 50
             |GROUP BY o_custkey
             |ORDER BY o_custkey""".stripMargin)),

    // ---- A4/C2: global counts (bounded single-row collect).
    Q(
      "rel_global_counts",
      (s, dir) => {
        val l = Tables.lineitem(s, dir).agg(count(lit(1)).as("n_lineitem"))
        val o = Tables.orders(s, dir).agg(count(lit(1)).as("n_orders"))
        val c = Tables.customer(s, dir).agg(count(lit(1)).as("n_customer"))
        l.crossJoin(o).crossJoin(c)
      },
      Some("""SELECT (SELECT count(*) FROM lineitem) AS n_lineitem,
             |  (SELECT count(*) FROM orders) AS n_orders,
             |  (SELECT count(*) FROM customer) AS n_customer""".stripMargin)),

    // ---- T4: range generation + derived columns (the reference materializes
    // range(V) to index its vocabulary, LDATopicModelingWithGibbs.py:62-68).
    Q(
      "rel_range",
      (s, dir) => {
        s.range(100).toDF("i")
          .select(col("i"), (col("i") * col("i")).as("sq"), (col("i") % 7).as("m7"))
          .orderBy(col("i"))
      },
      Some("""SELECT range AS i, range * range AS sq, range % 7 AS m7
             |FROM range(100) ORDER BY i""".stripMargin)),

    // ---- F8: timestamp parse/format/bucket + interval arithmetic
    // (ExtractTwitterData.py:115-117's 30-minute window stepping).
    Q(
      "rel_date_buckets",
      (s, dir) => {
        Tables.orders(s, dir)
          .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
          .agg(count(lit(1)).as("n"),
            asMoney(sum(dec4(col("o_totalprice")))).as("total"))
          .orderBy(col("month"))
      },
      Some("""SELECT strftime(o_orderdate, '%Y-%m') AS month,
             |  count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
             |FROM orders
             |GROUP BY 1 ORDER BY month""".stripMargin)),

    // ---- Skew pattern: salted join. l_returnflag has 3 values, so a plain
    // repartition-join on it puts ~1/3 of a 100 TB fact table in single
    // reducers. Salting spreads each hot key over 16 shuffle partitions and
    // replicates the (tiny) dim side per salt. The oracle proves the salted
    // plan returns exactly the plain join's result.
    Q(
      "rel_skew_salted_join",
      (s, dir) => {
        val salts = 16
        val flags = Seq("A", "N", "R")
        val dim = s.createDataFrame(
            flags.map(f => (f, s"flag_$f"))).toDF("flag", "flag_name")
          .crossJoin(s.range(salts).toDF("salt"))
        val fact = Tables.lineitem(s, dir)
          .withColumn("salt", pmod(hash(col("l_orderkey")), lit(salts)).cast("long"))
        fact.join(broadcast(dim),
            fact("l_returnflag") === dim("flag") && fact("salt") === dim("salt"))
          .groupBy(col("flag_name"))
          .agg(count(lit(1)).as("n"),
            asMoney(sum(dec4(col("l_extendedprice")))).as("total"))
          .orderBy(col("flag_name"))
      },
      Some("""SELECT 'flag_' || l_returnflag AS flag_name, count(*) AS n,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS total
             |FROM lineitem
             |GROUP BY 1 ORDER BY flag_name""".stripMargin)),

    // ---- P5: null-row filter (the reference's dropna,
    // ExtractTwitterData.py:167) — nulls introduced via nullif, dropped
    // via na.drop, observable in the counts.
    Q(
      "rel_null_filter",
      (s, dir) => {
        Tables.lineitem(s, dir)
          .select(col("l_returnflag"), col("l_orderkey"),
            expr("nullif(l_discount, 0.0)").as("disc"))
          .na.drop(Seq("disc"))
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n_nonnull"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag, count(*) AS n_nonnull
             |FROM (SELECT l_returnflag, nullif(l_discount, 0.0) AS disc FROM lineitem)
             |WHERE disc IS NOT NULL
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // ---- F8: timestamp parse/format round-trip + interval arithmetic
    // (the strptime/strftime + timedelta stepping of ExtractTwitterData.py:27,115-117).
    Q(
      "rel_ts_parse",
      (s, dir) => {
        Tables.orders(s, dir)
          .filter(col("o_orderkey") < 100)
          .select(col("o_orderkey"),
            date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss").as("iso"))
          .select(col("o_orderkey"), col("iso"),
            date_format(
              to_timestamp(col("iso"), "yyyy-MM-dd'T'HH:mm:ss")
                + expr("INTERVAL 30 MINUTES") + expr("INTERVAL 1 SECOND"),
              "yyyy-MM-dd HH:mm:ss").as("advanced"))
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, iso,
             |  strftime(strptime(iso, '%Y-%m-%dT%H:%M:%S')
             |    + INTERVAL 30 minute + INTERVAL 1 second,
             |    '%Y-%m-%d %H:%M:%S') AS advanced
             |FROM (SELECT o_orderkey,
             |        strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') AS iso
             |      FROM orders WHERE o_orderkey < 100)
             |ORDER BY o_orderkey""".stripMargin)),

    // ---- C1: cache + multi-reuse — one scan feeds two aggregates
    // (the reference caches finalrdd before 6 reuses, :124-126).
    Q(
      "rel_cached_reuse",
      (s, dir) => {
        // Persist the shared scan only; no eager action — the query stays
        // lazy so it executes exactly once when the caller acts on it, and
        // the small filtered projection is left to context teardown
        // (unpersisting here would drop the blocks before they're reused).
        val base = Tables.lineitem(s, dir)
          .filter(col("l_quantity") > 10)
          .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice"))
          .persist()
        val byFlag = base.groupBy(col("l_returnflag"))
          .agg(asMoney(sum(dec4(col("l_quantity")))).as("qty"))
        val global = base.agg(asMoney(sum(dec4(col("l_extendedprice")))).as("price_total"))
        byFlag.crossJoin(global).orderBy(col("l_returnflag"))
      },
      Some("""WITH base AS (
             |  SELECT l_returnflag, l_quantity, l_extendedprice
             |  FROM lineitem WHERE l_quantity > 10)
             |SELECT b.l_returnflag, b.qty, g.price_total
             |FROM (SELECT l_returnflag,
             |        CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty
             |      FROM base GROUP BY l_returnflag) b
             |CROSS JOIN (SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS price_total
             |            FROM base) g
             |ORDER BY l_returnflag""".stripMargin))
  )
}
