package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.Row
import graft.Q
import graft.sources.Tables

/** Event-stream processing over the `events` fixture (SURVEY §2.1 S4/S8,
  * §2.10 streaming). The reference's only stream-shaped code is a driver-side
  * 30-minute window-advance pull loop (/root/reference/src/ExtractTwitterData.py:110-119);
  * here the same window semantics are expressed once as batch-agnostic
  * transforms, run under the DuckDB oracle in batch mode and re-used verbatim
  * by Structured Streaming (`readStream`/`writeStream` below, exercised in
  * the scalatest suite with a streaming source).
  *
  * Scale posture: windowed aggregation is a keyed partial+final agg on
  * (window, type) — shuffle volume is O(windows × types), not O(events);
  * sessionization is a per-user window function (one shuffle on user_id);
  * the JSON extraction is a narrow projection fused into the scan. With a
  * watermark, streaming state is bounded to in-flight windows.
  */
object EventStreams {

  /** S8 analogue: pull the typed field out of the JSON props column
    * (`tweet['public_metrics']['like_count']`, ExtractTwitterData.py:40-54). */
  def withJsonK(df: DataFrame): DataFrame =
    df.withColumn("k", get_json_object(col("props"), "$.k").cast("long"))

  /** 1-hour tumbling-window counts per event type — identical code path for
    * batch and streaming input (window() works on both). */
  def windowedTypeCounts(df: DataFrame): DataFrame =
    df.groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("total_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("window_start"),
        col("event_type"), col("n"), col("total_value"))

  /** Streaming flavor: add a watermark so state for closed windows is
    * dropped — bounded state at unbounded input. */
  def streamingWindowedTypeCounts(stream: DataFrame): DataFrame =
    windowedTypeCounts(stream.withWatermark("ts", "2 hours"))

  /** File-source stream over an events parquet directory: the production
    * shape for replaying landed data as a stream. */
  def readEventStream(spark: SparkSession, dir: String): DataFrame = {
    // The streaming file source lists a DIRECTORY; the fixture is a single
    // parquet file, so stream the dir filtered to it. The pinned ts is
    // TIMESTAMP_NTZ — convert like Tables.events does.
    Tables.ntzToTs(spark.readStream
      .schema(Tables.Schemas("events"))
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir))
  }

  /** writeStream wiring (micro-batch, the reference's S4 loop done right). */
  def startToMemory(agg: DataFrame, queryName: String): DataStreamWriter[Row] =
    agg.writeStream
      .outputMode(OutputMode.Complete())
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())

  val queries: Seq[Q] = Seq(
    // ---- Tumbling windows (batch flavor of the shared transform).
    Q(
      "events_window_agg",
      // fanOut measured 2x SLOWER here (0.90 vs 0.41 s, sf0.1 local[32]):
      // the window bucketing + decimal agg is too cheap per row to recoup
      // the round-robin shuffle — keep the direct scan.
      (s, dir) => windowedTypeCounts(Tables.events(s, dir))
        .orderBy(col("window_start"), col("event_type")),
      Some("""SELECT strftime(time_bucket(INTERVAL 1 hour, CAST(ts AS TIMESTAMP)),
             |    '%Y-%m-%d %H:%M') AS window_start,
             |  event_type, count(*) AS n,
             |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
             |FROM events
             |GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin),
      headline = true),

    // ---- S8: JSON field extraction + typed aggregation.
    Q(
      "events_json",
      (s, dir) => withJsonK(Tables.events(s, dir))
        .filter(col("k").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy(col("event_type")),
      Some("""SELECT event_type, count(*) AS n,
             |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
             |  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
             |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
             |FROM events
             |WHERE json_extract_string(props, '$.k') IS NOT NULL
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ---- Sessionization: gaps-and-islands with a 30-minute idle gap —
    // the batch-SQL twin of the stateful streaming sessionizer
    // (Sessionize.scala). Gap math in exact microseconds.
    Q(
      "events_sessions",
      (s, dir) => {
        val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val us = unix_micros(col("ts"))
        val newSession = when(
          us - lag(us, 1).over(byUser) > 1800L * 1000000L || lag(us, 1).over(byUser).isNull,
          lit(1)).otherwise(lit(0))
        Tables.events(s, dir)
          .withColumn("new_s", newSession)
          .withColumn("session_id", sum(col("new_s")).over(byUser))
          .groupBy(col("user_id"))
          .agg(max(col("session_id")).cast("long").as("n_sessions"),
            count(lit(1)).as("n_events"))
          .orderBy(col("user_id"))
      },
      Some("""WITH flagged AS (
             |  SELECT user_id, event_id,
             |    CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
             |           - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER w > 1800000000
             |         OR lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER w IS NULL
             |      THEN 1 ELSE 0 END AS new_s
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
             |SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_sessions,
             |  count(*) AS n_events
             |FROM flagged GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // ---- F8/S4: the reference's 30-minute window-advance loop as a range
    // join — 10 generated windows from the corpus start, events counted per
    // window. The bounded window list broadcasts; events never shuffle.
    Q(
      "events_advance_windows",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val base = ev.agg(min(col("ts")).as("t0"))
        val windows = s.range(10).toDF("i").crossJoin(broadcast(base))
          .select(col("i"),
            (col("t0") + (col("i") * 30).cast("int") * expr("INTERVAL 1 MINUTE")).as("w_start"),
            (col("t0") + ((col("i") + 1) * 30).cast("int") * expr("INTERVAL 1 MINUTE")).as("w_end"))
        ev.join(broadcast(windows),
            col("ts") >= col("w_start") && col("ts") < col("w_end"))
          .groupBy(col("i"), col("w_start"))
          .agg(count(lit(1)).as("n"))
          .select(col("i"), date_format(col("w_start"), "yyyy-MM-dd HH:mm").as("w_start"),
            col("n"))
          .orderBy(col("i"))
      },
      Some("""WITH base AS (SELECT min(CAST(ts AS TIMESTAMP)) AS t0 FROM events),
             |windows AS (
             |  SELECT i, t0 + i * INTERVAL 30 minute AS w_start,
             |         t0 + (i + 1) * INTERVAL 30 minute AS w_end
             |  FROM generate_series(0, 9) AS g(i), base)
             |SELECT i, strftime(w_start, '%Y-%m-%d %H:%M') AS w_start, count(*) AS n
             |FROM events JOIN windows
             |  ON CAST(ts AS TIMESTAMP) >= w_start AND CAST(ts AS TIMESTAMP) < w_end
             |GROUP BY i, w_start ORDER BY i""".stripMargin))
  )
}
