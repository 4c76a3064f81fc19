package graft

import org.apache.spark.sql.functions._
import graft.streaming.{Event, Sessionize}
import graft.sources.Tables

/** The stateful flatMapGroupsWithState sessionizer must agree with the
  * SQL gaps-and-islands formulation (events_sessions) on the fixture. */
class SessionizeSpec extends SparkSpec {
  import spark.implicits._

  test("batch stateful sessionizer matches the window-function query") {
    val events = Tables.events(spark, sf0001).as[Event]
    val stateful = Sessionize.sessionizeBatch(events)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("n_events"))
      .orderBy(col("user_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

    val sql = Catalog.byName("events_sessions").run(spark, sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

    assert(stateful.nonEmpty)
    assert(stateful.toSeq == sql.toSeq)
  }

  test("events within one millisecond are ordered by their microseconds, as in SQL") {
    // e3 is 1,800 s − 100 µs after e1, the latest earlier event, so one
    // session; a millisecond sort keeps e1 before e2, measures e3 from e2
    // and splits.
    val dir = java.nio.file.Files.createTempDirectory("graft-sessions")
    try {
      Seq((1L, "00:00:00.000400"), (2L, "00:00:00.000100"), (3L, "00:30:00.000300"))
        .toDF("event_id", "t")
        .select(col("event_id"),
          concat(lit("2024-01-01 "), col("t")).cast("timestamp_ntz").as("ts"),
          lit(7L).as("user_id"), lit("click").as("event_type"), lit(1.0).as("value"),
          lit("{}").as("props"))
        .coalesce(1).write.parquet(s"$dir/events.parquet")
      val stateful = Sessionize.sessionizeBatch(Tables.events(spark, dir.toString).as[Event])
        .collect().toSeq.map(s => (s.user_id, s.n_events))
      val sql = Catalog.byName("events_sessions").run(spark, dir.toString).collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(stateful == Seq((7L, 3L)))
      assert(sql == Seq((7L, 1L, 3L)))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("streaming sessionizer closes sessions via event-time timeout") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ev(id: Long, minute: Int) = Event(id,
      java.sql.Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00"),
      1L, "click", 1.0, "{}")

    val mem = MemoryStream[Event]
    val q = Sessionize.sessionizeStream(spark, mem.toDS(), gapSec = 600)
      .writeStream.outputMode("append").format("memory")
      .queryName("sess_test").start()
    // batch 1: two events 1 min apart (one open session)
    mem.addData(ev(1, 0), ev(2, 1))
    q.processAllAvailable()
    // batch 2: an event far past the gap advances the watermark, timing
    // out the open session; it opens a new one that stays open
    mem.addData(ev(3, 120))
    q.processAllAvailable()
    mem.addData(ev(4, 240))
    q.processAllAvailable()
    q.stop()
    val sessions = spark.table("sess_test").collect()
    assert(sessions.length >= 1)
    val first = sessions.minBy(_.getTimestamp(1).getTime)
    assert(first.getLong(2) == 2L) // the 2-event session closed by timeout
    assert(first.getLong(3) == 60L) // 1-minute duration
  }

  test("session durations are non-negative and bounded by event span") {
    val events = Tables.events(spark, sf0001).as[Event]
    val sessions = Sessionize.sessionizeBatch(events).collect()
    assert(sessions.nonEmpty)
    sessions.foreach { s =>
      assert(s.n_events >= 1)
      assert(s.duration_sec >= 0)
    }
  }
}
