package graft

import graft.streaming.StreamingPipeline
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

case class TickRow(event_id: Long, ts: Timestamp, event_type: String, value: Double)

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def ts(s: String) = Timestamp.valueOf(s)

  test("streaming OHLC finalizes windows as the watermark passes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[TickRow]
    val q = StreamingPipeline.ohlcCandles(stream.toDF(), watermarkDelay = "1 seconds")
      .writeStream.outputMode("append").format("memory").queryName("ohlc_out").start()
    try {
      stream.addData(
        TickRow(1, ts("2026-02-02 09:15:01"), "A", 100.0),
        TickRow(2, ts("2026-02-02 09:16:00"), "A", 103.0))
      q.processAllAvailable()
      // watermark still inside the 09:15 window → nothing finalized yet
      assert(spark.table("ohlc_out").count() === 0)
      stream.addData(TickRow(3, ts("2026-02-02 09:20:02"), "A", 104.0))
      q.processAllAvailable()
      stream.addData(TickRow(4, ts("2026-02-02 09:25:02"), "A", 105.0))
      q.processAllAvailable()
      val rows = spark.table("ohlc_out")
        .select($"window_start".cast("string"), $"symbol", $"open", $"close", $"tick_count")
        .as[(String, String, Double, Double, Long)].collect().sorted
      assert(rows === Array(
        ("2026-02-02 09:15:00", "A", 100.0, 103.0, 2L),
        ("2026-02-02 09:20:00", "A", 104.0, 104.0, 1L)))
    } finally q.stop()
  }

  test("streaming session_window closes sessions past the watermark") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[TickRow]
    val sessions = stream.toDF()
      .withWatermark("ts", "1 seconds")
      .groupBy(session_window($"ts", "30 minutes").as("sw"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"event_type", $"sw.start".cast("string").as("start"),
        $"sw.end".cast("string").as("end"), $"n")
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    try {
      stream.addData(
        TickRow(1, ts("2026-02-02 09:00:00"), "A", 1.0),
        TickRow(2, ts("2026-02-02 09:20:00"), "A", 1.0), // merges: gap 20m < 30m
        TickRow(3, ts("2026-02-02 11:00:00"), "A", 1.0)) // new session
      q.processAllAvailable()
      stream.addData(TickRow(4, ts("2026-02-02 13:00:00"), "A", 1.0)) // advances watermark
      q.processAllAvailable()
      val rows = spark.table("sess_out").as[(String, String, String, Long)]
        .collect().sortBy(_._2)
      assert(rows.toSeq === Seq(
        ("A", "2026-02-02 09:00:00", "2026-02-02 09:50:00", 2L), // merged, end = last+30m
        ("A", "2026-02-02 11:00:00", "2026-02-02 11:30:00", 1L)))
    } finally q.stop()
  }

  test("monitor listener counts watermark-dropped late ticks") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val hb = new graft.streaming.Monitors.HeartbeatMonitor(60000L)
    val listener = graft.streaming.Monitors.listener(hb)
    spark.streams.addListener(listener)
    val stream = MemoryStream[TickRow]
    val q = StreamingPipeline.ohlcCandles(stream.toDF(), watermarkDelay = "1 seconds")
      .writeStream.outputMode("append").format("memory").queryName("drop_out").start()
    try {
      stream.addData(TickRow(1, ts("2026-02-02 09:15:01"), "A", 100.0))
      q.processAllAvailable()
      stream.addData(TickRow(2, ts("2026-02-02 09:30:00"), "A", 101.0))
      q.processAllAvailable()
      // 09:16 is far behind the 09:30 watermark → dropped, counted
      stream.addData(TickRow(3, ts("2026-02-02 09:16:00"), "A", 99.0))
      q.processAllAvailable()
      stream.addData(TickRow(4, ts("2026-02-02 09:31:00"), "A", 102.0))
      q.processAllAvailable()
      val deadline = System.currentTimeMillis() + 15000
      while (hb.totalDroppedByWatermark == 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(200) // listener bus is async
      assert(hb.totalDroppedByWatermark > 0)
      assert(hb.latestBatchId >= 0)
      assert(!hb.isStalled)
    } finally { q.stop(); spark.streams.removeListener(listener) }
  }
}
