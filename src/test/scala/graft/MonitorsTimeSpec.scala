package graft

import graft.streaming.Monitors.HeartbeatMonitor
import graft.time.Ist
import org.scalatest.funsuite.AnyFunSuite

class MonitorsTimeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("heartbeat monitor detects silence past the timeout") {
    var now = 1000L
    val hb = new HeartbeatMonitor(silenceTimeoutMs = 30000L, clock = () => now)
    hb.recordProgress(1, 0)
    now += 10000
    assert(!hb.isStalled)
    now += 25000
    assert(hb.isStalled) // 35s of silence > 30s
    hb.recordProgress(2, 7)
    assert(!hb.isStalled)
    assert(hb.totalDroppedByWatermark === 7L)
    assert(hb.latestBatchId === 2L)
  }

  test("alert ladder lands system_log rows and escalates WARNING → CRITICAL") {
    val dir = java.nio.file.Files.createTempDirectory("graft-alerts").toString + "/system_log"
    val ladder = new graft.streaming.Monitors.AlertLadder(
      graft.streaming.Alerts.manager(spark, dir))
    ladder.onFailure("-", "boom 1")
    ladder.onFailure("-", "boom 2")
    ladder.onFailure("-", "boom 3") // criticalAt = 3
    ladder.onProgress("7", wasStalled = false)
    val rows = spark.read.parquet(dir)
      .select("level", "event", "window").as[(String, String, String)]
      .collect().sortBy(_._1)
    assert(rows.count(r => r._1 == "WARNING" && r._2 == "query_terminated") === 2)
    assert(rows.count(r => r._1 == "CRITICAL" && r._2 == "query_terminated") === 1)
    assert(rows.toSeq.contains(("INFO", "recovered", "7")))
    assert(ladder.consecutiveFailures === 0L)
    // progress without a preceding failure or stall emits nothing new
    ladder.onProgress("8", wasStalled = false)
    assert(spark.read.parquet(dir).count() === 4L)
    // a stall recovery alone also lands the INFO row
    ladder.onProgress("9", wasStalled = true)
    assert(spark.read.parquet(dir).count() === 5L)
  }

  test("buffered alert channel: one sink file per flush, compaction bounds the file count") {
    val dir = java.nio.file.Files.createTempDirectory("graft-alerts-buf").toString + "/system_log"
    def partFiles() = {
      val f = new java.io.File(dir)
      if (!f.exists()) Array.empty[java.io.File]
      else f.listFiles().filter(p => p.isFile && p.getName.endsWith(".parquet"))
    }
    val m = graft.streaming.Alerts.buffered(spark, dir, compactAfterFiles = 5)
    (1 to 5).foreach(i => m.dispatch("WARNING", s"e$i", "w", "d"))
    // nothing lands until the micro-batch flush...
    assert(partFiles().isEmpty)
    m.flush()
    // ...then all five alerts land as ONE file
    assert(partFiles().length === 1)
    assert(spark.read.parquet(dir).count() === 5L)
    // an empty flush appends nothing
    m.flush()
    assert(partFiles().length === 1)
    // size-triggered sweep: each cycle appends one file; crossing the
    // 5-file threshold compacts the snapshot back to one
    (1 to 6).foreach { i => m.dispatch("INFO", s"x$i", "w", "d"); m.flush() }
    // 1+5 appends hit 6 > 5 at the 5th cycle → compact to 1, 6th appends → 2
    assert(partFiles().length === 2)
    assert(spark.read.parquet(dir).count() === 11L)
    // rows survive the sweep intact
    assert(spark.read.parquet(dir)
      .where(org.apache.spark.sql.functions.col("event") === "x3").count() === 1L)
  }

  test("a throwing alert channel is isolated: the other channel still fires") {
    val consoleSeen = scala.collection.mutable.ArrayBuffer.empty[String]
    val m1 = new graft.streaming.Alerts.AlertManager(
      consoleSeen += _,
      (_, _, _, _) => throw new RuntimeException("sink down"))
    m1.dispatch("WARNING", "e", "w", "d") // must not propagate
    assert(consoleSeen.size === 1)
    val sinkSeen = scala.collection.mutable.ArrayBuffer.empty[String]
    val m2 = new graft.streaming.Alerts.AlertManager(
      _ => throw new RuntimeException("console down"),
      (lvl, _, _, _) => sinkSeen += lvl)
    m2.dispatch("CRITICAL", "e", "w", "d")
    assert(sinkSeen.toSeq === Seq("CRITICAL"))
  }

  test("IST conversions: epoch, wall-clock, session minutes") {
    // 2026-02-02 03:45:00 UTC == 09:15:00 IST (+5:30)
    val df = Seq(1770003900L).toDF("epoch")
    val r = df.select(
      Ist.isoIst(org.apache.spark.sql.functions.to_timestamp(
        org.apache.spark.sql.functions.from_unixtime($"epoch"))).as("iso"),
      Ist.istMinutesOfDay(org.apache.spark.sql.functions.to_timestamp(
        org.apache.spark.sql.functions.from_unixtime($"epoch"))).as("mins")
    ).head()
    assert(r.getString(0) === "2026-02-02T09:15:00")
    assert(r.getInt(1) === 555) // 9*60+15 — session open boundary
  }
}
