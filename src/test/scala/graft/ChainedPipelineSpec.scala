package graft

import graft.streaming.{ChainedPipeline, StreamingPipeline}
import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** The streaming engine (transformWithState) replaying the [[FixtureDay]]
  * that PipelineEndToEndSpec pins for the batch replay: byte-identical
  * output, and checkpoint-only restart continuity (no external state
  * snapshots). Needs the RocksDB state store, hence its own session
  * (transformWithState requirement).
  */
class ChainedPipelineSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-chained-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  private val instruments = FixtureDay.instruments

  private def rawDf(date: String = "2026-02-02") =
    FixtureDay.withNoise(date).toDF("tk", "ltp", "exchange_timestamp", "seq")

  /** Sentinel just past the last real window's end: watermark lands at
    * 10:40:00, closing window 16 (10:35) exactly — the sweep finalizes
    * precisely the fixture's windows, nothing trailing, so the
    * watermark-bounded sweep densifies the same range as the batch replay
    * and the outputs can be compared byte-for-byte.
    */
  private val sentinel = Seq(("2885", Some(2000.0),
    Timestamp.valueOf("2026-02-02 10:40:01"), 99999L))

  private def sinkRows(dir: String): Set[Seq[Any]] =
    spark.read.parquet(dir).drop("created_at", "dt").collect().map(_.toSeq).toSet

  test("chained transformWithState pipeline is byte-identical to batch truth") {
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft-chained").toString
    val dim = instruments.toDS()

    // batch truth
    val batchSink = s"$root/batch_sink"
    graft.app.BatchReplay.run(rawDf(), dim, batchSink, "2026-02-02T16:00:00")
    val want = sinkRows(batchSink)

    val day = FixtureDay.withNoise()
    val (first, second) = day.splitAt(day.length / 2)
    // RELIANCE's 14th candle (10:20, the w5 gap counted) is its first ATR;
    // it lands in the second micro-batch, so the warm-up completes from the
    // state carried across batches
    assert(first.forall(_._3.before(Timestamp.valueOf("2026-02-02 10:20:00"))))

    val s = MemoryStream[FixtureDay.Tick]
    val ticks = graft.ingest.TickIngest.ingest(
      s.toDF().toDF("tk", "ltp", "exchange_timestamp", "seq"), dim)
    val candles = StreamingPipeline.ohlcCandles(ticks, tsCol = "event_ts",
      symCol = "symbol", priceCol = "ltp", seqCol = "seq", watermarkDelay = "1 seconds")
    val q = ChainedPipeline.start(candles, instruments.map(_.symbol),
      s"$root/sink", s"$root/dead", s"$root/ckpt")
    try {
      s.addData(first); q.processAllAvailable()
      s.addData(second); q.processAllAvailable()
      s.addData(sentinel); q.processAllAvailable()
    } finally q.stop()

    val chained = sinkRows(s"$root/sink")
    // the chained path reproduces batch truth exactly — 34 rows: 17×2 with
    // TCS gaps at w2/w3/w5 and RELIANCE gap at w5
    assert(chained === want,
      s"chained != batch: missing ${(want -- chained).take(2)}, extra ${(chained -- want).take(2)}")
    // the globally-silent window was synthesized for both active symbols
    // even though it appeared in no micro-batch — clock-tick semantics
    assert(spark.read.parquet(s"$root/sink")
      .where($"timestamp" === "2026-02-02T09:40:00" && $"gap_filled" === "TRUE")
      .count() === 2)
    val ids = spark.read.parquet(s"$root/sink").select("id").as[String].collect()
    assert(ids.length === ids.distinct.length)
  }

  test("day-bounded sweep: two sessions, no overnight synthesis, matches batch truth") {
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft-chained-2day").toString
    val dim = instruments.toDS()

    // batch truth over BOTH days: fillSessions densifies per-day observed
    // ranges and chains the seed across the overnight gap
    val batchSink = s"$root/batch_sink"
    graft.app.BatchReplay.run(rawDf("2026-02-02").union(rawDf("2026-02-03")),
      dim, batchSink, "x")
    val want = sinkRows(batchSink)

    // both days trade 09:15-10:40 (17 windows), nothing in between
    val sched = graft.time.SessionSchedule("UTC", 555, 930, Set.empty,
      Map("2026-02-02" -> ((555, 640)), "2026-02-03" -> ((555, 640))))
    val s = MemoryStream[FixtureDay.Tick]
    val ticks = graft.ingest.TickIngest.ingest(
      s.toDF().toDF("tk", "ltp", "exchange_timestamp", "seq"), dim)
    val candles = StreamingPipeline.ohlcCandles(ticks, tsCol = "event_ts",
      symCol = "symbol", priceCol = "ltp", seqCol = "seq", watermarkDelay = "1 seconds")
    val q = ChainedPipeline.start(candles, instruments.map(_.symbol),
      s"$root/sink", s"$root/dead", s"$root/ckpt", schedule = Some(sched))
    try {
      s.addData(FixtureDay.withNoise("2026-02-02")); q.processAllAvailable()
      // Tuesday's first ticks advance the watermark across the overnight
      // gap — without the schedule the sweep would synthesize ~274 flat
      // candles per seeded symbol here and the batch compare would fail
      s.addData(FixtureDay.withNoise("2026-02-03")); q.processAllAvailable()
      s.addData(Seq(("2885", Some(2000.0),
        Timestamp.valueOf("2026-02-03 10:40:01"), 999999L)))
      q.processAllAvailable()
    } finally q.stop()

    val got = sinkRows(s"$root/sink")
    assert(got === want,
      s"2-day chained != batch: missing ${(want -- got).take(2)}, extra ${(got -- want).take(2)}")
    val ts = spark.read.parquet(s"$root/sink").select("timestamp").as[String].collect()
    assert(ts.forall(t => t.startsWith("2026-02-02") || t.startsWith("2026-02-03")))
    assert(ts.forall(_.substring(11, 16) <= "10:35"), "overnight window leaked into the sink")
  }

  test("routing guard: restarting a checkpoint with different numShards fails fast") {
    val root = Files.createTempDirectory("graft-chained-routing").toString
    ChainedPipeline.guardRouting(spark, s"$root/ckpt", 8)
    ChainedPipeline.guardRouting(spark, s"$root/ckpt", 8) // same routing: fine
    val e = intercept[IllegalStateException] {
      ChainedPipeline.guardRouting(spark, s"$root/ckpt", 4)
    }
    assert(e.getMessage.contains("numShards"))
  }

  test("sink body on an empty batch: no writes, at most the single gate job") {
    val root = Files.createTempDirectory("graft-chained-empty").toString
    val empty = spark.emptyDataset[graft.model.EnrichedCandle].toDF()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      ChainedPipeline.sinkBatch(empty, 3, s"$root/sink", s"$root/dead")
      Thread.sleep(1000) // listener bus is async; settle before counting
      assert(jobs.get() <= 1, s"empty batch issued ${jobs.get()} jobs")
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root/sink")))
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root/dead")))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("chained pipeline restart: checkpoint-only state continuity, no dupes") {
    import org.apache.spark.sql.types._
    val root = Files.createTempDirectory("graft-chained-restart").toString
    val dim = instruments.toDS()
    val srcDir = s"$root/src"

    val batchSink = s"$root/batch_sink"
    graft.app.BatchReplay.run(rawDf(), dim, batchSink, "x")
    val want = sinkRows(batchSink)

    val day = FixtureDay.withNoise()
    val (first, second) = day.splitAt(day.length / 2)
    first.toDF("tk", "ltp", "exchange_timestamp", "seq")
      .coalesce(1).write.mode("append").parquet(srcDir)

    val schema = StructType(Seq(
      StructField("tk", StringType), StructField("ltp", DoubleType),
      StructField("exchange_timestamp", TimestampType), StructField("seq", LongType)))
    def startQuery() = {
      val ticks = graft.ingest.TickIngest.ingest(
        spark.readStream.schema(schema).parquet(srcDir), dim)
      val candles = StreamingPipeline.ohlcCandles(ticks, tsCol = "event_ts",
        symCol = "symbol", priceCol = "ltp", seqCol = "seq", watermarkDelay = "1 seconds")
      ChainedPipeline.start(candles, instruments.map(_.symbol),
        s"$root/sink", s"$root/dead", s"$root/ckpt")
    }

    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop() // crash mid-day — ATR/seed state lives ONLY in the checkpoint

    (second ++ sentinel).toDF("tk", "ltp", "exchange_timestamp", "seq")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val q2 = startQuery()
    try {
      q2.processAllAvailable()
      val got = sinkRows(s"$root/sink")
      assert(got === want,
        s"restart diverged: missing ${(want -- got).take(2)}, extra ${(got -- want).take(2)}")
      val ids = spark.read.parquet(s"$root/sink").select("id").as[String].collect()
      assert(ids.length === ids.distinct.length)
    } finally q2.stop()
  }
}
